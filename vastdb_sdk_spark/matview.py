"""Materialized aggregate views with feed-driven incremental maintenance.

Engine extension (the reference exposes semi-sorted projections,
vastdb/table.py:1040-1138, as its only derived-data object; an aggregate
MV is the same lifecycle — create / stale-on-DML / refresh — applied to a
GROUP BY result instead of a sort order). The design borrows the shape of
this repo's incremental vector-index refresh (table.py refresh_vector_index):
state is persisted as hash-bucketed parquet files, DML marks it stale, and
``refresh`` folds the row-level change feed so maintenance cost tracks the
CHURN SPAN, not the table.

Scale design:

- **State, not results.** Each group persists ``_mv_count`` plus per-agg
  state columns (sum + non-null count for ``sum``/``avg``; the value for
  ``min``/``max``). ``df()`` derives the declared output columns. This is
  the classic self-maintainable-view decomposition: AVG is not
  incrementally mergeable, SUM and COUNT are.
- **Bucketed files.** Groups are hash-partitioned into ``num_buckets``
  files by ``pmod(xxhash64(keys), B)`` (xxhash64 is seed-fixed and stable
  across sessions). An incremental refresh rewrites ONLY the buckets
  containing affected groups; untouched bucket files are carried verbatim
  into the new manifest entry — at 100 TB the MV rewrite is bounded by
  churn locality, not by group count.
- **Additive fast path.** If every aggregate is additive (count/sum/avg),
  the refresh never reads the base table at all: the feed's signed deltas
  (+1 insert/update_postimage, -1 delete/update_preimage) are outer-merged
  with the old state null-safely and groups whose count reaches zero are
  dropped. ``min``/``max`` are not delete-mergeable, so any MV declaring
  them recomputes ONLY the affected groups from the base (broadcast
  semi-join on the affected keys) — still churn-bounded work per group,
  but a base scan; the refresh summary reports ``base_scanned`` honestly.
- **Bounded driver state.** The only collect is the distinct affected
  BUCKET id list (<= num_buckets by construction, same bound argument as
  the removed-centroid collect in table.refresh_vector_index).

Column names in the config are PHYSICAL (rename-stable, same discipline
as projection files): ``rename_column`` is metadata-only and never
invalidates an MV; ``df()`` maps keys back to current logical names.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog.manifest import FileEntry, TableEntry
from .errors import (
    InvalidArgument,
    MatViewExists,
    MissingMatView,
)

AGG_FNS = ("count", "sum", "avg", "min", "max", "approx_distinct")
ADDITIVE_FNS = ("count", "sum", "avg")
# insert-mergeable but NOT delete-mergeable: min/max (a removed extremum
# is unrecoverable from state) and approx_distinct (an HLL sketch is a
# monotone set summary — elements cannot be unioned OUT)
NONSUBTRACTIVE_FNS = ("min", "max", "approx_distinct")


def _phys_df(table) -> DataFrame:
    """The table's visible rows under PHYSICAL column names (the namespace
    the MV state files are written in, rename-stable)."""
    pmap = table._physical_map()
    return table.df().select(
        *[F.col(c).alias(pmap.get(c, c)) for c in table.arrow_schema.names]
    )


def normalize_keys(table, group_by: list) -> list[dict]:
    """Parse group keys to specs. Each entry is either a column name
    (plain key, stored under its physical name) or a time-bucket tuple
    ``(alias, src_col, step_us)`` — the continuous-aggregate key
    ``floor(src / step) * step`` over an epoch-micros (or any integer)
    column. Bucket aliases must not collide with table columns."""
    specs: list[dict] = []
    seen: set[str] = set()
    for entry in group_by:
        if isinstance(entry, str):
            if entry not in table.arrow_schema.names:
                raise InvalidArgument(f"unknown group column {entry!r}")
            name = table._physical_of(entry)
            specs.append({"name": name, "src": name, "step_us": None})
        elif isinstance(entry, (tuple, list)) and len(entry) == 3:
            alias, src, step = entry
            if src not in table.arrow_schema.names:
                raise InvalidArgument(f"unknown bucket source column {src!r}")
            if not isinstance(step, int) or step <= 0:
                raise InvalidArgument(
                    f"bucket step for {alias!r} must be a positive int"
                )
            if alias in table.arrow_schema.names:
                raise InvalidArgument(
                    f"bucket alias {alias!r} collides with a table column"
                )
            if alias.startswith(("_mv_", "_d_")):
                raise InvalidArgument(
                    f"bucket alias {alias!r} uses a reserved prefix"
                )
            specs.append(
                {
                    "name": alias,
                    "src": table._physical_of(src),
                    "step_us": int(step),
                }
            )
        else:
            raise InvalidArgument(
                f"group key must be a column name or (alias, src, step_us), "
                f"got {entry!r}"
            )
        if specs[-1]["name"] in seen:
            raise InvalidArgument(f"duplicate group key {specs[-1]['name']!r}")
        seen.add(specs[-1]["name"])
    return specs


def key_specs(cfg: dict) -> list[dict]:
    """Key specs for a view config (older configs store plain names)."""
    return cfg.get("key_specs") or [
        {"name": k, "src": k, "step_us": None} for k in cfg["group_by"]
    ]


def _as_micros(frame: DataFrame, src: str):
    """Epoch-micros long from a bucket source column: timestamps via
    unix_micros (session tz is pinned UTC, session.py:34), integers
    pass through — so int64-epoch and timestamp-typed sources bucket
    identically."""
    dt = frame.schema[src].dataType.typeName()
    c = F.col(src)
    if dt.startswith("timestamp"):
        return F.unix_micros(c.cast("timestamp"))
    return c.cast("long")


def with_keys(frame: DataFrame, specs: list[dict]) -> DataFrame:
    """Attach the key columns (plain or time-bucketed) to a
    physical-named row frame."""
    for ks in specs:
        if ks["step_us"]:
            step = F.lit(int(ks["step_us"]))
            frame = frame.withColumn(
                ks["name"],
                F.floor(_as_micros(frame, ks["src"]) / step) * step,
            )
        elif ks["name"] != ks["src"]:
            frame = frame.withColumn(ks["name"], F.col(ks["src"]))
    return frame


def normalize_aggs(table, aggs: dict) -> dict[str, list]:
    """Validate and normalize ``{out: "count" | (fn, src)}`` to
    ``{out: [fn, physical_src_or_None]}``."""
    if not aggs:
        raise InvalidArgument("materialized view needs at least one aggregate")
    norm: dict[str, list] = {}
    for out, spec in aggs.items():
        if spec == "count" or spec == ("count", None):
            norm[out] = ["count", None]
            continue
        if not isinstance(spec, (tuple, list)) or len(spec) != 2:
            raise InvalidArgument(
                f"agg spec for {out!r} must be 'count' or (fn, column), "
                f"got {spec!r}"
            )
        fn, src = spec[0].lower(), spec[1]
        if fn not in AGG_FNS:
            raise InvalidArgument(
                f"unsupported aggregate {fn!r} (supported: {AGG_FNS})"
            )
        if src not in table.arrow_schema.names:
            raise InvalidArgument(f"unknown aggregate column {src!r}")
        norm[out] = [fn, table._physical_of(src)]
    return norm


def _state_aggs(aggs: dict[str, list]) -> list:
    """Spark aggregate expressions producing the persisted state columns
    (over physical-named input)."""
    exprs = [F.count(F.lit(1)).alias("_mv_count")]
    for out, (fn, src) in aggs.items():
        if fn == "count":
            if src is not None:
                # count(col) = NON-NULL count; serving it from _mv_count
                # would count nulls (the pre-r12 silent bug)
                exprs.append(F.count(F.col(src)).alias(f"_mv_nn_{out}"))
            continue
        c = F.col(src)
        if fn in ("sum", "avg"):
            exprs.append(F.sum(c).alias(f"_mv_sum_{out}"))
            exprs.append(F.count(c).alias(f"_mv_nn_{out}"))
        elif fn == "min":
            exprs.append(F.min(c).alias(f"_mv_min_{out}"))
        elif fn == "approx_distinct":
            # Datasketches HLL: order-independent, mergeable monotone set
            # summary — incremental unions produce the BIT-IDENTICAL
            # sketch a full rebuild would (pytest-pinned)
            exprs.append(F.hll_sketch_agg(c).alias(f"_mv_hll_{out}"))
        else:
            exprs.append(F.max(c).alias(f"_mv_max_{out}"))
    return exprs


class MaterializedView:
    """Handle to one materialized aggregate view of a table."""

    def __init__(self, name: str, table):
        self.name = name
        self.table = table

    @property
    def _cfg(self) -> dict:
        return self.table.entry.matviews[self.name]

    def __repr__(self) -> str:
        return f"MaterializedView({self.table.path}:{self.name})"

    @property
    def stale(self) -> bool:
        return bool(self._cfg.get("stale"))

    @property
    def group_by(self) -> list[str]:
        """Group-key columns under their CURRENT logical names."""
        inv = {p: l for l, p in self.table._physical_map().items()}
        return [inv.get(p, p) for p in self._cfg["group_by"]]

    @property
    def aggs(self) -> dict[str, tuple[str, str | None]]:
        inv = {p: l for l, p in self.table._physical_map().items()}
        return {
            out: (fn, inv.get(src, src) if src else None)
            for out, (fn, src) in self._cfg["aggs"].items()
        }

    # ------------------------------------------------------------------
    # read path

    def _state_df(self, buckets: list[int] | None = None) -> DataFrame:
        """The persisted state frame (physical key names + _mv_* columns),
        optionally restricted to a bucket subset."""
        cfg = self._cfg
        paths = [
            fj["path"]
            for fj in cfg["files"]
            if buckets is None or fj["bucket"] in buckets
        ]
        if not paths:
            keys = cfg["group_by"]
            return (
                with_keys(_phys_df(self.table).limit(0), key_specs(cfg))
                .groupBy(*[F.col(k) for k in keys])
                .agg(*_state_aggs(cfg["aggs"]))
            )
        return self.table.spark.read.parquet(*paths)

    def df(self) -> DataFrame:
        """The view's declared output: group keys (current logical names)
        followed by the aggregate columns."""
        cfg = self._cfg
        inv = {p: l for l, p in self.table._physical_map().items()}
        st = self._state_df()
        outs = [F.col(p).alias(inv.get(p, p)) for p in cfg["group_by"]]
        for out, (fn, _src) in cfg["aggs"].items():
            if fn == "count":
                outs.append(
                    F.col("_mv_count").alias(out)
                    if _src is None
                    else F.coalesce(
                        F.col(f"_mv_nn_{out}"), F.lit(0).cast("long")
                    ).alias(out)
                )
            elif fn == "sum":
                outs.append(
                    F.when(
                        F.col(f"_mv_nn_{out}") > 0, F.col(f"_mv_sum_{out}")
                    ).alias(out)
                )
            elif fn == "avg":
                outs.append(
                    F.when(
                        F.col(f"_mv_nn_{out}") > 0,
                        F.col(f"_mv_sum_{out}") / F.col(f"_mv_nn_{out}"),
                    ).alias(out)
                )
            elif fn == "min":
                outs.append(F.col(f"_mv_min_{out}").alias(out))
            elif fn == "approx_distinct":
                outs.append(
                    F.when(
                        F.col(f"_mv_hll_{out}").isNotNull(),
                        F.hll_sketch_estimate(F.col(f"_mv_hll_{out}")),
                    )
                    .otherwise(F.lit(0))
                    .alias(out)
                )
            else:
                outs.append(F.col(f"_mv_max_{out}").alias(out))
        return st.select(*outs)

    # ------------------------------------------------------------------
    # lifecycle

    def drop(self) -> None:
        entry = TableEntry.from_json(self.table.entry.to_json())
        del entry.matviews[self.name]
        self.table._mutate(entry, "drop_matview", matview=self.name)

    def rebuild(self) -> dict:
        """Full rebuild from the current table state."""
        cfg = self._cfg
        files = materialize_matview(
            self.table, self.name, cfg["group_by"], cfg["aggs"],
            cfg["num_buckets"], key_specs(cfg),
        )
        entry = TableEntry.from_json(self.table.entry.to_json())
        entry.matviews[self.name] = {
            **cfg,
            "files": files,
            "stale": False,
            "built_version": self.table._committed_state_version(),
        }
        self.table._mutate(entry, "rebuild_matview", matview=self.name)
        return {
            "mode": "full",
            "base_scanned": True,
            "buckets_rewritten": cfg["num_buckets"],
            "buckets_total": cfg["num_buckets"],
        }

    def refresh(self, mode: str = "auto") -> dict:
        """Incremental maintenance via the change feed. ``mode``: "auto"
        (incremental when available, else full), "incremental" (raise when
        unavailable), "full". Returns a summary dict with ``mode``,
        ``base_scanned``, ``buckets_rewritten``, ``buckets_total``."""
        t = self.table
        entry = TableEntry.from_json(t.entry.to_json())
        cfg = entry.matviews[self.name]
        keys = cfg["group_by"]
        aggs = cfg["aggs"]
        n_buckets = cfg["num_buckets"]

        def _fold(feed, cur):
            bucket_of = F.pmod(
                F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)
            )
            pmap = t._physical_map()
            phys_feed = with_keys(
                feed.select(
                    F.col("_change_type"),
                    *[F.col(c).alias(pmap.get(c, c)) for c in t.arrow_schema.names],
                ),
                key_specs(cfg),
            )
            sign = F.when(
                F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
            ).otherwise(F.lit(-1))
            has_nonsub = any(
                fn in NONSUBTRACTIVE_FNS for fn, _ in aggs.values()
            )
            base_scanned = False
            delta_keys = phys_feed.select(*[F.col(k) for k in keys]).distinct()
            delta_keys = delta_keys.persist()
            try:
                # bounded collect: distinct bucket ids <= num_buckets
                affected = sorted(
                    r[0]
                    for r in delta_keys.select(bucket_of.alias("b")).distinct().collect()
                )
                # min/max/approx_distinct ARE insert-mergeable (least/
                # greatest/hll_union); only removals force the base
                # recompute. An append-only span — the streaming-ingest
                # case — stays a pure delta merge regardless of the
                # aggregate mix. (limit-1 probe: one tiny job.)
                has_removals = has_nonsub and bool(
                    phys_feed.filter(
                        F.col("_change_type").isin("delete", "update_preimage")
                    )
                    .limit(1)
                    .count()
                )
                if not affected:
                    merged = None  # feed span empty -> state already current
                elif has_nonsub and has_removals:
                    # non-subtractive states cannot fold a removal:
                    # recompute the affected GROUPS from the base (broadcast
                    # semi/anti on the affected keys — churn-bounded group
                    # count).
                    old = self._state_df(buckets=affected)
                    base = with_keys(_phys_df(t), key_specs(cfg))
                    recomputed = (
                        base.join(
                            F.broadcast(delta_keys),
                            self._key_cond(keys, delta_keys, left=base),
                            "leftsemi",
                        )
                        .groupBy(*[F.col(k) for k in keys])
                        .agg(*_state_aggs(aggs))
                    )
                    kept = old.join(
                        F.broadcast(delta_keys),
                        self._key_cond(keys, delta_keys, left=old),
                        "left_anti",
                    )
                    merged = kept.unionByName(recomputed)
                    base_scanned = True
                else:
                    old = self._state_df(buckets=affected)
                    merged = self._merge_additive(old, phys_feed, sign, keys, aggs)

                if merged is not None:
                    new_files = write_matview_buckets(
                        t, self.name, merged, keys, n_buckets, restrict_to=affected
                    )
                    cfg["files"] = [
                        fj for fj in cfg["files"] if fj["bucket"] not in set(affected)
                    ] + new_files
            finally:
                delta_keys.unpersist()
            summary = {
                "mode": "incremental",
                "base_scanned": base_scanned,
                "buckets_rewritten": len(affected),
                "buckets_total": n_buckets,
            }
            audit = {"matview": self.name, "buckets": len(affected)}
            return summary, "refresh_matview", audit

        res = t._refresh_derived(
            entry, cfg, mode, f"matview {self.name}", self.rebuild, _fold
        )
        if res["mode"] == "noop":
            res |= {"base_scanned": False, "buckets_rewritten": 0,
                    "buckets_total": n_buckets}
        return res

    @staticmethod
    def _key_cond(keys: list[str], right: DataFrame, left: DataFrame | None = None):
        """Null-safe equi-join condition on the group keys (NULL is a group
        in GROUP BY semantics, so plain ``=`` would drop those rows)."""
        cond = None
        for k in keys:
            lcol = left[k] if left is not None else F.col(k)
            c = lcol.eqNullSafe(right[k])
            cond = c if cond is None else cond & c
        return cond

    def _merge_additive(self, old, phys_feed, sign, keys, aggs) -> DataFrame:
        """Pure delta merge (no base read): signed feed aggregates outer-
        joined null-safely with the old state; zero-count groups dropped.
        min/max states, when present, are only reachable here for
        APPEND-ONLY spans (refresh() routes removal spans to the
        recompute path) and merge via least/greatest."""
        dexprs = [F.sum(sign).alias("_d_count")]
        for out, (fn, src) in aggs.items():
            if fn == "count":
                if src is not None:
                    dexprs.append(
                        F.sum(
                            F.when(F.col(src).isNotNull(), sign).otherwise(
                                F.lit(0)
                            )
                        ).alias(f"_d_nn_{out}")
                    )
                continue
            c = F.col(src)
            if fn == "min":
                dexprs.append(F.min(c).alias(f"_d_min_{out}"))
            elif fn == "max":
                dexprs.append(F.max(c).alias(f"_d_max_{out}"))
            elif fn == "approx_distinct":
                dexprs.append(F.hll_sketch_agg(c).alias(f"_d_hll_{out}"))
            else:
                dexprs.append(
                    F.sum(F.when(c.isNotNull(), sign * c)).alias(f"_d_sum_{out}")
                )
                dexprs.append(
                    F.sum(
                        F.when(c.isNotNull(), sign).otherwise(F.lit(0))
                    ).alias(f"_d_nn_{out}")
                )
        delta = phys_feed.groupBy(*[F.col(k) for k in keys]).agg(*dexprs)
        cond = None
        for k in keys:
            c = old[k].eqNullSafe(delta[k])
            cond = c if cond is None else cond & c
        j = old.join(delta, cond, "full_outer")
        sel = [F.coalesce(old[k], delta[k]).alias(k) for k in keys]
        zero = F.lit(0)
        new_count = F.coalesce(old["_mv_count"], zero) + F.coalesce(
            delta["_d_count"], zero
        )
        sel.append(new_count.alias("_mv_count"))
        for out, (fn, _src) in aggs.items():
            if fn == "count":
                if _src is not None:
                    nn = F.coalesce(old[f"_mv_nn_{out}"], zero) + F.coalesce(
                        delta[f"_d_nn_{out}"], zero
                    )
                    sel.append(nn.alias(f"_mv_nn_{out}"))
                continue
            if fn == "min":
                sel.append(
                    F.least(
                        old[f"_mv_min_{out}"], delta[f"_d_min_{out}"]
                    ).alias(f"_mv_min_{out}")
                )
                continue
            if fn == "max":
                sel.append(
                    F.greatest(
                        old[f"_mv_max_{out}"], delta[f"_d_max_{out}"]
                    ).alias(f"_mv_max_{out}")
                )
                continue
            if fn == "approx_distinct":
                o, d = old[f"_mv_hll_{out}"], delta[f"_d_hll_{out}"]
                sel.append(
                    F.when(o.isNull(), d)
                    .when(d.isNull(), o)
                    .otherwise(F.hll_union(o, d))
                    .alias(f"_mv_hll_{out}")
                )
                continue
            nn = F.coalesce(old[f"_mv_nn_{out}"], zero) + F.coalesce(
                delta[f"_d_nn_{out}"], zero
            )
            s = F.coalesce(old[f"_mv_sum_{out}"], zero) + F.coalesce(
                delta[f"_d_sum_{out}"], zero
            )
            sel.append(F.when(nn > 0, s).alias(f"_mv_sum_{out}"))
            sel.append(nn.alias(f"_mv_nn_{out}"))
        return j.select(*sel).filter(F.col("_mv_count") > 0)

    def get_stats(self):
        from .table import TableStats

        files = self._cfg["files"]
        size = 0
        for fj in files:
            try:
                size += os.path.getsize(fj["path"])
            except OSError:
                pass
        return TableStats(num_rows=sum(f["rows"] for f in files), size_in_bytes=size)


# ----------------------------------------------------------------------
# materialization helpers shared by the build and the refresh's bucket
# rewrite, so their file layouts can never diverge


def materialize_matview(
    table, name: str, keys: list[str], aggs: dict[str, list], n_buckets: int,
    specs: list[dict] | None = None,
) -> list[dict]:
    """Aggregate the whole table into bucketed state files."""
    base = _phys_df(table)
    if specs:
        base = with_keys(base, specs)
    state = (
        base
        .groupBy(*[F.col(k) for k in keys])
        .agg(*_state_aggs(aggs))
    )
    return write_matview_buckets(table, name, state, keys, n_buckets)


def write_matview_buckets(
    table,
    name: str,
    state: DataFrame,
    keys: list[str],
    n_buckets: int,
    restrict_to: list[int] | None = None,
) -> list[dict]:
    """Write ``state`` partitioned by group-hash bucket; returns file-entry
    dicts (FileEntry json + ``bucket``). ``restrict_to`` asserts the state
    only contains the given buckets (incremental rewrite path)."""
    bucket_of = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))
    out = state.withColumn("_mv_bucket", bucket_of).repartition(
        max(1, min(n_buckets, 32)), F.col("_mv_bucket")
    )
    files: list[dict] = []
    for path, partition, md in table._staged_write(out, f"mv-{name}", ["_mv_bucket"]):
        b = int(partition["_mv_bucket"])
        if restrict_to is not None and b not in restrict_to:
            raise InvalidArgument(
                f"matview bucket rewrite leaked into bucket {b} "
                f"(expected only {restrict_to})"
            )
        fe = FileEntry(path=path, rows=md.num_rows, row_id_base=0)
        files.append({**fe.to_json(), "bucket": b})
    return files


def create_materialized_view(
    table, name: str, group_by: list[str], aggs: dict, num_buckets: int = 16
) -> MaterializedView:
    """Create and materialize an aggregate view on ``table``."""
    entry = TableEntry.from_json(table.entry.to_json())
    if name in entry.matviews:
        raise MatViewExists(name)
    if not group_by:
        raise InvalidArgument("materialized view needs at least one group key")
    if num_buckets < 1:
        raise InvalidArgument("num_buckets must be >= 1")
    norm = normalize_aggs(table, aggs)
    specs = normalize_keys(table, group_by)
    keys = [ks["name"] for ks in specs]
    files = materialize_matview(table, name, keys, norm, num_buckets, specs)
    entry.matviews[name] = {
        "group_by": keys,
        "key_specs": specs,
        "aggs": norm,
        "files": files,
        "num_buckets": num_buckets,
        "stale": False,
        "built_version": table._committed_state_version(),
    }
    table._mutate(entry, "create_matview", matview=name)
    return MaterializedView(name, table)


# ----------------------------------------------------------------------
# rollup serving: answer aggregate queries FROM materialized-view state


def _match_key(cfg: dict, spec: dict) -> str | None:
    """The view key NAME serving a requested key spec: same source
    column and same bucket step (plain keys: step None)."""
    for ks in key_specs(cfg):
        if ks["src"] == spec["src"] and ks["step_us"] == spec["step_us"]:
            return ks["name"]
    return None


def state_covers(cfg: dict, req_specs: list[dict], aggs: dict[str, list]) -> bool:
    """Can this view's state answer a (group_by=specs, aggs) request?
    Every requested key (plain column or time bucket, matched on
    source + step) must be one of the view's keys — folding rolls the
    extra dimensions up — and every requested aggregate needs a
    matching state column: count is always present; sum/avg need a sum
    or avg state on the same source column; min/max/approx_distinct
    need the same fn on the same source."""
    if any(_match_key(cfg, s) is None for s in req_specs):
        return False
    for _out, (fn, src) in aggs.items():
        if fn == "count" and src is None:
            continue
        ok = any(
            # sum/avg states carry both _mv_sum and _mv_nn, so they serve
            # sum, avg, AND count(src); a count(src) state carries only
            # _mv_nn, so it serves count(src) alone
            (mfn in ("sum", "avg") and fn in ("sum", "avg", "count") and msrc == src)
            or (mfn == fn and msrc == src)
            for mfn, msrc in cfg["aggs"].values()
        )
        if not ok:
            return False
    return True


def _state_col_for(cfg: dict, fn: str, src: str) -> str:
    """The state-column name in ``cfg`` that serves (fn, src)."""
    for mout, (mfn, msrc) in cfg["aggs"].items():
        if msrc != src:
            continue
        if fn in ("sum", "avg") and mfn in ("sum", "avg"):
            return mout
        if fn == "count" and mfn in ("sum", "avg", "count"):
            return mout  # all three carry _mv_nn_<mout> for this source
        if mfn == fn:
            return mout
    raise KeyError((fn, src))


def rollup_from_state(mv, req_specs: list[dict], aggs: dict[str, list]) -> DataFrame:
    """Fold the view's per-group state down to the requested key subset:
    counts and sums ADD, min/max fold with min/max, HLL sketches union —
    cost is proportional to the VIEW's group count, never the base table.
    Output columns: requested keys (current logical names; bucket keys
    under the requested alias) + agg outs."""
    cfg = mv._cfg
    st = mv._state_df()
    exprs = []
    for out, (fn, src) in aggs.items():
        if fn == "count" and src is None:
            exprs.append(F.sum("_mv_count").alias(out))
            continue
        if fn == "count":
            # count(col) folds by adding non-null counts; any state with
            # sum/avg/count on the same source carries _mv_nn
            mout = _state_col_for(cfg, fn, src)
            exprs.append(
                F.coalesce(
                    F.sum(F.col(f"_mv_nn_{mout}")), F.lit(0).cast("long")
                ).alias(out)
            )
            continue
        mout = _state_col_for(cfg, fn, src)
        if fn == "sum":
            nn = F.sum(F.col(f"_mv_nn_{mout}"))
            exprs.append(
                F.when(nn > 0, F.sum(F.col(f"_mv_sum_{mout}"))).alias(out)
            )
        elif fn == "avg":
            nn = F.sum(F.col(f"_mv_nn_{mout}"))
            exprs.append(
                F.when(nn > 0, F.sum(F.col(f"_mv_sum_{mout}")) / nn).alias(out)
            )
        elif fn == "min":
            exprs.append(F.min(F.col(f"_mv_min_{mout}")).alias(out))
        elif fn == "max":
            exprs.append(F.max(F.col(f"_mv_max_{mout}")).alias(out))
        elif fn == "approx_distinct":
            exprs.append(
                F.hll_sketch_estimate(
                    F.hll_union_agg(F.col(f"_mv_hll_{mout}"))
                ).alias(out)
            )
    inv = {p: l for l, p in mv.table._physical_map().items()}
    mv_keys = [_match_key(cfg, s) for s in req_specs]
    folded = st.groupBy(*[F.col(k) for k in mv_keys]).agg(*exprs)
    out_names = [
        s["name"] if s["step_us"] else inv.get(s["name"], s["name"])
        for s in req_specs
    ]
    return folded.select(
        *[F.col(k).alias(n) for k, n in zip(mv_keys, out_names)],
        *[F.col(out) for out in aggs],
    )
