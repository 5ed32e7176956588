"""CDC replication: keep a destination engine table in sync with a source
table by applying the source's row-level change feed.

Engine extension composing read_changes (table.py — the Delta-CDF-style
feed whose cost tracks the changed-file span) with the multi-clause MERGE
machinery: downstream mirrors, cross-bucket replicas, and derived serving
copies stay row-identical to the source at churn cost, never full-copy
cost. The source and destination may live in different buckets or even
different warehouses — the feed is just a DataFrame and the merge runs in
the destination's transaction.

Net-effect semantics: the feed is a two-version diff, so per KEY the span
collapses to one action — the key's final image (insert / update_postimage
row) upserts; a key whose only trace is a removal (delete /
update_preimage with no final image) deletes. A key deleted under one
``$row_id`` and reinserted under another inside the span is ONE upsert.
The whole apply is one MERGE (one inner + one anti join on the key).

The sync cursor (last applied source version) is recorded in the
destination's manifest via the stream-offset mechanism — atomically with
the data, the same exactly-once discipline as streaming ingest — so a
replayed or crashed sync resumes idempotently: re-applying an
already-applied span upserts identical rows and deletes nothing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..errors import InvalidArgument
from ..operators.pinning import pin
from ..operators.pinning import pin_scope as _pin_scope


def sync_table(
    src,
    dst,
    key_cols: list[str],
    from_version: int | None = None,
) -> dict:
    """Apply the source's committed changes since ``from_version``
    (default: the recorded cursor; 0 = full initial sync) to ``dst``.
    Both tables must carry ``key_cols`` (a logical row identity — the
    feed's ``$row_id`` is storage identity and deliberately NOT used
    across tables). Returns ``{"from_version", "to_version", "upserts",
    "deletes"}`` and records ``to_version`` as the new cursor.

    Failure mode (r14 pin tradeoff): the fold pins intermediates via
    eager ``localCheckpoint`` — NON-reliable storage, so an executor
    loss mid-fold loses blocks with no lineage recompute and the sync
    FAILS instead of recovering transparently. That is safe (the cursor
    only advances on success, so the fold is idempotent) but the
    recovery path is a RERUN, not a hung retry — operators of long CDC
    folds should retry the call."""
    if not key_cols:
        raise InvalidArgument("sync_table needs at least one key column")
    for side, t in (("source", src), ("destination", dst)):
        missing = [c for c in key_cols if c not in t.arrow_schema.names]
        if missing:
            raise InvalidArgument(f"{side} table lacks key columns {missing}")
    data_cols = [c for c in src.arrow_schema.names]
    missing = [c for c in data_cols if c not in dst.arrow_schema.names]
    if missing:
        raise InvalidArgument(f"destination lacks source columns {missing}")

    cursor_id = f"sync:{src.path}"
    if from_version is None:
        from_version = max(dst.stream_offset(cursor_id), 0)
    to_version = src.bucket.manifest.version
    if to_version <= from_version:
        return {
            "from_version": from_version,
            "to_version": from_version,
            "upserts": 0,
            "deletes": 0,
        }
    if from_version > 0 and src.change_span_stats(
        from_version, to_version
    )["changed_files"] == 0:
        # the span touched other tables only — metadata-only detection,
        # zero Spark jobs. Do NOT advance the cursor: the write would
        # commit a version of its own and every later sync would chase it
        return {
            "from_version": from_version,
            "to_version": from_version,
            "upserts": 0,
            "deletes": 0,
        }
    # pin_scope releases every pin on exit — success or raise — replacing
    # the old persist + try/finally unpersists; everything derived is
    # consumed inside (the MERGE and the cursor write run in-scope)
    with _pin_scope():
        if from_version <= 0:
            # initial sync: no readable pre-version to diff against — every
            # current source row is a final image (the merge still upserts,
            # so re-running an interrupted initial sync is idempotent)
            finals = src.select_df(columns=data_cols)
            removed = finals.select(*key_cols).limit(0)
        else:
            # the feed feeds BOTH classification joins and the merge
            # source — pinned (eager localCheckpoint, r14): computed once
            # like the old persist, AND its lineage is truncated so the
            # anti-join, union and MERGE plan tiny LogicalRDD scans
            # instead of re-analyzing the two-sided changed-file join
            feed = pin(src.read_changes(from_version, to_version))
            finals = feed.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            ).select(*data_cols)
            removed = feed.filter(
                F.col("_change_type").isin("delete", "update_preimage")
            ).select(*key_cols).distinct()
        # keys whose final state is "gone": removed and not re-materialized
        gone = removed.join(
            finals.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        action = F.lit("upsert")
        source = pin(
            finals.withColumn("__sync_action", action).unionByName(
                gone.select(
                    *[F.col(c) for c in key_cols],
                    *[
                        F.lit(None).cast(dict(finals.dtypes)[c]).alias(c)
                        for c in data_cols
                        if c not in key_cols
                    ],
                    F.lit("delete").alias("__sync_action"),
                )
            )
        )
        # NULL keys have no row identity: the gone-key anti-join and the
        # MERGE's equi-condition never match a NULL, so a NULL-keyed row
        # would classify as both gone AND upserted and re-insert on every
        # replay — reject instead of silently corrupting net-effect
        # semantics. collect(), not first(): the limit-1 take over an
        # AQE-staged agg launches a fan of incremental-take jobs (r14)
        n_null = source.agg(
            F.max(
                F.greatest(
                    *[F.col(c).isNull().cast("int") for c in key_cols],
                    F.lit(0),
                )
            ).alias("n")
        ).collect()[0].n
        if n_null:
            raise InvalidArgument(
                "sync_table: NULL in a key column within the sync span — "
                "NULL keys have no row identity (anti-join and MERGE "
                "conditions never match them); repair the source or "
                "choose non-null key columns"
            )
        non_key = [c for c in data_cols if c not in key_cols]
        # initial/full sync (from_version <= 0) must also DELETE dst rows
        # absent from the source: the change feed carries no tombstones
        # for rows deleted before the sync window, so a re-seeded replica
        # would otherwise keep orphans forever — violating the module's
        # row-identical guarantee. Incremental spans must NOT use this
        # clause (rows simply untouched by the span would be wiped).
        nmbs = (
            [("delete", None, None)] if from_version <= 0 else None
        )
        res = dst.merge(
            source,
            on=list(key_cols),
            matched_clauses=[
                ("delete", F.expr("s.__sync_action = 'delete'"), None),
                ("update", None, {c: F.expr(f"s.{c}") for c in non_key}),
            ],
            not_matched_condition=F.expr("s.__sync_action <> 'delete'"),
            when_not_matched="insert",
            insert_assignments={c: F.expr(f"s.{c}") for c in data_cols},
            not_matched_by_source_clauses=nmbs,
            target_alias="t",
            source_alias="s",
        )
        dst.set_stream_offset(cursor_id, to_version)
    return {
        "from_version": from_version,
        "to_version": to_version,
        "upserts": res.get("updated", 0) + res.get("inserted", 0),
        "deletes": res.get("deleted", 0),
    }


def sync_derived_rows(
    src,
    dst,
    key_cols: list[str],
    derive,
    from_version: int | None = None,
    mode: str = "auto",
    full_rebuild_floor: int = 100_000,
    full_rebuild_fraction: float = 0.5,
) -> dict:
    """Feed-driven maintenance of a DERIVED table: keep ``dst`` equal to
    ``derive(src rows)`` where ``derive`` is a per-row (possibly
    row-multiplying) transform that preserves ``key_cols`` — MinHash/LSH
    band signatures, per-document features, chunk expansions. The dedup
    index lifecycle in batch form: after DML on the corpus, the
    signature table catches up at CHURN cost, never corpus cost.

    Per-key net effect over the span ``from_version -> now``: keys with a
    final image get their derived rows RECOMPUTED (all old rows for the
    key deleted, ``derive`` of the post-image inserted — updates can
    change the derived row COUNT, so recompute-not-merge is the only
    correct shape); keys gone from the source lose their derived rows.
    Replaying an already-applied span recomputes identical rows —
    idempotent, same discipline as ``sync_table``.

    ``from_version=None`` resumes from the recorded cursor; ``0`` forces
    a full rebuild (dst cleared, every source row re-derived). The
    cursor rides the stream-offset mechanism, atomic with the data.

    ``mode``: ``'auto'`` (default) routes by COST — incremental folding
    carries a fixed intercept (feed classification join + matched-delete
    MERGE), so it loses to a from-scratch rebuild when the table is
    small (``full_rebuild_floor`` rows, manifest stats, no scan) or the
    span touches most of it (``full_rebuild_fraction`` of the rows
    behind changed files, from change_span_stats — metadata only).
    ``'incremental'`` forces the fold; ``'full'`` forces a rebuild.
    Either route leaves dst's CONTENT identical (both are exact), so
    routing is invisible to value readers — but a full rebuild rewrites
    every row, so dst's ``$row_id``s and its own change feed see 100%
    churn on that route. Callers that depend on dst row-id stability or
    feed-sized downstream work should pass ``mode='incremental'``
    explicitly (the engine's own gate and churn bench do).

    Returns ``{"from_version", "to_version", "recomputed_keys",
    "deleted_keys", "inserted_rows", "mode"}``.
    """
    if not key_cols:
        raise InvalidArgument("sync_derived_rows needs at least one key column")
    if mode not in ("auto", "incremental", "full"):
        raise InvalidArgument(f"unknown sync mode {mode!r}")
    for side, t in (("source", src), ("derived", dst)):
        missing = [c for c in key_cols if c not in t.arrow_schema.names]
        if missing:
            raise InvalidArgument(f"{side} table lacks key columns {missing}")

    cursor_id = f"derive:{src.path}"
    if from_version is None:
        from_version = max(dst.stream_offset(cursor_id), 0)
    to_version = src.bucket.manifest.version
    if to_version <= from_version:
        return {
            "from_version": from_version,
            "to_version": from_version,
            "recomputed_keys": 0,
            "deleted_keys": 0,
            "inserted_rows": 0,
            "mode": "noop",
        }
    src_cols = list(src.arrow_schema.names)

    def _full_rebuild(frm):
        dst.delete_where(F.lit(True))
        derived = derive(src.select_df(columns=src_cols))
        n = dst.insert_df(derived)
        dst.set_stream_offset(cursor_id, to_version)
        return {
            "from_version": frm,
            "to_version": to_version,
            "recomputed_keys": -1,
            "deleted_keys": 0,
            "inserted_rows": n,
            "mode": "full",
        }

    if mode == "full" or from_version <= 0:
        return _full_rebuild(max(from_version, 0))
    span = src.change_span_stats(from_version, to_version)
    if span["changed_files"] == 0:
        # the span touched other tables in the bucket, not the source:
        # metadata-only detection, no feed read. Do NOT advance the
        # cursor (a cursor write commits a version of its own and would
        # ratchet forever); re-reading the span later is file-diff-pruned
        return {
            "from_version": from_version,
            "to_version": from_version,
            "recomputed_keys": 0,
            "deleted_keys": 0,
            "inserted_rows": 0,
            "mode": "noop",
        }
    if mode == "auto" and (
        span["total_rows"] < int(full_rebuild_floor)
        or span["changed_rows"]
        >= float(full_rebuild_fraction) * max(span["total_rows"], 1)
    ):
        return _full_rebuild(from_version)
    # incremental fold. The feed is consumed by several downstream jobs
    # (key classification, the matched-delete MERGE, the re-derive
    # insert) — PIN it (eager localCheckpoint, r14): beyond computing
    # the two-sided changed-file join once like the old persist did,
    # the pin TRUNCATES the lineage, so the classification agg, the
    # MERGE source and the re-derive each plan a tiny LogicalRDD scan
    # instead of re-analyzing the whole feed plan (the driver gaps
    # between the fold's jobs were over half its wall). pin_scope
    # releases both pins on exit — success or raise — replacing the old
    # try/finally unpersists; everything derived is consumed inside.
    with _pin_scope():
        feed = pin(src.read_changes(from_version, to_version))
        finals = feed.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select(*src_cols)
        removed = (
            feed.filter(F.col("_change_type").isin("delete", "update_preimage"))
            .select(*key_cols)
            .distinct()
        )
        # one shuffle + ONE driver action classifies every affected key and
        # checks key nullability (was: two count() jobs, each re-running the
        # feed). NULL keys have no well-defined row identity — joins and
        # MERGE conditions never match them — so they are rejected here.
        keyed = pin(
            finals.select(*key_cols)
            .withColumn("__has_final", F.lit(1))
            .unionByName(removed.withColumn("__has_final", F.lit(0)))
            .groupBy(*key_cols)
            .agg(F.max("__has_final").alias("__has_final"))
        )
        # collect(), not first(): a limit-1 take over the AQE-staged agg
        # was measured launching TEN incremental-take jobs (r14); the
        # full collect of the single agg row is one job
        tot = keyed.agg(
            F.count(F.lit(1)).alias("n_aff"),
            F.coalesce(F.sum("__has_final"), F.lit(0)).alias("n_final"),
            F.max(
                F.greatest(
                    *[F.col(c).isNull().cast("int") for c in key_cols],
                    F.lit(0),
                )
            ).alias("n_null"),
        ).collect()[0]
        if tot.n_null:
            raise InvalidArgument(
                "sync_derived_rows: NULL in a key column within the change "
                "span — NULL keys have no row identity (equi-joins and MERGE "
                "conditions never match them); repair the source or choose "
                "non-null key columns"
            )
        n_recomputed = int(tot.n_final)
        n_gone = int(tot.n_aff) - n_recomputed
        affected = keyed.select(*key_cols)
        if n_recomputed == 0 and n_gone == 0:
            # files churned but every row hash-matched (rewrite carry-overs:
            # compaction, optimize) — no logical change; do NOT advance the
            # cursor (a cursor write commits a version of its own and would
            # ratchet forever)
            return {
                "from_version": from_version,
                "to_version": from_version,
                "recomputed_keys": 0,
                "deleted_keys": 0,
                "inserted_rows": 0,
                "mode": "noop",
            }
        # delete every derived row of an affected key. Single-key spans
        # with a bounded key count take the predicate-DELETE fast path:
        # the keys ride an isin predicate (manifest-prunable, one
        # column-pruned scan + DV write), which measured 1.2-1.5 s vs
        # 5-6 s for the generic matched-delete MERGE on the e25 shape
        # (r15; the MERGE pays an inner join + clause routing + counts
        # the fold does not need). The affected-key count is already on
        # the driver (tot.n_aff); 20k keys bounds the literal list the
        # plan carries. Larger spans and composite keys keep the MERGE —
        # a 100 TB churn fold shuffles keys, never literal lists.
        if len(key_cols) == 1 and int(tot.n_aff) <= 20_000:
            from ..expr import ColumnRef

            key_vals = [
                r[0] for r in affected.select(key_cols[0]).collect()
            ]
            dst.delete_where(ColumnRef(key_cols[0]).isin(key_vals))
        else:
            # a source key may own MANY derived rows — matched-delete
            # handles the fan-out
            dst.merge(
                affected.withColumn("__aff", F.lit(1)),
                on=list(key_cols),
                matched_clauses=[("delete", None, None)],
                when_not_matched=None,
                target_alias="t",
                source_alias="s",
            )
        derived = derive(finals)
        n = dst.insert_df(derived)
        dst.set_stream_offset(cursor_id, to_version)
    return {
        "from_version": from_version,
        "to_version": to_version,
        "recomputed_keys": n_recomputed,
        "deleted_keys": n_gone,
        "inserted_rows": n,
        "mode": "incremental",
    }


_MINHASH_CFG_DEFAULTS = {
    "text_col": "text",
    "id_col": "doc_id",
    "num_hashes": 16,
    "num_bands": 4,
    "shingle_k": 3,
    "hash_fn": "xxhash64",
}


def sync_minhash_signatures(
    src,
    sig_table,
    text_col: str | None = None,
    id_col: str | None = None,
    num_hashes: int | None = None,
    num_bands: int | None = None,
    shingle_k: int | None = None,
    hash_fn: str | None = None,
    from_version: int | None = None,
    mode: str = "auto",
    full_rebuild_floor: int = 100_000,
    full_rebuild_fraction: float = 0.5,
) -> dict:
    """Keep a banded MinHash signature table — the persisted dedup index
    the streaming tier joins new batches against (streaming/dedup.
    stream_dedup_near_against_table; columns ``(id_col, band_id,
    band_key)``) — in sync with its corpus table after batch DML, at
    churn cost. The batch half of the dedup-index lifecycle: streaming
    ingest appends signatures per micro-batch; THIS folds deletes,
    updates and bulk imports the stream never saw.

    The MinHash parameters are RECORDED on the sig table
    (``properties['minhash_config']``) by the first sync: later syncs
    default to the recorded values, and an explicitly-passed CONFLICTING
    value fails loud — an incremental resync under different parameters
    would re-derive only the churned documents' rows, silently mixing two
    incompatible signature spaces in one index (band keys from the two
    populations never collide correctly, so near-dup joins quietly lose
    recall). Unset parameters fall back to the module defaults
    (16/4/3/xxhash64, text/doc_id)."""
    from ..operators.dedup import lsh_band_keys, minhash_signatures

    explicit = {
        "text_col": text_col,
        "id_col": id_col,
        "num_hashes": num_hashes,
        "num_bands": num_bands,
        "shingle_k": shingle_k,
        "hash_fn": hash_fn,
    }
    recorded = sig_table.entry.properties.get("minhash_config") or {}
    conflicts = {
        k: (recorded[k], v)
        for k, v in explicit.items()
        if v is not None and k in recorded and recorded[k] != v
    }
    if conflicts:
        raise InvalidArgument(
            "sync_minhash_signatures: parameters conflict with the config "
            f"recorded on {sig_table.path}: "
            + ", ".join(
                f"{k}={new!r} (recorded {old!r})"
                for k, (old, new) in conflicts.items()
            )
            + "; rebuild the signature table to change its parameters"
        )
    cfg = {
        k: (
            explicit[k]
            if explicit[k] is not None
            else recorded.get(k, _MINHASH_CFG_DEFAULTS[k])
        )
        for k in _MINHASH_CFG_DEFAULTS
    }

    def derive(rows):
        sigs = minhash_signatures(
            rows, cfg["text_col"], cfg["id_col"], cfg["num_hashes"],
            cfg["shingle_k"], cfg["hash_fn"],
        )
        return lsh_band_keys(sigs, cfg["num_bands"], cfg["id_col"], cfg["hash_fn"])

    res = sync_derived_rows(
        src,
        sig_table,
        [cfg["id_col"]],
        derive,
        from_version=from_version,
        mode=mode,
        full_rebuild_floor=full_rebuild_floor,
        full_rebuild_fraction=full_rebuild_fraction,
    )
    if recorded != cfg:
        from ..catalog.manifest import TableEntry

        entry = TableEntry.from_json(sig_table.entry.to_json())
        entry.properties["minhash_config"] = cfg
        sig_table._mutate(entry, "record_minhash_config")
    return res
