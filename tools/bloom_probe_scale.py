#!/usr/bin/env python
"""Bloom-index PROBE-path latency at file scale (SCALING.md evidence).

The 500-file gate (tests/test_bloom_index.py) proves the BUILD is bounded;
this pins the planning-time cost of a point probe as the file count grows
500 -> 5000: "cold" = the in-process _SIDECAR_CACHE is cleared before each
probe, so every probe re-streams and re-parses the parquet sidecar (NB:
the OS page cache stays hot — this measures parse+probe cost, not disk
I/O; a truly I/O-cold driver restart adds the read of sidecar_bytes once),
"warm" = process cache hot, plus soundness (the true file is always a
candidate) and sidecar size linearity.

Usage: python tools/bloom_probe_scale.py [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import warnings

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import vastdb_sdk_spark as vastdb  # noqa: E402
from vastdb_sdk_spark import _ as D  # noqa: E402
from vastdb_sdk_spark.plans import bloom as B  # noqa: E402


def measure(n_files: int, per_file: int = 2000) -> dict:
    ext = tempfile.mkdtemp(prefix=f"bloomprobe_ext_{n_files}_")
    wh = tempfile.mkdtemp(prefix=f"bloomprobe_wh_{n_files}_")
    paths = []
    for f in range(n_files):
        base = f * per_file
        ids = np.arange(base, base + per_file, dtype=np.int64)
        p = f"{ext}/part-{f:05d}.parquet"
        pq.write_table(pa.table({"id": ids}), p)
        paths.append(p)
    session = vastdb.connect(warehouse=wh)
    session.create_bucket("b")
    with session.transaction() as tx:
        t = tx.bucket("b").create_schema("s").create_table(
            "big", pa.schema([("id", pa.int64())])
        )
        t.import_files(paths)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            t0 = time.time()
            t.build_column_index("id", max_bits=4096)
            build_s = time.time() - t0
    with session.transaction() as tx:
        t = tx.bucket("b").schema("s").table("big")
        cfg = t.column_indexes()["id"]
        side_bytes = sum(B.sidecar_dir_size(d) for d in cfg["sidecars"])

        def probe(val):
            pv = t.prune_preview(D.id == int(val))
            assert pv["candidate_files"] >= 1, "false negative!"
            return pv

        cold, warm = [], []
        rng = np.random.default_rng(7)
        for i in range(5):
            val = int(rng.integers(0, n_files * per_file))
            B._SIDECAR_CACHE.clear()
            t0 = time.time()
            pv = probe(val)
            cold.append(time.time() - t0)
            t0 = time.time()
            probe(val)
            warm.append(time.time() - t0)
            # capped bitmaps run at degraded fpp BY DESIGN (4096 bits for
            # 2000 values ~ 38% fill): soundness = never a false negative
            # (probe() asserts >= 1) and never a silent keep-all
            assert pv["candidate_files"] < n_files, pv
    shutil.rmtree(ext, ignore_errors=True)
    shutil.rmtree(wh, ignore_errors=True)
    return {
        "n_files": n_files,
        "build_s": round(build_s, 2),
        "sidecar_bytes": side_bytes,
        "probe_cold_median_s": round(statistics.median(cold), 3),
        "probe_cold_min_max": [round(min(cold), 3), round(max(cold), 3)],
        "probe_warm_median_s": round(statistics.median(warm), 3),
    }


def main():
    rows = [measure(500), measure(5000)]
    out = {"rows": rows, "ratio_cold": round(
        rows[1]["probe_cold_median_s"] / max(rows[0]["probe_cold_median_s"], 1e-9), 2
    )}
    print(json.dumps(out))
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
