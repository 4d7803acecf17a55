"""Synthetic manifest-scaling probe (round-11 verdict item #3): how
does snapshot-resolution metadata cost grow past 10⁵ live files, and
what does the SHARDED checkpoint (manifest-list root + per-shard
columnar objects) buy a predicated read?

Pure metadata — no Spark, no data files. Fabricates a snapshot of
``--n-files`` synthetic entries with clustered per-file id ranges (the
layout a cluster_by commit produces), writes the real commit-log
objects (v0 full record, v1 delta record, v1 checkpoint through
``TransactionalTable._write_checkpoint`` — sharded past
``checkpoint_shard_files``), then measures on COLD handles:

- full materialization (``manifest()``): wall + bytes read,
- pruned planning (``_planning_manifest`` with a narrow id band):
  wall + bytes read + shards touched,

and prints one JSON line. The verdict's "Done" shape: plan-time grows
with MATCHED shards only.

Usage: python tools/manifest_probe.py [--n-files 1000000]
                                      [--shard-files 65536]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--n-files", type=int, default=1_000_000)
    ap.add_argument("--shard-files", type=int, default=65_536)
    ap.add_argument("--rows-per-file", type=int, default=100_000)
    args = ap.parse_args()

    from nyc_taxi_etl_pyspark_spark.sources.txtable import (
        _TABLE_FORMAT,
        TransactionalTable,
        _manifest_key,
    )

    root = tempfile.mkdtemp(prefix="manifest_probe_")
    try:
        t = TransactionalTable(
            root, checkpoint_shard_files=args.shard_files
        )
        n = args.n_files
        rpf = args.rows_per_file
        files = [f"data/part-{i:07d}.parquet" for i in range(n)]
        stats = {
            f: {
                "rows": rpf,
                "cols": {"id": [i * rpf, (i + 1) * rpf - 1]},
            }
            for i, f in enumerate(files)
        }
        schema = {"id": "bigint", "k": "bigint", "v": "double"}
        t.storage.put_if_absent(
            _manifest_key(0),
            json.dumps(
                {
                    "version": 0,
                    "parent": None,
                    "files": files[:1],
                    "rows": rpf,
                    "schema": schema,
                    "stats": {files[0]: stats[files[0]]},
                    "meta": {"layout": _TABLE_FORMAT},
                }
            ).encode(),
        )
        t.storage.put_if_absent(
            _manifest_key(1),
            json.dumps(
                {
                    "version": 1,
                    "parent": 0,
                    "add": [],
                    "stats": {},
                    "rows": n * rpf,
                    "schema": schema,
                    "meta": {"layout": _TABLE_FORMAT},
                }
            ).encode(),
        )
        full = {
            "version": 1,
            "parent": 0,
            "files": files,
            "rows": n * rpf,
            "schema": schema,
            "stats": stats,
            "meta": {"layout": _TABLE_FORMAT},
        }
        t0 = time.time()
        t._write_checkpoint(full)
        write_s = time.time() - t0
        ckpt_names = t.storage.list("_checkpoints")
        n_shards = sum(1 for k in ckpt_names if ".shard-" in k)
        ckpt_bytes = sum(
            os.path.getsize(os.path.join(root, k)) for k in ckpt_names
        )

        def counting(handle):
            acc = {"bytes": 0, "shards": 0}
            real = handle.storage.read

            def rd(key):
                data = real(key)
                acc["bytes"] += len(data)
                if ".shard-" in key:
                    acc["shards"] += 1
                return data

            handle.storage.read = rd
            return acc

        cold_full = TransactionalTable(
            root, checkpoint_shard_files=args.shard_files
        )
        acc_full = counting(cold_full)
        t0 = time.time()
        m = cold_full.manifest()
        full_s = time.time() - t0
        assert len(m["files"]) == n

        cold_pruned = TransactionalTable(
            root, checkpoint_shard_files=args.shard_files
        )
        acc_pruned = counting(cold_pruned)
        lo = (n // 2) * rpf
        t0 = time.time()
        pm = cold_pruned._planning_manifest(
            None, [("id", lo, lo + rpf - 1)], None, None
        )
        pruned_s = time.time() - t0
        assert pm.get("pruned_view"), "expected the sharded fast path"

        out = {
            "n_files": n,
            "shard_files": args.shard_files,
            "n_shards": n_shards,
            "checkpoint_write_s": round(write_s, 3),
            "checkpoint_bytes": ckpt_bytes,
            "full_load_s": round(full_s, 3),
            "full_load_bytes": acc_full["bytes"],
            "pruned_plan_s": round(pruned_s, 3),
            "pruned_plan_bytes": acc_pruned["bytes"],
            "pruned_shards_read": acc_pruned["shards"],
            "pruned_view_files": len(pm["files"]),
        }
        print(json.dumps(out))
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
