"""Point-lookup read-tax ladder for the MoR key Bloom filters (round 11).

Regime: a populated keyed table takes one scattered MoR delta (hash-
scattered keys → EVERY bucket dirty, and each bucket's delta key range
spans nearly its whole key space). Point lookups then probe keys that are
ABSENT from the delta but INSIDE every delta's [min, max] — the exact case
range pruning cannot skip and the Bloom sidecar exists for.

Arms, same table state, same probe set (steady-state second run per arm):
  * ``bloom``      — default read (manifest Bloom filters consulted)
  * ``range_only`` — ``mor_bloom`` ledger stripped from the manifest copy,
                     so the read falls back to range pruning alone and
                     must open delta files + plan the reconciliation window
  * ``clean``      — the same probes after compaction (the no-tax floor)

The PRIMARY metric is files-not-opened / windows-not-planned: on local
page-cache-warm NVMe the wall clocks sit at parity (the In-pushdown
window over a compacted bucket is already near-free), so — exactly like
the scoped-feed A/B — the durable claim is the object-storage one: every
skipped delta file is a GET (+ its bytes) a remote read never issues.

Usage: python tools/bloom_lookup_ladder.py [n_rows=2000000] [delta=5000]
Emits one JSON line; SCALING.md carries the measured table.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark import manifest as MF  # noqa: E402
from es_household_retention_spark_job_spark.session import get_spark  # noqa: E402
from es_household_retention_spark_job_spark.sinks import upsert as U  # noqa: E402


def _timed(fn, reps: int = 2) -> float:
    best = None
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_delta = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000
    spark = get_spark(app_name="bloom-ladder")
    os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = "mor"
    tmp = tempfile.mkdtemp(prefix="spark_graft_bloomlad_")
    path = os.path.join(tmp, "t")
    # ~1 KB row payload: the skipped delta files must carry real BYTES
    # for the cold arm to show wall following the skip (a few-KB delta
    # file costs nothing to read even cold — r12 cold-arm lesson)
    pad = F.concat_ws(
        "", *[F.sha2(F.concat(F.col("id").cast("string"), F.lit(i)), 256)
              for i in range(16)]
    )
    base = spark.range(n_rows).select(
        (F.col("id") * 2).alias("k"),  # EVEN keys live in the table
        (F.col("id") % 997).cast("long").alias("v"),
        pad.alias("w"),
    )
    U.write_keyed_table(base, path, key="k", n_buckets=16)
    # compacted base: one key-sorted file per bucket, so the arms differ
    # only in delta handling (an uncompacted many-small-files store is
    # the COMPACTION policy's regime, not the Bloom skip's — measured:
    # DataFrame construction over ~1800 listed files dominates both arms
    # there and drowns the reconciliation signal)
    U.compact_keyed_table(spark, path)
    # scattered delta: every 2*(n_rows/n_delta)-th even key — hash-
    # scattered across all buckets, per-bucket ranges span the key space
    stride = max(1, n_rows // n_delta)
    delta = spark.range(n_delta).select(
        (F.col("id") * stride * 2).alias("k"),
        F.lit(-1).cast("long").alias("v"),
        pad.alias("w"),
    )
    t_write = _timed(
        lambda: U.upsert_parquet(spark, path, delta, key="k", n_buckets=16),
        reps=1,
    )
    man = MF.read(path, U.MANIFEST_FILE)
    n_bloomed = sum(len(v) for v in (man.get("mor_bloom") or {}).values())
    n_dirty = len(man.get("mor") or {})
    # probes: ODD keys — absent from table AND delta... absent-from-table
    # probes would return nothing; probe EVEN keys that are present in the
    # table but OFF the delta stride (k = 2*(i*stride + stride//2))
    probes = [
        int(2 * (i * stride + stride // 2)) for i in range(200)
        if 2 * (i * stride + stride // 2) < 2 * n_rows
    ]

    def _lookup():
        df = U.read_keyed_table(spark, path, keys=probes)
        df.agg(F.count(F.lit(1)), F.sum("v")).collect()
        return df

    def _arm_stats(df):
        files = df.inputFiles()
        all_delta = {
            f"{d}/{f}" for d, fs in (man.get("mor") or {}).items() for f in fs
        }
        opened_delta = sum(
            1 for f in files if "/".join(f.split("/")[-2:]) in all_delta
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(files), opened_delta, "Window" in plan

    t_bloom = _timed(_lookup)
    n_files_bloom, n_delta_bloom, win_bloom = _arm_stats(
        U.read_keyed_table(spark, path, keys=probes)
    )

    # COLD arm (r12): drop the page cache before each lookup so skipped
    # delta files are bytes never read from DISK, not just from cache
    from _cold import drop_page_cache

    def _timed_cold(fn, reps: int = 2):
        best = None
        for _ in range(reps):
            if not drop_page_cache():
                return None
            t0 = time.monotonic()
            fn()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    t_bloom_cold = _timed_cold(_lookup)
    # strip the bloom ledger in place (manifest copy restored after) to
    # measure the range-only fallback on the identical table state
    man_path = os.path.join(path, U.MANIFEST_FILE)
    orig = Path(man_path).read_text()
    stripped = json.loads(orig)
    stripped.pop("mor_bloom", None)
    Path(man_path).write_text(json.dumps(stripped))
    try:
        t_range = _timed(_lookup)
        t_range_cold = _timed_cold(_lookup)
        n_files_range, n_delta_range, win_range = _arm_stats(
            U.read_keyed_table(spark, path, keys=probes)
        )
    finally:
        Path(man_path).write_text(orig)
    t_compact = _timed(lambda: U.compact_keyed_table(spark, path), reps=1)
    t_clean = _timed(_lookup)
    print(
        json.dumps(
            {
                "n_rows": n_rows,
                "n_delta": n_delta,
                "n_dirty_buckets": n_dirty,
                "n_delta_files_bloomed": n_bloomed,
                "mor_write_sec": t_write,
                "bloom_files_opened": n_files_bloom,
                "bloom_delta_files_opened": n_delta_bloom,
                "bloom_window_planned": win_bloom,
                "range_only_files_opened": n_files_range,
                "range_only_delta_files_opened": n_delta_range,
                "range_only_window_planned": win_range,
                "lookup_bloom_sec": t_bloom,
                "lookup_range_only_sec": t_range,
                "lookup_bloom_cold_sec": t_bloom_cold,
                "lookup_range_only_cold_sec": t_range_cold,
                "cold_arm_available": t_bloom_cold is not None,
                "cold_skip_win_x": (
                    round(t_range_cold / t_bloom_cold, 2)
                    if t_bloom_cold and t_range_cold
                    else None
                ),
                "compact_sec": t_compact,
                "lookup_clean_sec": t_clean,
                "bloom_tax_x": round(t_bloom / t_clean, 2),
                "range_only_tax_x": round(t_range / t_clean, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
