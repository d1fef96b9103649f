"""Compaction-policy ladder (round 11, r10 verdict #3): under CONTINUOUS
merge-on-read upserts, does the manifest-driven ``choose_compaction``
policy keep steady-state read cost bounded — without any manual compaction
call and without paying full-table rewrites?

Protocol: one keyed store per arm (same initial load, same scripted
partial-column CDC batches), N rounds of upsert → [policy compaction] →
timed reads (full resolved scan + a 16-key point lookup). Arms:

* ``policy``  — after each batch, compact exactly the bucket set
  ``choose_compaction(path)`` returns (the streaming loop's auto_compact
  path);
* ``never``   — no compaction at all: the control whose read tax is
  allowed to grow (what the policy must beat);
* ``always``  — full ``compact_keyed_table`` every batch: the overkill
  control whose write cost the policy must undercut.

One JSON line per (arm, round) with upsert/compact/read seconds, buckets
compacted, and dirty-bucket count; a summary line per arm with totals.
Feeds SCALING.md's round-11 section.

Usage: python tools/compaction_policy_ladder.py [sf_dir=/root/testdata/sf0.1] [rounds=10]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark import manifest as MF  # noqa: E402
from es_household_retention_spark_job_spark.session import get_spark  # noqa: E402
from es_household_retention_spark_job_spark.sinks.upsert import (  # noqa: E402
    choose_compaction,
    compact_keyed_table,
    read_keyed_table,
    upsert_parquet,
    write_keyed_table,
)

N_BUCKETS = 64


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark(app_name="compact-ladder", cpus=32, shuffle_partitions=64)
    os.environ["SPARK_GRAFT_SINK_WRITE_MODE"] = "mor"

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    n_rows = cust.count()
    probe = [r[0] for r in cust.select("c_custkey").limit(16).collect()]
    work = Path(tempfile.mkdtemp(prefix="compact_ladder_"))
    print(
        json.dumps(
            {"ladder": "compaction_policy", "sf_dir": sf_dir, "rows": n_rows,
             "rounds": rounds, "n_buckets": N_BUCKETS}
        )
    )
    try:
        for arm in ("policy", "never", "always"):
            path = str(work / f"store_{arm}")
            write_keyed_table(cust, path, key="c_custkey", n_buckets=N_BUCKETS)
            tot = {"upsert": 0.0, "compact": 0.0, "read": 0.0, "compacted": 0}
            for rnd in range(rounds):
                # scattered single-column CDC batch: every (17+round)-th key
                batch = cust.where(
                    F.col("c_custkey") % (17 + rnd) == 0
                ).select(
                    "c_custkey",
                    (F.col("c_acctbal") + rnd).alias("c_acctbal"),
                )
                t_up, _ = timed(
                    lambda b=batch: upsert_parquet(
                        spark, path, b, key="c_custkey", n_buckets=N_BUCKETS
                    )
                )
                t_cp, n_cp = 0.0, 0
                if arm == "policy":
                    chosen = choose_compaction(path)
                    if chosen:
                        t_cp, n_cp = timed(
                            lambda c=chosen: compact_keyed_table(
                                spark, path, buckets=c
                            )
                        )
                elif arm == "always":
                    t_cp, n_cp = timed(lambda: compact_keyed_table(spark, path))
                t_full, _ = timed(lambda: read_keyed_table(spark, path).count())
                t_pt, _ = timed(
                    lambda: read_keyed_table(spark, path, keys=probe).count()
                )
                import es_household_retention_spark_job_spark.sinks.upsert as U

                dirty = len((MF.read(path, U.MANIFEST_FILE) or {}).get("mor") or {})
                tot["upsert"] += t_up
                tot["compact"] += t_cp
                tot["read"] += t_full + t_pt
                tot["compacted"] += n_cp
                print(
                    json.dumps(
                        {
                            "arm": arm, "round": rnd,
                            "upsert_sec": round(t_up, 2),
                            "compact_sec": round(t_cp, 2),
                            "buckets_compacted": n_cp,
                            "read_full_sec": round(t_full, 2),
                            "read_point_sec": round(t_pt, 2),
                            "dirty_buckets": dirty,
                        }
                    ),
                    flush=True,
                )
            print(
                json.dumps(
                    {
                        "arm": arm, "summary": True,
                        "upsert_total_sec": round(tot["upsert"], 2),
                        "compact_total_sec": round(tot["compact"], 2),
                        "read_total_sec": round(tot["read"], 2),
                        "buckets_compacted_total": tot["compacted"],
                    }
                ),
                flush=True,
            )
        # ---- Section 2: SELECTIVITY at representative bucket sizes ----
        # At the toy scale above, the fixed per-bucket reconciliation tax
        # dominates and the policy rightly compacts every dirty bucket
        # (≡ "always"). This section builds a store whose buckets are big
        # enough that a tiny delta does NOT justify a rewrite (the cost
        # rule's other branch), and confines the CDC batches to a 4-bucket
        # subset: the policy must (a) leave everything alone while the
        # delta/base ratio is small, (b) eventually select EXACTLY the
        # dirty subset via the small-file trigger — never the 12 clean
        # buckets.
        big_n = int(os.environ.get("SPARK_GRAFT_COMPACT_LADDER_BIG", "20000000"))
        from es_household_retention_spark_job_spark.sinks.upsert import (
            MANIFEST_FILE,
            _with_bucket,
        )

        big = spark.range(big_n).select(
            F.concat(F.lit("k"), F.col("id")).alias("k"),
            (F.col("id") % 97).alias("v"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        path = str(work / "store_big")
        write_keyed_table(big, path, key="k", n_buckets=16)
        # keys confined to 4 target buckets, ~10k per batch
        targets = {0, 1, 2, 3}
        keys_pool = (
            _with_bucket(big.select("k"), "k", 16)
            .where(F.col("_bucket").isin(list(targets)))
            .select("k")
            .limit(60_000)
            .collect()
        )
        for rnd in range(6):
            batch_keys = [r[0] for r in keys_pool[rnd * 10_000 : (rnd + 1) * 10_000]]
            batch = spark.createDataFrame(
                [(k, rnd) for k in batch_keys], "k string, v long"
            )
            t_up, _ = timed(
                lambda b=batch: upsert_parquet(
                    spark, path, b, key="k", n_buckets=16
                )
            )
            chosen = choose_compaction(path)
            man = MF.read(path, MANIFEST_FILE) or {}
            dirty = sorted(
                int(d.split("=", 1)[1]) for d in (man.get("mor") or {})
            )
            ok = set(
                int(d.split("=", 1)[1]) for d in chosen
            ) <= set(dirty)
            t_cp, n_cp = (0.0, 0)
            if chosen:
                t_cp, n_cp = timed(
                    lambda c=chosen: compact_keyed_table(spark, path, buckets=c)
                )
            t_pt, _ = timed(
                lambda: read_keyed_table(
                    spark, path, keys=[r[0] for r in keys_pool[:8]]
                ).count()
            )
            print(
                json.dumps(
                    {
                        "section": "selectivity",
                        "round": rnd,
                        "upsert_sec": round(t_up, 2),
                        "dirty_buckets": dirty,
                        "policy_chose": sorted(chosen),
                        "chose_subset_of_dirty": ok,
                        "compact_sec": round(t_cp, 2),
                        "buckets_compacted": n_cp,
                        "read_point_sec": round(t_pt, 2),
                    }
                ),
                flush=True,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
