"""Maintenance-interleaving rehearsal for the near-dup band index and
the union-find cluster table — the ANN rehearsal's discipline
(tools/index_maintenance_interleave_rehearsal.py) applied to the two
structures round 12b added to the CDC loop.

Sequence (one synthetic corpus, real sink windows):

  w1 sync → compress → w2 sync → band-index REBUILD → w3 sync →
  cluster-table REBUILD → w4 sync → raced compress (must abort)

Asserted at every step, one JSON line each:

* cursor exactness — every sync's ``from`` equals the previous
  committed ``to`` for its structure (a rebuild must CARRY the cursor:
  a drop would raise the loud from_version error, a regression would
  re-apply a window);
* view contract — after every step the served cluster view satisfies
  soundness / completeness / coarsening against a fresh batch
  recompute, and strict equality whenever no conservative event has
  occurred;
* the raced compression aborts with ConcurrentWriteError and the raced
  state still serves.

Usage: python tools/cluster_interleave_rehearsal.py [sf_dir]
Writes artifacts/cluster_interleave_r12.jsonl and prints PASS/FAIL.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark import manifest as MF  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = "/root/repo/artifacts/cluster_interleave_r12.jsonl"


def main() -> None:
    from es_household_retention_spark_job_spark.operators import (
        clusters as C,
        dedup as D,
    )
    from es_household_retention_spark_job_spark.session import get_spark
    from es_household_retention_spark_job_spark.sinks import upsert as U
    from es_household_retention_spark_job_spark.sources.tpch import load_table
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        cdc_stream_id,
        sync_dedup_clusters,
        sync_neardup_index,
    )

    spark = get_spark(
        app_name="cluster_interleave", cpus=16, shuffle_partitions=16
    )
    import tempfile

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="cluster_interleave_")
    table = os.path.join(root, "table")
    idx = os.path.join(root, "idx")
    cl = os.path.join(root, "clusters")
    U.write_keyed_table(docs, table, key="doc_id", n_buckets=4)
    v0 = U.current_version(table)
    stream = cdc_stream_id(table)
    D.build_neardup_index(U.read_keyed_table(spark, table), idx)
    C.build_cluster_table(
        U.read_keyed_table(spark, table), cl, epoch=v0, epoch_stream=stream
    )
    lines = []
    ok_all = True
    conservative = False
    last_to = {"band": v0, "clusters": v0}

    def batch_view():
        return sorted(
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in D.duplicate_clusters(
                D.minhash_lsh_pairs(U.read_keyed_table(spark, table))
            ).collect()
        )

    def served_view():
        return sorted(
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in C.read_dedup_clusters(spark, cl).collect()
        )

    def check(step):
        nonlocal ok_all
        want, got = batch_view(), served_view()
        live = {
            r.doc_id
            for r in U.read_keyed_table(spark, table)
            .select("doc_id")
            .collect()
        }
        bmap = {d: c for d, c, _ in want}
        smap = {d: c for d, c, _ in got}
        by_batch: dict = {}
        for d, c in bmap.items():
            by_batch.setdefault(c, set()).add(smap.get(d))
        contract = (
            set(smap) <= live
            and set(bmap) <= set(smap)
            and all(len(s) == 1 and None not in s for s in by_batch.values())
        )
        exact = (got == want) if not conservative else None
        ok = contract and (exact is not False)
        ok_all = ok_all and ok
        line = {
            "step": step,
            "contract": contract,
            "exact": exact,
            "conservative_so_far": conservative,
            "ok": ok,
        }
        lines.append(line)
        print(json.dumps(line))

    def window(step, updates=None, deletes=None):
        nonlocal ok_all, conservative
        if updates is not None:
            U.upsert_parquet(spark, table, updates, key="doc_id")
        if deletes is not None:
            U.delete_keys(spark, table, deletes, key="doc_id")
            conservative = True
        b = sync_neardup_index(spark, idx, table, from_version=v0)
        c = sync_dedup_clusters(spark, cl, table, idx, from_version=v0)
        cursor_ok = (
            b["from"] == last_to["band"] and c["from"] == last_to["clusters"]
        )
        ok_all = ok_all and cursor_ok
        last_to["band"], last_to["clusters"] = b["to"], c["to"]
        line = {"step": step, "band": b, "clusters": c,
                "cursor_exact": cursor_ok}
        lines.append(line)
        print(json.dumps(line))
        check(f"{step}:view")

    # w1: fresh near-dups
    window(
        "w1-insert",
        updates=docs.where(F.col("doc_id") % 19 == 7).select(
            (F.col("doc_id") + 500_000).alias("doc_id"), "text"
        ),
    )
    res = C.compress_dedup_clusters(spark, cl)
    lines.append({"step": "compress", **res}); print(json.dumps(lines[-1]))
    check("compress:view")
    # w2: text mutations
    window(
        "w2-mutate",
        updates=docs.where(F.col("doc_id") % 13 == 4).withColumn(
            "text", F.concat(F.col("text"), F.lit(" zzinter zzinter"))
        ),
    )
    # band-index rebuild mid-stream (must carry the cursor)
    D.build_neardup_index(U.read_keyed_table(spark, table), idx)
    meta = MF.read(idx, D.NEARDUP_META)
    carried = meta.get("last_epoch") == last_to["band"]
    ok_all = ok_all and carried
    lines.append({"step": "band-rebuild", "cursor_carried": carried})
    print(json.dumps(lines[-1]))
    # w3: deletes (conservative regime begins)
    window(
        "w3-delete",
        deletes=docs.where(F.col("doc_id") % 23 == 11).select("doc_id"),
    )
    # cluster-table rebuild (reconciles conservative divergence)
    C.build_cluster_table(
        U.read_keyed_table(spark, table), cl,
        epoch=last_to["clusters"], epoch_stream=stream,
    )
    conservative = False
    check("cluster-rebuild:view")
    # w4: more inserts after the rebuild
    window(
        "w4-insert",
        updates=docs.where(F.col("doc_id") % 31 == 9).select(
            (F.col("doc_id") + 800_000).alias("doc_id"), "text"
        ),
    )
    # w5: a delete leaves ghost rows, so the next compression has a
    # purge to commit — a no-op compression commits nothing and cannot
    # race, so assert there IS pending work before the raced call
    window(
        "w5-delete",
        deletes=docs.where(F.col("doc_id") % 19 == 7).select("doc_id"),
    )
    n_ghosts = (
        U.read_keyed_table(spark, cl).where(~F.col("live")).count()
    )
    ok_all = ok_all and n_ghosts > 0
    lines.append({"step": "w5-ghosts", "pending_purge": int(n_ghosts)})
    print(json.dumps(lines[-1]))
    # raced compression must abort and leave the state serving
    from es_household_retention_spark_job_spark.sinks.upsert import (
        ConcurrentWriteError,
        commit_app_meta,
    )

    orig = C._resolved

    def raced(rows, **kw):
        out = orig(rows, **kw)
        commit_app_meta(cl, {C.CLUSTER_EPOCH_KEY: 999_999_999})
        return out

    C._resolved = raced
    aborted = False
    try:
        C.compress_dedup_clusters(spark, cl)
    except ConcurrentWriteError:
        aborted = True
    finally:
        C._resolved = orig
    still_serves = bool(served_view())
    ok_all = ok_all and aborted and still_serves
    lines.append({"step": "raced-compress", "aborted": aborted,
                  "still_serves": still_serves})
    print(json.dumps(lines[-1]))

    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        for ln in lines:
            fh.write(json.dumps(ln) + "\n")
    print("OVERALL:", "PASS" if ok_all else "FAIL")
    if not ok_all:
        sys.exit(1)


if __name__ == "__main__":
    main()
