"""Streaming serving-stack rehearsal: live document micro-batches drive
the keyed sink through Structured Streaming (one exactly-once epoch per
batch, persistent checkpoint), and after every batch ONE
``sync_serving_stack`` call folds the window into all four served
structures — text index, ANN index, near-dup band index, cluster view.

Protocol (per batch, N batches of fresh + mutated docs):

1. drop the batch's NDJSON file into the stream input dir; run the
   file-source stream (availableNow, maxFilesPerTrigger=1, SAME
   checkpoint across steps — genuine epoch continuity);
2. sync_serving_stack: record per-structure wall + cursor exactness
   (every ``from`` equals the previous committed ``to``);
3. gates: the cluster view equals a fresh batch recompute over the
   table's resolved state (insert/mutation windows — the equality
   regime), and the ANN full-probe read equals brute force over the
   resolved state (both structures answer from the same snapshot).

After the last batch the stream re-runs on the same checkpoint with no
new files, then sync_serving_stack runs again: every structure must
report a no-op window (replay proof at the stack level).

Usage: python tools/streaming_stack_rehearsal.py [sf_dir] [n_batches=3]
           [--batch-docs=N]
``--batch-docs`` caps each batch at N docs (N//2 fresh + N//2 mutated) —
the FIXED-WINDOW protocol for cross-scale wall comparisons (r12 verdict
#4: per-batch wall at sf1 must be flat vs sf0.1 at the same window, so
the window must not scale with the corpus). Unset, batches keep the
original corpus-proportional sizing.
One JSON line per batch + a summary line (feeds SCALING.md).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F, types as T  # noqa: E402

from es_household_retention_spark_job_spark import manifest as MF  # noqa: E402

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
SF = ARGS[0] if ARGS else "/root/testdata/sf0.1"
N_BATCHES = int(ARGS[1]) if len(ARGS) > 1 else 3
BATCH_DOCS = None
for a in sys.argv[1:]:
    if a.startswith("--batch-docs="):
        BATCH_DOCS = int(a.split("=", 1)[1])

DOC = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def main() -> None:
    from es_household_retention_spark_job_spark.operators import (
        clusters as C,
        dedup as D,
        search as SE,
        similarity as S,
    )
    from es_household_retention_spark_job_spark.session import get_spark
    from es_household_retention_spark_job_spark.sinks import upsert as U
    from es_household_retention_spark_job_spark.sources.tpch import load_table
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        cdc_stream_id,
        sync_serving_stack,
    )
    from es_household_retention_spark_job_spark.streaming.ingest import (
        keyed_table_sink,
        stream_ndjson,
    )

    spark = get_spark(
        app_name="streaming_stack", cpus=16, shuffle_partitions=16
    )
    root = tempfile.mkdtemp(prefix="stream_stack_")
    in_dir = os.path.join(root, "in")
    ckpt = os.path.join(root, "ckpt")
    table = os.path.join(root, "table")
    os.makedirs(in_dir)
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    embs = load_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        # doubles end-to-end: the NDJSON stream schema decodes doubles,
        # and a float-typed stored column would reject the upsert
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    base = docs.join(embs, "doc_id")  # docs that carry an embedding
    U.write_keyed_table(base, table, key="doc_id", n_buckets=8)
    v0 = U.current_version(table)
    stream_id = cdc_stream_id(table)
    state = U.read_keyed_table(spark, table)
    tidx = os.path.join(root, "text")
    aidx = os.path.join(root, "ann")
    nidx = os.path.join(root, "neardup")
    cl = os.path.join(root, "clusters")
    SE.build_text_index(state, tidx)
    # √n/4 cells (the synced-index default geometry, r13): the sync's
    # auto-split would converge here anyway — bootstrapping at the
    # target keeps batch-1's wall comparable to the rest
    n_base = base.count()
    S.build_ann_index(
        state, aidx, n_cells=max(8, int(n_base**0.5 / 4)), iters=2,
        id_col="doc_id",
    )
    D.build_neardup_index(state, nidx)
    C.build_cluster_table(state, cl, epoch=v0, epoch_stream=stream_id)

    def drain():
        q = keyed_table_sink(
            stream_ndjson(spark, in_dir, DOC, max_files_per_trigger=1),
            table,
            "doc_id",
            ckpt,
        )
        q.awaitTermination()

    def stack():
        return sync_serving_stack(
            spark, table,
            text_index=tidx, ann_index=aidx, neardup_index=nidx,
            cluster_table=cl,
            from_version=v0, emb_id_col="doc_id",
        )

    n0 = base.count()
    last_to = {k: v0 for k in ("text", "ann", "neardup", "clusters")}
    lines, ok_all = [], True
    for b in range(1, N_BATCHES + 1):
        # fresh near-dups of existing docs + text mutations of others
        fresh = base.where(F.col("doc_id") % 31 == b).select(
            (F.col("doc_id") + b * 1_000_000).alias("doc_id"),
            "text",
            "embedding",
        )
        muts = (
            U.read_keyed_table(spark, table)
            .where(F.col("doc_id") % 37 == b)
            .where(F.col("doc_id") < n0 * 10)
            .withColumn(
                "text",
                F.concat(F.col("text"), F.lit(f" zzb{b} zzb{b}")),
            )
        )
        if BATCH_DOCS is not None:  # fixed-window protocol (id-ordered,
            # deterministic at every scale)
            fresh = fresh.orderBy("doc_id").limit(BATCH_DOCS // 2)
            muts = muts.orderBy("doc_id").limit(BATCH_DOCS // 2)
        batch = fresh.unionByName(muts).toPandas()
        fp = os.path.join(in_dir, f"batch-{b:03d}.ndjson")
        with open(fp, "w") as fh:
            for _, r in batch.iterrows():
                fh.write(json.dumps({
                    "doc_id": int(r.doc_id),
                    "text": r.text,
                    "embedding": list(map(float, r.embedding)),
                }) + "\n")
        v_before = U.current_version(table)
        t0 = time.perf_counter()
        drain()
        t_ingest = time.perf_counter() - t0
        v_after = U.current_version(table)
        t0 = time.perf_counter()
        out = stack()
        t_sync = time.perf_counter() - t0
        cursor_ok = all(
            out[k]["from"] == last_to[k] for k in last_to
        ) and all(out[k]["to"] == v_after for k in last_to)
        for k in last_to:
            last_to[k] = out[k]["to"]
        # gates
        resolved = U.read_keyed_table(spark, table)
        queries = resolved.where(F.col("doc_id") % 50 == 0).select(
            "doc_id", "embedding"
        )
        # FULL-probe read (n_probe = live cell count — auto-split may
        # have grown it) is the exactness gate vs brute force
        n_cells_live = int(MF.read(aidx, S.ANN_MANIFEST)["n_cells"])
        ann_ok = {
            (r.query_id, r.neighbor_id, r.rank, r.cos_bp)
            for r in S.knn_ivf_indexed(
                spark, aidx, queries, k=3, n_probe=n_cells_live,
                id_col="doc_id",
            ).collect()
        } == {
            (r.query_id, r.neighbor_id, r.rank, r.cos_bp)
            for r in S.knn_bruteforce(
                resolved.select("doc_id", "embedding"), queries, k=3,
                id_col="doc_id",
            ).collect()
        }
        cl_ok = sorted(
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in C.read_dedup_clusters(spark, cl).collect()
        ) == sorted(
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in D.duplicate_clusters(
                D.minhash_lsh_pairs(resolved.select("doc_id", "text"))
            ).collect()
        )
        one_publish = v_after == v_before + 1
        ok = cursor_ok and ann_ok and cl_ok and one_publish
        ok_all = ok_all and ok
        line = {
            "batch": b,
            "rows": len(batch),
            "ingest_s": round(t_ingest, 2),
            "stack_sync_s": round(t_sync, 2),
            "per_structure_s": None,
            "one_publish": one_publish,
            "cursor_exact": cursor_ok,
            "ann_equal": ann_ok,
            "clusters_equal": cl_ok,
            "ok": ok,
        }
        lines.append(line)
        print(json.dumps(line))
    # replay: drain with no new files, then the stack must no-op
    drain()
    out = stack()
    noop = all(r["from"] == r["to"] for r in out.values())
    ok_all = ok_all and noop
    print(json.dumps({"replay_noop": noop}))
    print(json.dumps({"streaming_stack": lines, "ok": ok_all}))
    print("OVERALL:", "PASS" if ok_all else "FAIL")
    if not ok_all:
        sys.exit(1)


if __name__ == "__main__":
    main()
