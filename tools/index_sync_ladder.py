"""CDC → index maintenance ladder: does a synced index follow its table
at O(changes), not O(corpus)?

Two modes:

* ``--mode=fixed`` (default, the round-12 arm): the change set is a
  CONSTANT absolute delta — 1,500 doc upserts + 500 doc deletes, 600
  vector upserts + 200 vector deletes, ids that exist at every scale —
  while the corpus grows 100× (sf0.1 → sf1 → sf10). This is the shape
  that can actually exhibit the asymptotic claim: sync wall should stay
  ~flat in corpus size while both rebuild arms grow. The round-11 ladder
  scaled the change set WITH the corpus (~1%+0.5% per round), so the
  O(changes)-vs-O(corpus) separation could never appear in its clocks.
* ``--mode=proportional``: the round-11 behavior, kept for continuity.

Arms per round:

* ``sync``      — sync_text_index / sync_ann_index over the CDC window.
* ``rebuild``   — full rebuild from the table's resolved state; the ANN
  rebuild reuses the FROZEN trained centroids (the toughest, cheapest
  rebuild — it gets the k-means for free).
* ``retrain``   (ANN only) — rebuild WITH k-means retraining (iters=3),
  the operational baseline: a real rebuild-instead-of-sync deployment
  re-trains, it does not have last month's centroids handed to it.

Byte-equality between the synced and frozen-rebuilt indexes is checked
every round (the sync is only interesting if it is also exact).

Honest accounting: the text sync's delete-locate is an O(index) tf pass
(term-clustered layout — documented in delete_text_docs), so its win
comes from skipping the corpus re-tokenize + re-shard. The ANN sync is
touched-cells-bounded end to end (locate id-In row-group-pruned, one
fused write per sidecar as of round 12).

Usage: python tools/index_sync_ladder.py [sf_dir ...] [--rounds N]
       [--mode=fixed|proportional]
Prints one markdown row per (sf, round) plus a JSON summary line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark import manifest as MF  # noqa: E402

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
SFS = ARGS or ["/root/testdata/sf0.1", "/tmp/sf1", "/tmp/sf10"]
ROUNDS = 2
MODE = "fixed"
N_CELLS = 16  # --cells=N: at a fixed 16 cells a constant delta touches
# most cells once the corpus is large, so the sync's rewrite arm grows
# with cell size; a √n-ish cell count restores the touched-cell bound
ANN_ONLY = False  # embeddings-only corpora (e.g. the synthetic 3×sf10
# replica): skip the text arms so the ANN crossover can be measured past
# the scales where a 1.5M-doc text build dominates the ladder's runtime
for a in sys.argv[1:]:
    if a.startswith("--rounds"):
        ROUNDS = int(a.split("=", 1)[1])
    if a.startswith("--mode"):
        MODE = a.split("=", 1)[1]
    if a == "--ann-only":
        ANN_ONLY = True
    if a.startswith("--cells"):
        N_CELLS = int(a.split("=", 1)[1])

# the fixed deltas: id windows that exist at EVERY scale (testdata ids
# start at 0 and replicas extend upward), upserts and deletes disjoint,
# shifted per round so round 2 touches fresh ids
DOC_UP, DOC_DEL = 1500, 500
VEC_UP, VEC_DEL = 600, 200


def main() -> None:
    from es_household_retention_spark_job_spark.operators import search as SE
    from es_household_retention_spark_job_spark.operators import (
        similarity as S,
    )
    from es_household_retention_spark_job_spark.session import get_spark
    from es_household_retention_spark_job_spark.sinks import upsert as U
    from es_household_retention_spark_job_spark.operators import dedup as D
    from es_household_retention_spark_job_spark.streaming.index_sync import (
        sync_ann_index,
        sync_neardup_index,
        sync_text_index,
    )

    spark = get_spark(app_name="sync-ladder", cpus=32, shuffle_partitions=64)
    queries = [("q1", "data quality filter pipeline"), ("q2", "model training")]
    summary = []

    for sf_dir in SFS:
        root = tempfile.mkdtemp(prefix="sync_ladder_")
        docs = (
            None
            if ANN_ONLY
            else spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id", "text"
            )
        )
        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        dt, et = os.path.join(root, "dtab"), os.path.join(root, "etab")
        di, ei = os.path.join(root, "didx"), os.path.join(root, "eidx")
        if not ANN_ONLY:
            U.write_keyed_table(docs, dt, key="doc_id", n_buckets=8)
        U.write_keyed_table(embs, et, key="vec_id", n_buckets=8)
        v_embs = U.current_version(et)
        ndi = os.path.join(root, "ndidx")
        if not ANN_ONLY:
            v_docs = U.current_version(dt)
            SE.build_text_index(U.read_keyed_table(spark, dt), di)
            D.build_neardup_index(U.read_keyed_table(spark, dt), ndi)
        S.build_ann_index(U.read_keyed_table(spark, et), ei, n_cells=N_CELLS)
        man = MF.read(ei, S.ANN_MANIFEST)
        cents = S._read_centroids(spark, ei, man)
        n_docs = 0 if ANN_ONLY else docs.count()
        n_embs = embs.count()
        delta_note = (
            f"fixed {DOC_UP}+{DOC_DEL}d docs / {VEC_UP}+{VEC_DEL}d vecs"
            if MODE == "fixed"
            else "~1% upserts + ~0.5% deletes"
        )
        print(
            f"\n### {sf_dir} — {n_docs} docs / {n_embs} vectors, "
            f"{ROUNDS} mutation rounds ({delta_note})"
        )
        print(
            "| round | changed docs | text sync | text rebuild | equal | "
            "changed vecs | ann sync | ann rebuild | ann retrain | equal |"
        )
        print("|---|---|---|---|---|---|---|---|---|---|")
        for r in range(1, ROUNDS + 1):
            if MODE == "fixed":
                # constant absolute windows, shifted per round; upsert
                # and delete id ranges never overlap
                dlo = (r - 1) * (DOC_UP + DOC_DEL)
                if not ANN_ONLY:
                    up_d = docs.where(
                        (F.col("doc_id") >= dlo)
                        & (F.col("doc_id") < dlo + DOC_UP)
                    ).withColumn(
                        "text", F.concat(F.col("text"), F.lit(f" synced{r}"))
                    )
                    del_d = docs.where(
                        (F.col("doc_id") >= dlo + DOC_UP)
                        & (F.col("doc_id") < dlo + DOC_UP + DOC_DEL)
                    ).select("doc_id")
                vlo = (r - 1) * (VEC_UP + VEC_DEL)
                up_e = embs.where(
                    (F.col("vec_id") >= vlo) & (F.col("vec_id") < vlo + VEC_UP)
                ).select(
                    "vec_id", F.reverse(F.col("embedding")).alias("embedding")
                )
                del_e = embs.where(
                    (F.col("vec_id") >= vlo + VEC_UP)
                    & (F.col("vec_id") < vlo + VEC_UP + VEC_DEL)
                ).select("vec_id")
            else:
                up_d = docs.where(F.col("doc_id") % 97 == r).withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" synced{r}"))
                )
                del_d = docs.where(F.col("doc_id") % 211 == r).select("doc_id")
                up_e = embs.where(F.col("vec_id") % 97 == r).select(
                    "vec_id", F.reverse(F.col("embedding")).alias("embedding")
                )
                del_e = embs.where(F.col("vec_id") % 211 == r).select("vec_id")
            if not ANN_ONLY:
                U.upsert_parquet(spark, dt, up_d, key="doc_id")
                U.delete_keys(spark, dt, del_d, key="doc_id")
            U.upsert_parquet(spark, et, up_e, key="vec_id")
            U.delete_keys(spark, et, del_e, key="vec_id")

            if ANN_ONLY:
                out_t = {"upserted": 0, "deleted": 0}
                t_sync_t = t_reb_t = 0.0
                eq_t = None
            else:
                t0 = time.perf_counter()
                out_t = sync_text_index(
                    spark, di, dt, from_version=v_docs if r == 1 else None
                )
                t_sync_t = time.perf_counter() - t0
                t0 = time.perf_counter()
                reb_t = os.path.join(root, f"dreb{r}")
                SE.build_text_index(U.read_keyed_table(spark, dt), reb_t)
                t_reb_t = time.perf_counter() - t0
                eq_t = sorted(
                    map(
                        tuple,
                        SE.bm25_search_indexed(
                            spark, di, queries, k=10
                        ).collect(),
                    )
                ) == sorted(
                    map(
                        tuple,
                        SE.bm25_search_indexed(
                            spark, reb_t, queries, k=10
                        ).collect(),
                    )
                )

            if not ANN_ONLY:
                t0 = time.perf_counter()
                out_n = sync_neardup_index(
                    spark, ndi, dt, from_version=v_docs if r == 1 else None
                )
                t_sync_n = time.perf_counter() - t0
                t0 = time.perf_counter()
                reb_n = os.path.join(root, f"ndreb{r}")
                D.build_neardup_index(U.read_keyed_table(spark, dt), reb_n)
                t_reb_n = time.perf_counter() - t0
                probe_docs = docs.where(F.col("doc_id") % 10 == 1)
                eq_n = sorted(
                    map(
                        tuple,
                        D.neardup_probe(
                            probe_docs, D.read_neardup_index(spark, ndi)
                        ).collect(),
                    )
                ) == sorted(
                    map(
                        tuple,
                        D.neardup_probe(
                            probe_docs, D.read_neardup_index(spark, reb_n)
                        ).collect(),
                    )
                )
            else:
                out_n = {"upserted": 0, "deleted": 0}
                t_sync_n = t_reb_n = 0.0
                eq_n = None

            t0 = time.perf_counter()
            out_a = sync_ann_index(
                spark, ei, et, from_version=v_embs if r == 1 else None
            )
            t_sync_a = time.perf_counter() - t0
            t0 = time.perf_counter()
            reb_a = os.path.join(root, f"ereb{r}")
            S.build_ann_index(
                U.read_keyed_table(spark, et), reb_a, centroids=cents
            )
            t_reb_a = time.perf_counter() - t0
            t0 = time.perf_counter()
            ret_a = os.path.join(root, f"eret{r}")
            S.build_ann_index(
                U.read_keyed_table(spark, et), ret_a, n_cells=N_CELLS, iters=3
            )
            t_ret_a = time.perf_counter() - t0
            # eq-check batch: bounded ~100-query probe (at 600k vectors a
            # %50 batch is 12k queries x 300k probed rows = billions of
            # scored pairs - the disk-full regime, not an equality check)
            qmod = max(50, n_embs // 100)
            qv = embs.where(F.col("vec_id") % qmod == 0)
            eq_a = sorted(
                map(tuple, S.knn_ivf_indexed(spark, ei, qv, k=5).collect())
            ) == sorted(
                map(tuple, S.knn_ivf_indexed(spark, reb_a, qv, k=5).collect())
            )
            print(
                f"| {r} | {out_t['upserted']}+{out_t['deleted']}d "
                f"| {t_sync_t:.2f}s | {t_reb_t:.2f}s | {eq_t} "
                f"| {out_a['upserted']}+{out_a['deleted']}d "
                f"| {t_sync_a:.2f}s | {t_reb_a:.2f}s | {t_ret_a:.2f}s "
                f"| {eq_a} "
                f"| nd {t_sync_n:.2f}s vs {t_reb_n:.2f}s eq={eq_n} |"
            )
            summary.append(
                {
                    "sf": sf_dir,
                    "n_docs": n_docs,
                    "n_vecs": n_embs,
                    "mode": MODE,
                    "round": r,
                    "text_sync_s": round(t_sync_t, 2),
                    "text_rebuild_s": round(t_reb_t, 2),
                    "text_equal": eq_t,
                    "ann_sync_s": round(t_sync_a, 2),
                    "ann_rebuild_s": round(t_reb_a, 2),
                    "ann_retrain_s": round(t_ret_a, 2),
                    "ann_equal": eq_a,
                    "neardup_sync_s": round(t_sync_n, 2),
                    "neardup_rebuild_s": round(t_reb_n, 2),
                    "neardup_equal": eq_n,
                }
            )
    print(json.dumps({"metric": "index_sync_ladder", "mode": MODE, "rows": summary}))


if __name__ == "__main__":
    main()
