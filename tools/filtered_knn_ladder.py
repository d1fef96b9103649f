"""Filtered (predicate-scoped) vector search ladder — the round-12b
routing evidence: does ``knn_filtered_auto``'s pure-count route
(`choose_filtered_route`, priced with the shared ``_route_weights``
ledger) pick the measured-cheaper arm in every regime, including the
many-celled corpus where the ivf arm must WIN?

Regimes per corpus over a persisted index with a FIXED 40-query batch
(the retrieval_ladder protocol — production serves a pinned
adjudication batch, not a corpus fraction):

- ``narrow``  (label = 0 AND vec_id % 5 == 0, ~2%): the scoped-tenant
  case — escalation blows past the probe cap; brute over the few
  allowed rows is exact and cheap;
- ``selective`` (label IN (0,1,2), ~30%): still brute — the regime the
  hash-oracled ``knn_filtered_auto`` extras row serves;
- ``broad`` (label <> 0, ~90%): on the 16-cell toy index the model
  prices 14-of-16 probing as NOT worth the probe pass (brute); on the
  64-cell replica corpus the same filter keeps 14/64 — the ANN arm's
  regime, where its wall must beat the filtered brute force.

Corpora: sf0.1 and /tmp/sf1 with 16 cells, plus a REPLICA arm (sf1
embeddings × N_REP with offset ids, 64 cells) sized so the broad
filter's predicted route flips to ivf — the crossover in one table.

Per cell: predicted route, forced-brute wall, forced-ivf wall (at the
escalated probe budget), auto wall, ivf-arm recall vs the exact
filtered truth — plus a MATCH/MISMATCH verdict (predicted route ==
measured-cheaper arm; gaps inside 15% print as ``tie``). Walls are
min-of-2 timed passes after one warm pass (host-noise discipline).

Usage: python tools/filtered_knn_ladder.py [sf_dir ...]
       (default /root/testdata/sf0.1 /tmp/sf1 + the replica arm)
Prints markdown rows for SCALING.md.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark import manifest as MF  # noqa: E402

SFS = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/sf1"]
K = 5
N_QUERIES = 40
N_REP = 100  # replica arm: sf1 embeddings × 100 = 2M vectors
FIXED_PRED = lambda c: (F.col(c) % 50 == 0) & (F.col(c) < 2000)  # noqa: E731

REGIMES = [
    ("narrow", lambda: (F.col("label") == 0) & (F.col("vec_id") % 5 == 0)),
    ("selective", lambda: F.col("label").isin(0, 1, 2)),
    ("broad", lambda: F.col("label") != 0),
]


def main() -> None:
    from es_household_retention_spark_job_spark.operators import (
        similarity as S,
    )
    from es_household_retention_spark_job_spark.session import get_spark
    from es_household_retention_spark_job_spark.sources.tpch import load_table

    spark = get_spark(
        app_name="filtered_knn_ladder", cpus=32, shuffle_partitions=64
    )

    def timed(thunk) -> float:
        thunk().write.format("noop").mode("overwrite").save()  # warm
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            thunk().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    def corpus_arms():
        for sf in SFS:
            yield (
                os.path.basename(sf),
                load_table(spark, sf, "embeddings"),
                16,
            )
        # replica arm: the many-celled regime where ivf must win broad.
        # MATERIALIZED once — a lazy 100-way union would re-scan the
        # source per action and the walls would measure the union, not
        # the arms.
        rep_path = os.path.join(
            tempfile.mkdtemp(prefix="filtered_rep_"), "embeddings.parquet"
        )
        base = load_table(spark, SFS[-1], "embeddings")
        n0 = base.count()
        base.select(
            F.explode(
                F.sequence(F.lit(0), F.lit(N_REP - 1))
            ).alias("_i"),
            "vec_id",
            "embedding",
            "label",
        ).select(
            (F.col("vec_id") + F.col("_i") * n0).alias("vec_id"),
            "embedding",
            "label",
        ).repartition(64).write.mode("overwrite").parquet(rep_path)
        yield (f"sf1x{N_REP}", spark.read.parquet(rep_path), 64)

    print(
        "| corpus | cells | regime | sel | route | brute wall | ivf wall "
        "| auto wall | ivf recall | verdict |"
    )
    print("|---|---|---|---|---|---|---|---|---|---|")
    for cname, embs, n_cells in corpus_arms():
        queries = embs.where(FIXED_PRED("vec_id"))
        idx = os.path.join(tempfile.mkdtemp(prefix="filtered_knn_"), "idx")
        S.build_ann_index(embs, idx, n_cells=n_cells)
        manifest = MF.read(idx, S.ANN_MANIFEST)
        n_live = sum(S._manifest_cell_rows(spark, idx, manifest).values())
        for name, pred in REGIMES:
            allowed = embs.where(pred()).select("vec_id")
            n_allowed = allowed.count()
            route = S.choose_filtered_route(
                n_live, n_allowed, n_cells, 12, n_queries=N_QUERIES
            )
            p_eff = route["n_probe_eff"] or 12
            t_brute = timed(
                lambda: S._knn_brute_from_cells(
                    spark, manifest=manifest, path=idx, queries=queries,
                    k=K, allowed=allowed, allowed_n=n_allowed,
                    id_col="vec_id", emb_col="embedding",
                )
            )
            t_ivf = timed(
                lambda: S.knn_ivf_indexed(
                    spark, idx, queries, k=K, n_probe=p_eff,
                    allowed=allowed, allowed_n=n_allowed,
                )
            )
            t_auto = timed(
                lambda: S.knn_filtered_auto(
                    spark, idx, queries, allowed, k=K, route=route
                )
            )
            exact = {
                (r.query_id, r.neighbor_id)
                for r in S._knn_brute_from_cells(
                    spark, manifest=manifest, path=idx, queries=queries,
                    k=K, allowed=allowed, allowed_n=n_allowed,
                    id_col="vec_id", emb_col="embedding",
                ).collect()
            }
            approx = {
                (r.query_id, r.neighbor_id)
                for r in S.knn_ivf_indexed(
                    spark, idx, queries, k=K, n_probe=p_eff,
                    allowed=allowed, allowed_n=n_allowed,
                ).collect()
            }
            recall = len(approx & exact) / max(len(exact), 1)
            cheaper = "brute" if t_brute <= t_ivf else "ivf"
            spread = abs(t_brute - t_ivf) / max(min(t_brute, t_ivf), 1e-9)
            if spread <= 0.15:
                verdict = "tie"
            else:
                verdict = "MATCH" if route["route"] == cheaper else "MISMATCH"
            print(
                f"| {cname} ({n_live}v) | {n_cells} | {name} "
                f"| {route['selectivity_bp'] / 100:.0f}% "
                f"| {route['route']} (p={route['n_probe_eff']}) "
                f"| {t_brute:.2f}s | {t_ivf:.2f}s | {t_auto:.2f}s "
                f"| {recall:.2f} | {verdict} |"
            )


if __name__ == "__main__":
    main()
