"""Maintenance-route ladder (round 13, VERDICT r12 #2): does
``choose_maintenance`` pick the arm that actually wins, per structure,
per scale?

Protocol: at each corpus scale, bootstrap the keyed table + the four
serving structures, apply ONE fixed-size change window (the fixed-delta
discipline: 1,500 text mutations + 500 fresh inserts at ids that exist
at every scale; embeddings get 500 mutations + 200 inserts), then:

* price the window with ``choose_maintenance`` (the route the router
  would take),
* run ``maintain_index`` (follows the route) and clock it,
* run the OTHER arm on a pre-window twin of the structure and clock it,
* equality-gate the maintained structure against a fresh rebuild of the
  resolved table (text: BM25 top-k; ann: full-probe serving vs brute
  force; neardup: probe candidates; clusters: served view vs batch).

A rung PASSES when the router's pick is the measured-cheaper arm and the
equality gate holds. Expected picks (ladder-calibrated defaults):
REBUILD everywhere at sf0.1 (sub-crossover — rebuild is 1-5s while the
sync path pays its fixed floor), SYNC everywhere at sf10.

Usage: python tools/maintenance_route_ladder.py [sf_dir ...]
Defaults: /root/testdata/sf0.1 /tmp/sf10. Prints one markdown row per
(sf, structure) plus a JSON summary line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark import manifest as MF  # noqa: E402

SFS = [a for a in sys.argv[1:] if not a.startswith("--")] or [
    "/root/testdata/sf0.1",
    "/tmp/sf10",
]
DOC_MUT, DOC_FRESH = 1500, 500
EMB_MUT, EMB_FRESH = 500, 200


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
        choose_maintenance,
        maintain_index,
        sync_neardup_index,
    )

    spark = get_spark(
        app_name="maintenance_route_ladder", cpus=32, shuffle_partitions=64
    )
    print("| corpus | structure | n_rows | Δ | route | picked | other | "
          "pick wins | equal |")
    print("|---|---|---|---|---|---|---|---|---|")
    summary = []

    for sf in SFS:
        root = tempfile.mkdtemp(prefix="maint_route_")
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        embs = load_table(spark, sf, "embeddings").select(
            "vec_id", "embedding"
        )
        dt, et = f"{root}/dt", f"{root}/et"
        U.write_keyed_table(docs, dt, key="doc_id", n_buckets=16)
        U.write_keyed_table(embs, et, key="vec_id", n_buckets=16)
        n_docs, n_embs = docs.count(), embs.count()
        v_d0, v_e0 = U.current_version(dt), U.current_version(et)

        paths = {
            "text": f"{root}/tidx",
            "ann": f"{root}/aidx",
            "neardup": f"{root}/nidx",
            "clusters": f"{root}/cl",
        }
        SE.build_text_index(U.read_keyed_table(spark, dt), paths["text"])
        S.build_ann_index(
            U.read_keyed_table(spark, et), paths["ann"],
            n_cells=max(16, int(n_embs**0.5 / 4)),
        )
        D.build_neardup_index(U.read_keyed_table(spark, dt), paths["neardup"])
        C.build_cluster_table(
            U.read_keyed_table(spark, dt), paths["clusters"],
            epoch=v_d0, epoch_stream=cdc_stream_id(dt),
        )

        # pre-window twins for the other-arm measurements
        twins = {k: f"{p}_twin" for k, p in paths.items()}
        for k in paths:
            shutil.copytree(paths[k], twins[k])

        # ONE fixed-delta window per table
        mut = docs.orderBy("doc_id").limit(DOC_MUT).withColumn(
            "text", F.concat(F.col("text"), F.lit(" zmaintroute"))
        )
        fresh = docs.orderBy("doc_id").limit(DOC_FRESH).select(
            (F.col("doc_id") + 77_000_000).alias("doc_id"), "text"
        )
        U.upsert_parquet(spark, dt, mut.unionByName(fresh), key="doc_id")
        emut = embs.orderBy("vec_id").limit(EMB_MUT).select(
            "vec_id", F.reverse(F.col("embedding")).alias("embedding")
        )
        efresh = embs.orderBy("vec_id").limit(EMB_FRESH).select(
            (F.col("vec_id") + 77_000_000).alias("vec_id"), "embedding"
        )
        U.upsert_parquet(spark, et, emut.unionByName(efresh), key="vec_id")

        resolved_d = U.read_keyed_table(spark, dt)
        resolved_e = U.read_keyed_table(spark, et)
        n_delta_d = DOC_MUT + DOC_FRESH
        n_delta_e = EMB_MUT + EMB_FRESH

        def res(df):
            return sorted(tuple(r) for r in df.collect())

        for kind in ("text", "ann", "neardup", "clusters"):
            n_rows = n_embs if kind == "ann" else n_docs
            n_delta = n_delta_e if kind == "ann" else n_delta_d
            route = choose_maintenance(n_rows, n_delta, structure=kind)
            kw = dict(neardup_index=paths["neardup"]) if kind == "clusters" else {}
            tbl = et if kind == "ann" else dt
            fv = v_e0 if kind == "ann" else v_d0
            # both arms get the PRE-COMPUTED route so neither timing
            # carries the pricing jobs (the decision itself is priced
            # above; what the clocks compare is the arms)
            t0 = time.perf_counter()
            out = maintain_index(
                spark, kind, paths[kind], tbl, from_version=fv,
                route=route, **kw,
            )
            t_pick = time.perf_counter() - t0
            assert out["route"] == route["route"], (kind, out, route)

            # the OTHER arm, on the pre-window twin
            other = "rebuild" if route["route"] == "sync" else "sync"
            okw = dict(neardup_index=twins["neardup"]) if kind == "clusters" else {}
            if kind == "clusters" and other == "sync":
                # the twin cluster sync needs the twin band index synced
                sync_neardup_index(spark, twins["neardup"], dt, from_version=fv)
            t0 = time.perf_counter()
            maintain_index(
                spark, kind, twins[kind], tbl, from_version=fv,
                route={"route": other}, **okw,
            )
            t_other = time.perf_counter() - t0

            # equality vs a fresh rebuild over the resolved table
            if kind == "text":
                reb = f"{root}/tfresh"
                SE.build_text_index(resolved_d, reb)
                qs = [("q1", "data quality filter"), ("q2", "zmaintroute")]
                equal = res(
                    SE.bm25_search_indexed(spark, paths[kind], qs, k=10)
                ) == res(SE.bm25_search_indexed(spark, reb, qs, k=10))
            elif kind == "ann":
                man = MF.read(paths[kind], S.ANN_MANIFEST)
                queries = embs.orderBy("vec_id").limit(100)
                equal = res(
                    S.knn_ivf_indexed(
                        spark, paths[kind], queries, k=5,
                        n_probe=int(man["n_cells"]),
                    )
                ) == res(S.knn_bruteforce(resolved_e, queries, k=5))
            elif kind == "neardup":
                probe_docs = resolved_d.orderBy("doc_id").limit(2000)
                reb = f"{root}/nfresh"
                D.build_neardup_index(resolved_d, reb)
                equal = res(
                    D.neardup_probe(
                        probe_docs,
                        D.read_neardup_index(spark, paths[kind]),
                    )
                ) == res(
                    D.neardup_probe(
                        probe_docs, D.read_neardup_index(spark, reb)
                    )
                )
            else:
                want = sorted(
                    (r.doc_id, r.cluster_id, r.cluster_size)
                    for r in D.duplicate_clusters(
                        D.minhash_lsh_pairs(resolved_d)
                    ).collect()
                )
                equal = sorted(
                    (r.doc_id, r.cluster_id, r.cluster_size)
                    for r in C.read_dedup_clusters(
                        spark, paths[kind]
                    ).collect()
                ) == want

            wins = t_pick <= t_other
            row = {
                "sf": sf, "structure": kind, "n_rows": n_rows,
                "n_delta": n_delta, "route": route["route"],
                "picked_s": round(t_pick, 2), "other_s": round(t_other, 2),
                "pick_wins": wins, "equal": bool(equal),
            }
            summary.append(row)
            print(
                f"| {sf} | {kind} | {n_rows} | {n_delta} | "
                f"{route['route']} | {row['picked_s']}s | "
                f"{row['other_s']}s | {'WIN' if wins else 'LOSS'} | "
                f"{'PASS' if equal else 'FAIL'} |"
            )
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"maintenance_route_ladder": summary}))


if __name__ == "__main__":
    main()
