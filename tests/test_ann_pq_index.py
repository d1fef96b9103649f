"""Persisted PQ tier of the vector index (round 11): build/upgrade parity
with the per-call ``knn_ivfpq``, sidecar maintenance under append, compact
and cell-split commits, and the three-tier cost route."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from es_household_retention_spark_job_spark import manifest as MF
from es_household_retention_spark_job_spark.operators import similarity as S
from es_household_retention_spark_job_spark.sources.tpch import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def embs(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def _pairs(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.rank, r.cos_bp) for r in df.collect()
    )


def _manifest(idx):
    with open(os.path.join(idx, S.ANN_MANIFEST)) as f:
        return json.load(f)


def test_knn_pq_indexed_equals_per_call_ivfpq(spark, embs, tmp_path):
    """build_ann_index(pq=True) + knn_pq_indexed must be byte-identical to
    a per-call knn_ivfpq handed the index's stored centroids and codebooks
    — persistence changes where the encode happens, never assignment or
    scoring (codebooks and norms round-trip parquet as exact doubles)."""
    queries = embs.where(F.col("vec_id") % 50 == 0)
    idx = str(tmp_path / "pqidx")
    S.build_ann_index(embs, idx, n_cells=16, iters=3, pq=True)
    man = _manifest(idx)
    assert man["pq"] and man["pq_params"] == {"m": S.PQ_M, "ksub": S.PQ_KSUB}
    assert man["pq_books_dir"] == "pq_books"
    cents = S._read_centroids(spark, idx, man)
    cb = S._read_pq_books(spark, idx, man)
    want = _pairs(
        S.knn_ivfpq(
            embs, queries, k=5, n_probe=4, refine=32,
            codebooks=cb, centroids=cents,
        )
    )
    got = _pairs(
        S.knn_pq_indexed(spark, idx, queries, k=5, n_probe=4, refine=32)
    )
    assert got == want and got


def test_add_pq_sidecar_upgrade_and_append_maintenance(spark, embs, tmp_path):
    """add_pq_sidecar retrofits the tier onto an existing index in one
    atomic commit, and append_ann_index maintains it in the SAME commit
    with the FROZEN stored codebooks — no vector is ever visible to the
    cells/codes tiers but invisible to pq (the sidecar-consistency
    contract the SQ8 tier already pins)."""
    base = embs.where(F.col("vec_id") % 5 != 0)
    delta = embs.where(F.col("vec_id") % 5 == 0)
    queries = embs.where(F.col("vec_id") % 50 == 0)
    idx = str(tmp_path / "upidx")
    S.build_ann_index(base, idx, n_cells=16, iters=3)
    assert "pq" not in _manifest(idx)
    with pytest.raises(ValueError, match="no PQ sidecar"):
        S.knn_pq_indexed(spark, idx, queries, k=5)
    S.add_pq_sidecar(spark, idx)
    up = _manifest(idx)
    # two commits: the sidecar publish + its follow-up rerank calibration
    assert up["pq"] and int(up["version"]) == 3
    assert up["pq_calibration"]["n_sample"] > 0
    assert up["pq_books_dir"].startswith("pq_books_gen-")
    S.append_ann_index(delta, idx)
    man = _manifest(idx)
    # every cells dir has a pq twin and the books/params survived the
    # append commit untouched
    assert set(man["pq"]) == set(man["cells"])
    assert man["pq_books_dir"] == up["pq_books_dir"]
    assert man["pq_params"] == up["pq_params"]
    cents = S._read_centroids(spark, idx, man)
    cb = S._read_pq_books(spark, idx, man)
    want = _pairs(
        S.knn_ivfpq(
            embs, queries, k=5, n_probe=4, refine=32,
            codebooks=cb, centroids=cents,
        )
    )
    got = _pairs(
        S.knn_pq_indexed(spark, idx, queries, k=5, n_probe=4, refine=32)
    )
    assert got == want and got


def test_compact_preserves_pq_results(spark, embs, tmp_path):
    """Compaction rewrites multi-file pq cell dirs into one id-sorted file
    — layout changes, content never (the cells/codes invariant extended
    to the third sidecar)."""
    queries = embs.where(F.col("vec_id") % 50 == 0)
    idx = str(tmp_path / "cidx")
    S.build_ann_index(
        embs.where(F.col("vec_id") % 3 == 0), idx, n_cells=8, iters=2, pq=True
    )
    for r in (1, 2):
        S.append_ann_index(embs.where(F.col("vec_id") % 3 == r), idx)
    man = _manifest(idx)
    assert any(len(fs) > 1 for fs in man["pq"].values())
    before = _pairs(
        S.knn_pq_indexed(spark, idx, queries, k=5, n_probe=4, refine=32)
    )
    assert S.compact_ann_index(spark, idx) > 0
    man2 = _manifest(idx)
    assert all(len(fs) == 1 for fs in man2["pq"].values())
    after = _pairs(
        S.knn_pq_indexed(spark, idx, queries, k=5, n_probe=4, refine=32)
    )
    assert after == before and after


def test_split_rederives_pq_sidecar(spark, embs, tmp_path):
    """Cell-split maintenance re-lands the split rows' PQ codes in the new
    cell partitions within the same atomic commit. Codes are
    cell-independent (frozen codebooks), so at a FULL probe budget —
    where every cell is scanned both before and after — results are
    byte-identical across the split."""
    queries = embs.where(F.col("vec_id") % 50 == 0)
    idx = str(tmp_path / "sidx")
    S.build_ann_index(embs, idx, n_cells=4, iters=3, pq=True)
    before = _pairs(
        S.knn_pq_indexed(spark, idx, queries, k=5, n_probe=4, refine=32)
    )
    total = embs.count()
    n_split = S.split_ann_cells(spark, idx, max_rows_per_cell=total // 8)
    assert n_split > 0
    man = _manifest(idx)
    assert set(man["pq"]) == set(man["cells"])
    after = _pairs(
        S.knn_pq_indexed(
            spark, idx, queries, k=5, n_probe=int(man["n_cells"]), refine=32
        )
    )
    assert after == before and after


def test_route_pq_tier_and_auto_dispatch(spark, embs, tmp_path):
    """The cost route's third arm: the pq plan exists only when the
    sidecar does, wins the scored-pairs-dominated regime (its pair and
    row terms are the cheapest), tiers= can exclude it (or any plan), an
    impossible tiers= restriction is a loud error, and knn_ann_auto
    forced onto the tier dispatches to knn_pq_indexed byte-identically
    (recall itself is gated on the clustered eval corpus in
    test_knn_ivfpq_refine_recall_clustered — raw sf embeddings are the
    documented near-orthogonal worst case for 4-bit subquantizers)."""
    # the four RECORDED round-11 ladder regimes with the pq arm present:
    # the model must route to the measured-cheapest endpoint each time
    # (the 5th pass constant — PQ's per-query LUT-build stage — is what
    # keeps sf1/|Q|=40 on ivf, which measured 2.43s vs pq's 2.52s)
    regimes = [
        (40, 20, 2000, 60_184, "ivf"),  # sf0.1 fixed: 1.79 vs 2.77/2.69s
        (2000, 20, 2000, 3_002_274, "pq"),  # sf0.1 frac: 8.7/6.8/4.0s
        (40, 20, 20000, 599_716, "ivf"),  # sf1 fixed: 2.43 vs 2.74/2.52s
        (10000, 20, 20000, 150_000_675, "pq"),  # sf1 frac: 165/126/46s
    ]
    for n_q, rr, probe_rows, scored_pairs, want in regimes:
        costs = S.ann_route_costs(
            n_q, rr, probe_rows, scored_pairs, has_pq=True
        )
        got = min(costs, key=costs.get)
        assert got == want, (n_q, rr, probe_rows, scored_pairs, costs)
    assert "pq" not in S.ann_route_costs(2000, 20, 2000, 3_002_274)
    idx = str(tmp_path / "ridx")
    S.build_ann_index(embs, idx, n_cells=16, iters=3, pq=True)
    queries = embs.where(F.col("vec_id") % 10 == 0)
    route, _, _ = S.choose_ann_route(
        spark, idx, queries, k=5, n_probe=12, with_plan=True
    )
    assert route in {"ivf", "sq8", "pq"}
    r2, _, _ = S.choose_ann_route(
        spark, idx, queries, k=5, n_probe=12, with_plan=True,
        tiers=("ivf", "sq8"),
    )
    assert r2 in {"ivf", "sq8"}
    with pytest.raises(ValueError, match="excludes every plan"):
        S.choose_ann_route(
            spark, idx, queries, k=5, n_probe=12, tiers=("hnsw",)
        )
    # the DEFAULT auto is recall-conservative: on this near-orthogonal
    # corpus the build-time calibration marks breach (the floor-holding
    # rerank erases the payload advantage), so pq stays out of the
    # default route without an explicit tiers= opt-in
    assert MF.read(idx, S.ANN_MANIFEST)["pq_calibration"]["breach"] is True
    r3, _, _ = S.choose_ann_route(
        spark, idx, queries, k=5, n_probe=12, with_plan=True,
    )
    assert r3 in {"ivf", "sq8"}
    got_default = _pairs(S.knn_ann_auto(spark, idx, queries, k=5, n_probe=12))
    assert got_default  # served by a non-pq tier without error
    got = _pairs(
        S.knn_ann_auto(
            spark, idx, queries, k=5, n_probe=12, rerank=64, tiers=("pq",)
        )
    )
    want = _pairs(
        S.knn_pq_indexed(spark, idx, queries, k=5, n_probe=12, refine=64)
    )
    assert got == want and got


def test_pq_calibration_recall_guard(spark, embs, tmp_path):
    """The round-12 recall guard (calibrate_pq_refine): the pq tier is
    admitted to the DEFAULT route only when the per-corpus calibration
    predicts the 0.9 floor is holdable at a payload-advantaged rerank.

    Near-orthogonal corpus (raw testdata): calibration marks breach →
    router never defaults to pq — but a caller who forces the tier at
    refine=None still gets the FLOOR-HOLDING calibrated rerank, so even
    the forced path recalls ≥0.9 of exact-within-probes. Clustered
    corpus: non-breach at a small rerank; knn_ann_auto picks pq in the
    scored-pairs-dominated regime AND holds the floor at the auto-chosen
    rerank — the round-11 verdict's done-bar."""
    from es_household_retention_spark_job_spark.operators.evalcorpus import (
        clustered_embeddings,
    )

    def recall_vs_ivf(idx, queries, k=5, **kw):
        got = S.knn_pq_indexed(spark, idx, queries, k=k, **kw)
        want = S.knn_ivf_indexed(spark, idx, queries, k=k)
        hits = (
            got.select("query_id", "neighbor_id")
            .join(
                F.broadcast(want.select("query_id", "neighbor_id")),
                ["query_id", "neighbor_id"],
                "left_semi",
            )
            .count()
        )
        return hits / max(want.count(), 1)

    # --- near-orthogonal: breach, router refuses, forced path still safe
    no_idx = str(tmp_path / "no_idx")
    S.build_ann_index(embs, no_idx, n_cells=16, iters=3, pq=True)
    calib = MF.read(no_idx, S.ANN_MANIFEST)["pq_calibration"]
    assert calib["breach"] is True
    queries = embs.where(F.col("vec_id") % 10 == 0)
    route, _, _ = S.choose_ann_route(spark, no_idx, queries, k=5)
    assert route != "pq"
    # forced pq at refine=None serves the calibrated (floor-holding) R
    assert recall_vs_ivf(no_idx, queries, n_probe=12) >= 0.9

    # --- clustered: non-breach, default route admits pq, floor holds
    cl = clustered_embeddings(spark).cache()
    cl_idx = str(tmp_path / "cl_idx")
    S.build_ann_index(cl, cl_idx, n_cells=16, pq=True)
    calib_cl = MF.read(cl_idx, S.ANN_MANIFEST)["pq_calibration"]
    assert calib_cl["breach"] is False
    assert calib_cl["measured_recall_bp"] >= 9000
    cq = cl.where(F.col("vec_id") % 10 == 0)
    route_cl, stats, _ = S.choose_ann_route(
        spark, cl_idx, cq, k=5, with_plan=True
    )
    assert route_cl == "pq", stats["costs"]  # scored-pairs regime
    assert recall_vs_ivf(cl_idx, cq, n_probe=12) >= 0.9
    # auto dispatch = the same floor-holding serving
    auto = S.knn_ann_auto(spark, cl_idx, cq, k=5)
    want = S.knn_ivf_indexed(spark, cl_idx, cq, k=5)
    hits = (
        auto.select("query_id", "neighbor_id")
        .join(
            F.broadcast(want.select("query_id", "neighbor_id")),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .count()
    )
    assert hits / max(want.count(), 1) >= 0.9


def test_pq_calibration_degenerate_corpus_does_not_fail_build(
    spark, tmp_path
):
    """Review finding pinned: ``build_ann_index(pq=True)`` over a corpus
    the calibration cannot measure (a single live vector — the self-probe
    excludes self-matches, so there are no scored pairs) must still
    SUCCEED, committing a ``degenerate`` breach calibration that keeps
    the pq tier out of the default route; the index itself serves.
    (``pq_train`` needs ≥ksub rows, so the degenerate regimes are padded
    with zero-norm vectors — exactly the shape a scrubbed/filtered
    production corpus can land in.)"""
    one_live = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0] * 4),
            (3, [0.0] * 4),
            (4, [0.0] * 4),
        ],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "idx")
    S.build_ann_index(
        one_live, idx, n_cells=1, centroids=[[1.0, 0.0, 0.0, 0.0]],
        pq=True, pq_m=2, pq_ksub=4,
    )
    calib = _manifest(idx)["pq_calibration"]
    assert calib["degenerate"] is True and calib["breach"] is True
    assert calib["refine"] == 0
    # the built index still serves (refine=None falls back to 4k)
    q = spark.createDataFrame(
        [(9, [1.0, 0.1, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = S.knn_pq_indexed(spark, idx, q, k=1, n_probe=1)
    assert [(r.query_id, r.neighbor_id) for r in got.collect()] == [(9, 1)]
    # all-zero-norm corpus: the sample itself is empty — same contract
    zeros = spark.createDataFrame(
        [(i, [0.0, 0.0]) for i in range(1, 5)],
        "vec_id long, embedding array<double>",
    )
    idx2 = str(tmp_path / "idx2")
    S.build_ann_index(
        zeros, idx2, n_cells=1, centroids=[[1.0, 0.0]], pq=True,
        pq_m=2, pq_ksub=4,
    )
    calib2 = _manifest(idx2)["pq_calibration"]
    assert calib2["degenerate"] is True and calib2["breach"] is True
    assert calib2["n_sample"] == 0
