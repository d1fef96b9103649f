"""Vector deletes in the persisted ANN index (round 11): tombstone commit,
live-only reads across all three tiers, ledger accounting, and the physical
purge at compaction / cell-split time."""

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


def _dead_ids(embs):
    return [
        r.vec_id
        for r in embs.where(F.col("vec_id") % 9 == 3)
        .select("vec_id")
        .collect()
    ]


def test_delete_matches_rebuild_and_filters_every_tier(spark, embs, tmp_path):
    """After delete_ann_ids, knn_ivf_indexed must be byte-identical to a
    FRESH index built over the surviving corpus with the same centroids
    (the strongest oracle: tombstones change visibility, never scoring),
    and the sq8/pq tiers must never return a deleted neighbor. The live
    cell_rows ledger — what the route and health policies price from —
    decrements exactly; re-deletes and unknown ids are no-op commits."""
    idx = str(tmp_path / "idx")
    S.build_ann_index(embs, idx, n_cells=16, iters=3, pq=True)
    dead = _dead_ids(embs)
    assert dead
    n = S.delete_ann_ids(spark, idx, dead)
    assert n == len(dead)
    man = _manifest(idx)
    assert man["n_tombstones"] == len(dead)
    live = embs.where(~F.col("vec_id").isin(dead))
    assert sum(man["cell_rows"].values()) == live.count()
    # idempotent: re-delete and unknown ids commit nothing
    v = man["version"]
    assert S.delete_ann_ids(spark, idx, dead) == 0
    assert S.delete_ann_ids(spark, idx, [10**12, 10**12 + 1]) == 0
    assert _manifest(idx)["version"] == v

    queries = embs.where(F.col("vec_id") % 50 == 0)
    rebuilt = str(tmp_path / "rebuilt")
    cents = S._read_centroids(spark, idx, man)
    S.build_ann_index(live, rebuilt, centroids=cents)
    want = _pairs(S.knn_ivf_indexed(spark, rebuilt, queries, k=5))
    got = _pairs(S.knn_ivf_indexed(spark, idx, queries, k=5))
    assert got == want and got

    dead_set = set(dead)
    for fn in (
        lambda: S.knn_sq8_indexed(spark, idx, queries, k=5, rerank=40),
        lambda: S.knn_pq_indexed(spark, idx, queries, k=5, refine=40),
        lambda: S.knn_ann_auto(spark, idx, queries, k=5),
    ):
        rows = fn().collect()
        assert rows
        assert not {r.neighbor_id for r in rows} & dead_set


def test_compact_purges_tombstones_physically(spark, embs, tmp_path):
    """Compaction rewrites every tombstoned cell (single-file dirs
    included), drops the deleted rows from cells/codes/pq, clears the
    ledger, and serves identical results before and after — deletes
    become free again once purged."""
    idx = str(tmp_path / "idx")
    S.build_ann_index(embs, idx, n_cells=8, iters=2, pq=True)
    dead = _dead_ids(embs)
    S.delete_ann_ids(spark, idx, dead)
    queries = embs.where(F.col("vec_id") % 50 == 0)
    before = _pairs(S.knn_pq_indexed(spark, idx, queries, k=5, refine=40))
    assert S.compact_ann_index(spark, idx) > 0
    man = _manifest(idx)
    assert "tombstones" not in man and "n_tombstones" not in man
    after = _pairs(S.knn_pq_indexed(spark, idx, queries, k=5, refine=40))
    assert after == before and after
    # physically gone from every sidecar
    for key in ("cells", "codes", "pq"):
        files = [
            os.path.join(idx, key, d, f)
            for d, fs in man[key].items()
            for f in fs
        ]
        stored = (
            spark.read.option("basePath", f"{idx}/{key}")
            .parquet(*files)
            .where(F.col("vec_id").isin(dead))
            .count()
        )
        assert stored == 0, key
    # ledger still equals physical live rows
    assert sum(man["cell_rows"].values()) == embs.count() - len(dead)


def test_split_purges_its_cells_and_keeps_other_tombstones(
    spark, embs, tmp_path
):
    """A cell split drops the split cells' deleted rows during its rewrite
    and clears exactly their ledger entries; tombstones on untouched
    cells survive the commit and keep filtering reads."""
    idx = str(tmp_path / "idx")
    S.build_ann_index(embs, idx, n_cells=4, iters=3, pq=True)
    dead = _dead_ids(embs)
    S.delete_ann_ids(spark, idx, dead)
    n0 = _manifest(idx)["n_tombstones"]
    total_live = embs.count() - len(dead)
    assert S.split_ann_cells(spark, idx, max_rows_per_cell=total_live // 8) > 0
    man = _manifest(idx)
    assert man.get("n_tombstones", 0) < n0
    # reads exclude every deleted id regardless of which side purged it
    queries = embs.where(F.col("vec_id") % 50 == 0)
    rows = S.knn_ivf_indexed(
        spark, idx, queries, k=5, n_probe=int(man["n_cells"])
    ).collect()
    assert rows
    assert not {r.neighbor_id for r in rows} & set(dead)
    assert sum(man["cell_rows"].values()) == total_live


def test_append_carries_tombstones_forward(spark, embs, tmp_path):
    """An append commit must carry the tombstone ledger unchanged — a
    maintenance append after a delete cannot resurrect deleted ids."""
    base = embs.where(F.col("vec_id") % 5 != 0)
    delta = embs.where(F.col("vec_id") % 5 == 0)
    idx = str(tmp_path / "idx")
    S.build_ann_index(base, idx, n_cells=8, iters=2)
    dead = [
        r.vec_id
        for r in base.where(F.col("vec_id") % 9 == 3)
        .select("vec_id")
        .collect()
    ]
    S.delete_ann_ids(spark, idx, dead)
    S.append_ann_index(delta, idx)
    man = _manifest(idx)
    assert man["n_tombstones"] == len(dead) and man["tombstones"]
    queries = embs.where(F.col("vec_id") % 50 == 0)
    rows = S.knn_ivf_indexed(spark, idx, queries, k=5).collect()
    assert rows
    assert not {r.neighbor_id for r in rows} & set(dead)


def test_append_rejects_tombstoned_ids_unconditionally(
    spark, embs, tmp_path
):
    """A blind append of a tombstoned id would write a row the id-level
    filter hides and the next compact/split purges with the old one —
    silent data loss. The ledger check runs WITHOUT check_overlap=True
    (the former documented-but-unenforced precondition); the sanctioned
    resurrect path is upsert_ann_vectors, whose cell rewrite clears the
    tombstone in the same commit."""
    idx = str(tmp_path / "idx")
    S.build_ann_index(embs, idx, n_cells=8, iters=2)
    dead = _dead_ids(embs)[:5]
    assert S.delete_ann_ids(spark, idx, dead) == len(dead)
    delta = embs.where(F.col("vec_id").isin(dead[:2]))
    with pytest.raises(ValueError, match="tombstoned"):
        S.append_ann_index(delta, idx)
    # the refused append left no trace: ledger intact, id still dead
    man = _manifest(idx)
    assert man["n_tombstones"] == len(dead)
    # upsert_ann_vectors resurrects the same ids cleanly ("replaced"
    # counts LIVE old rows only, so a pure resurrection reports 0 — the
    # observable effects are the cleared ledger entries and the id
    # serving again)
    out = S.upsert_ann_vectors(delta, idx)
    assert out["replaced"] == 0 and out["deleted"] == 0
    man2 = _manifest(idx)
    # the 2 resurrected ids left the ledger (their cells rewrote — which
    # may physically purge OTHER tombstones sharing those cells too)
    assert man2["n_tombstones"] <= len(dead) - 2
    # probe with the resurrected embedding under a synthetic query id
    # (self-matches are excluded by the knn contract)
    queries = embs.where(F.col("vec_id") == dead[0]).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    rows = S.knn_ivf_indexed(spark, idx, queries, k=1).collect()
    assert rows and rows[0].neighbor_id == dead[0]
    assert rows[0].cos_bp == 10000


def test_upsert_replaces_appends_and_resurrects(spark, embs, tmp_path):
    """upsert_ann_vectors completes the CRUD surface: changed ids get
    their old row physically replaced (only their cells rewrite), new ids
    append, a previously-deleted id resurrects with its new content, and
    the post-upsert index is byte-identical to a FRESH build over the
    upserted corpus at the same quantizers."""
    idx = str(tmp_path / "idx")
    base = embs.where(F.col("vec_id") < 1500).select("vec_id", "embedding")
    S.build_ann_index(base, idx, n_cells=8, iters=2, pq=True)
    man0 = _manifest(idx)
    cents = S._read_centroids(spark, idx, man0)
    cb = S._read_pq_books(spark, idx, man0)

    # the delta: 20 CHANGED vectors (reversed embedding), 20 NEW ids, and
    # one RESURRECTION of a deleted id with fresh content
    S.delete_ann_ids(spark, idx, [30])
    changed = base.where((F.col("vec_id") % 70 == 1) & (F.col("vec_id") != 30))
    delta = (
        changed.select(
            "vec_id", F.reverse(F.col("embedding")).alias("embedding")
        )
        .unionByName(
            embs.where(F.col("vec_id") >= 1500)
            .limit(20)
            .select("vec_id", "embedding")
        )
        .unionByName(
            base.where(F.col("vec_id") == 30).select(
                "vec_id", F.reverse(F.col("embedding")).alias("embedding")
            )
        )
    )
    out = S.upsert_ann_vectors(delta, idx)
    assert out["replaced"] > 0 and out["rewritten_cells"]
    man = _manifest(idx)
    # the resurrected id's tombstone is gone (its cell was rewritten)
    assert man.get("n_tombstones", 0) == 0

    # oracle: fresh build over (base minus delta ids, plus delta) at the
    # SAME centroids and codebooks must serve byte-identical results on
    # the ivf AND pq tiers
    delta_ids = [r.vec_id for r in delta.select("vec_id").collect()]
    corpus = base.where(~F.col("vec_id").isin(delta_ids)).unionByName(delta)
    rebuilt = str(tmp_path / "rebuilt")
    S.build_ann_index(corpus, rebuilt, centroids=cents)
    queries = embs.where(F.col("vec_id") % 50 == 0)
    want = _pairs(S.knn_ivf_indexed(spark, rebuilt, queries, k=5))
    got = _pairs(S.knn_ivf_indexed(spark, idx, queries, k=5))
    assert got == want and got
    want_pq = _pairs(
        S.knn_ivfpq(
            corpus, queries, k=5, n_probe=4, refine=32,
            codebooks=cb, centroids=cents,
        )
    )
    got_pq = _pairs(
        S.knn_pq_indexed(spark, idx, queries, k=5, n_probe=4, refine=32)
    )
    assert got_pq == want_pq and got_pq
    # ledger equals the true live count
    assert sum(man["cell_rows"].values()) == corpus.count()


def test_upsert_rejects_duplicate_delta_ids(spark, embs, tmp_path):
    idx = str(tmp_path / "dupidx")
    S.build_ann_index(embs.where(F.col("vec_id") < 500), idx, n_cells=4)
    dup = embs.where(F.col("vec_id") == 7).unionByName(
        embs.where(F.col("vec_id") == 7)
    )
    with pytest.raises(ValueError, match="duplicate ids"):
        S.upsert_ann_vectors(dup, idx)


def test_retrain_reshapes_and_purges(spark, embs, tmp_path):
    """retrain_ann_index: the quantizer re-fits the LIVE rows (tombstoned
    rows purge — the rewrite is total), sidecars re-derive with frozen PQ
    books, and the re-trained index at full probes still equals brute
    force over the live corpus (coarse partitioning never changes
    scoring). A new n_cells reshapes the partition."""
    idx = str(tmp_path / "idx")
    base = embs.select("vec_id", "embedding")
    S.build_ann_index(base, idx, n_cells=4, iters=2, pq=True)
    dead = _dead_ids(embs)
    S.delete_ann_ids(spark, idx, dead)
    books_before = S._read_pq_books(spark, idx, MF.read(idx, S.ANN_MANIFEST))
    k = S.retrain_ann_index(spark, idx, n_cells=8, iters=2)
    assert k == 8
    man = MF.read(idx, S.ANN_MANIFEST)
    assert man["n_cells"] == 8
    assert man["centroids_dir"].startswith("centroids_gen-")
    assert "tombstones" not in man  # the rewrite purged everything
    assert set(man["pq"]) == set(man["cells"]) == set(man["codes"])
    assert S._read_pq_books(spark, idx, man) == books_before  # frozen
    live = base.where(~F.col("vec_id").isin(dead))
    assert sum(man["cell_rows"].values()) == live.count()
    queries = embs.where(F.col("vec_id") % 50 == 0)
    got = _pairs(S.knn_ivf_indexed(spark, idx, queries, k=5, n_probe=8))
    want = _pairs(S.knn_bruteforce(live, queries, k=5))
    assert got == want and got
    # the pq tier serves from the re-derived sidecar
    assert S.knn_pq_indexed(
        spark, idx, queries, k=5, n_probe=8, refine=40
    ).collect()
