"""Property tests for the round-11 index CRUD surface: a seeded random
sequence of maintenance ops (append / delete / upsert / compact / split)
drives the persisted index while a plain python dict models the corpus;
at every checkpoint the index must serve EXACTLY what the model implies.

The ANN oracle is exact by construction: with every cell probed,
``knn_ivf_indexed`` reduces to brute force over the index's live rows, so
it must equal ``knn_bruteforce`` over the model corpus byte-for-byte.
The text oracle is a fresh ``build_text_index`` over the model docs —
statistics-exact equality, the same pin the targeted tests use."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from es_household_retention_spark_job_spark import manifest as MF
from es_household_retention_spark_job_spark.operators import search as SE
from es_household_retention_spark_job_spark.operators import similarity as S
from es_household_retention_spark_job_spark.sources.tpch import load_table

from .conftest import SF_DIR


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_ann_crud_random_sequence_matches_model(spark, tmp_path):
    """30 seeded random CRUD ops; every 5th step the index (full-probe ivf
    = brute force over live rows) must equal knn_bruteforce over the dict
    model. Exercises tombstone/purge/rewrite interactions no targeted
    test enumerates."""
    base = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .where(F.col("vec_id") < 300)
    )
    rows = {r.vec_id: list(r.embedding) for r in base.collect()}
    all_embs = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    idx = str(tmp_path / "idx")
    S.build_ann_index(base, idx, n_cells=4, iters=2, pq=True)
    model = dict(rows)
    rng = random.Random(1106)
    fresh_pool = sorted(set(all_embs) - set(model))
    schema = "vec_id long, embedding array<double>"

    def frame(d):
        return spark.createDataFrame(
            [(k, [float(x) for x in v]) for k, v in sorted(d.items())], schema
        )

    def check():
        man = MF.read(idx, S.ANN_MANIFEST)
        got = _pairs(
            S.knn_ivf_indexed(
                spark, idx, queries, k=3, n_probe=int(man["n_cells"])
            )
        )
        want = _pairs(S.knn_bruteforce(frame(model), queries, k=3))
        assert got == want and got, f"step {step}: index != model"

    queries = base.where(F.col("vec_id") % 40 == 0)
    for step in range(1, 31):
        op = rng.choice(["delete", "upsert", "append", "compact", "split"])
        if op == "delete" and model:
            victims = rng.sample(sorted(model), k=min(5, len(model)))
            n = S.delete_ann_ids(spark, idx, victims)
            assert n == len(victims)
            for v in victims:
                del model[v]
        elif op == "upsert":
            batch = {}
            if model:  # change some existing ids (reverse their vector)
                for v in rng.sample(sorted(model), k=min(3, len(model))):
                    batch[v] = list(reversed(model[v]))
            for _ in range(2):  # plus some new ids
                if fresh_pool:
                    nid = fresh_pool.pop(0)
                    batch[nid] = all_embs[nid]
            if not batch:
                continue
            S.upsert_ann_vectors(frame(batch), idx)
            model.update(batch)
        elif op == "append":
            batch = {}
            for _ in range(3):
                if fresh_pool:
                    nid = fresh_pool.pop(0)
                    batch[nid] = all_embs[nid]
            if not batch:
                continue
            S.append_ann_index(frame(batch), idx)
            model.update(batch)
        elif op == "compact":
            S.compact_ann_index(spark, idx)
        elif op == "split":
            S.split_ann_cells(
                spark, idx, max_rows_per_cell=max(len(model) // 6, 8)
            )
        if step % 5 == 0:
            check()
    check()
    # the pq sidecar stayed consistent through the whole history: the ADC
    # tier still mirrors every cells/ dir and serves without error
    man = MF.read(idx, S.ANN_MANIFEST)
    assert set(man["pq"]) == set(man["cells"])
    assert S.knn_pq_indexed(
        spark, idx, queries, k=3, n_probe=int(man["n_cells"]), refine=24
    ).collect()


def test_text_crud_random_sequence_matches_rebuild(spark, tmp_path):
    """20 seeded random text CRUD ops (delete / upsert / append / compact);
    every 4th step bm25 over the index must equal a fresh build over the
    model docs — pins the _ver/as_of ladder and the df/stats decrement
    arithmetic under arbitrary interleavings."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    all_docs = {r.doc_id: r.text for r in docs.collect()}
    start = {k: v for k, v in all_docs.items() if k % 2 == 0}
    idx = str(tmp_path / "idx")
    schema = "doc_id long, text string"

    def frame(d):
        return spark.createDataFrame(sorted(d.items()), schema)

    SE.build_text_index(frame(start), idx)
    model = dict(start)
    rng = random.Random(2211)
    fresh_pool = sorted(set(all_docs) - set(model))
    queries = [("q1", "data quality"), ("q2", "training corpus filter")]

    def check():
        reb = str(tmp_path / f"reb{step}")
        SE.build_text_index(frame(model), reb)
        got = _pairs(SE.bm25_search_indexed(spark, idx, queries, k=10))
        want = _pairs(SE.bm25_search_indexed(spark, reb, queries, k=10))
        assert got == want and got, f"step {step}: index != rebuild"

    for step in range(1, 21):
        op = rng.choice(["delete", "upsert", "append", "compact"])
        if op == "delete" and model:
            victims = rng.sample(sorted(model), k=min(4, len(model)))
            assert SE.delete_text_docs(spark, idx, victims) == len(victims)
            for v in victims:
                del model[v]
        elif op == "upsert":
            batch = {}
            if model:
                for v in rng.sample(sorted(model), k=min(3, len(model))):
                    batch[v] = model[v] + f" zzedit{step}"
            if fresh_pool:
                nid = fresh_pool.pop(0)
                batch[nid] = all_docs[nid]
            if not batch:
                continue
            SE.upsert_text_docs(spark, idx, frame(batch))
            model.update(batch)
        elif op == "append":
            batch = {}
            for _ in range(2):
                if fresh_pool:
                    nid = fresh_pool.pop(0)
                    batch[nid] = all_docs[nid]
            if not batch:
                continue
            SE.append_text_index(frame(batch), idx)
            model.update(batch)
        elif op == "compact":
            SE.compact_text_index(spark, idx)
        if step % 4 == 0:
            check()
    check()


def test_neardup_crud_random_sequence_matches_rebuild(spark, tmp_path):
    """20 seeded random band-index CRUD ops (delete / upsert / rebuild);
    every 4th step neardup_probe over the index must equal a probe over a
    fresh build of the model docs — pins the round-12 versioned-tombstone
    ladder (retire at as_of, replacements one above, resurrect on
    re-upsert, rebuild as the purge) under arbitrary interleavings."""
    from es_household_retention_spark_job_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    all_docs = {r.doc_id: r.text for r in docs.collect()}
    start = {k: v for k, v in all_docs.items() if k % 2 == 0}
    idx = str(tmp_path / "idx")
    schema = "doc_id long, text string"

    def frame(d):
        return spark.createDataFrame(sorted(d.items()), schema)

    D.build_neardup_index(frame(start), idx)
    model = dict(start)
    rng = random.Random(1212)
    fresh_pool = sorted(set(all_docs) - set(model))
    probe_docs = docs.where(F.col("doc_id") % 10 == 1)

    def hits(index_path):
        return sorted(
            (r.doc_id, r.dup_of, r.jaccard_bp)
            for r in D.neardup_probe(
                probe_docs, D.read_neardup_index(spark, index_path)
            ).collect()
        )

    def check():
        reb = str(tmp_path / f"reb{step}")
        D.build_neardup_index(frame(model), reb)
        assert hits(idx) == hits(reb), f"step {step}: index != rebuild"

    for step in range(1, 21):
        op = rng.choice(["delete", "upsert", "upsert", "rebuild"])
        if op == "delete" and model:
            victims = rng.sample(sorted(model), k=min(4, len(model)))
            # actually-deleted contract: every victim is currently live
            assert D.delete_neardup_docs(spark, idx, victims) == len(victims)
            for v in victims:
                del model[v]
        elif op == "upsert":
            batch = {}
            dels = []
            if model:
                pick = rng.sample(sorted(model), k=min(4, len(model)))
                for v in pick[:2]:
                    batch[v] = model[v] + f" zzedit{step}"
                for v in pick[2:]:
                    dels.append(v)
            if fresh_pool:
                nid = fresh_pool.pop(0)
                batch[nid] = all_docs[nid]
            if not batch and not dels:
                continue
            D.upsert_neardup_docs(
                spark, idx, frame(batch), delete_ids=dels
            )
            model.update(batch)
            for v in dels:
                model.pop(v, None)
        elif op == "rebuild":
            D.build_neardup_index(frame(model), idx)
        if step % 4 == 0:
            check()
    check()
