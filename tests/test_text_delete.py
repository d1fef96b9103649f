"""Document deletes in the persisted BM25 index (round 11): tombstone
commit with decremented df/stats, rebuild-equality of surviving scores,
compaction-as-purge, and maintenance carries."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from es_household_retention_spark_job_spark import manifest as MF
from es_household_retention_spark_job_spark.entry_queries_docs import (
    BM25_K,
    BM25_QUERIES,
)
from es_household_retention_spark_job_spark.operators import search as SE
from es_household_retention_spark_job_spark.sources.tpch import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def _manifest(idx):
    with open(os.path.join(idx, SE.INDEX_MANIFEST)) as f:
        return json.load(f)


def _res(df):
    return sorted(
        (r.query_id, r.doc_id, r.rank, r.score_x1e6) for r in df.collect()
    )


def _dead_ids(docs):
    return [
        r.doc_id
        for r in docs.where(F.col("doc_id") % 7 == 2)
        .select("doc_id")
        .collect()
    ]


def test_delete_scores_equal_rebuild_over_survivors(spark, docs, tmp_path):
    """THE oracle: after delete_text_docs, bm25_search_indexed must be
    byte-identical to an index FRESHLY BUILT over the surviving corpus —
    tombstones hide the postings while the same commit's decremented
    df/stats reproduce a rebuild's idf and length normalization exactly.
    Re-deletes and unknown ids are no-op commits."""
    idx = str(tmp_path / "idx")
    SE.build_text_index(docs, idx)
    dead = _dead_ids(docs)
    assert dead
    n = SE.delete_text_docs(spark, idx, dead)
    assert n == len(dead)
    man = _manifest(idx)
    assert man["n_tombstones"] == len(dead)
    v = man["version"]
    assert SE.delete_text_docs(spark, idx, dead) == 0
    assert SE.delete_text_docs(spark, idx, [10**12]) == 0
    assert _manifest(idx)["version"] == v

    live = docs.where(~F.col("doc_id").isin(dead))
    rebuilt = str(tmp_path / "rebuilt")
    SE.build_text_index(live, rebuilt)
    want = _res(SE.bm25_search_indexed(spark, rebuilt, BM25_QUERIES, k=BM25_K))
    got = _res(SE.bm25_search_indexed(spark, idx, BM25_QUERIES, k=BM25_K))
    assert got == want and got

    # MLT over the index excludes deleted results and scores with the
    # decremented statistics — same rebuild parity
    pred = F.col("doc_id") % 50 == 1
    want_mlt = _res(
        SE.bm25_more_like_this_indexed(spark, rebuilt, live, pred, k=5)
    )
    got_mlt = _res(
        SE.bm25_more_like_this_indexed(spark, idx, live, pred, k=5)
    )
    assert got_mlt == want_mlt and got_mlt


def test_compact_purges_doc_tombstones(spark, docs, tmp_path):
    """With a pending tombstone ledger, compaction rewrites EVERY shard
    (postings of a deleted doc scatter across all of them), drops the
    dead postings physically, clears the ledger, and serves identical
    results before and after."""
    idx = str(tmp_path / "idx")
    SE.build_text_index(docs, idx)
    dead = _dead_ids(docs)
    SE.delete_text_docs(spark, idx, dead)
    before = _res(SE.bm25_search_indexed(spark, idx, BM25_QUERIES, k=BM25_K))
    assert SE.compact_text_index(spark, idx) > 0
    man = _manifest(idx)
    assert "tombstones" not in man and "n_tombstones" not in man
    after = _res(SE.bm25_search_indexed(spark, idx, BM25_QUERIES, k=BM25_K))
    assert after == before and after
    files = [
        os.path.join(idx, "tf", d, f)
        for d, fs in man["tf"].items()
        for f in fs
    ]
    stored = (
        spark.read.option("basePath", f"{idx}/tf")
        .parquet(*files)
        .where(F.col("doc_id").isin(dead))
        .count()
    )
    assert stored == 0


def test_append_after_delete_carries_ledger(spark, docs, tmp_path):
    """An append commit carries the tombstone ledger and layers its own
    df/stats increments on the delete's decremented generations — the
    combined state still equals a fresh build over (survivors + delta)."""
    base = docs.where(F.col("doc_id") % 5 != 0)
    delta = docs.where(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "idx")
    SE.build_text_index(base, idx)
    dead = [
        r.doc_id
        for r in base.where(F.col("doc_id") % 7 == 2)
        .select("doc_id")
        .collect()
    ]
    SE.delete_text_docs(spark, idx, dead)
    SE.append_text_index(delta, idx)
    man = _manifest(idx)
    assert man["n_tombstones"] == len(dead)
    survivors = docs.where(~F.col("doc_id").isin(dead))
    rebuilt = str(tmp_path / "rebuilt")
    SE.build_text_index(survivors, rebuilt)
    want = _res(SE.bm25_search_indexed(spark, rebuilt, BM25_QUERIES, k=BM25_K))
    got = _res(SE.bm25_search_indexed(spark, idx, BM25_QUERIES, k=BM25_K))
    assert got == want and got


def test_upsert_text_docs_matches_rebuild(spark, docs, tmp_path):
    """upsert_text_docs: changed docs re-index (old rows tombstoned at
    as_of, new rows live at a higher _ver), new ids append, and the index
    is statistics-exact — byte-identical search results to a fresh build
    over the upserted corpus. A second upsert of the same batch finds the
    re-appended rows live and replaces them again (the _ver/as_of ladder,
    not a one-shot trick); a deleted doc resurrects through upsert."""
    slim = docs.select("doc_id", "text")
    idx = str(tmp_path / "idx")
    SE.build_text_index(slim, idx)
    changed = slim.where(F.col("doc_id") % 11 == 5).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzzupserted zzzupserted"))
    )
    fresh = slim.where(F.col("doc_id") % 17 == 3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    batch = changed.unionByName(fresh)
    out = SE.upsert_text_docs(spark, idx, batch)
    assert out["appended"] == batch.count()
    assert out["replaced"] == changed.count()  # fresh ids had nothing live
    assert out["deleted"] == 0  # no delete_ids in this window

    batch_ids = [r.doc_id for r in batch.select("doc_id").collect()]
    corpus = slim.where(~F.col("doc_id").isin(batch_ids)).unionByName(batch)
    rebuilt = str(tmp_path / "rebuilt")
    SE.build_text_index(corpus, rebuilt)
    queries = BM25_QUERIES + [("qz", "zzzupserted")]
    want = _res(SE.bm25_search_indexed(spark, rebuilt, queries, k=BM25_K))
    got = _res(SE.bm25_search_indexed(spark, idx, queries, k=BM25_K))
    assert got == want and got
    # the marker term actually surfaces the upserted content
    assert any(r[0] == "qz" for r in got)

    # second upsert of the SAME batch: every id is live now, all replace
    out2 = SE.upsert_text_docs(spark, idx, batch)
    assert out2["replaced"] == batch.count()
    again = _res(SE.bm25_search_indexed(spark, idx, queries, k=BM25_K))
    assert again == want

    # delete → upsert resurrects with new content
    target = [r.doc_id for r in changed.limit(1).collect()][0]
    assert SE.delete_text_docs(spark, idx, [target]) == 1
    SE.upsert_text_docs(
        spark, idx, batch.where(F.col("doc_id") == target)
    )
    back = _res(SE.bm25_search_indexed(spark, idx, queries, k=BM25_K))
    assert back == want

    # compaction purges the whole history and results stay identical
    assert SE.compact_text_index(spark, idx) > 0
    assert "tombstones" not in MF.read(idx, SE.INDEX_MANIFEST)
    final = _res(SE.bm25_search_indexed(spark, idx, queries, k=BM25_K))
    assert final == want


def _strip_ver(idx):
    """Rewrite every tf parquet file without its _ver column — fabricates
    a pre-_ver (legacy) index in place."""
    import pyarrow.parquet as pq

    man = _manifest(idx)
    for d, fs in man["tf"].items():
        for f in fs:
            p = os.path.join(idx, "tf", d, f)
            t = pq.read_table(p)
            if "_ver" in t.column_names:
                pq.write_table(t.drop_columns(["_ver"]), p)
                crc = os.path.join(idx, "tf", d, f".{f}.crc")
                if os.path.exists(crc):
                    os.unlink(crc)


def test_upsert_refuses_legacy_pre_ver_index(spark, docs, tmp_path):
    """upsert_text_docs on an index whose tf files predate the _ver
    column must refuse (rebuild required): stamping _ver on the delta
    alone creates mixed per-file schemas, under which the upserted doc
    either vanishes (unified read drops the column → _ver=1 ≤ as_of) or
    the two tombstone filter paths disagree on null-_ver legacy rows."""
    slim = docs.select("doc_id", "text").where(F.col("doc_id") % 7 == 0)
    idx = str(tmp_path / "idx")
    SE.build_text_index(slim, idx)
    _strip_ver(idx)
    batch = slim.limit(2).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzzlegacy"))
    )
    with pytest.raises(ValueError, match="legacy"):
        SE.upsert_text_docs(spark, idx, batch)
    # appends stay allowed on a legacy index (unversioned fallback) —
    # unless the delta would resurrect a tombstoned id, which unversioned
    # rows cannot survive
    dead = [r.doc_id for r in slim.limit(1).collect()]
    assert SE.delete_text_docs(spark, idx, dead) == 1
    fresh = slim.limit(1).select(
        (F.col("doc_id") + 900_000).alias("doc_id"), "text"
    )
    SE.append_text_index(fresh, idx)
    with pytest.raises(ValueError, match="tombstoned"):
        SE.append_text_index(
            slim.where(F.col("doc_id").isin(dead)), idx
        )


def test_tf_bloom_prunes_locate(spark, docs, tmp_path):
    """Round 12 (r11 stretch #8): append/upsert generation tf files carry
    per-file doc-id Blooms in the manifest, and the delete/upsert locate
    opens only the files that can hold its target ids — on an
    incrementally-grown index the O(index) tf pass becomes O(files
    carrying the ids). Build-time files have no filter (over-cap or
    pre-r12) and always qualify, so false negatives are impossible and
    the df-decrement arithmetic is untouched (rebuild-equality rides the
    existing suite)."""
    slim = docs.select("doc_id", "text")
    base = slim.where(F.col("doc_id") % 3 != 0)
    idx = str(tmp_path / "idx")
    SE.build_text_index(base, idx, n_shards=4)
    # two disjoint append batches -> two generations of bloomed files
    b1 = slim.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 250))
    b2 = slim.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") >= 250))
    assert b1.count() and b2.count()
    SE.append_text_index(b1, idx)
    SE.append_text_index(b2, idx)
    man = MF.read(idx, SE.INDEX_MANIFEST)
    assert man.get("tf_bloom"), "append recorded no blooms"
    n_files = sum(len(fs) for fs in man["tf"].values())
    n_bloomed = len(man["tf_bloom"])
    assert n_bloomed >= 2  # both append generations covered

    # locate for an id in batch 2 must skip batch-1's bloomed files
    target = [r.doc_id for r in b2.limit(1).collect()]
    files, skipped = SE._locate_tf_files(idx, man, target)
    assert skipped > 0
    assert len(files) + skipped == n_files
    # ...and the delete still finds and removes the doc exactly
    assert SE.delete_text_docs(spark, idx, target) == 1
    # deleting never-indexed ids: every bloomed file skippable, count 0
    files2, skipped2 = SE._locate_tf_files(
        idx, MF.read(idx, SE.INDEX_MANIFEST), [99_999_991]
    )
    assert skipped2 >= n_bloomed - 1  # target file-set shrinks to ~build files
    assert SE.delete_text_docs(spark, idx, [99_999_991]) == 0

    # compaction rewrites multi-file shards; stale bloom entries drop and
    # results stay rebuild-equal (scores checked via the existing oracle)
    SE.compact_text_index(spark, idx)
    man3 = MF.read(idx, SE.INDEX_MANIFEST)
    live = {f"{d}/{f}" for d, fs in man3["tf"].items() for f in fs}
    assert set(man3.get("tf_bloom") or {}) <= live


def test_tf_zone_maps_prune_past_bloom_cap(spark, docs, tmp_path, monkeypatch):
    """Round 13 (r12 verdict #7): generation files past the Bloom cap —
    backfill-sized batches that used to be unconditional locate
    candidates — carry doc-id ZONE MAPS (footer min/max, zero data-page
    I/O) and the locate skips files whose range cannot hold a target id.
    False negatives impossible (an id inside the range keeps the file);
    build files span the full range and always qualify."""
    slim = docs.select("doc_id", "text")
    base = slim.where(F.col("doc_id") % 3 != 0)
    idx = str(tmp_path / "zidx")
    SE.build_text_index(base, idx, n_shards=4)
    # cap Blooms to nothing: both append batches exceed it, so only the
    # zone maps can prune — exactly the regime this feature exists for
    monkeypatch.setenv("SPARK_GRAFT_TF_BLOOM_MAX_DOCS", "1")
    lo = slim.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 250))
    hi = slim.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") >= 250))
    assert lo.count() > 1 and hi.count() > 1
    SE.append_text_index(lo, idx)
    SE.append_text_index(hi, idx)
    man = MF.read(idx, SE.INDEX_MANIFEST)
    assert not (man.get("tf_bloom") or {}), "cap should suppress blooms"
    assert man.get("tf_zone"), "appends recorded no zone maps"
    # a hi-range target prunes the lo-range generation files entirely
    target = [r.doc_id for r in hi.limit(1).collect()]
    files, skipped = SE._locate_tf_files(idx, man, target)
    assert skipped > 0
    assert SE.delete_text_docs(spark, idx, target) == 1
    # an out-of-range id prunes EVERY zoned generation file
    files2, skipped2 = SE._locate_tf_files(
        idx, MF.read(idx, SE.INDEX_MANIFEST), [99_999_991]
    )
    assert skipped2 >= len(man["tf_zone"]) - 1
    assert SE.delete_text_docs(spark, idx, [99_999_991]) == 0
    # a NON-INT target id disables the zone prune (conservative), never
    # a wrong skip
    files3, skipped3 = SE._locate_tf_files(
        idx, MF.read(idx, SE.INDEX_MANIFEST), ["not-an-int"]
    )
    assert skipped3 == 0
    # zone ledger follows the live file set across compaction
    SE.compact_text_index(spark, idx)
    man3 = MF.read(idx, SE.INDEX_MANIFEST)
    live = {f"{d}/{f}" for d, fs in man3["tf"].items() for f in fs}
    assert set(man3.get("tf_zone") or {}) <= live
