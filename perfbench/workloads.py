"""The three workloads: set-up (untimed), one rep (timed), output check.

Each workload calls the package's public entry points through their
modules (``pipeline.run_retention``, ``pipeline.run_incremental``,
``index_sync.sync_serving_stack``), so the spans ``layertrace`` patches
onto those module attributes see every call. Every rep starts from a
pristine copy of its store, made by ``prepare`` outside the timed span.
"""

from __future__ import annotations

import os
import random
import shutil
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from datetime import timedelta

import duckdb
from pyspark import inheritable_thread_target
from pyspark.sql import functions as F

from es_household_retention_spark_job_spark import oracle, pipeline
from es_household_retention_spark_job_spark.clock import TESTDATA_AS_OF, epoch_ms
from es_household_retention_spark_job_spark.operators import clusters as C
from es_household_retention_spark_job_spark.operators import dedup as D
from es_household_retention_spark_job_spark.operators import search as SE
from es_household_retention_spark_job_spark.operators import similarity as S
from es_household_retention_spark_job_spark.sinks import upsert as U
from es_household_retention_spark_job_spark.sources import tpch
from es_household_retention_spark_job_spark.streaming import index_sync

import inputs

AS_OF = TESTDATA_AS_OF
HIST = "household_retention_history"
#: the keyed person store's bucket count (``write_keyed_table``'s default)
PERSON_BUCKETS = 16
#: the doc table's bucket count (the package's one-window stack test)
DOC_BUCKETS = 4


def segment_for(seed: int) -> str:
    return random.Random(seed).choice(inputs.SEGMENTS)


def copy_dir(src: str, dst: str) -> None:
    if os.path.exists(dst):
        shutil.rmtree(dst)
    shutil.copytree(src, dst)


def side_by_side(*steps) -> list:
    """Run independent set-up steps on threads of their own and return
    their results. Every run pays the set-up again, within a fixed run
    budget, and its steps are mostly driver-side waits. The threads inherit
    the caller's Spark job group, so a traced run attributes their jobs."""
    with ThreadPoolExecutor(len(steps)) as pool:
        futures = [pool.submit(inheritable_thread_target(step)) for step in steps]
        return [f.result() for f in futures]


def derive_retention_inputs(spark, src: dict[str, str]):
    """(person, encounter) through the package's own derivation; the
    stored encounter table carries only the contract columns."""
    customer = spark.read.parquet(src["customer"])
    orders = spark.read.parquet(src["orders"])
    person = tpch.derive_person(customer)
    encounter = tpch.derive_encounter(orders, customer).drop(tpch.RAW_ADMIT_TS)
    return person, encounter


def oracle_histories(
    src: dict[str, str], segment: str, work: str, all_unprocessed: bool = False
) -> Counter:
    """The DuckDB oracle's rows for ``segment`` over every order, as a
    multiset of exploded history entries: phase 1's, then phase 2's for
    the persons phase 1 left unprocessed (the oracle's phase-2 query reads
    the store as it was before phase 1). ``all_unprocessed`` clears the
    derivation's processed flag, for a store whose persons all start
    without history."""
    sqls = [oracle.phase1_sql(segment, AS_OF), oracle.phase2_sql(segment, AS_OF)]
    if all_unprocessed:
        flag = f"(c_custkey % {tpch.PROCESSED_MOD} = 0) AS processed"
        if not all(flag in sql for sql in sqls):
            raise RuntimeError(f"the oracle no longer derives the processed flag as {flag!r}")
        sqls = [sql.replace(flag, "FALSE AS processed") for sql in sqls]
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{work}/duckdb'")
        for t in ("customer", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src[t]}')")
        phase1, phase2 = (con.execute(sql).fetchall() for sql in sqls)
    finally:
        con.close()
    done = {r[0] for r in phase1}
    return Counter(
        (pid, sde, ede, sd, ed, ret)
        for pid, _hh, sd, ed, sde, ede, ret in phase1 + [r for r in phase2 if r[0] not in done]
    )


def stored_histories(spark, store: str) -> Counter:
    """The resolved store's histories, exploded, as a multiset."""
    rows = (
        U.read_keyed_table(spark, store)
        .select("person_id", F.explode(HIST).alias("e"))
        .select(
            "person_id",
            "e.date_range.gte",
            "e.date_range.lte",
            F.col("e.date_range_alt.gte").alias("alt_gte"),
            F.col("e.date_range_alt.lte").alias("alt_lte"),
            "e.retained",
        )
        .collect()
    )
    return Counter(tuple(r) for r in rows)


class Workload:
    """``store`` is the keyed table a rep writes (or, for serving_sync,
    reads); the runner measures its files and versions around each rep."""

    store: str
    buckets: int

    def version_of_store(self) -> int:
        return U.current_version(self.store)


class Backfill(Workload):
    """One rep = one ``run_retention`` (phase 1, phase 2, both publishes)
    over a fresh keyed person store."""

    name = "backfill"
    buckets = PERSON_BUCKETS

    def __init__(self, spark, work: str, seed: int, sf: float):
        self.spark = spark
        self.segment = segment_for(seed)
        src = inputs.write_retention_sources(f"{work}/src", sf)
        person, encounter = derive_retention_inputs(spark, src)
        self.encounter = f"{work}/encounter"
        encounter.write.mode("overwrite").parquet(self.encounter)
        self.pristine = f"{work}/person_pristine"
        U.write_keyed_table(person, self.pristine, key="person_id", n_buckets=self.buckets)
        self.store = f"{work}/person"
        # the placeholder entry every already-processed person keeps
        self.want = oracle_histories(src, self.segment, work) + Counter(
            {
                (f"P{k}", 0, 0, "1970-01-01", "1970-01-01 00:00:00", False): 1
                for k in range(0, inputs.sizes(sf)["customer"], tpch.PROCESSED_MOD)
            }
        )

    def prepare(self) -> None:
        copy_dir(self.pristine, self.store)

    def rep(self) -> int:
        stats = pipeline.run_retention(
            self.spark, self.store, self.encounter, self.segment, AS_OF
        )
        return stats["phase1_persons"] + stats["phase2_persons"]

    def check(self) -> bool:
        return stored_histories(self.spark, self.store) == self.want


class Cdc(Workload):
    """One rep = one ``run_incremental`` call (default MoR write mode)
    folding the last 30 days before ``as_of`` into a store that was
    backfilled up to ``as_of - 60 d`` and then folded the 30 days after
    that at set-up, so the rep reads a store carrying a MoR delta. Every
    person starts unprocessed, so the folded store must equal a
    from-scratch backfill over every encounter: the oracle's rows with the
    processed flag cleared."""

    name = "cdc"
    buckets = PERSON_BUCKETS
    #: 30 days, not 10: the households a window touches then differ by
    #: about 4% between segments instead of 8%, which keeps the spread of
    #: ``rows_per_s`` across seeds well inside its bound
    WINDOW_DAYS = 30

    def __init__(self, spark, work: str, seed: int, sf: float):
        self.spark = spark
        self.segment = segment_for(seed)
        src = inputs.write_retention_sources(f"{work}/src", sf)
        person, encounter = derive_retention_inputs(spark, src)
        person = person.withColumn(HIST, F.lit(None).cast(person.schema[HIST].dataType))
        all_path = f"{work}/encounter_all"
        encounter.write.mode("overwrite").parquet(all_path)
        enc = spark.read.parquet(all_path)
        cut1, cut2 = (epoch_ms(AS_OF - timedelta(days=n * self.WINDOW_DAYS)) for n in (2, 1))
        snapshots = []
        for cut in (cut1, cut2):
            path = f"{work}/encounter_before_{cut}"
            enc.where(F.col("admit_date") < cut).write.mode("overwrite").parquet(path)
            snapshots.append(path)

        def window(snapshot: str, lo: int):
            return spark.read.parquet(snapshot).where(F.col("admit_date") >= lo)

        self.base = f"{work}/person_base"
        U.write_keyed_table(person, self.base, key="person_id", n_buckets=self.buckets)

        def fold_first_window() -> None:
            pipeline.run_retention(spark, self.base, snapshots[0], self.segment, AS_OF)
            pipeline.run_incremental(
                spark, self.base, snapshots[1], window(snapshots[1], cut1), self.segment, AS_OF
            )

        _, self.want = side_by_side(
            fold_first_window,
            lambda: oracle_histories(src, self.segment, work, all_unprocessed=True),
        )
        self.call = (all_path, window(all_path, cut2))
        self.store = f"{work}/person"

    def prepare(self) -> None:
        copy_dir(self.base, self.store)

    def rep(self) -> int:
        snapshot, delta = self.call
        stats = pipeline.run_incremental(
            self.spark, self.store, snapshot, delta, self.segment, AS_OF
        )
        return stats["affected_persons"]

    def check(self) -> bool:
        return stored_histories(self.spark, self.store) == self.want


def components(pairs: list) -> list:
    """(doc_id, cluster_id, cluster_size) of the connected components of a
    near-dup pair graph, each named by its smallest id: what
    ``dedup.duplicate_clusters`` returns, found on the driver with
    union-find instead of its round-per-diameter Spark jobs."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {d: find(d) for d in parent}
    sizes = Counter(roots.values())
    return sorted((d, r, sizes[r]) for d, r in roots.items())


def coarsens(served: list, batch: list, changed: int) -> bool:
    """The served cluster view's contract for a window with updates and
    deletes (``operators.clusters``): every batch cluster lies inside
    exactly one served cluster, and each served cluster that is not a
    batch cluster is owed to a severed bridge, of which a window has at
    most one per changed doc."""
    served_of = {doc: cid for doc, cid, _ in served}
    members: dict = {}
    for doc, cid, _ in batch:
        members.setdefault(cid, set()).add(doc)
    for docs in members.values():
        homes = {served_of.get(d) for d in docs}
        if len(homes) != 1 or None in homes:
            return False
    served_sets: dict = {}
    for doc, cid, _ in served:
        served_sets.setdefault(cid, set()).add(doc)
    exact = {frozenset(s) for s in members.values()}
    return sum(frozenset(s) not in exact for s in served_sets.values()) <= changed


class ServingSync(Workload):
    """One rep = one ``sync_serving_stack`` window (text, ANN, near-dup and
    cluster structures) over a keyed doc table whose window of mutations,
    inserts and deletes is committed at set-up."""

    name = "serving_sync"
    buckets = DOC_BUCKETS
    K = 3
    CELLS = 4  # probing every cell makes the IVF search exact

    def __init__(self, spark, work: str, seed: int, sf: float):
        self.spark = spark
        rnd = random.Random(seed)
        src = inputs.write_doc_sources(f"{work}/src", sf)
        docs = spark.read.parquet(src["documents"]).select("doc_id", "text")
        embs = spark.read.parquet(src["embeddings"]).select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
        combined = docs.join(embs, "doc_id")
        self.table = self.store = f"{work}/docs"
        U.write_keyed_table(combined, self.table, key="doc_id", n_buckets=self.buckets)
        self.v0 = U.current_version(self.table)
        # the structures are built from a copy of version v0 while the
        # window's changes are committed to the table itself
        built_from = f"{work}/docs_v0"
        copy_dir(self.table, built_from)
        state = U.read_keyed_table(spark, built_from)
        self.pristine = {s: f"{work}/{s}_pristine" for s in ("text", "ann", "neardup", "clusters")}
        self.live = {s: f"{work}/{s}" for s in self.pristine}
        side_by_side(
            lambda: SE.build_text_index(state, self.pristine["text"]),
            lambda: S.build_ann_index(
                state, self.pristine["ann"], n_cells=self.CELLS, iters=2, id_col="doc_id"
            ),
            lambda: D.build_neardup_index(state, self.pristine["neardup"]),
            lambda: C.build_cluster_table(
                state, self.pristine["clusters"], epoch=self.v0,
                epoch_stream=index_sync.cdc_stream_id(self.table),
            ),
            lambda: self._commit_window(combined, rnd, sf),
        )

    def _commit_window(self, combined, rnd: random.Random, sf: float) -> None:
        """Commit the window's text mutations, embedding flips, fresh docs
        and deletes (the mix of the package's one-window stack test, at
        residues the seed picks), then build the references."""
        spark = self.spark
        r_mut, r_flip, r_new, r_del = (rnd.randrange(m) for m in (17, 23, 19, 29))
        muts = combined.where(F.col("doc_id") % 17 == r_mut).withColumn(
            "text", F.concat(F.col("text"), F.lit(" zzstack zzstack"))
        )
        flips = combined.where(
            (F.col("doc_id") % 23 == r_flip) & (F.col("doc_id") % 17 != r_mut)
        ).withColumn("embedding", F.transform(F.col("embedding"), lambda x: -x))
        fresh = combined.where(F.col("doc_id") % 19 == r_new).withColumn(
            "doc_id", F.col("doc_id") + 700_000
        )
        U.upsert_parquet(
            spark, self.table, muts.unionByName(flips).unionByName(fresh), key="doc_id"
        )
        U.delete_keys(
            spark, self.table,
            combined.where(F.col("doc_id") % 29 == r_del).select("doc_id"),
            key="doc_id",
        )
        self.version = U.current_version(self.table)
        self.rows = (
            U.read_changes(spark, self.table, self.v0, self.version)
            .select("doc_id").distinct().count()
        )

        resolved = U.read_keyed_table(spark, self.table)
        # one live doc in ``stride`` probes the ANN index (2.5% at sf0.1)
        stride = max(2, min(40, inputs.sizes(sf)["embeddings"] // 8))
        self.queries = resolved.where(
            F.col("doc_id") % stride == rnd.randrange(stride)
        ).select("doc_id", "embedding")
        self.want_knn = self._knn(
            S.knn_bruteforce(
                resolved.select("doc_id", "embedding"), self.queries, k=self.K,
                id_col="doc_id",
            )
        )
        pairs = D.minhash_lsh_pairs(resolved.select("doc_id", "text"))
        self.want_clusters = components(pairs.select("doc_a", "doc_b").collect())

    @staticmethod
    def _knn(df) -> set:
        return {(r.query_id, r.rank, r.neighbor_id) for r in df.collect()}

    @staticmethod
    def _clusters(df) -> list:
        return sorted((r.doc_id, r.cluster_id, r.cluster_size) for r in df.collect())

    def prepare(self) -> None:
        for s, src in self.pristine.items():
            copy_dir(src, self.live[s])

    def rep(self) -> int:
        self.out = index_sync.sync_serving_stack(
            self.spark, self.table,
            text_index=self.live["text"], ann_index=self.live["ann"],
            neardup_index=self.live["neardup"], cluster_table=self.live["clusters"],
            from_version=self.v0, emb_id_col="doc_id",
        )
        return self.rows

    def check(self) -> bool:
        if set(self.out) != {"text", "ann", "neardup", "clusters"}:
            return False
        if any(r["to"] != self.version for r in self.out.values()):
            return False
        got_knn = self._knn(
            S.knn_ivf_indexed(
                self.spark, self.live["ann"], self.queries, k=self.K,
                n_probe=self.CELLS, id_col="doc_id",
            )
        )
        served = self._clusters(C.read_dedup_clusters(self.spark, self.live["clusters"]))
        return (
            bool(got_knn)
            and got_knn == self.want_knn
            and coarsens(served, self.want_clusters, self.rows)
        )


WORKLOADS = {w.name: w for w in (Backfill, Cdc, ServingSync)}
