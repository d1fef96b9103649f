"""CDC-driven index maintenance: keep the BM25 text index and the ANN
vector index consistent with a keyed-sink table by consuming its CHANGE
FEED instead of rescanning it — the capstone composition of the sink's
``read_changes`` (O(changed rows)) with the indexes' round-11 CRUD ops
(delete / upsert, each bounded by the change set).

The consumer cursor is the SINK VERSION the index last absorbed, and it
rides the index's own atomic manifest commit as ``(epoch_stream,
last_epoch)`` — the same exactly-once mechanism the streaming
``apply_index_batch`` sinks use, with the stream identity pinned to the
table path (``cdc:<table>``). A mixed window applies as ONE fused commit
(``upsert_*``'s ``delete_ids=``): a reader sees the whole window or
none, a crash before the commit leaves the previous state intact, and a
committed cursor skips the window on retry. Delete-only windows commit
through the delete op; a window the index applies NOTHING from (empty,
or deletes of never-indexed ids) still advances the cursor with a
cursor-only manifest bump — without it the cursor would wedge once the
sink's version retention prunes the window start.

Reference parity note: the reference job (HouseholdRetentionProcessing)
re-scans and re-writes its whole output store per run; this module is the
beyond-reference maintenance shape a 100 TB serving deployment needs —
indexes follow the table at O(changes), never O(table)."""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup as _dedup
from ..operators import search as _search
from ..operators import similarity as _sim
from ..sinks.upsert import CHANGE_TYPE_COL, current_version, read_changes

log = logging.getLogger("retention.index_sync")

__all__ = [
    "sync_text_index",
    "sync_ann_index",
    "sync_neardup_index",
    "sync_dedup_clusters",
    "sync_serving_stack",
    "cdc_stream_id",
    "choose_maintenance",
    "maintain_index",
    "split_synced_ann_cells",
]


def cdc_stream_id(table_path: str) -> str:
    """The stream identity under which a table's CDC cursor commits into
    an index manifest — one maintaining table per index at a time, the
    single-writer contract every index sink already carries."""
    return f"cdc:{os.path.abspath(table_path)}"


def _cursor(manifest: dict | None, stream: str) -> int | None:
    if (
        manifest
        and manifest.get("epoch_stream") == stream
        and manifest.get("last_epoch") is not None
    ):
        return int(manifest["last_epoch"])
    return None


def _window(
    spark: SparkSession,
    table_path: str,
    start: int | None,
    from_version: int | None,
    what: str,
):
    cur = current_version(table_path)
    if start is None:
        start = from_version
    if start is None:
        raise ValueError(
            f"{what}: the index carries no CDC cursor for this table — "
            "pass from_version= (the sink version the index was BUILT "
            "from); later syncs resume from the committed cursor"
        )
    return int(start), int(cur)


def _commit_text_cursor(spark, index_path: str, epoch: int, stream: str):
    """Cursor-only manifest bump for a window the text index applies
    nothing from — every other key carries forward unchanged."""
    import time

    man = _search._read_index_manifest(index_path)
    if man is None:
        man = _search._bootstrap_index_manifest(spark, index_path)
    new = dict(man)
    new["version"] = int(man.get("version", 1)) + 1
    new["retired"] = _search._roll_retired(man, time.time(), None)
    new["last_epoch"] = int(epoch)
    new["epoch_stream"] = str(stream)
    _search._write_index_manifest(index_path, new)


def _commit_ann_cursor(spark, index_path: str, epoch: int, stream: str):
    """The vector edition of ``_commit_text_cursor`` (optimistic commit —
    a concurrent maintenance op aborts loudly rather than losing it)."""
    import time

    man = _sim._read_ann_manifest(index_path)
    if man is None:
        man = _sim._bootstrap_ann_manifest(spark, index_path)
    new = dict(man)
    new["version"] = int(man.get("version", 1)) + 1
    new["retired"] = _sim._ann_roll_retired(man, time.time(), None)
    new["last_epoch"] = int(epoch)
    new["epoch_stream"] = str(stream)
    _sim._commit_ann_manifest(index_path, man, new)


def _split_changes(changes: DataFrame, id_col: str, cols: list[str]):
    """(upsert frame, upsert-id list, deleted-id list) from a netted
    change window: the feed nets to at most one change per key, so the
    two sets are disjoint; update preimages are bookkeeping for
    aggregate consumers and carry nothing an index maintains. ONE
    id-level collect serves both lists (and the upsert count), so the
    window's content columns are scanned exactly once — by the index
    op's own fused pass."""
    ups = changes.where(
        F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage")
    ).select(id_col, *cols)
    pairs = (
        changes.where(
            F.col(CHANGE_TYPE_COL).isin(
                "insert", "update_postimage", "delete"
            )
        )
        .select(id_col, CHANGE_TYPE_COL)
        .collect()
    )
    up_ids = [
        r[id_col]
        for r in pairs
        if r[CHANGE_TYPE_COL] in ("insert", "update_postimage")
    ]
    dels = [r[id_col] for r in pairs if r[CHANGE_TYPE_COL] == "delete"]
    return ups, up_ids, dels


def sync_text_index(
    spark: SparkSession,
    index_path: str,
    table_path: str,
    from_version: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Fold the sink's changes since the last sync into the BM25 index:
    deletes tombstone (with exact df/stats decrements), inserts and
    update postimages re-index through the delete+append upsert shape,
    and the advanced cursor rides the FINAL commit. After a sync the
    index serves byte-identically to one freshly built from the table's
    current resolved state (pinned in tests) — at O(changed docs) cost
    plus the delete locate's documented tf pass."""
    stream = cdc_stream_id(table_path)
    start, cur = _window(
        spark,
        table_path,
        _cursor(_search._read_index_manifest(index_path), stream),
        from_version,
        "sync_text_index",
    )
    if start >= cur:
        return {"from": start, "to": cur, "deleted": 0, "upserted": 0}
    # columns= scopes the feed to what this index maintains: a key whose
    # OTHER columns changed nets out entirely (no spurious re-index) and
    # the feed's preimage scans prune to key + text width
    changes = read_changes(
        spark, table_path, start, cur, columns=[text_col]
    )
    ups, up_ids, dels = _split_changes(changes, id_col, [text_col])
    n_up = len(up_ids)
    # "deleted"/"upserted" report what the index ACTUALLY applied (the
    # ops' live-count returns), not the window's event counts — a window
    # deleting never-indexed ids reports deleted=0
    n_deleted = n_upserted = 0
    applied = False
    if n_up:
        # the whole window — retirements, deletes, new content, adjusted
        # df/stats, cursor — is ONE atomic commit (upsert_text_docs's
        # fused shape): a reader sees all of it or none, and a crash
        # before the commit leaves the previous state intact
        res = _search.upsert_text_docs(
            spark,
            index_path,
            ups,
            text_col=text_col,
            id_col=id_col,
            delete_ids=dels,
            epoch=cur,
            epoch_stream=stream,
            known_ids=up_ids,
        )
        n_deleted = int(res.get("deleted", 0))
        n_upserted = int(n_up)
        applied = True
    elif dels:
        n_deleted = _search.delete_text_docs(
            spark, index_path, dels, id_col=id_col,
            epoch=cur, epoch_stream=stream,
        )
        applied = n_deleted > 0
    if not applied:
        # nothing this index applies (empty window, or deletes of docs it
        # never indexed) — still advance the cursor, or it wedges once
        # version retention prunes `start`
        _commit_text_cursor(spark, index_path, cur, stream)
    return {
        "from": start,
        "to": cur,
        "deleted": n_deleted,
        "upserted": n_upserted,
    }


def sync_ann_index(
    spark: SparkSession,
    index_path: str,
    table_path: str,
    from_version: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    auto_split: bool = True,
) -> dict:
    """The vector edition: deletes tombstone (route/health ledger exact),
    inserts and update postimages go through ``upsert_ann_vectors``
    (targeted cell rewrites — which also resurrect previously-deleted
    ids), cursor on the final commit, crash-convergent like the text
    sync. After a sync the index serves byte-identically to one freshly
    built from the table's resolved state at the same quantizers."""
    stream = cdc_stream_id(table_path)
    start, cur = _window(
        spark,
        table_path,
        _cursor(_sim._read_ann_manifest(index_path), stream),
        from_version,
        "sync_ann_index",
    )
    if start >= cur:
        return {"from": start, "to": cur, "deleted": 0, "upserted": 0}
    # columns= scopes the feed to the embedding: a key whose other
    # columns changed nets out (no spurious cell rewrite)
    changes = read_changes(
        spark, table_path, start, cur, columns=[emb_col]
    )
    ups, up_ids, dels = _split_changes(changes, id_col, [emb_col])
    n_up = len(up_ids)
    # actually-applied counts, as in sync_text_index
    n_deleted = n_upserted = 0
    applied = False
    if n_up:
        # a MIXED window rides the upsert's commit (delete_ids=): ONE
        # locate scan, ONE atomic commit, no tombstone needed — deleted
        # ids' cells rewrite like replaced ones
        res = _sim.upsert_ann_vectors(
            ups, index_path, id_col=id_col, emb_col=emb_col,
            epoch=cur, epoch_stream=stream, delete_ids=dels,
            known_ids=up_ids,
        )
        n_deleted = int(res.get("deleted", 0))
        n_upserted = int(n_up)
        applied = True
    elif dels:
        # a delete-ONLY window goes through the tombstoning delete (no
        # content to rewrite against; the ledger is the cheap path here)
        n_deleted = _sim.delete_ann_ids(
            spark, index_path, dels, id_col=id_col,
            epoch=cur, epoch_stream=stream,
        )
        applied = n_deleted > 0
    if not applied:
        # cursor-only bump: see sync_text_index (the wedge guard)
        _commit_ann_cursor(spark, index_path, cur, stream)
    n_split = 0
    if auto_split and applied:
        n_split = split_synced_ann_cells(spark, index_path, id_col=id_col)
    return {
        "from": start,
        "to": cur,
        "deleted": n_deleted,
        "upserted": n_upserted,
        "cells_split": n_split,
    }


def split_synced_ann_cells(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> int:
    """√n cell sizing for SYNCED ANN indexes (VERDICT r12 #6): keep
    every cell at ≤ ``factor·√total`` rows by splitting on growth, so a
    delta-sized sync window rewrites delta-proportional bytes instead of
    cell-sized ones. The r12 fixed-delta ladder showed the disease at 16
    cells (a 600-vector window touches most cells → rewrites ∝ cell
    size, 37k rows/cell at 600k vectors) and the cure at 64; √n makes
    the cure the default — at bound ``4√n`` the index converges to
    ≈ √n/4 cells (194 at 600k), and cell size grows only as √corpus.

    Cost: the health check is manifest-only (no data I/O); splits read
    ONLY the oversized cells (``split_ann_cells``'s cell-confined
    2-means), and the interleave rehearsal proves splits are sync-safe.
    A freshly-adopted coarse index pays an amortized reshape over its
    first few syncs (each pass halves oversized cells, ≤ ``_SPLIT_MAX
    _PASSES`` per call); a converged index pays one manifest read.
    Env knobs: ``SPARK_GRAFT_ANN_SPLIT_FACTOR`` (default 4),
    ``SPARK_GRAFT_ANN_SPLIT_MIN_BOUND`` (default 2048 — corpora below
    factor·√n of that never split, the toy-index guard)."""
    factor = float(os.environ.get("SPARK_GRAFT_ANN_SPLIT_FACTOR", "4"))
    min_bound = int(
        os.environ.get("SPARK_GRAFT_ANN_SPLIT_MIN_BOUND", "2048")
    )
    total_split = 0
    for _ in range(_SPLIT_MAX_PASSES):
        man = _sim._read_ann_manifest(index_path)
        if man is None:
            return total_split
        total = sum(
            int(n)
            for n in _sim._manifest_cell_rows(spark, index_path, man).values()
        )
        bound = max(int(factor * total**0.5), min_bound)
        n = _sim.split_ann_cells(
            spark, index_path, max_rows_per_cell=bound, id_col=id_col
        )
        total_split += n
        if n == 0:
            break
    return total_split


#: runaway bound, not an amortization knob: each pass reads only the
#: still-oversized cells (geometrically shrinking), and a converged
#: index exits on the first zero-split pass — 12 covers a 4096×
#: coarse-to-√n reshape in one call
_SPLIT_MAX_PASSES = 12


def sync_neardup_index(
    spark: SparkSession,
    index_path: str,
    table_path: str,
    from_version: int | None = None,
    text_col: str | None = None,
    id_col: str | None = None,
) -> dict:
    """The near-dup band index edition — maintenance parity for the THIRD
    serving structure: fold the sink's changes into the persisted band
    index through ``upsert_neardup_docs``'s one-commit retire+append
    (versioned tombstones at the current meta version, new shingle/
    minhash band rows one above), with the sink-version cursor riding the
    SAME atomic ``_meta.json`` replace. After a sync, ``neardup_probe``
    over the index returns the same candidates as a fresh
    ``build_neardup_index`` over the table's resolved state (pinned in
    tests) — at O(changed docs) shingle/minhash cost plus one live-id
    locate."""
    meta = _dedup._read_neardup_meta(index_path) or {}
    id_col = id_col or meta.get("id_col") or "doc_id"
    text_col = text_col or meta.get("text_col") or "text"
    stream = cdc_stream_id(table_path)
    start, cur = _window(
        spark,
        table_path,
        _cursor(meta, stream),
        from_version,
        "sync_neardup_index",
    )
    if start >= cur:
        return {"from": start, "to": cur, "deleted": 0, "upserted": 0}
    changes = read_changes(
        spark, table_path, start, cur, columns=[text_col]
    )
    ups, up_ids, dels = _split_changes(changes, id_col, [text_col])
    n_up = len(up_ids)
    if not n_up and not dels:
        # cursor-only bump (the wedge guard, meta edition; checked commit)
        meta = _dedup._adopt_neardup_meta(spark, index_path, id_col)
        planned_from = dict(meta)
        meta["version"] = int(meta["version"]) + 1
        meta["last_epoch"] = int(cur)
        meta["epoch_stream"] = str(stream)
        _dedup._commit_neardup_meta(index_path, planned_from, meta)
        return {"from": start, "to": cur, "deleted": 0, "upserted": 0}
    res = _dedup.upsert_neardup_docs(
        spark,
        index_path,
        ups,
        text_col=text_col,
        id_col=id_col,
        delete_ids=dels,
        epoch=cur,
        epoch_stream=stream,
        known_ids=up_ids,
    )
    return {
        "from": start,
        "to": cur,
        "deleted": int(res.get("deleted", 0)),
        "upserted": n_up,
    }


def sync_dedup_clusters(
    spark: SparkSession,
    cluster_path: str,
    table_path: str,
    index_path: str,
    from_version: int | None = None,
    text_col: str | None = None,
    id_col: str | None = None,
) -> dict:
    """The FOURTH served structure joins the CDC loop: fold the table's
    changes into the persisted union-find cluster table
    (``operators.clusters``) — changed docs probe the SYNCED near-dup
    band index for their verified pairs, roots resolve through bounded
    point lookups, and one keyed-sink commit carries the new pointers
    AND the cursor (``app_meta`` + ``app_meta_expect`` = exactly-once).

    Ordering contract: the band index must have absorbed AT LEAST this
    window (run ``sync_neardup_index`` first); the window's END is the
    INDEX's committed cursor, so the cluster view never runs ahead of
    the pair source it derives from. Conservative-merge semantics for
    bridge deletions are the operator module's documented trade."""
    from ..operators import clusters as C

    meta = _dedup._read_neardup_meta(index_path) or {}
    id_col = id_col or meta.get("id_col") or "doc_id"
    text_col = text_col or meta.get("text_col") or "text"
    stream = cdc_stream_id(table_path)
    if meta.get("epoch_stream") != stream or meta.get("last_epoch") is None:
        raise ValueError(
            "sync_dedup_clusters: the near-dup index at "
            f"{index_path} carries no CDC cursor for {table_path} — run "
            "sync_neardup_index first (the cluster view derives from the "
            "index's pairs and must not run ahead of it)"
        )
    idx_cur = int(meta["last_epoch"])
    # the committed cursor is captured ONCE and is both the window start
    # and the commit's optimistic expectation — re-reading it at commit
    # time would match a racer's advanced cursor and double-apply the
    # window (review finding: the TOCTOU nullified the exactly-once
    # guard the wrapper exists to provide)
    committed = C.cluster_cursor(cluster_path, stream)
    start = committed
    if start is None:
        start = from_version
    if start is None:
        raise ValueError(
            "sync_dedup_clusters: the cluster table carries no CDC cursor "
            "for this table — pass from_version= (the sink version "
            "build_cluster_table snapshotted); later syncs resume from "
            "the committed cursor"
        )
    start = int(start)
    if start >= idx_cur:
        return {"from": start, "to": start, "upserted": 0, "deleted": 0,
                "merged_roots": 0}
    changes = read_changes(
        spark, table_path, start, idx_cur, columns=[text_col]
    )
    ups, up_ids, dels = _split_changes(changes, id_col, [text_col])
    res = C.apply_cluster_window(
        spark,
        cluster_path,
        ups,
        up_ids,
        dels,
        index_path,
        text_col,
        id_col,
        epoch=idx_cur,
        epoch_stream=stream,
        expect_epoch=committed,
    )
    return {"from": start, "to": idx_cur, **res}


def sync_serving_stack(
    spark: SparkSession,
    table_path: str,
    text_index: str | None = None,
    ann_index: str | None = None,
    neardup_index: str | None = None,
    cluster_table: str | None = None,
    from_version: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    emb_col: str = "embedding",
    emb_id_col: str = "vec_id",
    route_maintenance: bool = False,
) -> dict:
    """One window, the whole serving stack: every requested structure's
    sync runs against the table's change feed. Returns {structure: its
    sync result}, keyed in the fixed order text, ann, neardup, clusters.
    Requesting ``cluster_table`` without ``neardup_index`` raises — the
    cluster view consumes the near-dup band index's pairs, so the
    dependency is structural, not optional.

    Lanes: the structures run in two dependency lanes, one driver thread
    each — ``neardup → clusters`` (the critical path, submitted first)
    and ``text → ann``. A window is a chain of small Spark jobs whose
    driver gaps leave most cores idle; overlapping the independent lanes
    fills them. Each lane thread starts through
    ``pyspark.inheritable_thread_target`` with its own copy of the
    caller's local properties, so every job the stack starts carries the
    caller's job group, description and tags.

    Failures: each structure keeps its OWN exactly-once cursor, and there
    is deliberately no cross-structure transaction — the structures are
    independent serving surfaces, and holding one hostage to another's
    failure would couple their availability. A failed sync therefore
    skips only what depends on it: a near-dup failure skips the cluster
    sync, while a text failure still lets ann (and the other lane) run
    and commit. Every failure is logged as it happens; once both lanes
    finish, the first error is re-raised in lane order (neardup,
    clusters, text, ann). The structures that failed or were skipped
    resume from their cursors on the next call.

    ``route_maintenance=True`` sends each structure through
    ``maintain_index`` instead of its sync: the cost rule picks sync or
    rebuild PER STRUCTURE per window (round 13 — a sub-crossover corpus
    stops paying the sync floor stack-wide), with the table row count
    counted ONCE, before the lanes start, and shared across the four
    pricings."""
    if cluster_table is not None and neardup_index is None:
        raise ValueError(
            "sync_serving_stack: cluster_table requires neardup_index "
            "(the cluster view derives from the band index's pairs)"
        )
    n_rows = None
    if route_maintenance:
        from ..sinks.upsert import read_keyed_table

        n_rows = (
            read_keyed_table(spark, table_path).select(id_col).count()
        )
    text_kw = {"text_col": text_col, "id_col": id_col}
    ann_kw = {"id_col": emb_id_col, "emb_col": emb_col}
    # structure -> (index path, sync, extra positional args, keywords)
    plan = {
        "text": (text_index, sync_text_index, (), text_kw),
        "ann": (ann_index, sync_ann_index, (), ann_kw),
        "neardup": (neardup_index, sync_neardup_index, (), text_kw),
        "clusters": (
            cluster_table, sync_dedup_clusters, (neardup_index,), text_kw,
        ),
    }

    def step(kind: str) -> dict:
        path, sync, extra, kw = plan[kind]
        if route_maintenance:
            return maintain_index(
                spark, kind, path, table_path, from_version=from_version,
                n_rows=n_rows, neardup_index=neardup_index, **kw,
            )
        return sync(
            spark, path, table_path, *extra, from_version=from_version, **kw
        )

    out: dict = {}

    def run_lane(lane: tuple[str, ...]) -> list[Exception]:
        errors: list[Exception] = []
        for kind in lane:
            if kind == "clusters" and errors:
                break  # its near-dup window failed: nothing to derive from
            try:
                out[kind] = step(kind)
            except Exception as e:  # the first is re-raised, in lane order
                log.error("sync_serving_stack: %s failed", kind, exc_info=e)
                errors.append(e)
        return errors

    # the critical path (near-dup, then the clusters that wait on it)
    # is submitted first
    lanes = [
        tuple(k for k in chain if plan[k][0] is not None)
        for chain in (("neardup", "clusters"), ("text", "ann"))
    ]
    lanes = [lane for lane in lanes if lane]
    if lanes:
        with ThreadPoolExecutor(len(lanes)) as pool:
            # wrapped per lane, in this thread: each lane gets its own
            # copy of the caller's local properties
            futures = [
                pool.submit(inheritable_thread_target(spark)(run_lane), lane)
                for lane in lanes
            ]
            errors = [e for f in futures for e in f.result()]
        if errors:
            raise errors[0]
    return {k: out[k] for k in plan if k in out}


#: ladder-calibrated defaults for choose_maintenance, per structure:
#: (floor_rows, row_weight). floor_rows is the sync path's FIXED job
#: overhead (locates, probes, commits) expressed in rebuild-row
#: equivalents — the corpus size at which a zero-change sync costs the
#: same as a full rebuild; row_weight is the per-changed-row cost of the
#: sync path relative to one rebuilt row (a changed doc pays shingle/
#: minhash AND a locate/probe; a rebuilt doc pays one pass). Calibrated
#: against SCALING.md §r12's fixed-delta ladders: text crossover between
#: sf0.1 and sf1 (rebuild 1.6s vs sync 5-7s floor at sf0.1, 3× sync win
#: at sf10); ANN ≈ sf1 (frozen-rebuild par at sf10/16 cells, retrain 2×
#: worse); near-dup crossover ≈ sf1 (~60k docs); clusters just above
#: sf0.1 (rebuild 5s vs sync 7s there, 3.3-3.7× sync win at sf10).
MAINT_COST_DEFAULTS: dict[str, tuple[int, float]] = {
    "text": (30_000, 8.0),
    "ann": (60_000, 8.0),
    "neardup": (60_000, 10.0),
    "clusters": (10_000, 20.0),
}


def choose_maintenance(
    n_rows: int,
    n_changes: int,
    structure: str = "text",
    floor_rows: int | None = None,
    row_weight: float | None = None,
    max_change_fraction: float = 0.25,
) -> dict:
    """Price CDC sync against a full rebuild for one serving structure —
    the ``choose_compaction`` / ``choose_filtered_route`` free-statistic
    pattern applied to index maintenance (VERDICT r12 #2: the ladders
    measured both arms at every scale; this encodes the rule so a
    sub-crossover corpus stops paying the sync's fixed floor).

    Cost model, in REBUILD-ROW equivalents (the unit both arms share):

    * ``rebuild`` costs one full corpus pass ≈ ``n_rows``;
    * ``sync`` costs a fixed floor (``floor_rows`` — the locate/probe/
      commit job overhead, corpus-independent by the fixed-delta
      ladders) plus ``row_weight × n_changes``.

    Pick sync iff ``floor_rows + row_weight·n_changes < n_rows`` — with
    one override: a window touching ≥ ``max_change_fraction`` of the
    table rebuilds regardless (per-change work approaches a full pass,
    and for the cluster view a rebuild also reconciles the documented
    conservative-merge staleness for free).

    Pure function, no Spark jobs. Per-structure defaults are
    ladder-calibrated (``MAINT_COST_DEFAULTS``); env overrides
    ``SPARK_GRAFT_MAINT_FLOOR_ROWS`` / ``SPARK_GRAFT_MAINT_ROW_WEIGHT``
    apply to every structure (deployment-wide recalibration)."""
    if structure not in MAINT_COST_DEFAULTS:
        raise ValueError(
            f"choose_maintenance: unknown structure {structure!r} — "
            f"one of {sorted(MAINT_COST_DEFAULTS)}"
        )
    d_floor, d_weight = MAINT_COST_DEFAULTS[structure]
    if floor_rows is None:
        floor_rows = int(
            os.environ.get("SPARK_GRAFT_MAINT_FLOOR_ROWS", str(d_floor))
        )
    if row_weight is None:
        row_weight = float(
            os.environ.get("SPARK_GRAFT_MAINT_ROW_WEIGHT", str(d_weight))
        )
    n_rows = max(int(n_rows), 0)
    n_changes = max(int(n_changes), 0)
    sync_cost = floor_rows + row_weight * n_changes
    out = {
        "structure": structure,
        "n_rows": n_rows,
        "n_changes": n_changes,
        "floor_rows": int(floor_rows),
        "row_weight": float(row_weight),
        "sync_cost_rows": int(sync_cost),
        "rebuild_cost_rows": n_rows,
    }
    if n_rows and n_changes >= max_change_fraction * n_rows:
        return {**out, "route": "rebuild", "reason": "change_fraction"}
    if sync_cost < n_rows:
        return {**out, "route": "sync", "reason": "cost"}
    return {**out, "route": "rebuild", "reason": "cost"}


def maintain_index(
    spark: SparkSession,
    kind: str,
    index_path: str,
    table_path: str,
    from_version: int | None = None,
    neardup_index: str | None = None,
    n_rows: int | None = None,
    route: dict | None = None,
    text_col: str = "text",
    id_col: str | None = None,
    emb_col: str = "embedding",
    n_cells: int | None = None,
) -> dict:
    """Maintain ONE serving structure by whichever arm is cheaper —
    ``choose_maintenance`` routes, then either the structure's CDC sync
    runs or a full rebuild from the table's version-pinned snapshot
    replaces it (cursor committed to the snapshot version, so the CDC
    loop resumes seamlessly either way). Same single-maintainer contract
    as the syncs; the rebuild arms are the structures' own stop-the-world
    builders.

    Pricing costs two cheap jobs on top of the sync path: one id-level
    count of the netted change window and one key-only count of the
    table (parquet footer metadata; pass ``n_rows=`` to skip when the
    caller tracks it). ``route=`` lets a caller reuse a prior decision —
    advisory, like ``knn_filtered_auto``'s.

    ``kind``: ``text`` | ``ann`` | ``neardup`` | ``clusters`` (clusters
    takes the CLUSTER table as ``index_path`` and needs
    ``neardup_index=`` for pairs — rebuild goes through
    ``build_cluster_table``, which also reconciles conservative-merge
    staleness exactly)."""
    from ..operators import clusters as _clusters
    from ..sinks.upsert import read_keyed_table

    if kind not in MAINT_COST_DEFAULTS:
        raise ValueError(
            f"maintain_index: unknown kind {kind!r} — "
            f"one of {sorted(MAINT_COST_DEFAULTS)}"
        )
    if kind == "clusters" and neardup_index is None:
        raise ValueError(
            "maintain_index(kind='clusters') needs neardup_index= (the "
            "cluster view derives from the band index's pairs)"
        )
    if id_col is None:
        id_col = "vec_id" if kind == "ann" else "doc_id"
    content_col = emb_col if kind == "ann" else text_col
    stream = cdc_stream_id(table_path)
    if kind == "text":
        committed = _cursor(_search._read_index_manifest(index_path), stream)
    elif kind == "ann":
        committed = _cursor(_sim._read_ann_manifest(index_path), stream)
    elif kind == "neardup":
        committed = _cursor(
            _dedup._read_neardup_meta(index_path) or {}, stream
        )
    else:
        committed = _clusters.cluster_cursor(index_path, stream)
    start, cur = _window(
        spark, table_path, committed, from_version, f"maintain_index({kind})"
    )
    if start >= cur:
        return {"route": "none", "from": start, "to": cur}
    if route is None:
        # one id-level count of the netted window, scoped to the SAME
        # content column the sync maintains — so a key whose other
        # columns changed nets out of the price exactly as it nets out
        # of the sync
        n_changes = (
            read_changes(spark, table_path, start, cur, columns=[content_col])
            .where(F.col(CHANGE_TYPE_COL) != "update_preimage")
            .select(id_col)
            .count()
        )
        if n_rows is None:
            # key-only count: parquet row-group metadata, no data pages
            n_rows = read_keyed_table(spark, table_path).select(id_col).count()
        route = choose_maintenance(n_rows, n_changes, structure=kind)
    if route["route"] == "sync":
        if kind == "text":
            res = sync_text_index(
                spark, index_path, table_path, from_version=from_version,
                text_col=text_col, id_col=id_col,
            )
        elif kind == "ann":
            res = sync_ann_index(
                spark, index_path, table_path, from_version=from_version,
                id_col=id_col, emb_col=emb_col,
            )
        elif kind == "neardup":
            res = sync_neardup_index(
                spark, index_path, table_path, from_version=from_version,
                text_col=text_col, id_col=id_col,
            )
        else:
            res = sync_dedup_clusters(
                spark, index_path, table_path, neardup_index,
                from_version=from_version, text_col=text_col, id_col=id_col,
            )
        return {**res, "route": "sync", "decision": route}
    # rebuild arm: snapshot PINNED at the window end (read_keyed_table's
    # version= time-travel), so committing the cursor at `cur` is exact —
    # no carry/clamp dance, the base IS the table at cur
    snap = read_keyed_table(spark, table_path, version=cur)
    if kind == "text":
        _search.build_text_index(
            snap.select(id_col, text_col), index_path,
            text_col=text_col, id_col=id_col,
        )
        _commit_text_cursor(spark, index_path, cur, stream)
    elif kind == "ann":
        man = _sim._read_ann_manifest(index_path)
        if n_cells is None:
            n_cells = int(man["n_cells"]) if man else 16
        # a live pq sidecar survives the rebuild (same sub-quantizer
        # geometry; codebooks retrain with the coarse quantizer — the
        # rebuild arm is the retraining arm by definition)
        pq_params = (man or {}).get("pq_params") or {}
        _sim.build_ann_index(
            snap.select(id_col, emb_col), index_path,
            n_cells=n_cells, id_col=id_col, emb_col=emb_col,
            pq=bool((man or {}).get("pq")),
            pq_m=pq_params.get("m"), pq_ksub=pq_params.get("ksub"),
        )
        _commit_ann_cursor(spark, index_path, cur, stream)
    elif kind == "neardup":
        _dedup.build_neardup_index(
            snap.select(id_col, text_col), index_path,
            text_col=text_col, id_col=id_col,
            as_of_epoch=cur, epoch_stream=stream,
        )
    else:
        _clusters.build_cluster_table(
            snap.select(id_col, text_col), index_path,
            text_col=text_col, id_col=id_col,
            epoch=cur, epoch_stream=stream,
        )
    return {"route": "rebuild", "from": start, "to": cur, "decision": route}
