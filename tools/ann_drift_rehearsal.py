"""ANN distribution-drift rehearsal (round 10): quantify append-drift cell
bloat and verify ``split_ann_cells`` repairs it without recall loss.

Protocol:
  1. build the IVF index (with SQ8 codes) on the base embeddings;
  2. append a SHIFTED-distribution batch (vectors contracted toward a
     fixed offset direction — a new data mode the frozen centroids never
     trained on), re-keyed past the base id range. Appends assign to the
     NEAREST EXISTING centroid, so the mode piles into one/few cells:
     the silent degradation ``ann_cell_health`` exists to catch;
  3. measure, for a query batch drawn FROM the shifted mode: recall@k vs
     brute force over the merged corpus, and the probe-union row count
     (the rows a probe actually scans — the cost side of the trade);
  4. run ``split_ann_cells`` at a health bound; re-measure recall at a
     PROPORTIONAL probe budget (same probed corpus fraction) and the
     probe cost.

Pinned expectations (the drift-rehearsal floor the verdict asked for):
  * post-append health shows the drift (max/mean skew well above 1);
  * post-split recall (proportional budget) >= pre-split recall - 0.02
    (in-mode queries genuinely need the whole mode, so their probed-row
    count is a property of the data, not the quantizer — the win is that
    the mode is now SEVERAL bounded cells, so a tighter probe budget can
    trade recall/cost along a curve the single bloated cell never
    offered);
  * split loop converges: every cell lands at/below the bound (the
    balanced layout appends alone can never restore).

Usage: python tools/ann_drift_rehearsal.py [sf_dir=/root/testdata/sf0.1]
Prints one JSON line for SCALING.md.
"""

from __future__ import annotations

import json
import math
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark import manifest as MF  # noqa: E402
from es_household_retention_spark_job_spark.operators import (  # noqa: E402
    similarity as S,
)
from es_household_retention_spark_job_spark.session import get_spark  # noqa: E402

K = 5
N_PROBE = 4
ID_OFFSET = 10_000_000


def probe_rows(spark, idx: str, queries, n_probe: int) -> int:
    """Rows the batch's probe-union cells hold — the scan cost a query
    pays, from the manifest ledger (no data read)."""
    manifest = MF.read(idx, S.ANN_MANIFEST)
    cents = S._read_centroids(spark, idx, manifest)
    union = {
        r["_c"]
        for r in S.with_unit_meta(queries, "embedding")
        .select(
            F.explode(S._probe_cells(F.col("_emb"), cents, n_probe)).alias("_c")
        )
        .distinct()
        .collect()
    }
    rows = S._manifest_cell_rows(spark, idx, manifest)
    return sum(int(rows.get(str(c), 0)) for c in union)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="ann-drift", cpus=32, shuffle_partitions=32)
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_base = embs.count()

    # the shifted mode: contract toward a fixed direction (0.2·x + 0.9 on
    # every dim) — unit-incompatible with the base distribution, exactly
    # the "new crawl / new modality" drift appends cannot re-train for
    shifted = embs.select(
        (F.col("vec_id") + ID_OFFSET).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.2) + F.lit(0.9)).cast("float")
        ).alias("embedding"),
    ).where(F.col("vec_id") % 2 == 0)
    n_shift = shifted.count()

    idx = str(Path(tempfile.mkdtemp(prefix="ann_drift_")) / "idx")
    S.build_ann_index(embs, idx, n_cells=16, iters=3)
    health0 = S.ann_cell_health(spark, idx)

    t0 = time.time()
    S.append_ann_index(shifted, idx)
    t_append = time.time() - t0
    health1 = S.ann_cell_health(spark, idx)

    merged = embs.unionByName(shifted)
    queries = shifted.where(F.col("vec_id") % 500 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_bruteforce(merged, queries, k=K).collect()
    }

    def recall(n_probe: int) -> float:
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.knn_ivf_indexed(
                spark, idx, queries, k=K, n_probe=n_probe
            ).collect()
        }
        return len(got & exact) / len(exact)

    rec_before = recall(N_PROBE)
    cost_before = probe_rows(spark, idx, queries, N_PROBE)

    bound = int(2 * health1["mean_rows"])
    t0 = time.time()
    n_split, rounds = 0, 0
    # loop to convergence: a 2-means split of a multi-modal fat cell can
    # leave one half still past the bound — same cadence loop as
    # compaction (needs_compaction -> compact)
    while rounds < 8:
        did = S.split_ann_cells(spark, idx, max_rows_per_cell=bound)
        if did == 0:
            break
        n_split += did
        rounds += 1
    t_split = time.time() - t0
    health2 = S.ann_cell_health(spark, idx, max_rows_per_cell=bound)
    # proportional budget: same probed corpus fraction as N_PROBE of the
    # pre-split cell count
    probe_after = math.ceil(N_PROBE * health2["n_cells"] / health1["n_cells"])
    rec_after = recall(probe_after)
    cost_after = probe_rows(spark, idx, queries, probe_after)

    out = {
        "sf_dir": sf_dir,
        "base_rows": n_base,
        "shifted_rows": n_shift,
        "append_sec": round(t_append, 2),
        "split_sec": round(t_split, 2),
        "n_split": n_split,
        "skew_before_append": round(health0["skew"], 2),
        "skew_after_append": round(health1["skew"], 2),
        "skew_after_split": round(health2["skew"], 2),
        "split_rounds": rounds,
        "max_cell_before_split": health1["max_rows"],
        "max_cell_after_split": health2["max_rows"],
        "bound": bound,
        "n_cells_after_split": health2["n_cells"],
        "n_probe_before": N_PROBE,
        "n_probe_after": probe_after,
        "recall_before": round(rec_before, 3),
        "recall_after": round(rec_after, 3),
        "probe_rows_before": cost_before,
        "probe_rows_after": cost_after,
        "recall_floor_pass": bool(rec_after >= rec_before - 0.02),
        "balanced_pass": not health2["oversized"],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
