"""ANN maintenance under concurrent readers (round 11, r10 verdict #7):
run append / split / compact in a maintenance thread while a query stream
hammers the same index, and assert per query iteration that

* the read is CONSISTENT — the centroid matrix generation and the cell
  file list come from ONE manifest read (the ``centroids_dir`` atomic
  pointer claim): observable as |centroids| == manifest.n_cells, every
  planned cell file readable, and the query completing without error even
  while splits retire whole centroid generations under it;
* recall never dips below the floor mid-maintenance: the fixed query set
  comes from the FROZEN base clusters, the maintenance appends vectors
  into NEW far-away clusters (cos ≈ 0 to every query), so the base-corpus
  brute-force top-k stays the ground truth throughout and any transient
  inconsistency (wrong centroid pairing, half-visible split) would read
  as a recall drop.

One JSON line per query iteration ({iter, version, n_cells, recall,
consistent}) + one summary line with the maintenance-op log. PASS =
every line consistent and recall ≥ floor.

Usage: python tools/ann_concurrent_rehearsal.py [iters=30]
"""

from __future__ import annotations

import json
import sys
import tempfile
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from es_household_retention_spark_job_spark import manifest as MF  # noqa: E402

K = 5
RECALL_FLOOR = 0.9
N_PROBE = 8


def main() -> None:
    iters = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    from es_household_retention_spark_job_spark.operators import similarity as S
    from es_household_retention_spark_job_spark.operators.evalcorpus import (
        clustered_embeddings,
    )
    from es_household_retention_spark_job_spark.session import get_spark

    spark = get_spark(app_name="ann-concurrent", cpus=32, shuffle_partitions=32)
    base = clustered_embeddings(spark, n_clusters=32, per_cluster=64).select(
        "vec_id", "embedding"
    )
    base = base.persist()
    n_base = base.count()
    queries = base.where(F.col("vec_id") % 37 == 0).persist()
    n_q = queries.count()

    idx = str(Path(tempfile.mkdtemp(prefix="ann_conc_")) / "idx")
    S.build_ann_index(base, idx, n_cells=16, iters=3)

    # frozen ground truth: base-corpus exact top-k for the fixed queries.
    # Appends land in clusters 100.. (fresh random directions, cos≈0 to
    # every base cluster at dim 64), so these stay the true neighbors.
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_bruteforce(base, queries, k=K).collect()
    }

    ops: list[str] = []
    stop = threading.Event()

    def maintenance() -> None:
        gen = 0
        while not stop.is_set():
            gen += 1
            batch = clustered_embeddings(
                spark, n_clusters=4, per_cluster=64
            ).select(
                (F.col("vec_id") + 1_000_000 * gen).alias("vec_id"),
                # re-mix per generation so every append is a new mode:
                # reverse gives a different (still unit) direction family
                F.reverse("embedding").alias("embedding")
                if gen % 2
                else F.col("embedding"),
            )
            try:
                S.append_ann_index(batch, idx, epoch=gen, epoch_stream="conc")
                ops.append(f"append:{gen}")
                n = S.split_ann_cells(spark, idx, max_rows_per_cell=300)
                if n:
                    ops.append(f"split:{n}")
                if gen % 3 == 0:
                    c = S.compact_ann_index(spark, idx)
                    ops.append(f"compact:{c}")
            except Exception as exc:  # loud in the artifact, not swallowed
                ops.append(f"ERROR:{type(exc).__name__}:{exc}")
                stop.set()
                return
            time.sleep(0.05)

    t = threading.Thread(target=maintenance, daemon=True)
    t.start()
    all_ok = True
    try:
        for i in range(iters):
            man = MF.read(idx, S.ANN_MANIFEST) or {}
            cents = S._read_centroids(spark, idx, man)
            consistent = len(cents) == int(man.get("n_cells", len(cents)))
            got = {
                (r.query_id, r.neighbor_id)
                for r in S.knn_ivf_indexed(
                    spark, idx, queries, k=K, n_probe=N_PROBE
                ).collect()
            }
            recall = len(got & exact) / len(exact) if exact else 1.0
            ok = consistent and recall >= RECALL_FLOOR
            all_ok = all_ok and ok
            print(
                json.dumps(
                    {
                        "iter": i,
                        "version": int(man.get("version", 1)),
                        "n_cells": int(man.get("n_cells", 0)),
                        "recall": round(recall, 4),
                        "consistent": consistent,
                        "ok": ok,
                    }
                ),
                flush=True,
            )
    finally:
        stop.set()
        t.join(timeout=120)
    errors = [o for o in ops if o.startswith("ERROR")]
    print(
        json.dumps(
            {
                "summary": True,
                "base_corpus": n_base,
                "n_queries": n_q,
                "maintenance_ops": len(ops),
                "ops_tail": ops[-8:],
                "maintenance_errors": errors,
                "pass": all_ok and not errors,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
