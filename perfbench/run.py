"""End-to-end retention benchmark: one workload per process.

    python3 perfbench/run.py --workload backfill|cdc|serving_sync \\
        --seed N --seconds S --trace 0|1 [--sf 0.1]

Run from the repository root. The run starts one local Spark session with
the package defaults the CLI uses (all cores), builds the workload's inputs
from the seed, then times reps for ``--seconds``, at least one, starting
with the first. Every rep is checked against a reference built at set-up.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it carries the
run's provenance, rep counts and ``failed_ops_ratio``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "es_household_retention_spark_job_spark"

#: Every workload times its first rep, on a JVM that has run only the
#: set-up: the package's CLI runs one batch job per process, so its users
#: pay that cold start on every run, and the run budget (README.md) has no
#: room for a warm-up rep. A first rep ran 1.8x (backfill), 1.26x (cdc) and
#: 1.11x (serving_sync) as long as the second.
WORKLOADS = ("backfill", "cdc", "serving_sync")


def reported_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """{name: unit} of the end-to-end and per-layer metrics the last line
    reports, as ``BENCHMARK.json`` at the checkout's root lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest() -> str:
    """sha256 over the package's sources: names the tree state measured
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_describe() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "describe", "--always", "--dirty"],
            cwd=ROOT, env=env, capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() or "unknown"


def dir_files(path: str) -> dict[str, int]:
    """{relative parquet path: bytes} under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(dirpath, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"{PKG} is not next to perfbench/: run from a full checkout")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    # keep every scratch file of Python, the JVM and Spark in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    sys.path[:0] = [HERE, ROOT]
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run(args, work: str) -> int:
    import pyspark

    from es_household_retention_spark_job_spark import session

    import layertrace
    import workloads

    cores = os.cpu_count() or 1
    conf = {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata file: the JVM would write it under /tmp whatever
        # java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(layertrace.event_log_conf(f"{work}/eventlog"))
    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    tracer = layertrace.Tracer(spark.sparkContext) if args.trace else None
    if tracer:
        tracer.install()
    span = tracer.span if tracer else (lambda name: nullcontext())

    cls = workloads.WORKLOADS[args.workload]
    failed = attempted = 0
    walls: list[float] = []
    rows: list[int] = []
    rep_ids: list[str] = []
    store_stats: list[dict] = []
    try:
        with span("perfbench.setup"):
            wl = cls(spark, work, args.seed, args.sf)
        setup_s = time.perf_counter() - T_START
        log(f"set-up {setup_s:.2f}s")
        measure_t0 = time.perf_counter()
        for i in itertools.count(1):
            if i > 1 and time.perf_counter() - measure_t0 >= args.seconds:
                break
            wl.prepare()
            before = dir_files(wl.store)
            v_before = wl.version_of_store()
            ok, wall, rec = False, float("nan"), None
            attempted += 1
            try:
                with span("perfbench.rep") as rec:
                    r0 = time.perf_counter()
                    n = wl.rep()
                    wall = time.perf_counter() - r0
                with span("perfbench.check"):
                    ok = wl.check()
            except Exception:  # noqa: BLE001 - a failed rep is counted, not fatal
                traceback.print_exc()
            log(f"rep {i}: {wall:.3f}s ok={ok}")
            if not ok:
                failed += 1
            else:
                walls.append(wall)
                rows.append(n)
                if rec is not None:
                    rep_ids.append(rec["id"])
                after = dir_files(wl.store)
                store_stats.append(
                    {
                        "upsert.files_written": len(set(after) - set(before)),
                        "upsert.store_bytes": sum(after.values()),
                        "upsert.versions_committed": wl.version_of_store() - v_before,
                    }
                )
    finally:
        stop_spark(spark)

    # the JVM has been waited for, so it is the largest child
    peak_mb = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    ) / 1024
    e2e: dict[str, float] = {}
    if walls:
        e2e = {
            "setup_s": setup_s,
            "job_s": statistics.median(walls),
            "rows_per_s": statistics.median(r / w for r, w in zip(rows, walls)),
        }
    summary = {
        "provenance": {
            "git": git_describe(),
            "source_sha256": source_digest(),
            "cores": cores,
            "nproc": os.cpu_count(),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "workload": args.workload,
            "seed": args.seed,
            "sf": args.sf,
            "inputs": "perfbench/inputs.py: fixed synthetic tables; the seed picks the segment and window",
            "buckets": cls.buckets,
            "trace": args.trace,
            "warmup_reps": 0,
            "timed_reps": len(walls),
        },
        "job_s_samples": walls,
        "failed_ops_ratio": failed / attempted,
        "peak_rss_mb": peak_mb,
        **e2e,
    }
    end_to_end, per_layer = reported_metrics()
    metrics, units = {}, {}
    unattributed = 0
    if walls and args.trace:
        log_data = layertrace.read_event_log(f"{work}/eventlog")
        per_rep = [layertrace.attribute(tracer.spans, log_data, rid, cores) for rid in rep_ids]
        for m, stats in zip(per_rep, store_stats):
            m.update(stats)
            m["upsert.bytes_written"] = m["upsert.upsert_parquet.bytes_written"]
        layers = {k: statistics.median(r[k] for r in per_rep) for k in per_rep[0]}
        layers["spark.peak_rss_mb"] = peak_mb
        layers["session.get_spark.s"] = get_spark_s
        layers["upsert.write_keyed_table.s"] = tracer.total("upsert.write_keyed_table")
        # every job the run started must belong to exactly one span
        unattributed = layertrace.unattributed_jobs(tracer.spans, log_data)
        summary["trace_jobs_in_log"] = len(log_data["jobs"])
        summary["trace_unattributed_jobs"] = unattributed
        summary["layers"] = layers
        metrics, units = {k: layers[k] for k in per_layer}, per_layer
    elif walls:
        metrics, units = e2e, end_to_end
    log(
        f"{args.workload}: job_s={statistics.median(walls) if walls else float('nan'):.3f} "
        f"over {len(walls)} timed reps, setup_s={setup_s:.2f}, "
        f"failed_ops_ratio={failed}/{attempted}"
        + (f", unattributed jobs={unattributed}" if unattributed else "")
    )
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": failed == 0 and bool(walls) and unattributed == 0,
                "attempted": attempted,
                "failed": failed if walls else attempted,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in metrics},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
