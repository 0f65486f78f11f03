"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run generates its input
tables under ``.perfbench/`` in the checkout, starts the engine's own
session (``session.get_spark``) with observation settings only, times
the workload, checks every output, removes its scratch files and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics. The line before it describes the run's
configuration. The exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import harness  # noqa: E402
import sparkstat  # noqa: E402
import workloads  # noqa: E402

# Set-up is repeated this many times per run and its median reported;
# the first repetition also launches the JVM.
SETUPS = 3
# Well below the RAM of a small host; get_spark's default is sized for
# a large server.
DRIVER_MEM = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> dict[str, str]:
    """Point every scratch location of Spark, Python and the engine into
    ``work``, make the engine importable by Python workers, and return
    the observation-only session settings."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    return {
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        # -XX:-UsePerfData: the JVM would otherwise write its statistics
        # file under /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def set_up(conf: dict[str, str], sf_dir: str):
    """Start the engine's session and make a first read of the largest
    input table. Returns the session and the two durations."""
    from kaspi_etl_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench", cpus=cpu_count(), extra_conf=conf)
    t1 = time.time()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    return spark, t1 - t0, time.time() - t1


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM and its Python workers
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(sparkstat.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def git_head() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def describe(spark, args, wl, res, tally, setups, phases, rss_mb) -> dict:
    """The run's configuration and sample counts, so a result file says
    what produced it."""
    import pyspark

    sc = spark.sparkContext
    tail = harness.highest_percentile(res.op_s, (90, 75))
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": wl.sf,
        "cpus": cpu_count(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": sc._jvm.System.getProperty("java.version"),
        "git": git_head(),
        "setups": [round(a + b, 4) for a, b in setups],
        "peak_rss_mb": round(rss_mb, 1),
        "phase_s": phases,
        "passes": len(res.pass_s),
        "pass_walls": [round(x, 4) for x in res.pass_s],
        "pass_cpus": [round(x, 4) for x in res.pass_cpu_s],
        "op_medians": {k: round(statistics.median(v), 4) for k, v in res.ops.items() if v},
        "op_samples": len(res.op_s),
        "op_tail": {"q": tail[0], "s": tail[1]} if tail else None,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "failed_frac": tally.failed_frac,
        "failures": tally.reasons,
    }
    if isinstance(wl, workloads.QueryWorkload):
        info["queries"] = len(wl.queries)
    info.update(res.info)
    return info


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import kaspi_etl_spark.registry  # noqa: F401 - the program under test
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    t_run = time.time()
    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    tally = harness.Tally()
    try:
        conf = prepare_env(work)
        sf_dir = os.path.join(work, "data")
        phases = {}  # wall of each part of the run, for the run record
        t = time.time()
        stream = isinstance(wl, workloads.StreamWorkload)
        datagen.write(wl.sf, sf_dir, ("lineitem",) if stream else datagen.TABLES)
        phases["datagen"] = time.time() - t
        with sparkstat.RssSampler() as rss:
            setups = []
            for i in range(SETUPS):
                spark, start_s, touch_s = set_up(conf, sf_dir)
                setups.append((start_s, touch_s))
                if i < SETUPS - 1:
                    spark.stop()
            phases["setup"] = time.time() - t - phases["datagen"]
            try:
                t = time.time()
                ctx = workloads.Context(spark, tally, work, bool(args.trace))
                if stream:
                    res = workloads.run_stream_workload(ctx, wl, sf_dir, args.seed, args.seconds)
                else:
                    res = workloads.run_query_workload(ctx, wl, sf_dir, args.seed, args.seconds)
                phases["workload"] = time.time() - t
                info = describe(spark, args, wl, res, tally, setups, phases, rss.peak_mb)
            finally:
                t = time.time()
                spark.stop()
                stop_jvm()
                phases["stop"] = time.time() - t
    except Exception:  # noqa: BLE001 - the run is invalid; report and print no result
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()  # no-op when the session already stopped it
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch directory is still there

    if args.trace:
        # a layer the workload does not run reports 0
        metrics = {k: res.layers.get(k, 0.0) for k in workloads.PER_LAYER}
        metrics["session.start_s"] = statistics.median(s for s, _ in setups)
        metrics["session.first_touch_s"] = statistics.median(t for _, t in setups)
        metrics["process.peak_rss_mb"] = rss.peak_mb
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = res.end_to_end()
        metrics["setup_s"] = statistics.median(s + t for s, t in setups)
        units = {k: _unit(k) for k in metrics}
    info["run_s"] = round(time.time() - t_run, 2)
    print(json.dumps({"run": info}, default=str))
    correct = tally.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0 if correct else 1


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_frac") or name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
