"""Linkage benchmark: end-to-end and per-layer metrics for two workloads.

    python3 perfbench/run.py --workload pvs_small_sample --seed 1 --seconds 40 --trace 0

Runs in one process on ``local[<cores>]`` with the package's default
session (``session.get_spark``). Set-up starts the session, generates the
workload's inputs from ``--seed`` into a temp dir, and warms up the Python
workers and the JVM Jaro-Winkler UDF. Timed iterations then run until
``--seconds`` would be exceeded (at least one). Job and py4j counts are
compared between the iterations of a traced run. The outputs are checked
after the timer stops.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` adds spans, job tagging, py4j counting and a Spark event log
and reports the per-layer metrics. Full detail (per-iteration counts,
count drift, spans with self time) goes to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pvs_small_sample", "catalog_python_kernels")
GOLDENS = os.path.join(HERE, "goldens.json")


class ProgramMissing(Exception):
    """The package under test cannot be imported from the checkout."""


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the benchmark's own tests")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d))
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(work: str, trace: bool):
    from person_linkage_case_study_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """Spawn the Python workers (pandas UDF on every core) and load the
    JVM Jaro-Winkler UDF, on tiny inputs."""
    from pyspark.sql import functions as F

    from person_linkage_case_study_spark.functions.phonetics import nysiis_udf
    from person_linkage_case_study_spark.functions.similarity import ensure_jvm_jw

    n = spark.sparkContext.defaultParallelism
    names = F.concat(F.lit("SMITH"), F.col("id").cast("string"))
    spark.range(0, 8 * n, 1, n).select(nysiis_udf(names)).collect()
    if not ensure_jvm_jw(spark):
        raise RuntimeError("JVM Jaro-Winkler UDF did not load")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every descendant to end."""
    from pyspark import SparkContext

    from instrument import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):  # Python workers that outlived the JVM
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.2)


def load_goldens() -> dict:
    if not os.path.exists(GOLDENS):
        return {}
    with open(GOLDENS) as f:
        return json.load(f)


def measure(probe, wl, st, seconds: float, records: list) -> None:
    """Timed iterations, each one closed loop of the workload's calls,
    appended to ``records`` as they finish: at least one, and another only
    while it is expected to end within ``seconds``."""
    from instrument import reset_peak_rss, tree_cpu_s

    deadline = time.time() + seconds
    reset_peak_rss(probe.jvm_pid)
    while True:
        probe.iteration += 1
        hook0 = probe.hook_s
        c0, t0 = tree_cpu_s(), time.time()
        out = wl.iteration(probe, st)
        wall, cpu = time.time() - t0, tree_cpu_s() - c0
        records.append({"wall_s": wall, "cpu_s": cpu, "hook_s": probe.hook_s - hook0,
                        "out": out})
        print(f"[perfbench] iteration {probe.iteration}: wall {wall:.3f} s, "
              f"cpu {cpu:.3f} s", file=sys.stderr)
        walls = [r["wall_s"] for r in records]
        if time.time() + statistics.median(walls) > deadline:
            return


def run(args) -> dict:
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    try:
        prepare_env(work)
        try:
            import layers
        except ImportError as exc:
            raise ProgramMissing(exc) from exc
        from instrument import Probe, peak_rss_mb

        wl = layers.workload(args.workload)
        spark = start_session(work, bool(args.trace))
        probe = Probe(spark, bool(args.trace))
        records: list[dict] = []
        observed, setup_s = None, None
        try:
            try:
                t_session = time.time()
                warm_up(spark)
                t_warm = time.time()
                st = wl.setup(probe, work, args.seed, args.scale)
                setup_s = time.time() - T_START
                print(f"[perfbench] setup {setup_s:.3f} s: session {t_session - T_START:.3f} s, "
                      f"warm-up {t_warm - t_session:.3f} s, inputs {time.time() - t_warm:.3f} s",
                      file=sys.stderr)
                measure(probe, wl, st, args.seconds, records)
            except Exception as exc:
                record_exception(probe, 0, "run", exc)
            peak = peak_rss_mb(probe.jvm_pid)
            probe.iteration = -1  # output checks, after the timer
            if records:
                failed_before = probe.failed
                try:
                    observed = check_outputs(probe, wl, st, records, args)
                except Exception as exc:
                    record_exception(probe, failed_before, "output checks", exc)
        finally:
            stop_session(spark)
        if setup_s is None:
            setup_s = time.time() - T_START
        groups = None
        if args.trace:
            from eventlog import read_event_log

            groups = read_event_log(os.path.join(work, "eventlog"))
        return report(args, probe, records, observed, setup_s, peak, groups)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def record_exception(probe, failed_before: int, name: str, exc: Exception) -> None:
    """A run that raises is reported as a failed operation, not a crash."""
    traceback.print_exc()
    if probe.failed == failed_before:  # raised outside a timed call
        probe.check(name, False, f"{type(exc).__name__}: {exc}")


def check_outputs(probe, wl, st, records, args) -> dict:
    """Check the last iteration against its golden (or the workload's
    invariants), and every earlier iteration against the last."""
    last = wl.signature(records[-1]["out"])
    for i, r in enumerate(records[:-1], 1):
        sig = wl.signature(r["out"])
        probe.check(f"iteration {i} output", sig == last, f"{sig} != {last}")
    observed = wl.observe(probe, st, records[-1]["out"])
    # the synthesized world's noise depends on partitioning, so on the core count
    key = f"{args.scale}/local[{os.environ['SPARK_GRAFT_CPUS']}]/{args.seed}"
    golden = load_goldens().get(wl.NAME, {}).get(key)
    wl.check(probe, observed, wl.expected(st, golden))
    return observed


def report(args, probe, records, observed, setup_s, peak, groups) -> dict:
    import layers

    if args.trace:
        metrics, detail = layers.per_layer(probe, records, observed, groups)
        metrics["jvm.peak_rss_mb"] = peak or 0.0
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(r["wall_s"] for r in records) if records else 0.0,
            "cpu_s": statistics.median(r["cpu_s"] for r in records) if records else 0.0,
        }
        detail = {"jvm_peak_rss_mb": peak}
    units = layers.units(bool(args.trace))
    result = {
        "correct": probe.failed == 0 and bool(records),
        "attempted": max(probe.attempted, 1),
        "failed": probe.failed if records else max(probe.failed, 1),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(
            {**result, "error_rate": result["failed"] / result["attempted"],
             "failures": probe.failures, "observed": observed,
             "iterations": [{k: v for k, v in r.items() if k != "out"} for r in records],
             **detail},
            f, indent=1, default=str,
        )
    for line in probe.failures:
        print(f"[perfbench] FAILED {line}", file=sys.stderr)
    for d in detail.get("count_drift", []):
        print(f"[perfbench] count drift: {d['layer']}.{d['counter']} "
              f"{d['per_iteration']}", file=sys.stderr)
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        result = run(args)
    except ProgramMissing as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
