"""etly-spark benchmark: one closed-loop client against a local Spark.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 30 --trace 0

Run from the repository root. Workloads: ``catalog``,
``transfer_incremental``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` its
per-layer metrics, gathered from spans around calls
into the engine's modules and from Spark's event log. The line before
it stamps the run (master, defaultParallelism, nproc, MemTotal, seed).
Everything the run writes lives under ``.perfbench_work/`` in the
repository root and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

from common import ROOT, PeakRss, cpu_count, load_metric_specs, process_tree, result_line, stamp

WORKLOADS = ("catalog", "transfer_incremental")
# one client at a time, but the JVM, its Python workers and the engine's
# window pool still use every core
DRIVER_MEM = "2g"


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> str:
    """Point every scratch location of the engine, Spark, the JVM and
    the Python workers into ``work``; returns the event-log directory."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers start outside this interpreter: they find etly_spark
    # only through PYTHONPATH, whatever directory the run starts in
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no hsperfdata files in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's short-lived launcher JVM
    confs = {
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + events
        # one plain JSON-lines file (Spark 4 defaults to rolled, compressed logs)
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    return events


def make_workload(name: str):
    if name == "catalog":
        from catalog import Catalog

        return Catalog()
    from transfer import Incremental

    return Incremental()


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait for
    every process this run started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while len(process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while len(process_tree()) > 1 and time.time() < deadline + 10:
        time.sleep(0.1)


def layer_metrics(wl, tracer, log, since: float, until: float, cycles: int, extra: dict) -> dict:
    specs = load_metric_specs()["per_layer"]
    out = {s["name"]: 0.0 for s in specs}
    spark_side = log.summary(log.jobs_in([(since, until)]))
    out.update({k: v / cycles for k, v in spark_side.items()})
    out.update(wl.layers(tracer, log, since, cycles))
    out.update(extra)
    unknown = set(out) - {s["name"] for s in specs}
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "etly_spark")):
        print(f"etly_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    t_start = time.monotonic()
    events = prepare_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    spark = None
    try:
        from etly_spark.io import staging
        from etly_spark.session import get_spark

        t0 = time.monotonic()
        spark = get_spark("perfbench")
        session_s = time.monotonic() - t0
        info = stamp(spark, workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace)
        wl = make_workload(args.workload)
        wl.setup(spark, os.path.join(work, "data"), args.seed)
        setup_s = time.monotonic() - t_start
        wl.reset()

        if not args.trace:
            rss = PeakRss()
            rss.start()
            t0 = time.monotonic()
            while time.monotonic() - t0 < args.seconds:
                wl.cycle(spark)
            metrics = {**wl.end_to_end(), "setup_s": setup_s, "peak_rss_mb": rss.stop_mb()}
            info["peak_rss_mb_by_command"] = {k: round(v, 1) for k, v in rss.by_command.items()}
            specs = load_metric_specs()["end_to_end"]
        else:
            from tracing import EventLog, Patches, Tracer

            untraced = wl.cycle(spark)
            wl.reset()
            tracer = Tracer()
            staged0 = dict(staging.stats)
            since = time.time()
            traced, cycles = 0.0, 0
            with Patches(tracer) as patches:
                wl.patch(patches)
                t0 = time.monotonic()
                while cycles == 0 or time.monotonic() - t0 < args.seconds:
                    traced += wl.cycle(spark, extra=True)
                    cycles += 1
            until = time.time()
            staged = {k: (staging.stats[k] - staged0[k]) / cycles for k in staged0}
            stop_spark(spark)
            spark = None
            extra = {
                "session.start_s": session_s,
                "staging.hits": staged["hits"],
                "staging.misses": staged["misses"],
                "staging.build_s": staged["build_sec"],
                "trace.untraced_wall_s": untraced,
                "trace.traced_wall_s": traced / cycles,
                "trace.overhead_s": traced / cycles - untraced,
            }
            metrics = layer_metrics(wl, tracer, EventLog.read(events), since, until, cycles, extra)
            specs = load_metric_specs()["per_layer"]
        info.update(wl.notes())
        print("# stamp " + json.dumps(info, sort_keys=True))
        print(result_line(wl.failed == 0, wl.attempted, wl.failed, metrics, specs), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns a directory there


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
