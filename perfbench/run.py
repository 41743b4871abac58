"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 16 --trace 0

Runs one workload from the checkout root against the ``aardappel_spark``
package in that checkout and prints, as the last line of stdout, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run is traced and the metrics are the per-layer ones.
Scratch files live under ``.perfbench_work/`` in the checkout and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("cdc_stream", "cdc_backlog", "dedup_stream")
HEAP = "3g"  # JVM heap: well under RAM on a 4-core, 15 GB machine
# the end-to-end metrics BENCHMARK.json bounds, besides setup_s; a
# workload's other figures go to the description line
GATED = ("batch_cpu_s",)


def session_settings(work: str, event_log: str | None) -> dict:
    """Size the Spark session for this machine through the environment
    variables ``aardappel_spark.session.get_spark`` reads; set in this
    process only."""
    tmp = os.path.join(work, "tmp")
    confs = [
        # keep the JVM's scratch files inside the checkout too
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if event_log:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_log}",
            # the default zstd codec needs the zstandard module
            "spark.eventLog.compress=false",
        ]
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_EXTRA_CONFS": ",".join(confs),
        "TMPDIR": tmp,
    }


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: the
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def cpu_seconds(pid: int) -> float:
    """CPU seconds used so far by process ``pid`` (all its threads) and by
    this process. Time the hypervisor steals is not counted."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    own = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + own.user + own.system


def machine() -> dict:
    model_name = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model_name = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {
        "cpu_model": model_name,
        "cores": len(os.sched_getaffinity(0)),
        "host_cores": os.cpu_count(),
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
    }


class Context:
    """What a workload needs from the harness: the session, its scratch
    directory, the seed and window length, and the hooks the traced run
    fills in (no-ops when untraced)."""

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.setup_s: float | None = None
        self.phases: dict[str, float] = {}
        self.wrap_batch = tracer.wrap_batch if tracer else None
        self.wrap_kernel = tracer.wrap_kernel if tracer else None
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid

    def cpu(self) -> float:
        """CPU seconds used so far by the Spark JVM and this process."""
        return cpu_seconds(self.jvm_pid)

    def phase(self, name: str) -> None:
        """Note the seconds since process start at which a phase ended."""
        self.phases[name] = round(time.perf_counter() - T_START, 3)

    def setup_done(self, scheduled_s: float = 0.0) -> None:
        """Set-up ends now; ``scheduled_s`` of it was a fixed schedule
        (waiting, not work) and is left out of ``setup_s``."""
        self.setup_s = time.perf_counter() - T_START - scheduled_s
        self.phases["scheduled_s"] = scheduled_s
        if self.tracer:
            self.tracer.mark("window_start")

    def window_done(self) -> None:
        if self.tracer:
            self.tracer.mark("window_end")

    def instrument(self, engine) -> None:
        if self.tracer:
            self.tracer.instrument_engine(engine)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "aardappel_spark")):
        print(f"no aardappel_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    settings = session_settings(work, event_log)
    for d in (event_log, settings["TMPDIR"]):
        if d:
            os.makedirs(d)
    os.environ.update(settings)
    spark = None
    try:
        from aardappel_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
        ctx = Context(spark, work, args.seed, args.seconds, tracer)
        ctx.phase("session")
        if args.workload in ("cdc_stream", "cdc_backlog"):
            from perfbench import cdc

            res = getattr(cdc, f"run_{args.workload}")(ctx)
        else:
            from perfbench import dedup

            res = dedup.run_dedup_stream(ctx)
        if tracer:
            metrics = tracer.finish(spark, event_log, ctx, res)
            spark = None  # finish() stops the session to flush the event log
        else:
            metrics = {
                k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items() if k in GATED
            }
            res["info"].update({k: v for k, (v, _) in res["metrics"].items() if k not in GATED})
            metrics["setup_s"] = {"value": ctx.setup_s, "unit": "s"}
        out = {
            "correct": bool(res["correct"]),
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        }
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "machine": machine(), "settings": settings,
                          "phases": ctx.phases, "info": res["info"]}, default=str))
        print(json.dumps(out))
        return 0
    finally:
        if "pyspark" in sys.modules:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
