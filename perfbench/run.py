"""sparkfuse benchmark: forest build and probe cycles on local[4].

Run from the repository root:

    python3 perfbench/run.py --workload forest_build --seed 1 --seconds 8 --trace 0

One process starts one Spark session, sets the workload up ``SETUP_REPS``
times in fresh directories, runs the workload's warm-up cycles, then times
cycles for ``--seconds``. Every cycle's answer is checked (``workloads.py``).
Times are wall seconds net of the CPU time the host stole from the VM
(``host.Clock``); the raw wall median is printed beside them.

The last line of stdout is one JSON object: ``correct``, ``attempted`` (every
cycle, warm-up included, plus the final checks), ``failed`` (those that
raised or failed their check) and the metrics: end-to-end with
``--trace 0``, per-layer with ``--trace 1``. The lines before it print every
metric with its unit, and ``failed_pct``.

``--trace 1`` alternates traced and untraced cycles (their medians give the
tracing overhead), then runs the layer sweep (``layers.py``), stops the
session and reads the Spark event log it wrote. Spans go to
``.perfbench_out/``. Everything else a run writes lives under
``.perfbench_tmp/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import sparkfuse  # noqa: E402,F401  - without the package this fails before any output
from pyspark.sql import SparkSession  # noqa: E402

from sparkfuse.session import export_repo_pythonpath, spark_conf_pairs  # noqa: E402

from host import Clock, PeakPss  # noqa: E402
from layers import sweep  # noqa: E402
from tracing import Tracer, job_metrics  # noqa: E402
from workloads import CORES, WORKLOADS  # noqa: E402

SETUP_REPS = 3
DRIVER_MEMORY = "1536m"  # fixed heap (-Xms = -Xmx) keeps the JVM's PSS steady

SPAN_METRICS = [  # per-layer span medians, in seconds
    "keys.scan", "forest.plan", "forest.write", "kernels.build", "kernels.contains",
    "forest.collect", "serialize.load", "forest.contains", "probe.plan", "probe.exec",
    "probe.confirm", "streaming.append", "streaming.probe", "bloom.build",
    "session.start", "synth.gen",
]
JOB_LAYERS = {"forest": "forest.build", "probe": "probe.run", "streaming": "streaming.epoch"}
JOB_FIELDS = {"jobs": "count", "tasks": "count", "task_s": "s", "shuffle_write_mb": "MB"}
VALUE_UNITS = {
    "forest.reseeds": "count", "kernels.lineage_build_s": "s",
    "forest.dispatch_ratio": "ratio", "forest.plan_share_pct": "%",
    "probe.confirm_useful_ratio": "ratio", "streaming.epochs": "count",
    "bloom.bits_per_entry": "bits/key", "bloom.fpp_pct": "%",
    "trace.overhead_pct": "%", "trace.cycles": "count",
}


def start_session(tmp: str, event_log: str | None) -> SparkSession:
    """local[4] with the library's own confs. Scratch, temp files and the
    event log stay under ``tmp``; the event log is on only when traced."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONHASHSEED"] = "0"  # Python workers inherit it
    export_repo_pythonpath()
    b = SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
    for k, v in spark_conf_pairs(max(CORES, 8)):
        b = b.config(k, v)
    b = (b.config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log:
        os.makedirs(event_log)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Gate:
    """Counts verified units (cycles, final checks) and the failed ones."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def run(self, fn) -> bool:
        """Call ``fn`` -> problems; an exception counts as a failure."""
        try:
            problems = fn()
        except Exception:
            problems = [traceback.format_exc(limit=4)]
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)
        return not problems


def run(args) -> dict:
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = os.path.join(ROOT, ".perfbench_tmp", run_id)
    os.makedirs(tmp)
    pss = PeakPss().start()
    tracer = Tracer(run_id, enabled=bool(args.trace))
    event_log = os.path.join(tmp, "events") if args.trace else None
    gate = Gate()
    spark = None
    try:
        c0 = Clock.now()
        with tracer.span("session.start"):
            spark = start_session(tmp, event_log)
        session_s = c0.since()
        tracer.sc = spark.sparkContext
        w = WORKLOADS[args.workload](spark, tmp, args.seed, tracer,
                                     corrupt=bool(args.corrupt_sink))
        setup_s = []
        for rep in range(SETUP_REPS):
            c0 = Clock.now()
            w.setup(rep)
            setup_s.append(c0.since())

        warmup = w.warmup if args.warmup is None else args.warmup
        timed, wall, traced_t, plain_t = [], [], [], []

        def one_cycle(i: int, record: bool) -> None:
            traced = bool(args.trace) and i % 2 == 0
            out = {}

            def body():
                c0 = Clock.now()
                if args.trace and not traced:
                    with tracer.paused():
                        answer = w.cycle(i)
                else:
                    answer = w.cycle(i)
                c1 = Clock.now()
                out["s"], out["wall"] = c0.since(c1), c1.wall - c0.wall
                return w.check(i, answer)

            ok = gate.run(body)
            if args.log_cycles:
                print(json.dumps({"cycle": i, "warmup": not record, "ok": ok, **out}),
                      file=sys.stderr)
            if record and ok:
                timed.append(out["s"])
                wall.append(out["wall"])
                (traced_t if traced else plain_t).append(out["s"])

        for i in range(warmup):
            one_cycle(i, record=False)
        i, start = warmup, Clock.now()
        while Clock.now().wall - start.wall < args.seconds:
            one_cycle(i, record=True)
            i += 1
        gate.run(w.finish)

        values: dict[str, float] = {}
        if args.trace:
            def traced_sweep():
                found, problems = sweep(w)
                values.update(found)
                return problems
            gate.run(traced_sweep)

        stop_session(spark)
        spark = None
        peak_mb = pss.stop()
        for p in gate.problems[:20]:
            print("problem:", p, file=sys.stderr)

        if args.trace:
            metrics = layer_metrics(tracer, event_log, run_id, values, traced_t, plain_t)
            tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.jsonl"))
        else:
            metrics = {
                "setup_s": (session_s + median(setup_s), "s"),
                "cycle_s_p50": (median(timed), "s"),
                "bits_per_entry": (w.bits_per_entry, "bits/key"),
                "fpp_pct": (100.0 * w.fpp, "%"),
                "peak_pss_mb": (peak_mb, "MB"),
            }
        info = {
            "workload": args.workload, "seed": args.seed,
            "failed_pct": 100.0 * gate.failed / max(gate.attempted, 1),
            "warmup_cycles": warmup, "timed_cycles": len(timed),
            "cycle_wall_s_p50": median(wall), "session_start_s": session_s,
            "setup_reps_s": setup_s,
        }
        return {"info": info, "correct": gate.failed == 0, "attempted": gate.attempted,
                "failed": gate.failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_session(spark)
        pss.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def layer_metrics(tracer, event_log, run_id, values, traced_t, plain_t) -> dict:
    per_span = job_metrics(event_log, run_id)
    out = {f"{name}_s": (median(tracer.durations(name)), "s") for name in SPAN_METRICS}
    for layer, parent in JOB_LAYERS.items():
        totals = tracer.subtree_totals(parent, per_span)
        for field, unit in JOB_FIELDS.items():
            out[f"{layer}.{field}"] = (median([getattr(t, field) for t in totals]), unit)
    values = dict(values)
    values["forest.dispatch_ratio"] = out["forest.contains_s"][0] / out["kernels.contains_s"][0]
    values["forest.plan_share_pct"] = 100.0 * out["forest.plan_s"][0] / median(
        tracer.durations("forest.build"))
    values["trace.overhead_pct"] = 100.0 * (median(traced_t) / median(plain_t) - 1.0)
    values["trace.cycles"] = len(traced_t) + len(plain_t)
    for name, v in values.items():
        out[name] = (v, VALUE_UNITS[name])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup", type=int, default=None,
                    help="override the workload's warm-up cycle count")
    ap.add_argument("--log-cycles", action="store_true",
                    help="print every cycle's time to stderr as JSON")
    ap.add_argument("--corrupt-sink", type=int, choices=(0, 1), default=0,
                    help="gate self-test (forest_probe): probe a sink copy with "
                         "one flipped payload byte; every cycle must fail")
    args = ap.parse_args()
    res = run(args)
    for name, (value, unit) in sorted(res["metrics"].items()):
        print(f"{name:32s} {value:14.6g} {unit}")
    for name, value in res["info"].items():
        print(f"{name:32s} {value}")
    metrics = {k: {"value": None if math.isnan(v) else v, "unit": u}  # no cycle passed
               for k, (v, u) in res["metrics"].items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
