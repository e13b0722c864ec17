"""Benchmark runner for the dedupe_rust_spark engine.

    python3 perfbench/run.py --workload dense_batch --seed 1 --seconds 20 \
        --trace 0

Runs one workload (see workloads.py) at local[4] in a fresh JVM, from the
root of a checkout of the repo: builds the seeded inputs under
`.perfbench_work/`, starts the session and runs the cold set-up
operations, then repeats the workload's timed operation for `--seconds`
seconds, checking every output. With `--trace 1` it alternates untraced
and traced operations (the Spark UI on, one job group per layer), runs the
pure-core microbench and reports the per-layer metrics instead; its spans
are written to `.perfbench_work/spans/`.

One JSON line per run goes to stdout: first a record of the host, the
inputs and every operation's wall time; last the result
`{"correct", "attempted", "failed", "metrics"}` whose metric names and
units are the ones BENCHMARK.json lists. Exit code 0 only when every
operation was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
HARD_LIMIT_S = 170  # the whole run, set-up included, ends before this


def _env(work: str, trace: bool) -> None:
    """Point every writer of the JVM and the Python workers into the run's
    work dir and make the engine importable by the workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    if trace:
        os.environ["SPARK_GRAFT_UI"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)


def _jvm():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def _stop(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes, and
    takes the Python workers with it) and wait for it."""
    from pyspark import SparkContext

    proc = _jvm()
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _watchdog(work: str) -> threading.Timer:
    def fire() -> None:
        print(f"perfbench: no result after {HARD_LIMIT_S} s, stopping",
              file=sys.stderr, flush=True)
        try:
            proc = _jvm()
            proc.terminate()
            proc.wait(timeout=15)
        except Exception:  # the JVM may be gone or never started
            traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    t = threading.Timer(HARD_LIMIT_S, fire)
    t.daemon = True
    t.start()
    return t


def _median(xs: list[float], default: float = -1.0) -> float:
    """Median, or `default` (an impossible value) when nothing was
    measured; the run then reports correct=false anyway."""
    return statistics.median(xs) if xs else default


class Ledger:
    """Every attempted operation: its wall time and what was wrong."""

    def __init__(self):
        self.ops: list[dict] = []

    def run(self, kind: str, fn, *args):
        try:
            out = fn(*args)
        except Exception as e:  # a raising operation counts as failed
            traceback.print_exc()
            self.ops.append({"kind": kind, "problems": [repr(e)[:300]]})
            return None
        if out is None:
            return None
        if isinstance(out, list):  # a final check: problems only
            self.ops.append({"kind": kind, "problems": out})
            return out
        self.ops.append({"kind": kind, "wall_s": out[0], "rows": out[1],
                         "problems": out[2]})
        return out

    def walls(self, kind: str) -> list[float]:
        return [o["wall_s"] for o in self.ops
                if o["kind"] == kind and "wall_s" in o and not o["problems"]]

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if o["problems"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    import probes
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(workloads.WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _watchdog(work)
    _env(work, bool(args.trace))
    record = probes.host_record(ROOT, args.workload, args.seed, CPUS)
    wl = workloads.WORKLOADS[args.workload]()
    t_gen = time.monotonic()
    wl.prepare(work, args.seed)
    record["rows"] = wl.rows
    record["inputs_s"] = time.monotonic() - t_gen

    from dedupe_rust_spark.session import get_spark

    ledger = Ledger()
    t0 = time.monotonic()
    spark = get_spark(app=f"perfbench-{args.workload}", cpus=CPUS)
    session_s = time.monotonic() - t0
    record["spark.driver.memory"] = spark.conf.get("spark.driver.memory")
    pass_rss: list[float] = []
    pass_jobs: list[int] = []
    pass_shuffle: list[float] = []
    layers: list[dict] = []
    try:
        with probes.RssSampler(_jvm().pid) as rss:
            for op in wl.setup(spark):
                ledger.ops.append({"kind": "setup", "wall_s": op[0],
                                   "rows": op[1], "problems": op[2]})
            setup_s = time.monotonic() - t0
            rss.take()
            if args.trace:
                tracer, rest = probes.Tracer(spark), probes.Rest(spark)
            deadline = time.monotonic() + args.seconds
            while True:
                if args.trace:
                    before = {j["jobId"] for j in rest.settle()}
                ledger.run("pass", wl.run_pass, spark)
                pass_rss.append(rss.take())
                if args.trace:
                    jobs = rest.new_jobs(before)
                    pass_jobs.append(len(jobs))
                    pass_shuffle.append(rest.shuffle_bytes(jobs))
                    out = ledger.run("traced", wl.traced_pass, spark, tracer,
                                     rest)
                    if out is not None:
                        layers.append(out[3])
                if time.monotonic() >= deadline:
                    break
            ledger.run("final", wl.final_check, spark)
        if args.trace:
            import cores

            core = cores.microbench(*wl.core_inputs())
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    walls = ledger.walls("pass")
    wall_s = _median(walls)
    if args.trace:
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        for name in values:
            values[name] = _median([d[name] for d in layers if name in d],
                                   default=0.0)
        values.update(core)
        values["session.start_s"] = session_s
        values["session.peak_rss_mb"] = max(pass_rss)
        values["pipeline.jobs"] = _median(pass_jobs)
        values["pipeline.shuffle_bytes"] = _median(pass_shuffle)
        values["pipeline.traced_s"] = _median(ledger.walls("traced"))
        values["pipeline.tracing_overhead_s"] = (values["pipeline.traced_s"]
                                                 - wall_s)
        os.makedirs(os.path.join(base, "spans"), exist_ok=True)
        tracer.write(os.path.join(
            base, "spans", f"{args.workload}-s{args.seed}.jsonl"))
        metric_specs = spec["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "rows_per_s": wl.rows / wall_s if walls else -1.0,
            "f1": wl.f1(),
        }
        metric_specs = spec["end_to_end"]

    record.update({
        "session_s": session_s, "setup_s": setup_s,
        "pass_walls": walls, "pass_rss_mb": pass_rss,
        "drift": walls[-1] / walls[0] if len(walls) > 1 else 1.0,
        "problems": [p for o in ledger.ops for p in o["problems"]][:20],
    })
    print(json.dumps({"record": record}), flush=True)
    correct = ledger.failed == 0 and bool(walls)
    print(json.dumps({
        "correct": correct,
        "attempted": len(ledger.ops),
        "failed": ledger.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in metric_specs},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
