"""Benchmark of the bitcoinpagerank_spark engine: one workload, one seed.

    python3 perfbench/run.py --workload crawl_graph --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts a fresh Spark session with
pinned deployment settings, writes the seeded inputs three times (set-up
time takes the median write), builds the numpy oracle, then runs passes
back to back from one Spark driver (a closed loop, one client): one cold pass,
then timed warm passes for ``--seconds`` and at least two of them. Every
pass is checked against the oracle; a pass that raises or fails a check
counts as failed and the run goes on.

With ``--trace 1`` the run goes on with traced passes for another
``--seconds``: each public layer is called on its own, materialized at
every boundary and timed from outside, and the Spark jobs each call
submitted are read from the status store by job-id range. End-to-end
metrics always come from the untraced passes. Spans are written to
``.perfbench/spans/`` at exit.

The last line of standard output is the result,
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``). The line before it is a report: every metric by name
with its unit, the pinned settings, and steadiness diagnostics.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# Pass time keeps falling for about five passes in one JVM, but a run has
# room for only three full passes, so the timed passes are the second and
# third; the trend between them is reported, not hidden.
MIN_TIMED_PASSES = 2
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
# timed passes whose times move by more than this from first to last are
# flagged as still settling
TREND_FLAG = 0.05


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-test")
    return p.parse_args(argv)


def pinned_settings(workdir: str) -> dict:
    """Every deployment setting the engine would otherwise take from the
    machine or the environment."""
    # no JVM temp or perf-data files outside the checkout
    java_opts = f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData"
    return {
        "master": f"local[{len(os.sched_getaffinity(0))}]",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.driver.memory": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        # the engine's own choice of spark.local.dir, made from free tmpfs
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        # spark-submit first starts a small JVM that assembles the command
        "SPARK_LAUNCHER_OPTS": java_opts,
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of the run in the status store, which
        # otherwise evicts the oldest once it holds 1000
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "PYSPARK_PYTHON": sys.executable,
    }


def start_session(settings: dict):
    from bitcoinpagerank_spark.session import get_spark

    conf = {k: v for k, v in settings.items()
            if k.startswith("spark.") and k != "spark.sql.shuffle.partitions"}
    spark = get_spark(
        app_name="perfbench",
        master=settings["master"],
        shuffle_partitions=int(settings["spark.sql.shuffle.partitions"]),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from attribution import descendants

    children = descendants(os.getpid())
    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Run:
    """Passes of one workload in one session, with their diagnostics."""

    def __init__(self, spark, workload):
        self.spark = spark
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []
        self.peak_rss_mb = 0.0

    def one_pass(self, kind: str, tracer=None) -> dict | None:
        """Run and check one pass; returns its outputs, None if it raised."""
        from attribution import load_1min, steal_seconds, tree_rss_mb

        steal0 = steal_seconds()
        t0 = time.monotonic()
        out, errors = None, []
        try:
            if tracer is None:
                out = self.workload.run_pass(self.spark)
            else:
                tracer.pass_no += 1
                with tracer.span("pass"):
                    out = self.workload.run_pass(self.spark, tracer)
        except Exception:  # a failing pass is counted and the run goes on
            errors = [traceback.format_exc(limit=3)]
        seconds = time.monotonic() - t0
        if out is not None:
            try:
                errors = self.workload.check(out)
            except Exception:
                errors = [traceback.format_exc(limit=3)]
        self.attempted += 1
        self.failed += bool(errors)
        for e in errors:
            print(f"pass {len(self.passes)} ({kind}) failed: {e}", file=sys.stderr)
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(os.getpid()))
        self.passes.append({"kind": kind, "s": seconds, "ok": not errors,
                            "load_1min": load_1min(),
                            "steal_s": steal_seconds() - steal0})
        return out

    def window(self, kind: str, seconds: float, minimum: int, tracer=None):
        """Passes back to back until ``seconds`` have passed and at least
        ``minimum`` passes ran; returns their outputs (None where a pass
        raised)."""
        outs = []
        t0 = time.monotonic()
        while len(outs) < minimum or time.monotonic() - t0 < seconds:
            outs.append(self.one_pass(kind, tracer))
        return outs

    def times(self, kind: str) -> list[float]:
        return [p["s"] for p in self.passes if p["kind"] == kind]


def unit_of(name: str, declared: dict) -> str:
    if name in declared:
        return declared[name]
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("bytes", "bytes"),
                         ("_mb", "MB"), ("skew", "ratio"), ("_rate", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    declared.update(pagerank_edges_per_s="edges/s", error_rate="ratio")
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    settings = pinned_settings(workdir)
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    # before pyspark or tempfile pick a directory: everything stays inside
    # the checkout, and the caller's environment cannot move shuffle files
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    for k in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR", "SPARK_LAUNCHER_OPTS",
              "PYSPARK_PYTHON"):
        os.environ[k] = settings[k]
    sys.path.insert(0, ROOT)
    try:
        import layers
        import workloads
        from attribution import StatusReader, Tracer, median
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        shutil.rmtree(workdir, ignore_errors=True)
        return 2

    spark = start_session(settings)
    try:
        session_start_s = time.monotonic() - T_START
        wl = workloads.WORKLOADS[args.workload](args.seed % 2**32, args.size, workdir)
        input_s = []
        for i in range(SETUP_REPEATS):
            t0 = time.monotonic()
            wl.write_inputs(spark, os.path.join(workdir, f"input{i}"))
            input_s.append(time.monotonic() - t0)
        wl.build_oracle()

        run = Run(spark, wl)
        run.one_pass("cold")
        timed = run.window("timed", args.seconds, MIN_TIMED_PASSES)
        metrics = {
            "setup_s": session_start_s + median(input_s),
            "cold_s": run.times("cold")[0],
            "wall_s": median(run.times("timed")),
            "error_rate": run.failed / run.attempted,
        }
        rates = [o["pr_edges"] * o["pr_iterations"] / o["pagerank_s"]
                 for o in timed if o is not None and "pagerank_s" in o]
        if rates:
            metrics["pagerank_edges_per_s"] = median(rates)

        if args.trace:
            tracer = Tracer(StatusReader(spark))
            restore = workloads.wrap_tablestore(tracer)
            try:
                traced = run.window("traced", args.seconds, 1, tracer)
            finally:
                restore()
            metrics.update(layers.per_layer(tracer, traced))
            metrics.update({
                "session.start_s": session_start_s,
                "session.peak_rss_mb": run.peak_rss_mb,
                "source.input_s": median(input_s),
                "pass.tracing_overhead_s": metrics.get("pass.s", 0.0) - metrics["wall_s"],
                "pass.jit_excess_s": metrics["cold_s"] - metrics["wall_s"],
            })
            _write_spans(tracer, args)
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    timed_s = run.times("timed")
    trend = timed_s[-1] / timed_s[0] - 1.0
    report = {
        "workload": args.workload, "seed": args.seed, "size": wl.size,
        "settings": settings,
        "metrics": {k: {"value": v, "unit": unit_of(k, declared)}
                    for k, v in sorted(metrics.items())},
        "diagnostics": {
            "passes": run.passes,
            "timed_trend": trend,
            "still_trending": abs(trend) > TREND_FLAG,
            "setup_input_s": input_s,
        },
    }
    result_names = bench["per_layer"] if args.trace else bench["end_to_end"]
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        # a layer the workload does not call did no work: 0
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]}
                    for m in result_names},
    }))
    return 0


def _write_spans(tracer, args) -> None:
    out_dir = os.path.join(ROOT, ".perfbench", "spans")
    os.makedirs(out_dir, exist_ok=True)
    rows = [{"pass": s.pass_no, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "self_s": tracer.self_seconds(s),
             "figures": vars(s.figures), "extra": s.extra}
            for s in tracer.spans]
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(rows, f)


if __name__ == "__main__":
    sys.exit(main())
