"""Two-parallelism-level scaling evidence (BASELINE.json north_rule).

No real cluster exists in this sandbox, so the N→4N executor criterion is
evidenced by running the same jobs at two local parallelism levels
(SCALE_CORES, default 4 and 16 — N and 4N PHYSICAL cores; past 16 the
vCPUs are SMT siblings where even a raw CPU busy-loop only scales ~2×,
see the calibration), two ways:

  STRONG scaling — same input at both levels. Honest but pessimistic at
  sandbox data sizes: each PageRank iteration has a ~1.3-1.5 s stage-
  latency floor, and at a few M edges the whole iteration is only a few
  core-seconds of compute, so Amdahl caps measurable speedup well below
  4× regardless of engine quality.

  WEAK scaling — edges per core held constant (SCALE_WEAK_VPC vertices
  per core), the standard way to evidence throughput scaling when the
  fixed per-round latency would otherwise dominate: ideal = equal wall
  time per iteration at both levels, efficiency = T_lo/T_hi. This is the
  regime the 10^12-page criterion actually describes (per-executor work
  grows, per-stage floor stays constant).

Jobs: (1) PageRank, fixed iterations (tol=0 → identical work) on an
arithmetically generated link graph; (2) pages ETL (HTML extract → hash →
dedup) — map-heavy, measures the Arrow-UDF path.

Modes:
  --run --cores N [--vertices V]  single measurement in this process
  (no args)                       orchestrator: one subprocess per
                                  (cores, rep, mode), medians →
                                  BENCH.md + BENCH_SCALING.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

PR_VERTICES = int(os.environ.get("SCALE_PR_VERTICES", "10000000"))
WEAK_VPC = int(os.environ.get("SCALE_WEAK_VPC", "1500000"))  # vertices/core
ETL_PAGES = int(os.environ.get("SCALE_ETL_PAGES", "150000"))
ITERS = int(os.environ.get("SCALE_ITERS", "5"))
REPS = int(os.environ.get("SCALE_REPS", "3"))
CORE_LEVELS = tuple(
    int(c) for c in os.environ.get("SCALE_CORES", "4,16").split(",")
)
RUN_WEAK = os.environ.get("SCALE_WEAK", "1") != "0"
RUN_STRONG = os.environ.get("SCALE_STRONG", "1") != "0"


def synth_edges(spark, n: int, num_partitions: int):
    """The FIXTURES.md link structure generated arithmetically (no HTML
    round-trip): out-degree i%5 over multipliers, one heavy hub at 0 —
    identical semantics to pages→extract, used where ETL cost would
    swamp the measurement."""
    from pyspark.sql import functions as F

    base = spark.range(0, n, numPartitions=num_partitions).select(
        F.col("id").alias("src_id")
    )
    mult = [(7, 1), (13, 3), (19, 7), (23, 11)]
    parts = []
    for k, (a, b) in enumerate(mult):
        parts.append(
            base.where((F.col("src_id") % 5) > k)
            .where(F.col("src_id") != 0)
            .select(
                "src_id", ((F.col("src_id") * a + b) % n).alias("dst_id")
            )
        )
    hub = spark.range(1, min(n // 2, 500) + 1).select(
        F.lit(0).cast("long").alias("src_id"), F.col("id").alias("dst_id")
    )
    e = parts[0]
    for p in parts[1:]:
        e = e.unionAll(p)
    e = e.unionAll(hub)
    from bitcoinpagerank_spark.operators.edges import dedup_edges

    return dedup_edges(e).repartition(num_partitions, "src_id")


def _burn(secs: float) -> int:
    t0 = time.time()
    x = 0
    while time.time() - t0 < secs:
        x += 1
    return x


def _cpu_calibration(procs: int, secs: float = 1.5) -> float:
    """Measure CPU throughput available RIGHT NOW at this parallelism
    (multiprocessing busy-loop). The sandbox host carries variable load and
    its 32 vCPUs are ~16 physical cores with SMT, so Spark efficiency is
    reported both raw and normalized by this concurrently-measured supply."""
    import multiprocessing as mp

    with mp.Pool(procs) as pool:
        t0 = time.time()
        res = pool.map(_burn, [secs] * procs)
        dt = time.time() - t0
    return sum(res) / dt


def single_run(cores: int, vertices: int, with_etl: bool = True) -> dict:
    from bitcoinpagerank_spark.operators.pagerank import pagerank
    from bitcoinpagerank_spark.plans.linkgraph import build_link_graph
    from bitcoinpagerank_spark.session import get_spark
    from bitcoinpagerank_spark.sources.pages import generate_pages

    cal_before = _cpu_calibration(cores)

    spark = get_spark(
        app_name=f"scale{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
    )

    # ---- job 1: PageRank on the big arithmetic graph
    edges = synth_edges(spark, vertices, cores).persist()
    n_edges = edges.count()
    pagerank(spark, edges, tol=0.0, max_iter=4, num_partitions=cores)  # deep warmup: JIT needs several iterations
    t0 = time.monotonic()
    res = pagerank(spark, edges, tol=0.0, max_iter=ITERS, num_partitions=cores)
    pr_wall = time.monotonic() - t0
    edges.unpersist()

    per_iter = [round(m.wall_sec, 3) for m in res.metrics]
    out = {
        "cores": cores,
        "pr_vertices": vertices,
        "n_edges": n_edges,
        "iterations": res.iterations,
        "pr_wall_sec": round(pr_wall, 3),
        "pr_edges_per_sec": round(n_edges * res.iterations / pr_wall, 1),
        "per_iter_sec": per_iter,
        # contention-immune basis: every iteration does identical work
        # (tol=0, fixed graph), so the MIN iteration wall is the leg's
        # contention-free throughput even when external host load poisons
        # part of the run (this box's load storms hit mid-run; the full
        # wall mixes regimes and is not comparable across legs)
        "min_iter_sec": min(per_iter) if per_iter else None,
        "load_1m": round(os.getloadavg()[0], 2),
    }

    # ---- job 2: pages ETL (map-heavy Arrow-UDF path)
    if with_etl:
        build_link_graph(
            generate_pages(spark, 5000, num_partitions=cores), num_partitions=cores
        ).edges.count()  # warmup
        t0 = time.monotonic()
        lg = build_link_graph(
            generate_pages(spark, ETL_PAGES, num_partitions=cores),
            num_partitions=cores,
        )
        etl_edges = lg.edges.count()
        etl_wall = time.monotonic() - t0
        out.update(
            etl_pages=ETL_PAGES,
            etl_edges=etl_edges,
            etl_wall_sec=round(etl_wall, 3),
            etl_pages_per_sec=round(ETL_PAGES / etl_wall, 1),
        )

    cal_after = _cpu_calibration(cores)
    out["cal_ops_per_sec"] = round((cal_before + cal_after) / 2, 1)
    return out


def _one(cores: int, vertices: int, with_etl: bool) -> dict:
    # taskset pins the whole JVM (GC/shuffle/netty threads included)
    # to exactly N cpus — local[N] alone only caps task slots, which
    # inflates the low-N leg and understates scaling
    cmd = ["taskset", "-c", f"0-{cores-1}",
           sys.executable, __file__, "--run", "--cores", str(cores),
           "--vertices", str(vertices)]
    if not with_etl:
        cmd.append("--no-etl")
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=str(REPO),
        env={
            **os.environ,
            "SPARK_GRAFT_CPUS": str(cores),
            # the JVM sizes GC worker counts from the MACHINE's cpu count;
            # under taskset pinning that oversubscribes the pinned set
            # during every pause (measured ~15% throughput loss at 16
            # pinned cores) — pin GC threads to the core budget
            "SPARK_GRAFT_EXTRA_JAVA": (
                f"-XX:ParallelGCThreads={cores} "
                f"-XX:ConcGCThreads={max(1, cores // 4)}"
            ),
        },
    )
    if out.returncode != 0:
        print(out.stderr[-2000:], file=sys.stderr)
        raise SystemExit(f"run failed: cores={cores} vertices={vertices}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def orchestrate() -> None:
    lo, hi = CORE_LEVELS
    strong: dict[int, list[dict]] = {c: [] for c in CORE_LEVELS}
    weak: dict[int, list[dict]] = {c: [] for c in CORE_LEVELS}
    for rep in range(REPS):
        for cores in CORE_LEVELS:
            if RUN_STRONG:
                r = strong[cores]
                r.append(_one(cores, PR_VERTICES, with_etl=True))
                print(f"rep{rep} strong cores={cores}: "
                      f"pr {r[-1]['pr_wall_sec']}s "
                      f"({r[-1]['pr_edges_per_sec']:,.0f} e/s)", flush=True)
            if RUN_WEAK:
                w = weak[cores]
                w.append(_one(cores, WEAK_VPC * cores, with_etl=False))
                print(f"rep{rep} weak   cores={cores}: "
                      f"pr {w[-1]['pr_wall_sec']}s "
                      f"({w[-1]['pr_edges_per_sec']:,.0f} e/s, "
                      f"{w[-1]['n_edges']:,} edges)", flush=True)

    med = lambda rs, c, k: statistics.median(r[k] for r in rs[c])  # noqa: E731
    summary: dict = {"fixed_iterations": ITERS, "reps": REPS,
                     "core_levels": list(CORE_LEVELS)}

    if RUN_STRONG:
        cal_ratio = (med(strong, hi, "cal_ops_per_sec")
                     / med(strong, lo, "cal_ops_per_sec"))
        sp = (med(strong, hi, "pr_edges_per_sec")
              / med(strong, lo, "pr_edges_per_sec"))
        esp = (med(strong, hi, "etl_pages_per_sec")
               / med(strong, lo, "etl_pages_per_sec"))
        summary["cpu_calibration"] = {
            "ops_per_sec": {str(c): med(strong, c, "cal_ops_per_sec")
                            for c in CORE_LEVELS},
            "hw_speedup": round(cal_ratio, 3),
            "hw_efficiency": round(cal_ratio / (hi / lo), 3),
        }
        summary["strong_pagerank"] = {
            "pr_vertices": PR_VERTICES,
            "n_edges": strong[lo][0]["n_edges"],
            "throughput_edges_per_sec": {
                str(c): med(strong, c, "pr_edges_per_sec") for c in CORE_LEVELS
            },
            "speedup": round(sp, 3),
            "scaling_efficiency": round(sp / (hi / lo), 3),
            "efficiency_vs_available_cpu": round(sp / cal_ratio, 3),
        }
        summary["strong_etl"] = {
            "etl_pages": ETL_PAGES,
            "throughput_pages_per_sec": {
                str(c): med(strong, c, "etl_pages_per_sec") for c in CORE_LEVELS
            },
            "speedup": round(esp, 3),
            "scaling_efficiency": round(esp / (hi / lo), 3),
            "efficiency_vs_available_cpu": round(esp / cal_ratio, 3),
        }

    if RUN_WEAK:
        # weak scaling: per-core work fixed → ideal is EQUAL wall time;
        # efficiency = T_lo / T_hi == throughput ratio / core ratio
        t_lo, t_hi = med(weak, lo, "pr_wall_sec"), med(weak, hi, "pr_wall_sec")
        tp = {str(c): med(weak, c, "pr_edges_per_sec") for c in CORE_LEVELS}
        summary["weak_pagerank"] = {
            "vertices_per_core": WEAK_VPC,
            "n_edges": {str(c): weak[c][0]["n_edges"] for c in CORE_LEVELS},
            "wall_sec": {str(lo): t_lo, str(hi): t_hi},
            "throughput_edges_per_sec": tp,
            "throughput_ratio": round(tp[str(hi)] / tp[str(lo)], 3),
            "scaling_efficiency": round(t_lo / t_hi, 3),
        }

    summary["raw"] = {
        "strong": {str(c): strong[c] for c in CORE_LEVELS},
        "weak": {str(c): weak[c] for c in CORE_LEVELS},
    }
    (REPO / "BENCH_SCALING.json").write_text(json.dumps(summary, indent=1))
    (REPO / "BENCH.md").write_text(_render_md(summary))
    print(json.dumps({k: v for k, v in summary.items() if k != "raw"}))


def _render_md(s: dict) -> str:
    lo, hi = CORE_LEVELS
    parts = [f"""# BENCH — two-parallelism-level scaling evidence

Per the driver instructions, the north_rule's N→4N executor criterion is
evidenced locally: the same PageRank job at local[{lo}] and local[{hi}]
(4× taskset-pinned physical cores) in separate fresh JVMs,
{s['reps']} reps each, median throughput, fixed
{s['fixed_iterations']} iterations (tol=0 → identical work per edge),
arithmetic link graph (FIXTURES.md structure incl. heavy hub).
"""]

    if "weak_pagerank" in s:
        w = s["weak_pagerank"]
        parts.append(f"""
## Weak scaling (edges per core constant — the criterion's regime)

At 10^12 documents every executor holds a large fixed share of the graph,
so per-executor work dwarfs the constant per-stage latency floor; weak
scaling reproduces that regime locally by growing the graph with the
cores ({w['vertices_per_core']:,} vertices/core). Ideal = equal wall
time; efficiency = T_{lo}/T_{hi}.

| cores | edges | wall (s) | throughput |
|---|---|---|---|
| {lo} | {w['n_edges'][str(lo)]:,} | {w['wall_sec'][str(lo)]} | {w['throughput_edges_per_sec'][str(lo)]:,.0f} e·iter/s |
| {hi} | {w['n_edges'][str(hi)]:,} | {w['wall_sec'][str(hi)]} | {w['throughput_edges_per_sec'][str(hi)]:,.0f} e·iter/s |

**Weak-scaling efficiency {lo}→{hi} cores: {w['scaling_efficiency']}**
(throughput ratio {w['throughput_ratio']}× of ideal {hi//lo}×; target ≥0.8).
""")

    if "strong_pagerank" in s:
        p, e, c = s["strong_pagerank"], s["strong_etl"], s["cpu_calibration"]
        parts.append(f"""
## Strong scaling (same input both levels)

PageRank on {p['pr_vertices']:,} vertices / {p['n_edges']:,} edges; ETL on
{e['etl_pages']:,} pages.

| job | local[{lo}] | local[{hi}] | speedup (ideal {hi//lo}×) | efficiency | vs available CPU |
|---|---|---|---|---|---|
| pagerank | {p['throughput_edges_per_sec'][str(lo)]:,.0f} e·iter/s | {p['throughput_edges_per_sec'][str(hi)]:,.0f} e·iter/s | {p['speedup']}× | {p['scaling_efficiency']} | {p['efficiency_vs_available_cpu']} |
| etl | {e['throughput_pages_per_sec'][str(lo)]:,.0f} p/s | {e['throughput_pages_per_sec'][str(hi)]:,.0f} p/s | {e['speedup']}× | {e['scaling_efficiency']} | {e['efficiency_vs_available_cpu']} |

Hardware context (measured in the same windows): a raw CPU busy-loop at
{lo} vs {hi} processes gives **{c['hw_speedup']}×** (efficiency
{c['hw_efficiency']}) — the attainable ceiling for ANY {lo}→{hi} thread
scaling on this time-shared box. "vs available CPU" divides the Spark
speedup by this measured hardware ratio. Strong scaling at sandbox data
sizes is floor-dominated: each iteration has a ~1.3-1.5 s stage-latency
floor vs only a few core-seconds of compute, which is precisely why the
weak-scaling table above is the criterion-relevant number.
""")

    parts.append("""
Caveats: single-machine thread scaling is a LOWER bound on multi-executor
scaling — all threads share one JVM heap, shuffle disk, and memory bus,
and the sandbox host carries background load; a real 4N-executor cluster
adds network shuffle but removes shared-resource contention. Real
1-vs-4-worker-JVM standalone-cluster runs: scripts/cluster_scaling.py
(round-1 numbers in BENCH_CLUSTER.json). Raw per-rep JSON:
`BENCH_SCALING.json`.
""")
    return "".join(parts)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--vertices", type=int, default=PR_VERTICES)
    ap.add_argument("--no-etl", action="store_true")
    args = ap.parse_args()
    if args.run:
        print(json.dumps(single_run(args.cores, args.vertices,
                                    with_etl=not args.no_etl)))
    else:
        orchestrate()
