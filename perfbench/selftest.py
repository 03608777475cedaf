"""Fast self-test of the benchmark itself, at tiny input sizes.

    python3 perfbench/selftest.py

Run from the repository root. It checks, in order:
- the numpy oracles against plain-Python references on small random inputs;
- the crawl oracle's link rule against ``sources.pages``;
- every workload, untraced and traced: the run exits 0, its outputs are
  correct, the result line carries every metric of BENCHMARK.json with its
  unit, and the traced report has the per-layer metrics of every layer the
  workload calls;
- in a directory that holds only BENCHMARK.json and the benchmark, a run
  fails with a non-zero exit and prints no result.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import oracles  # noqa: E402

# layers each workload calls, by the metric-name prefix of their figures
LAYERS = {
    "crawl_graph": ("extract.", "linkgraph.", "labelprop.", "triangles.",
                    "pagerank.", "tablestore."),
    "neardup_docs": ("text.", "dedup.minhash.", "dedup.lsh.", "dedup.simhash.",
                     "dedup.simhash_pairs.", "dedup.clusters.", "components."),
}
EVERY_RUN = ("session.", "source.", "pass.")


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"FAIL: {what}")


def check_oracles() -> None:
    rng = random.Random(1)
    for _ in range(200):
        n = rng.randint(2, 30)
        e = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(1, 80))]
        src, dst = np.array([a for a, _ in e]), np.array([b for _, b in e])
        und = {(min(a, b), max(a, b)) for a, b in e if a != b}
        adj: dict[int, set[int]] = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        tri = sum(1 for x, y, z in itertools.combinations(sorted(adj), 3)
                  if y in adj[x] and z in adj[x] and z in adj[y])
        expect(oracles.triangles(src, dst) == tri, "triangle oracle")
        parent = {v: v for v in set(src.tolist()) | set(dst.tolist())}

        def root(v):
            while parent[v] != v:
                v = parent[v]
            return v

        for a, b in e:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
        groups: dict[int, list[int]] = {}
        for v in parent:
            groups.setdefault(root(v), []).append(v)
        want = {v: min(g) for g in groups.values() for v in g}
        expect(oracles.components(src, dst) == want, "components oracle")

    docs = [[rng.randint(1, 30) for _ in range(rng.randint(1, 20))] for _ in range(40)]
    sims = oracles.simhash64(docs)
    for d, h in zip(docs, sims):
        want = 0
        for j in range(64):
            a, b = (1_664_525, 1_013_904_223) if j < 32 else (1_103_515_245, 12_345)
            votes = sum(1 if ((t * a + b) % 2**32) >> (j % 32) & 1 else -1 for t in d)
            want |= (votes > 0) << j
        expect(int(h) == want, "simhash oracle")
    a, b = oracles.hamming_pairs(sims, 8)
    want = [(i, j) for i, j in itertools.combinations(range(len(sims)), 2)
            if bin(int(sims[i]) ^ int(sims[j])).count("1") <= 8]
    expect(list(zip(a.tolist(), b.tolist())) == want, "hamming pairs")

    # a 3-cycle with a dangling vertex: the dangling mass is spread, not lost
    p, _ = oracles.pagerank(np.array([0, 1, 2, 0]), np.array([1, 2, 0, 3]), tol=1e-12)
    expect(abs(p.sum() - 1.0) < 1e-12, "pagerank mass")


def check_link_rule() -> None:
    from bitcoinpagerank_spark.sources.pages import expected_edge_pairs
    from workloads import crawl_edges

    for n in (7, 600, 1999):
        src, dst = crawl_edges(n)
        expect(list(zip(src.tolist(), dst.tolist())) == expected_edge_pairs(n),
               f"crawl link rule at n={n}")


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check_runs(bench: dict) -> None:
    for workload in (w["name"] for w in bench["workloads"]):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            code, lines = run(ROOT, workload, trace)
            expect(code == 0, f"{workload} trace={trace} exit code {code}")
            result = json.loads(lines[-1])
            report = json.loads(lines[-2])["report"]["metrics"]
            expect(set(result) == {"correct", "attempted", "failed", "metrics"},
                   "result keys")
            expect(result["correct"] and result["failed"] == 0,
                   f"{workload} trace={trace} outputs incorrect")
            expect(result["attempted"] >= 3, "cold and two timed passes")
            got = result["metrics"]
            expect(list(got) == [m["name"] for m in declared],
                   f"{workload} trace={trace} metric names")
            for m in declared:
                v = got[m["name"]]
                expect(v["unit"] == m["unit"] and isinstance(v["value"], (int, float)),
                       f"{m['name']} value and unit")
            for name in ("setup_s", "cold_s", "wall_s", "error_rate"):
                expect(name in report, f"report has {name}")
            if workload == "crawl_graph":
                expect(report["pagerank_edges_per_s"]["value"] > 0, "edges/s")
            if trace:
                for prefix in LAYERS[workload] + EVERY_RUN:
                    names = [k for k in report if k.startswith(prefix)]
                    expect(names, f"{workload} traced report lacks {prefix}*")
                    timed = [k for k in names if k.endswith(".s")]
                    expect(all(report[k]["value"] > 0 for k in timed),
                           f"{workload} {prefix}s is not positive")
                expect(os.path.exists(os.path.join(
                    ROOT, ".perfbench", "spans", f"{workload}-seed3.json")),
                    "spans written")
            print(f"ok {workload} trace={trace}", flush=True)


def check_fails_without_engine() -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines = run(bare, "neardup_docs", 0)
        expect(code != 0 and not lines, "a run without the engine must fail")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok fails without the engine", flush=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_oracles()
    print("ok oracles", flush=True)
    check_link_rule()
    print("ok crawl link rule", flush=True)
    check_fails_without_engine()
    check_runs(bench)
    print("selftest passed")


if __name__ == "__main__":
    main()
