"""Per-layer metrics of a traced run, from its spans.

A span covers one public call into a layer (see ``workloads``); a metric
is named ``<layer>.<figure>``, as in BENCHMARK.json. Every call reports the
figures of ``_call``; some layers add their own. A layer a workload does
not call reports nothing here.
"""

from __future__ import annotations

import re

from attribution import Span, Tracer, median

# the job group the engine's loops give each iteration ends in _it<n>
_ITERATION_GROUP = re.compile(r"_it\d+$")


def _call(tracer: Tracer, span: Span) -> dict:
    f = span.figures
    return {
        "s": span.seconds,
        "self_s": tracer.self_seconds(span),
        "jobs": f.jobs,
        "stages": f.stages,
        "tasks": f.tasks,
        "task_busy_s": f.task_busy_s,
        "driver_gap_s": span.seconds - f.stage_covered_s,
        "shuffle_read_bytes": f.shuffle_read_bytes,
        "shuffle_write_bytes": f.shuffle_write_bytes,
        "spill_bytes": f.spill_bytes,
        "failed_tasks": f.failed_tasks,
        "task_skew": f.task_skew,
    }


def _loop_groups(span: Span, prefix: str) -> list[str]:
    return [g for g in span.figures.group_windows
            if g.startswith(prefix) and _ITERATION_GROUP.search(g)]


def _one_pass(tracer: Tracer, spans: list[Span], out: dict) -> dict:
    m: dict[str, float] = {}
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    for name, group in by_name.items():
        if name == "tablestore":  # reported as snapshot totals below
            continue
        for k, v in _call(tracer, group[0]).items():
            m[f"{name}.{k}"] = v

    if "extract" in by_name:
        x = by_name["extract"][0]
        m["extract.pages_per_s"] = x.extra["pages"] / x.seconds
    if "linkgraph" in by_name:
        x = by_name["linkgraph"][0].extra
        m["linkgraph.links_per_edge"] = x["links"] / x["edges"]
    if "pagerank" in by_name:
        pr = by_name["pagerank"][0]
        x = pr.extra
        snaps = by_name.get("tablestore", [])
        snapshot_s = sum(s.seconds for s in snaps)
        groups = _loop_groups(pr, "pr_")
        iters = max(x["iterations"], 1)
        m.update({
            "pagerank.iterations": x["iterations"],
            "pagerank.init_s": pr.seconds - sum(x["iter_s"]) - snapshot_s,
            "pagerank.iter_s_median": median(x["iter_s"]),
            "pagerank.iter_s_max": max(x["iter_s"], default=0.0),
            "pagerank.stages_per_iter":
                sum(pr.figures.group_stages.get(g, 0) for g in groups) / iters,
            "pagerank.driver_gap_s_per_iter": (
                sum(x["iter_s"])
                - sum(pr.figures.group_covered_s.get(g, 0.0) for g in groups)
            ) / iters,
            "pagerank.shuffle_bytes_per_iter": sum(x["shuffle_bytes"]) / iters,
            "pagerank.edges_per_s": x["edges"] * x["iterations"] / pr.seconds,
            "pagerank.sink_s": by_name["pagerank_sink"][0].seconds,
            "tablestore.snapshots": len(snaps),
            "tablestore.snapshot_s": snapshot_s,
            "tablestore.snapshot_bytes": out["snapshot_bytes"],
        })
    for name in ("dedup.lsh", "dedup.simhash_pairs"):
        if name in by_name:
            x = by_name[name][0]
            pairs = x.extra["pairs"]
            m[f"{name}.pairs"] = pairs
            m[f"{name}.shuffle_records_per_pair"] = (
                x.figures.shuffle_read_records / max(pairs, 1))
    # connected components runs inside neardup_clusters, a thin wrapper
    # that joins its labels back to the documents
    if "dedup.clusters" in by_name:
        cc = by_name["dedup.clusters"][0]
        for k, v in _call(tracer, cc).items():
            m[f"components.{k}"] = v
        windows = [b - a for g, (a, b) in cc.figures.group_windows.items()
                   if g in _loop_groups(cc, "cc_")]
        m["components.rounds"] = len(windows)
        m["components.round_s_median"] = median(windows)
    if "labelprop" in by_name:
        m["labelprop.iterations"] = by_name["labelprop"][0].extra["iterations"]
    return m


def per_layer(tracer: Tracer, outs: list[dict | None]) -> dict:
    """Median over the traced passes of every per-layer metric; ``outs``
    are the passes' outputs in order, None where a pass raised."""
    passes: dict[int, list[Span]] = {}
    for s in tracer.spans:
        passes.setdefault(s.pass_no, []).append(s)
    # pass numbers count from 1, in the order of ``outs``
    rows = [_one_pass(tracer, passes[i], out)
            for i, out in enumerate(outs, start=1)
            if out is not None and i in passes]
    names = {k for r in rows for k in r}
    return {k: median([r[k] for r in rows if k in r]) for k in sorted(names)}
