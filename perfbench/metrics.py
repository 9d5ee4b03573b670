"""Metric names, units and how each is computed from one run's ledger.

End-to-end metrics (``--trace 0``) come from every round of the run; they are
the same three on every workload. Per-layer metrics (``--trace 1``) come from
the traced rounds of a traced run, except the per-operation latencies, which
come from its untraced rounds. A layer a workload never enters reports 0.
perfbench/README.md defines each metric and names the end-to-end metric it
should move.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

from layers import COMMITS, SPARK_KEYS, group_totals, read_event_log, tasks_in_window
from workloads import BENCH_QUERIES

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "space_amp": "ratio",
}

OP_CLASSES = ("rewrite", "twopass", "incr", "append", "merge", "delete", "housekeeping",
              "lookup", "range", "export")

PER_LAYER = {
    # per-operation latencies and rates (untraced rounds of a traced run)
    "op_geomean_s": "s",
    "rewrite_images_per_s": "1/s",
    "twopass_images_per_s": "1/s",
    "incr_s": "s",
    "append_p50_s": "s",
    "append_tail_s": "s",
    "append_tail_pct": "%",
    "append_samples": "count",
    "merge_s": "s",
    "delete_s": "s",
    "housekeeping_s": "s",
    "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "lookup_tail_pct": "%",
    "lookup_samples": "count",
    "range_scan_p50_s": "s",
    "export_images_per_s": "1/s",
    "analytics_total_s": "s",
    "trace_overhead_frac": "ratio",
    # maintenance.cluster
    "cluster.bounds_s": "s",
    "cluster.map_s": "s",
    "cluster.reduce_s": "s",
    "cluster.publish_s": "s",
    "cluster.commit_s": "s",
    "cluster.map_tasks": "count",
    "cluster.map_task_s": "s",
    "cluster.map_untimed_s": "s",
    "cluster.map_untimed_frac": "ratio",
    # maintenance.compact
    "compact.plan_s": "s",
    "compact.write_s": "s",
    "compact.tasks": "count",
    "compact.task_s": "s",
    "compact.commit_s": "s",
    # maintenance.cluster_incremental
    "incr.probe_s": "s",
    "incr.route_s": "s",
    "incr.merge_s": "s",
    "incr.commit_s": "s",
    "incr.bytes_rewritten_frac": "ratio",
    # maintenance.checkpoint
    "checkpoint.group_states_s": "s",
    "checkpoint.fragments_read": "count",
    # core.table / core.manifests / core.metadata
    "table.commit_append_s": "s",
    "table.commit_replace_s": "s",
    "table.commit_dv_s": "s",
    "table.commits": "count",
    "table.scan_plan_s": "s",
    "table.live_entries_s": "s",
    "manifests.read_s": "s",
    "manifests.files_read": "count",
    "metadata.load_s": "s",
    "metadata.bytes": "B",
    # maintenance.merge / deletes / rewrite_deletes / expire
    "merge.touched_files": "count",
    "merge.rows_rewritten_per_change": "ratio",
    "delete.candidate_files": "count",
    "delete.touched_files": "count",
    "rewrite_deletes.s": "s",
    "expire.s": "s",
    "expire.files_removed": "count",
    # sources.table_source
    "source.plan_s": "s",
    "source.exec_s": "s",
    "source.files_scanned": "count",
    "source.prune_ratio": "ratio",
    # images.export
    "export.s": "s",
    "export.shards": "count",
    "export.tasks": "count",
    # queries
    **{f"query.{q}.{part}_s": "s" for q in BENCH_QUERIES for part in ("plan", "exec")},
    # Spark runtime, from the event log
    "spark.session_start_s": "s",
    **{f"spark.{k}": ("B" if k.endswith("bytes") else "count" if k == "tasks" else "s")
       for k in SPARK_KEYS},
    **{f"spark.{c}.{k}": ("count" if k == "tasks" else "s")
       for c in OP_CLASSES for k in ("tasks", "task_run_s")},
}


def med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it: the (n-10)th smallest of n samples. With ten or fewer
    samples no such percentile exists and the maximum is reported as 100%."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def _timed(led, traced: bool | None = None) -> list[dict]:
    return [o for o in led.ops if not o.get("untimed")
            and (traced is None or o["traced"] == traced)]


def _round_times(ops) -> list[float]:
    by_round: dict[int, float] = defaultdict(float)
    for o in ops:
        by_round[o["round"]] += o["secs"]
    return list(by_round.values())


def _class_secs(ops) -> dict[str, list[float]]:
    out: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        if o["ok"]:
            out[o["cls"]].append(o["secs"])
    return out


def op_secs(led) -> dict[str, list[float]]:
    """Seconds of every successful timed operation, by operation class."""
    return _class_secs(_timed(led))


def _metric(values: dict, registry: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in registry.items()}


def end_to_end(wl, led, setup_s: list[float], once_s: float) -> dict:
    return _metric({
        "setup_s": med(setup_s) + once_s,
        "round_s": med(_round_times(_timed(led, traced=False))),
        "space_amp": med(wl.amp),
    }, END_TO_END)


def _op_latencies(wl, led) -> dict:
    cs = _class_secs(_timed(led, traced=False))
    v: dict[str, float] = {}
    meds = [med(xs) for xs in cs.values() if xs]
    if meds:
        v["op_geomean_s"] = math.exp(sum(math.log(m) for m in meds) / len(meds))

    def rate(cls: str, rows: int) -> float:
        m = med(cs.get(cls, []))
        return rows / m if m else 0.0

    v["rewrite_images_per_s"] = rate("rewrite", getattr(wl, "rows_total", 0))
    v["twopass_images_per_s"] = rate("twopass", getattr(wl, "rows_total", 0))
    exports = [o for o in _timed(led, traced=False) if o["cls"] == "export" and o["ok"]]
    v["export_images_per_s"] = med([o["result"]["items"] / o["secs"] for o in exports])
    v["incr_s"] = med(cs.get("incr", []))
    v["merge_s"] = med(cs.get("merge", []))
    v["delete_s"] = med(cs.get("delete", []))
    v["housekeeping_s"] = med(cs.get("housekeeping", []))
    v["range_scan_p50_s"] = med(cs.get("range", []))
    queries = getattr(wl, "queries", {})
    v["analytics_total_s"] = sum(r[1] + r[2] for r in queries.values())
    for cls in ("append", "lookup"):
        xs = cs.get(cls, [])
        v[f"{cls}_p50_s"] = med(xs)
        v[f"{cls}_tail_s"], v[f"{cls}_tail_pct"] = tail(xs)
        v[f"{cls}_samples"] = len(xs)
    traced = _round_times(_timed(led, traced=True))
    untraced = _round_times(_timed(led, traced=False))
    if traced and untraced:
        v["trace_overhead_frac"] = med(traced) / med(untraced) - 1.0
    return v


def _phase_window(end: float, phases: dict, order: list[str], name: str) -> tuple[float, float]:
    """Epoch window of phase ``name``, walking back from the call's end
    through the phases recorded after it (``order`` lists the tail phases)."""
    hi = end - sum(phases.get(p, 0.0) for p in order[order.index(name) + 1:])
    return hi - phases.get(name, 0.0), hi


def per_layer(wl, led, tracer, event_dir: str, cpus: int, session_s: float) -> dict:
    v = _op_latencies(wl, led)
    v["spark.session_start_s"] = session_s
    traced = [o for o in _timed(led, traced=True) if o["ok"]]
    jobs, stages = read_event_log(event_dir)
    groups = group_totals(jobs, stages)
    by_cls: dict[str, list[dict]] = defaultdict(list)
    for o in traced:
        by_cls[o["cls"]].append(o)

    # maintenance.cluster: the fused rewrite and the second half of two-pass
    clusters = [(o["result"], o["t1"], o["group"]) for o in by_cls["rewrite"]]
    clusters += [(o["result"]["cluster"], o["result"]["spans"]["cluster"][1], o["group"])
                 for o in by_cls["twopass"]]
    cl = defaultdict(list)
    for res, end, group in clusters:
        ph = res.get("phases", {})
        for p in ("bounds", "map", "reduce", "publish", "commit"):
            cl[p].append(ph.get(p, 0.0))
        task_s = sum((ph.get("map_task_totals") or {}).values())
        cl["map_task_s"].append(task_s)
        cl["map_untimed_s"].append(ph.get("map", 0.0) - task_s / cpus)
        cl["map_untimed_frac"].append(
            (ph.get("map", 0.0) - task_s / cpus) / ph["map"] if ph.get("map") else 0.0)
        lo, hi = _phase_window(end, ph, ["bounds", "map", "reduce", "publish", "commit"], "map")
        cl["map_tasks"].append(tasks_in_window(jobs, stages, group, lo, hi))
    for k, xs in cl.items():
        v[f"cluster.{k}" + ("" if k.startswith("map_") else "_s")] = med(xs)

    # maintenance.compact: first half of two-pass, and mutate's housekeeping
    compacts = [(o["result"]["compact"], o["result"]["spans"]["compact"][1], o["group"])
                for o in by_cls["twopass"] + by_cls["housekeeping"]]
    co = defaultdict(list)
    for res, end, group in compacts:
        ph = res.get("phases", {})
        if "write" not in ph:
            continue
        co["plan_s"].append(ph.get("plan", 0.0))
        co["write_s"].append(ph["write"])
        co["commit_s"].append(ph.get("commit", 0.0))
        co["task_s"].append(sum((ph.get("task_totals") or {}).values()))
        lo, hi = _phase_window(end, ph, ["write", "publish", "commit"], "write")
        co["tasks"].append(tasks_in_window(jobs, stages, group, lo, hi))
    for k, xs in co.items():
        v[f"compact.{k}"] = med(xs)

    # maintenance.cluster_incremental
    for p in ("probe", "route", "merge", "commit"):
        v[f"incr.{p}_s"] = med([o["result"].get("phases", {}).get(p) for o in by_cls["incr"]])
    v["incr.bytes_rewritten_frac"] = med(
        [o["result"].get("bytes_rewritten", 0) / o["table_bytes"] for o in by_cls["incr"]])

    # functions wrapped by the tracer: per-call medians, per-round counts
    spans = tracer.spans

    def per_call(name: str, i: int = 1) -> float:
        return med([s[i] for s in spans.get(name, [])])

    def per_round(names) -> float:
        counts: dict[int, int] = defaultdict(int)
        for name in names:
            for s in spans.get(name, []):
                counts[s[0]] += 1
        rounds = {o["round"] for o in traced}
        return med([counts.get(r, 0) for r in rounds])

    v["checkpoint.group_states_s"] = per_call("checkpoint.group_states")
    v["checkpoint.fragments_read"] = per_call("checkpoint.group_states", 2)
    v["table.commit_append_s"] = per_call("table.commit_append")
    v["table.commit_replace_s"] = per_call("table.commit_replace")
    v["table.commit_dv_s"] = per_call("table.commit_dv")
    v["table.commits"] = per_round(COMMITS)
    v["table.scan_plan_s"] = per_call("table.scan_plan")
    v["table.live_entries_s"] = per_call("table.live_entries")
    v["manifests.read_s"] = per_call("manifests.read")
    v["manifests.files_read"] = per_round(["manifests.read"])
    v["metadata.load_s"] = per_call("metadata.load")
    v["metadata.bytes"] = per_call("metadata.load", 2)

    # row-level ops and housekeeping
    merges = [o["result"] for o in by_cls["merge"]]
    v["merge.touched_files"] = med([m.get("touched_files") for m in merges])
    v["merge.rows_rewritten_per_change"] = med(
        [m["rows_rewritten"] / max(m["source_rows"], 1) for m in merges if "rows_rewritten" in m])
    deletes = [o["result"] for o in by_cls["delete"]]
    v["delete.candidate_files"] = med([d.get("candidate_files") for d in deletes])
    v["delete.touched_files"] = med([d.get("tombstoned_files") for d in deletes])
    hk = [o["result"] for o in by_cls["housekeeping"]]
    v["rewrite_deletes.s"] = med([h["secs"]["rewrite_deletes"] for h in hk])
    v["expire.s"] = med([h["secs"]["expire"] for h in hk])
    v["expire.files_removed"] = med(
        [h["expire"].get("deleted_files", 0) + h["expire"].get("deleted_manifests", 0)
         for h in hk])

    # sources.table_source: lookups and range scans through the data source
    reads = by_cls["lookup"] + by_cls["range"]
    v["source.plan_s"] = med([o["split"].get("plan_s") for o in reads])
    v["source.exec_s"] = med([o["split"].get("exec_s") for o in reads])
    v["source.files_scanned"] = med([o["files"][0] for o in reads if "files" in o])
    v["source.prune_ratio"] = med(
        [o["files"][0] / max(o["files"][1], 1) for o in reads if "files" in o])

    # images.export
    exports = by_cls["export"]
    v["export.s"] = med([o["secs"] for o in exports])
    v["export.shards"] = med([o["result"].get("exported") for o in exports])
    v["export.tasks"] = med([groups[o["group"]]["tasks"] for o in exports])

    # queries
    for q, (_, plan_s, exec_s) in getattr(wl, "queries", {}).items():
        v[f"query.{q}.plan_s"] = plan_s
        v[f"query.{q}.exec_s"] = exec_s

    # Spark runtime: per traced round over all timed ops, and per op class
    per_round_tot: dict[int, dict] = defaultdict(lambda: dict.fromkeys(SPARK_KEYS, 0.0))
    for o in traced:
        g = groups.get(o["group"])
        if g:
            for k in SPARK_KEYS:
                per_round_tot[o["round"]][k] += g[k]
    for k in SPARK_KEYS:
        v[f"spark.{k}"] = med([t[k] for t in per_round_tot.values()])
    for cls in OP_CLASSES:
        for k in ("tasks", "task_run_s"):
            v[f"spark.{cls}.{k}"] = med([groups[o["group"]][k] for o in by_cls.get(cls, [])
                                          if o["group"] in groups])
    return _metric(v, PER_LAYER)
