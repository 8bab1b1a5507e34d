"""The benchmark's metrics: names, units, and the per-layer numbers folded
from a traced run's spans and Spark event log.

Every metric is reported on every workload; a layer a workload never
calls reads 0.
"""

from __future__ import annotations

import statistics

import catalog
import pvs
from instrument import covered, self_time

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}

_FOLDED = ("wall_s", "jobs", "py4j_calls", "task_cpu_s", "shuffle_write_mb",
           "spill_mb", "driver_only_s")
_HIGHER_IS_BETTER = ("link_yield", "pairs_per_s", "pik_coverage", "pik_accuracy")


def workload(name: str):
    return {m.NAME: m for m in (pvs, catalog)}[name]


def _per_layer_units() -> dict[str, str]:
    units: dict[str, str] = {}

    def add(layer: str, **metrics: str) -> None:
        units.update({f"{layer}.{m}": u for m, u in metrics.items()})

    add("plans.reference_files", wall_s="s", jobs="count")
    add("plans.preprocess", wall_s="s", jobs="count", task_cpu_s="s")
    add("operators.estimation", wall_s="s", jobs="count")
    add("plans.cascade.start_module", wall_s="s", jobs="count")
    add("plans.cascade.run_matching_pass", wall_s="s", jobs="count",
        py4j_calls="count", construct_s="s", driver_only_s="s", pass_p50_s="s",
        pass_max_s="s", task_cpu_s="s", shuffle_write_mb="MB", spill_mb="MB")
    add("operators.blocking", pairs="count", link_yield="ratio", pairs_per_s="1/s")
    add("plans.cascade.confirm_piks", wall_s="s", jobs="count", driver_only_s="s")
    add("plans.hhcomp", wall_s="s")
    add("plans.cascade.attach_piks", wall_s="s")
    add("plans.accuracy", pik_coverage="ratio", pik_accuracy="ratio")
    for entry in catalog.ENTRIES:
        add(catalog.layer(entry), construct_s="s", construct_jobs="count",
            execute_s="s", py4j_calls="count", task_cpu_s="s")
    add("jvm", peak_rss_mb="MB")
    add("trace", wall_s="s", overhead_s="s", count_drift="count")
    return units


PER_LAYER = _per_layer_units()


def units(trace: bool) -> dict[str, str]:
    return PER_LAYER if trace else END_TO_END


def better(name: str) -> str:
    return "higher" if name.rsplit(".", 1)[1] in _HIGHER_IS_BETTER else "lower"


def fold(spans, groups) -> dict[str, dict]:
    """Span name -> summed wall, jobs, py4j calls, and (for outermost
    spans) the event-log numbers of its job group; plus each span's
    duration. Driver-only time is the part of an outermost span that no
    job of its group covers."""
    out: dict[str, dict] = {}
    for s in spans:
        f = out.setdefault(s.name, dict.fromkeys(_FOLDED, 0) | {"durations": []})
        d = s.end - s.start
        f["wall_s"] += d
        f["durations"].append(d)
        f["jobs"] += s.jobs
        f["py4j_calls"] += s.py4j
        if s.group is None:
            continue
        g = groups.get(s.group)
        intervals = g.job_intervals if g else []
        f["driver_only_s"] += d - covered(intervals, s.start, s.end)
        if g:
            f["task_cpu_s"] += g.task_cpu_s
            f["shuffle_write_mb"] += g.shuffle_write_mb
            f["spill_mb"] += g.spill_mb
    return out


def _iteration_metrics(f: dict, record: dict) -> dict[str, float]:
    m: dict[str, float] = {}
    for name in PER_LAYER:
        layer, key = name.rsplit(".", 1)
        if key in _FOLDED and layer in f:
            m[name] = f[layer][key]
    rmp = f.get("plans.cascade.run_matching_pass")
    if rmp:
        m["plans.cascade.run_matching_pass.construct_s"] = (
            f.get("plans.cascade.build_pass_links", {}).get("wall_s", 0.0)
        )
        m["plans.cascade.run_matching_pass.pass_p50_s"] = statistics.median(rmp["durations"])
        m["plans.cascade.run_matching_pass.pass_max_s"] = max(rmp["durations"])
        counts = pvs.pass_counts(record["out"])
        pairs = sum(p for p, _ in counts)
        m["operators.blocking.pairs"] = pairs
        m["operators.blocking.link_yield"] = sum(n for _, n in counts) / pairs if pairs else 0.0
        m["operators.blocking.pairs_per_s"] = pairs / rmp["wall_s"]
    for entry in catalog.ENTRIES:
        layer = catalog.layer(entry)
        con, exe = f.get(f"{layer}.construct"), f.get(f"{layer}.execute")
        if con and exe:
            m[f"{layer}.construct_s"] = con["wall_s"]
            m[f"{layer}.construct_jobs"] = con["jobs"]
            m[f"{layer}.execute_s"] = exe["wall_s"]
            m[f"{layer}.py4j_calls"] = con["py4j_calls"] + exe["py4j_calls"]
            m[f"{layer}.task_cpu_s"] = con["task_cpu_s"] + exe["task_cpu_s"]
    m["trace.wall_s"] = record["wall_s"]
    m["trace.overhead_s"] = record["hook_s"]
    return m


def count_drift(per_iteration: list[dict]) -> list[dict]:
    """Job and py4j counts that differ between iterations of one run."""
    drift = []
    for layer in sorted({k for f in per_iteration for k in f}):
        for key in ("jobs", "py4j_calls"):
            values = [f.get(layer, {}).get(key, 0) for f in per_iteration]
            if len(set(values)) > 1:
                drift.append({"layer": layer, "counter": key, "per_iteration": values})
    return drift


def per_layer(probe, records: list[dict], observed: dict | None, groups) -> tuple[dict, dict]:
    """Per-layer metrics of the first timed iteration, the one an untraced
    run times, and the detail written beside them: per-iteration counts,
    count drift between iterations, and spans with self time."""
    spans = probe.spans
    folded = [
        fold([s for s in spans if s.iteration == i], groups)
        for i in range(1, len(records) + 1)
    ]
    metrics = dict.fromkeys(PER_LAYER, 0)
    if records:
        metrics.update(_iteration_metrics(folded[0], records[0]))
    setup = fold([s for s in spans if s.iteration == 0], groups)
    for key in ("wall_s", "jobs"):
        metrics[f"plans.reference_files.{key}"] = (
            setup.get("plans.reference_files", {}).get(key, 0)
        )
    if observed and "pik_coverage" in observed:
        metrics["plans.accuracy.pik_coverage"] = observed["pik_coverage"]
        metrics["plans.accuracy.pik_accuracy"] = observed["pik_accuracy"]
    drift = count_drift(folded)
    metrics["trace.count_drift"] = len(drift)
    counts = [
        {layer: {k: f[layer][k] for k in ("jobs", "py4j_calls")} for layer in f}
        for f in folded
    ]
    spans_out = [
        s.__dict__ | {"self_s": st} for s, st in zip(spans, self_time(spans))
    ]
    return metrics, {"count_drift": drift, "counts_per_iteration": counts, "spans": spans_out}
