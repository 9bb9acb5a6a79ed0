"""Per-layer metrics from the spans of a traced run.

Spans are recorded by the benchmark around its calls into the library
(`<module>.<step>`); the benchmark's SparkListener sums task counters
per span. A name repeated within a pass (one span per query) is summed
over the pass, and every metric is the median over the traced passes.
Every workload prints the one name list, so a span of a pipeline the
workload does not run reads 0.
"""
import statistics

# spans per pipeline (a workload's part)
SPANS = {
    "tlq_sales": ["etl.transform", "sources.load", "sources.query"],
    "faas_report": ["sources.json_read", "runner.pipeline", "report.build",
                    "report.overlap", "report.window", "sources.report_write"],
    "curation_chain": ["ops.dedup.candidates", "ops.dedup.verify",
                       "ops.components", "ops.decontaminate", "ops.repetition",
                       "ops.mix_pack"],
}
SPAN_METRICS = [("wall_s", "s"), ("driver_s", "s"), ("tasks", "count"),
                ("exec_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]
EXTRA = {
    "tlq_sales": [("etl.transform.input_mb", "MB"), ("etl.transform.output_mb", "MB"),
                  ("sources.load.output_mb", "MB")],
    "faas_report": [("report.overlap.shuffle_records_per_row", "ratio")],
    "curation_chain": [("ops.dedup.verify_yield", "ratio"),
                       ("ops.components.jobs", "count")],
}
PER_WORKLOAD = [("pass.self_s", "s"), ("gc_s", "s"), ("empty_task_ratio", "ratio"),
                ("core.shuffle_partitions", "count"),
                ("trace_overhead_ratio", "ratio")]


def names():
    """Every per-layer metric name a run prints, with its unit."""
    out = []
    for part, spans in SPANS.items():
        for sp in spans:
            out += [(f"{sp}.{m}", u) for m, u in SPAN_METRICS]
        out += EXTRA[part]
    return out + PER_WORKLOAD


def _covered_s(intervals, lo, hi):
    """Seconds of [lo, hi] (epoch ms) covered by the union of intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total / 1000.0


def per_layer(res):
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree(i):
        out = [i]
        for c in children.get(i, []):
            out += subtree(c)
        return out

    # one value per (pass, metric name): span instances summed per pass
    per_pass = {}

    def add(p, key, v):
        per_pass.setdefault(p, {}).setdefault(key, 0.0)
        per_pass[p][key] += v

    for s in spans:
        p = s["pass"]
        tree = [by_id[i] for i in subtree(s["id"])]
        jobs = [iv for t in tree for iv in t["job_intervals_ms"]]
        if s["name"] == "pass":
            kids = sum(by_id[c]["wall_s"] for c in children.get(s["id"], []))
            add(p, "pass.self_s", s["wall_s"] - kids)
            continue
        n = s["name"]
        add(p, f"{n}.wall_s", s["wall_s"])
        add(p, f"{n}.driver_s",
            max(0.0, s["wall_s"] - _covered_s(jobs, s["start_ms"], s["end_ms"])))
        add(p, f"{n}.tasks", sum(t["tasks"] for t in tree))
        add(p, f"{n}.exec_cpu_s", sum(t["exec_cpu_s"] for t in tree))
        add(p, f"{n}.shuffle_write_mb",
            sum(t["shuffle_write_bytes"] for t in tree) / 1048576.0)
        add(p, f"{n}.spill_mb", sum(t["spill_bytes"] for t in tree) / 1048576.0)
        for k, v in s["extra"].items():
            add(p, f"{n}.{k}", v)
        if n == "report.overlap":
            add(p, "report.overlap.shuffle_records_per_row",
                sum(t["shuffle_write_records"] for t in tree)
                / max(1.0, s["extra"].get("rows", 1.0)))
        if n == "ops.components":
            add(p, "ops.components.jobs", sum(t["jobs"] for t in tree))
    for p, m in per_pass.items():
        cand = m.get("ops.dedup.candidates.pairs")
        if cand:
            m["ops.dedup.verify_yield"] = m.get("ops.dedup.verify.pairs", 0.0) / cand
        m["_tasks"] = sum(s["tasks"] for s in spans if s["pass"] == p)
        m["_empty"] = sum(s["empty_tasks"] for s in spans if s["pass"] == p)

    traced = [x for x in res["passes"] if x["traced"] and "error" not in x]
    plain = [x for x in res["passes"] if not x["traced"] and "error" not in x]

    def med(key):
        vals = [per_pass.get(x["i"], {}).get(key, 0.0) for x in traced]
        return statistics.median(vals) if vals else 0.0

    out = {name: (med(name), unit) for name, unit in names()}
    tasks = sum(per_pass.get(x["i"], {}).get("_tasks", 0) for x in traced)
    empty = sum(per_pass.get(x["i"], {}).get("_empty", 0) for x in traced)
    out["gc_s"] = (statistics.median(x["gc_s"] for x in traced) if traced else 0.0, "s")
    out["empty_task_ratio"] = (empty / tasks if tasks else 0.0, "ratio")
    out["core.shuffle_partitions"] = (res["env"]["shuffle_partitions"], "count")
    if traced and plain:
        out["trace_overhead_ratio"] = (
            statistics.median(x["wall_s"] for x in traced)
            / statistics.median(x["wall_s"] for x in plain) - 1, "ratio")
    return out
