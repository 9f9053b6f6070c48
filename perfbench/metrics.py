"""Metrics from the harness's raw output.

End-to-end metrics come from untraced operations only; per-layer metrics
come from the spans and job-group counters of traced operations.
"""
import statistics
from collections import defaultdict

END_TO_END = [  # name, unit
    ("setup_s", "s"),
    ("query_p50_ms", "ms"),
    ("query_p90_ms", "ms"),
    ("queries_per_s", "1/s"),
    ("pass_s", "s"),
    ("heap_peak_mb", "MB"),
]

LLM_STAGES = [
    "llm.TextAnalysis.normalizeText",
    "llm.TextAnalysis.qualityScore",
    "llm.Dedup.exactDedup",
    "llm.Dedup.minHashDedup",
    "llm.TextAnalysis.bpeLearnMerges",
    "llm.Mixing.shuffleShard",
]

LLM_OPS_PER_PASS = len(LLM_STAGES) + 2  # the stages, the write and the read

SQL_SPANS = ["Dialect.rewrite", "Engine.execute", "catalyst.parse",
             "catalyst.analyze", "catalyst.optimize", "catalyst.plan",
             "exec.action"]

COUNTERS = [  # harness counter -> per-layer metric, unit
    ("jobs", "exec.jobs", "count"),
    ("stages", "exec.stages", "count"),
    ("tasks", "exec.tasks", "count"),
    ("task_run_ms", "exec.task_run_ms", "ms"),
    ("task_cpu_ms", "exec.task_cpu_ms", "ms"),
    ("gc_ms", "exec.gc_ms", "ms"),
    ("input_bytes", "exec.input_bytes", "B"),
    ("shuffle_read_bytes", "exec.shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "exec.shuffle_write_bytes", "B"),
    ("spill_bytes", "exec.spill_bytes", "B"),
    ("codegen_compiles", "codegen.compiles", "count"),
    ("codegen_compile_ms", "codegen.compile_ms", "ms"),
]


def per_layer_names():
    """Every per-layer metric with its unit, in report order."""
    names = [(s + "_ms", "ms") for s in SQL_SPANS]
    names += [("Engine.execute.self_ms", "ms"), ("exec.action.self_ms", "ms")]
    names += [(m, u) for _, m, u in COUNTERS]
    names += [("exec.core_busy_ratio", "ratio")]
    for st in LLM_STAGES:
        names += [(st + ".construct_ms", "ms"), (st + ".construct_jobs", "count"),
                  (st + ".action_ms", "ms"), (st + ".jobs", "count")]
    names += [("Sources.write_ms", "ms"), ("Sources.write_bytes", "B"),
              ("Sources.files_written", "count"), ("Sources.read_ms", "ms")]
    names += [("setup.session_ms", "ms"), ("setup.inputs_ms", "ms"),
              ("setup.warmup_ms", "ms"), ("env.canary_ms", "ms"),
              ("trace.overhead_ratio", "ratio")]
    return names


def percentile(values, q):
    """Linear interpolation between closest ranks (q in [0, 100])."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def self_times(spans):
    """{span id: self time in µs}: a span's duration minus the part of its
    interval covered by its children (overlapping children counted once).
    `spans` holds [id, parent, op, name, start_us, end_us] rows.
    """
    children = defaultdict(list)
    for s in spans:
        if s[1] >= 0:
            children[s[1]].append(s)
    out = {}
    for s in spans:
        start, end = s[4], s[5]
        covered, cur = 0.0, start
        for c in sorted(children[s[0]], key=lambda c: c[4]):
            lo, hi = max(c[4], cur), min(c[5], end)
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s[0]] = (end - start) - covered
    return out


def end_to_end(raw):
    """Over the run's fixed set of passes: latency percentiles of all its
    operations, the median pass time, and operations per second of the
    whole loop. Set-up is the run's one set-up, measured cold.
    """
    lat = [o["ms"] for o in raw["ops"] if not o["traced"] and o["error"] is None]
    values = {
        "setup_s": raw["setup"]["total_ms"] / 1e3,
        "query_p50_ms": percentile(lat, 50),
        "query_p90_ms": percentile(lat, 90),
        "queries_per_s": len(lat) / (sum(raw["pass_ms"]) / 1e3),
        "pass_s": statistics.median(raw["pass_ms"]) / 1e3,
        "heap_peak_mb": raw["heap_peak_mb"],
    }
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def overhead_ratio(raw):
    """Traced over untraced wall time of the same work: each query template,
    TPC-H query or pipeline stage runs traced and untraced on alternate
    passes, and the ratio compares the sums of their per-name means.
    """
    by = defaultdict(lambda: ([], []))
    for o in raw["ops"]:
        if o["error"] is not None:
            continue
        by[o["name"].split("#")[0]][1 if o["traced"] else 0].append(o["ms"])
    pairs = [(_mean(t), _mean(u)) for u, t in by.values() if u and t]
    return sum(t for t, _ in pairs) / sum(u for _, u in pairs) if pairs else 0.0


def per_layer(raw, cores):
    """Per-layer metrics over the traced operations of the first two passes
    (a fixed set of operations for a given seed): SQL workloads report the
    mean per traced query, llm_curate the mean per pipeline pass, where
    the traced stages of two passes make up one pass.
    """
    traced = {o["id"]: o for o in raw["ops"]
              if o["traced"] and o["error"] is None and o["pass"] < 2}
    llm = raw["workload"] == "llm_curate"
    n = max(len(traced) / (LLM_OPS_PER_PASS if llm else 1), 1)
    spans = [s for s in raw["spans"] if s[2] in traced]
    selfs = self_times(spans)
    total = defaultdict(float)   # span name -> summed duration, ms
    self_total = defaultdict(float)
    for s in spans:
        total[s[3]] += (s[5] - s[4]) / 1e3
        self_total[s[3]] += selfs[s[0]] / 1e3
    groups = {}
    for g in raw["groups"]:
        head = g["group"].split("/")[0].replace("op-", "")
        if int(head) in traced:
            groups[g["group"]] = g
    counter_sum = defaultdict(float)
    for g in groups.values():
        for key, _, _ in COUNTERS:
            counter_sum[key] += g[key]

    v = {}
    for s in SQL_SPANS:
        v[s + "_ms"] = total[s] / n
    v["Engine.execute.self_ms"] = self_total["Engine.execute"] / n
    v["exec.action.self_ms"] = self_total["exec.action"] / n
    for key, name, _ in COUNTERS:
        v[name] = counter_sum[key] / n
    busy_wall = total["op"] if llm else total["exec.action"]
    v["exec.core_busy_ratio"] = (counter_sum["task_run_ms"] / (busy_wall * cores)
                                 if busy_wall else 0.0)
    for st in LLM_STAGES:
        v[st + ".construct_ms"] = total[st + ".construct"] / n
        v[st + ".action_ms"] = total[st + ".action"] / n
        for phase, suffix in (("construct", ".construct_jobs"), ("action", ".jobs")):
            v[st + suffix] = sum(
                g["jobs"] for name, g in groups.items()
                if name.endswith("/" + phase)
                and traced[int(name.split("/")[0])]["name"] == st) / n
    checks = [c for c in raw["checks"] if c["pass"] < 2] if llm else []
    v["Sources.write_ms"] = total["Sources.write"] / n
    v["Sources.read_ms"] = total["Sources.read"] / n
    v["Sources.write_bytes"] = _mean(c.get("bytes_written", 0) for c in checks)
    v["Sources.files_written"] = _mean(c.get("files_written", 0) for c in checks)
    for part in ("session", "inputs", "warmup"):
        v[f"setup.{part}_ms"] = raw["setup"][f"{part}_ms"]
    v["env.canary_ms"] = _mean(raw["env"]["canary_ms"])
    v["trace.overhead_ratio"] = overhead_ratio(raw)
    return {name: {"value": v[name], "unit": u} for name, u in per_layer_names()}
