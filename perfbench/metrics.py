"""Pure metric arithmetic of the benchmark: config checks, percentiles,
span self time, and the reduction of one harness record to metrics.

Nothing here touches the JVM or the file system, so the benchmark's own
tests (perfbench/tests) exercise it directly.
"""

import math
import statistics

SINKS = ("parquet", "count")
# a tail percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


class ConfigError(ValueError):
    pass


def validate_config(cfg, pinned):
    """Checks the workload table: every workload non-empty, no key twice in
    one workload, no excluded key, every key pinned (the pins are generated
    from SparkEntry.queries, so an unpinned key is an unknown one)."""
    excluded = set(cfg.get("excluded", {}))
    workloads = cfg.get("workloads", {})
    if not workloads:
        raise ConfigError("no workloads")
    for name, w in workloads.items():
        keys = w.get("keys", [])
        if not keys:
            raise ConfigError(f"workload {name} has no keys")
        seen = set()
        for k in keys:
            if k in seen:
                raise ConfigError(f"workload {name} lists {k} twice")
            seen.add(k)
        bad = sorted(seen & excluded)
        if bad:
            raise ConfigError(f"workload {name} lists excluded keys: {', '.join(bad)}")
        unknown = sorted(seen - set(pinned))
        if unknown:
            raise ConfigError(f"workload {name} lists unknown keys: {', '.join(unknown)}")
        if w.get("sink") not in SINKS:
            raise ConfigError(f"workload {name} has sink {w.get('sink')!r}, not one of {SINKS}")
    return cfg


def tail_percentile(values, q):
    """The q-quantile (0 < q < 1) of values, interpolated between order
    statistics, or None unless at least MIN_BEYOND samples lie above it: a
    tail estimate from fewer samples than that is a few outliers, not a
    percentile."""
    n = len(values)
    if n == 0:
        return None
    pos = q * (n - 1)
    lo = math.floor(pos)
    if (n - 1) - lo < MIN_BEYOND:
        return None
    s = sorted(values)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    children cover (children clipped to the parent; overlapping children
    counted once). Returns {span id: self time}, in the spans' unit."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start_ms"], sp["end_ms"]
        clipped = [(max(s, c["start_ms"]), min(e, c["end_ms"]))
                   for c in kids.get(sp["id"], [])]
        clipped = [(a, b) for a, b in clipped if b > a]
        out[sp["id"]] = max(0.0, (e - s) - _covered(clipped))
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _queries_per_s(passes):
    """Completed queries over the passes' timed seconds (sweeps included)."""
    t = sum(p["timed_s"] for p in passes)
    return sum(1 for p in passes for q in p["queries"] if q["ok"]) / t if t else 0.0


def end_to_end(record):
    """End-to-end metrics of one run from the harness record. In a traced
    run only the untraced steady passes count, so both modes measure the
    same thing."""
    passes = record["passes"]
    first = next(p for p in passes if p["kind"] == "first")
    steady = [p for p in passes if p["kind"] == "steady" and not p["traced"]]
    done = [q for p in steady for q in p["queries"] if q["ok"]]
    per_key = {}
    for q in done:
        per_key.setdefault(q["key"], []).append(q["latency_s"])
    lat = [q["latency_s"] for q in done]
    return {
        "setup_s": _median([s["setup_s"] for s in record["setups"]]),
        "first_pass_s": first["timed_s"],
        "queries_per_s": _queries_per_s(steady),
        "latency_p50_s": _median([_median(v) for v in per_key.values()]),
        "latency_p90_s": tail_percentile(lat, 0.9),
        "cpu_s_per_query": (sum(p["jvm"]["cpu_s"] for p in steady) / len(done)
                            if done else 0.0),
        "live_heap_mb": max((q.get("live_heap_mb", 0.0) for p in passes for q in p["queries"]),
                            default=0.0),
    }


def outcome(record):
    """(attempted, failed, first errors) over every execution of the run,
    the fingerprinted warm-up pass included."""
    runs = [q for p in record["passes"] for q in p["queries"]]
    bad = [r for r in runs if not r["ok"]]
    return len(runs), len(bad), [f"{r['key']}: {r.get('error')}" for r in bad[:5]]


def per_layer(record, cores):
    """Per-layer metrics of a traced run: per-pass sums averaged over the
    traced steady passes, unless perfbench/LAYERS.json defines them
    otherwise."""
    traced = [p for p in record["passes"] if p["kind"] == "steady" and p["traced"]]
    untraced = [p for p in record["passes"] if p["kind"] == "steady" and not p["traced"]]
    first = next(p for p in record["passes"] if p["kind"] == "first")
    counters = record.get("counters", {})
    n = max(1, len(traced))
    sums = {}

    def add(k, v):
        sums[k] = sums.get(k, 0.0) + v

    peak = 0.0
    for p in traced:
        for q in p["queries"]:
            c = counters.get(f"{p['index']}:{q['key']}", {})
            add("ops.build_s", q["build_s"])
            add("ops.build_jobs", c.get("jobs.ops.build", 0))
            add("ops.persisted_rdds", q.get("persisted_rdds", 0))
            add("ops.persisted_mb", q.get("persisted_mb", 0.0))
            add("caches.sweep_s", q["sweep_s"])
            add("plan.s", q["plan_s"])
            ph = q.get("planning", {})
            add("plan.analysis_s", ph.get("analysis", 0.0))
            add("plan.optimizer_s", ph.get("optimization", 0.0))
            add("plan.planning_s", ph.get("planning", 0.0))
            for k, v in q.get("plan_counts", {}).items():
                add(f"plan.{k}", v)
            add("exec.s", q["sink_s"])
            add("exec.jobs", c.get("jobs.exec", 0))
            add("exec.stages", c.get("stages", 0))
            add("exec.tasks", c.get("tasks", 0))
            add("exec.task_run_s", c.get("task_run_ms", 0) / 1e3)
            add("exec.task_cpu_s", c.get("task_cpu_ns", 0) / 1e9)
            add("exec.task_overhead_s", (c.get("deserialize_ms", 0) + c.get("result_serialize_ms", 0)
                                         + c.get("getting_result_ms", 0)) / 1e3)
            add("exec.gc_s", c.get("gc_ms", 0) / 1e3)
            peak = max(peak, c.get("peak_task_mem_bytes", 0) / 1e6)
            add("exec.failed_tasks", c.get("failed_tasks", 0))
            add("exec.stage_retries", c.get("stage_retries", 0))
            add("shuffle.write_mb", c.get("shuffle_write_bytes", 0) / 1e6)
            add("shuffle.read_mb", c.get("shuffle_read_bytes", 0) / 1e6)
            add("shuffle.records_read", c.get("shuffle_records_read", 0))
            add("shuffle.fetch_wait_s", c.get("shuffle_fetch_wait_ms", 0) / 1e3)
            add("shuffle.spill_mb", c.get("spill_bytes", 0) / 1e6)
            add("scan.input_mb", c.get("input_bytes", 0) / 1e6)
            add("scan.input_rows", c.get("input_records", 0))
            add("sink.output_mb", q.get("output_mb", 0.0))
            add("sink.output_rows", max(0, q["rows"]))
            add("sink.files", q.get("output_files", 0))
        add("scan.files_listed", p["jvm"]["files_listed"])
        add("jvm.gc_s", p["jvm"]["gc_s"])
        add("pass_s", p["timed_s"])
    m = {k: v / n for k, v in sums.items()}
    m["exec.peak_task_mem_mb"] = peak
    pass_s = m.pop("pass_s", 0.0)
    m["exec.core_util"] = m.get("exec.task_cpu_s", 0.0) / (pass_s * cores) if pass_s else 0.0
    setups = record["setups"]
    m["artifacts.graphs_s"] = _median([s.get("artifacts_graphs_s", 0.0) for s in setups])
    # compilation happens once per plan shape, so it is read on the first pass
    m["codegen.compiles"] = first["jvm"]["codegen_compiles"]
    m["codegen.compile_s"] = first["jvm"]["codegen_compile_s"]
    m["jvm.jit_s"] = first["jvm"]["jit_s"]
    m["jvm.codecache_mb"] = record["passes"][-1]["codecache_mb"]
    m["host.other_cpu_share"] = record["host"].get("other_cpu_share", 0.0)

    qt, qu = _queries_per_s(traced), _queries_per_s(untraced)
    m["trace.queries_per_s"] = qt
    m["trace.overhead"] = 1.0 - qt / qu if qu else 0.0

    spans = record.get("spans", [])
    traced_ids = {str(p["index"]) for p in traced}
    st = self_times(spans)
    for name in PASS_LAYERS:
        tot = sum(st[sp["id"]] for sp in spans
                  if sp["name"] == name and sp["query"].split(":", 1)[0] in traced_ids)
        m[f"self.{name}_s"] = tot / 1e3 / n
    setup = [st[sp["id"]] for sp in spans if sp["name"] == "setup"]
    m["self.setup_s"] = _median(setup) / 1e3
    return m


# span names below a pass whose self time is reported per pass
PASS_LAYERS = ("query", "ops.build", "plan", "exec", "caches.sweep", "job", "stage")
