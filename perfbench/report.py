"""Metric arithmetic for the warehouse benchmark: percentiles, layer
attribution of Spark jobs, per-step self time, and the per-layer table.

Kept free of I/O so the unit tests in test_report.py exercise exactly the
code the benchmark reports with.
"""
import bisect
import math
import re
import statistics

# Engine modules, innermost frame first wins. A job belongs to the layer of
# the innermost `graft.*` frame on its call site.
LAYER_OF_CLASS = [
    (r"graft\.pipeline\.Sync\b", "Sync"),
    (r"graft\.catalog\.CatalogSync\b", "CatalogSync"),
    (r"graft\.catalog\.CatalogStats\b", "CatalogStats"),
    (r"graft\.sources\.(TsvSource|LazyTsv)\b", "TsvSource"),
    (r"graft\.pipeline\.Canonicalize\b", "Canonicalize"),
    (r"graft\.(pipeline\.Manifest|plans\.ManifestResolve)\b", "Manifest"),
    (r"graft\.(pipeline\.Skipping|plans\.SkippingFilePrune)\b", "Skipping"),
    (r"graft\.pipeline\.Rollup\b", "Rollup"),
    (r"graft\.pipeline\.(AppendCommit|SafeSwap|FreshFold)\b",
     "AppendCommit"),
    (r"graft\.pipeline\.Maintain\b", "Maintain"),
    (r"graft\.pipeline\.Cascade\b", "Cascade"),
    (r"graft\.Warehouse\b", "Warehouse"),
    (r"graft\.operators\.Dedup\b", "Dedup"),
    (r"graft\.operators\.Similarity\b", "Similarity"),
    (r"graft\.operators\.Curation\b", "Curation"),
    (r"graft\.operators\.Stats\b", "Stats"),
    (r"graft\.operators\.Graph\b", "Graph"),
    (r"graft\.operators\.Components\b", "Components"),
    (r"graft\.operators\.TermIndex\b", "TermIndex"),
]
LAYERS = [name for _, name in LAYER_OF_CLASS] + ["Other"]
STEP_KINDS = ["cold_sync", "delta_sync", "noop_sync", "forget", "sql",
              "operator"]
LAYER_FIELDS = ["jobs", "job_s", "task_s", "shuffle_mb", "driver_s"]
# the stack sampler's period (Recorder.SampleMs); a gap longer than a few
# periods (a stalled sampler) counts as this many periods only
SAMPLE_S = 0.010
MAX_SAMPLE_GAPS = 5
STEP_FIELDS = ["driver_only_s", "jobs", "fs_read_mb", "fs_write_mb"]
EXTRA_METRICS = [("delta_sync.write_amp", "ratio"),
                 ("sql.planning_ms", "ms"),
                 ("sql.files_read_ratio", "ratio")]

# Operator results known to differ from their oracle, and how. Such a check
# still fails and its op counts in `failed`; the run's `correct` verdict
# tolerates it only while every mismatch is of the recorded kind: float
# drift below `max_drift` (a tools/compare.py NEAR) in the named columns.
KNOWN_FAILURES = {
    "q122_pagerank": {"columns": {"rank"}, "max_drift": 1e-9,
                      "why": "float summation order in PageRank: `rank` "
                             "differs from DuckDB's by a few ulp"},
}

# "graft.X.m(X.scala:1)", optionally "at "- or class-loader-prefixed
_FRAME = re.compile(r"^\s*(?:at\s+)?(?:[\w.@-]*/+)?([\w$.]+)\(")


def _frame_layer(frame):
    m = _FRAME.match(frame)
    if not m or not m.group(1).startswith("graft."):
        return None
    cls = m.group(1)
    for pat, name in LAYER_OF_CLASS:
        if re.match(pat, cls):
            return name
    return "Other"


def layer_of_call_site(call_site):
    """Layer of the innermost `graft.*` frame of a long-form call site
    (frames innermost first, one per line), or None when no engine frame
    is on it."""
    for frame in (call_site or "").splitlines():
        layer = _frame_layer(frame)
        if layer:
            return layer
    return None


def layer_of_job(job, fallback):
    """A job's layer: its own call site; for jobs Spark submits from its
    own threads (adaptive sub-jobs, broadcasts) the call site of the SQL
    execution they belong to; else the layer of the benchmark's call that
    was running (`fallback`)."""
    return (layer_of_call_site(job.get("call_site"))
            or layer_of_call_site(job.get("sql_call_site"))
            or fallback or "Other")


def is_known_failure(query, mismatches):
    """True when a failed oracle compare of `query` is its recorded known
    failure: `mismatches` is a non-empty list of (column, relative drift)
    and every one lies in the recorded columns below the recorded drift."""
    k = KNOWN_FAILURES.get(query)
    return bool(k and mismatches and all(
        c in k["columns"] and d < k["max_drift"] for c, d in mismatches))


def tail_percentile(n):
    """The highest whole percentile (50..99) with at least ten of `n`
    samples strictly beyond it (nearest-rank), or None."""
    for p in range(99, 49, -1):
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def median(values):
    return statistics.median(values) if values else None


def attribute(step_start, step_end, jobs):
    """Split a step's wall time between its jobs' layers and the driver.

    `jobs` is a list of (start, end, layer). At each instant the most
    recently started running job owns the time (a job nested inside
    another, such as a broadcast inside a join, is the child span), so a
    layer's share is its self time. Returns ({layer: seconds}, driver-only
    seconds); they sum to the step's wall time."""
    cuts = sorted({step_start, step_end} |
                  {max(step_start, min(step_end, t))
                   for a, b, _ in jobs for t in (a, b)})
    own = {}
    driver = 0.0
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        live = [(s, i, layer) for i, (s, e, layer) in enumerate(jobs)
                if s <= a and e >= b]
        if live:
            layer = max(live)[2]
            own[layer] = own.get(layer, 0.0) + (b - a)
        else:
            driver += b - a
    return own, driver


def driver_time(samples, step_start, step_end, jobs, fallback):
    """Driver-side self time per layer within one step: stack samples that
    fall outside every job, each weighted by the gap to the next sample,
    attributed to the innermost engine frame (or `fallback`)."""
    times = [t for t, _ in samples]
    lo = bisect.bisect_left(times, step_start)
    hi = bisect.bisect_left(times, step_end)
    out = {}
    for k in range(lo, hi):
        t, frame = samples[k]
        if any(a <= t <= b for a, b, _ in jobs):
            continue
        nxt = samples[k + 1][0] if k + 1 < len(samples) else step_end
        w = min(min(nxt, step_end) - t, MAX_SAMPLE_GAPS * SAMPLE_S)
        layer = layer_of_call_site(frame) or fallback or "Other"
        out[layer] = out.get(layer, 0.0) + w
    return out


def layer_table(result):
    """Per-layer and per-step metrics of a traced run's result, the driver
    time check per step kind, and self time per layer for each step kind.

    The check compares two independent measures of the time outside every
    job, summed over the kind's steps: the sampled `<layer>.driver_s`
    (stack samples every SAMPLE_S) against `<step>.driver_only_s` (the
    step's wall time minus its job intervals). They differ by sampling
    error, and by more when the sampler stalls or jobs go unrecorded."""
    steps = [s for s in result["steps"] if s["timed"]]
    by_step = {s["id"]: s for s in steps}
    spans = result.get("spans", [])
    metrics = {f"{layer}.{f}": 0.0 for layer in LAYERS
               for f in LAYER_FIELDS}
    per_kind = {k: {f: [] for f in STEP_FIELDS} for k in STEP_KINDS}
    self_by_kind = {}
    jobs_of = {}
    for j in result.get("jobs", []):
        if j["group"] in by_step and j["end_ms"] >= 0:
            jobs_of.setdefault(j["group"], []).append(j)
    samples = sorted((t / 1e3, f) for t, f in result.get("stack_samples", []))
    driver_check = {}
    for s in steps:
        sid = s["id"]
        calls = [c for c in spans if c["step"] == sid]
        iv = []
        for j in jobs_of.get(sid, []):
            fb = next((c["layer"] for c in calls
                       if c["start_ms"] <= j["start_ms"] <= c["end_ms"]),
                      None)
            layer = layer_of_job(j, fb)
            iv.append((j["start_ms"] / 1e3, j["end_ms"] / 1e3, layer))
            m = metrics
            m[f"{layer}.jobs"] += 1
            m[f"{layer}.task_s"] += j["task_s"]
            m[f"{layer}.shuffle_mb"] += (j["shuffle_write_bytes"]) / 2**20
        own, driver = attribute(s["start_ms"] / 1e3, s["end_ms"] / 1e3, iv)
        fb = calls[0]["layer"] if calls else None
        drv = driver_time(samples, s["start_ms"] / 1e3, s["end_ms"] / 1e3,
                          iv, fb)
        for layer, sec in drv.items():
            metrics[f"{layer}.driver_s"] += sec
        kind_self = self_by_kind.setdefault(s["kind"], {})
        for layer, sec in own.items():
            metrics[f"{layer}.job_s"] += sec
            kind_self[layer] = kind_self.get(layer, 0.0) + sec
        for layer, sec in drv.items():
            key = f"{layer} (driver)"
            kind_self[key] = kind_self.get(key, 0.0) + sec
        sampled, measured = driver_check.get(s["kind"], (0.0, 0.0))
        driver_check[s["kind"]] = (sampled + sum(drv.values()),
                                   measured + driver)
        k = per_kind.get(s["kind"])
        if k is not None:
            k["driver_only_s"].append(driver)
            k["jobs"].append(len(iv))
            k["fs_read_mb"].append(s["fs_read_bytes"] / 2**20)
            k["fs_write_mb"].append(s["fs_write_bytes"] / 2**20)
    for kind, fields in per_kind.items():
        for f, vals in fields.items():
            metrics[f"{kind}.{f}"] = median(vals) if vals else 0.0
    deltas = [s for s in steps if s["kind"] == "delta_sync"]
    gz = result.get("notes", {}).get("delta_gz_bytes")
    written = sum(s["fs_write_bytes"] for s in deltas)
    metrics["delta_sync.write_amp"] = (written / gz) if gz else 0.0
    sql = [s for s in steps if s["kind"] == "sql"]
    plan_ms = [s["extra"]["planning_ms"] for s in sql
               if "planning_ms" in s.get("extra", {})]
    metrics["sql.planning_ms"] = median(plan_ms) if plan_ms else 0.0
    fr = sum(s["extra"].get("files_read", 0) for s in sql)
    ft = sum(s["extra"].get("files_total", 0) for s in sql)
    metrics["sql.files_read_ratio"] = fr / ft if ft else 0.0
    return metrics, driver_check, self_by_kind


def per_layer_units():
    """(name, unit) of every per-layer metric, in report order."""
    units = {"jobs": "count", "job_s": "s", "task_s": "s", "driver_s": "s",
             "shuffle_mb": "MB", "driver_only_s": "s", "fs_read_mb": "MB",
             "fs_write_mb": "MB"}
    out = [(f"{layer}.{f}", units[f]) for layer in LAYERS
           for f in LAYER_FIELDS]
    out += [(f"{k}.{f}", units[f]) for k in STEP_KINDS for f in STEP_FIELDS]
    return out + EXTRA_METRICS


# Per-layer metrics that read 0 in both benchmarked workloads whatever the
# engine does: `Warehouse.forget` does not call `graft.pipeline.Cascade`,
# and only the by-hand warehouse_sql workload runs SQL statements. They
# stay in layers.txt and out of the JSON line.
UNBENCHMARKED = ("Cascade.", "sql.")


def benchmarked_units():
    """(name, unit) of the per-layer metrics in the traced JSON line."""
    return [(k, u) for k, u in per_layer_units()
            if not k.startswith(UNBENCHMARKED)]

