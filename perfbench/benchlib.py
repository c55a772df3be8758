"""Metric arithmetic of the benchmark, kept free of Spark so it can be tested
on its own (perfbench/tests). The harness JVM records raw spans, jobs and
per-op timings; everything here turns that record into the published metrics.

Times in a raw record are epoch milliseconds (spans, jobs) or seconds (ops).
"""
import math
import os
import re
import statistics

# --------------------------------------------------------------- intervals --


def union(intervals):
    """Merges (start, end) pairs into disjoint sorted intervals."""
    merged = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [tuple(m) for m in merged]


def covered(intervals, lo, hi):
    """Length of the union of `intervals` inside [lo, hi]."""
    return sum(b - a for a, b in union((max(a, lo), min(b, hi)) for a, b in intervals))


def self_times(spans):
    """Span id -> its duration minus the time its child spans cover (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - covered(children.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


def driver_only(t0, t1, jobs):
    """Wall time of [t0, t1] in which no Spark job ran (ms)."""
    return (t1 - t0) - covered([(j["t0"], j["t1"]) for j in jobs], t0, t1)


def jobs_in(jobs, t0, t1):
    """Jobs submitted inside [t0, t1]."""
    return [j for j in jobs if t0 <= j["t0"] <= t1]


def attribute(t0, t1, jobs, key):
    """Splits [t0, t1] exclusively: each instant in which jobs run goes to
    key(job) of the earliest-started running job; instants with no job go to
    None (driver-only). Values sum to t1 - t0 (ms)."""
    cuts = sorted({t0, t1} | {min(max(x, t0), t1) for j in jobs for x in (j["t0"], j["t1"])})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        running = [j for j in jobs if j["t0"] <= a and j["t1"] >= b]
        k = key(min(running, key=lambda j: (j["t0"], j["id"]))) if running else None
        out[k] = out.get(k, 0.0) + (b - a)
    return out

# ------------------------------------------------------------- statistics --


def min_samples(p):
    """Fewest samples a p-quantile may be reported from: enough that at least
    one sample lies on each side of it (p50 -> 2, p90 -> 10, p99 -> 100)."""
    return math.ceil(1.0 / min(p, 1.0 - p) - 1e-9)


def percentile(values, p):
    """Linearly interpolated p-quantile; refuses too few samples."""
    if len(values) < min_samples(p):
        raise ValueError(f"p{round(p * 100)} needs {min_samples(p)} samples, got {len(values)}")
    v = sorted(values)
    x = p * (len(v) - 1)
    lo = math.floor(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def growth(values):
    """Median of the last quarter over the median of the first quarter of a
    sequence (needs at least 4 values)."""
    if len(values) < 4:
        raise ValueError(f"growth needs 4 values, got {len(values)}")
    q = len(values) // 4
    return statistics.median(values[-q:]) / statistics.median(values[:q])

# ------------------------------------------------------------- attribution --

_SITE = re.compile(r" at ([A-Za-z0-9_$]+\.scala):\d+")


def source_modules(src_root):
    """Source file name -> layer: the package directory under graft/ of the
    program (canon, sched, seen, ...), `graft` for files at its top."""
    out = {}
    for d, _, files in os.walk(src_root):
        rel = os.path.relpath(d, src_root).split(os.sep)
        if rel[0] != "graft":
            continue
        for f in files:
            if f.endswith(".scala"):
                out[f] = rel[1] if len(rel) > 1 else "graft"
    return out


def site_file(site):
    """Source file named by a `callSite.short` ("count at Dedup.scala:412")."""
    m = _SITE.search(site or "")
    return m.group(1) if m else None


def file_module(f, modules):
    """Layer of a source file: the program module owning it, `harness` for
    the benchmark's own files, `other` for no file."""
    if f in modules:
        return modules[f]
    return "harness" if f else "other"


def job_file(job, samples):
    """Source file that asked for a job: the innermost program or harness
    frame of a driver thread while the job ran, from the stack samples.
    Threads other than main win (main only waits while a streaming query
    runs the batch on its own thread), then the longest overlap. Falls back
    to the job's call site when no sample covers it."""
    best = None
    for s in samples:
        overlap = min(s["t1"], job["t1"]) - max(s["t0"], job["t0"])
        if overlap >= 0:
            key = (s["thread"] != "main", overlap)
            if best is None or key > best[0]:
                best = (key, s["file"])
    return best[1] if best else site_file(job["site"])

# ----------------------------------------------------------------- metrics --

END_TO_END = (("setup_s", "s"), ("throughput_per_s", "1/s"), ("retained_heap_mb", "MB"))

MAINTENANCE_QUERIES = ("d15_cc_forget", "g3_redirect_update", "g5_pagerank_update")

FRONTIER_STAGES = (("canon", "canon.self_s"), ("sched.robots", "sched.robots_self_s"),
                   ("sched.dedup", "sched.dedup_self_s"), ("seen.gate", "seen.gate_self_s"),
                   ("sched.rank", "sched.rank_self_s"), ("fetch.join", "fetch.join_self_s"),
                   ("extract", "extract.self_s"))

PER_LAYER = (
    # every workload
    [("trace.wall_s", "s"), ("trace.unattributed_s", "s"), ("trace.jobs_per_op", "count"),
     ("jvm.cpu_s_per_op", "s"), ("jvm.peak_rss_mb", "MB")]
    + [(f"{m}.job_s", "s") for m in ("tableio", "seen", "sched", "fetch")]
    + [("tableio.jobs", "count"), ("seen.jobs", "count"),
       ("ops.Dedup.job_s", "s"), ("ops.LinkGraph.job_s", "s")]
    # frontier_bulk
    + [(name, "s") for _, name in FRONTIER_STAGES]
    + [("pipeline.plan_s", "s"), ("pipeline.exec_s", "s"), ("pipeline.shuffle_bytes", "B"),
       ("pipeline.spill_bytes", "B"), ("pipeline.tasks", "count"),
       ("seen.gate_pass_ratio", "ratio"), ("fetch.hit_ratio", "ratio")]
    # crawl_campaign
    + [("streaming.driver_only_s_p50", "s"), ("campaign.jobs_per_batch", "count"),
       ("seen.shard_bytes_last", "B"), ("tableio.chain_len_last", "count"),
       ("campaign.batch_s_growth", "ratio")]
    # maintenance_queries
    + [(f"queries.{q}.{m}", u) for q in MAINTENANCE_QUERIES
       for m, u in (("s", "s"), ("jobs", "count"), ("driver_only_s", "s"))]
    + [("queries.shuffle_bytes", "B")])


def op_rate(op):
    """Items per second of one op; a failed op completed no work."""
    return op["items"] / op["s"] if op["ok"] else 0.0


def end_to_end(raw):
    return {
        "setup_s": raw["session_s"] + statistics.median(raw["fixture_s"]) + raw["warmup_s"],
        "throughput_per_s": statistics.median(op_rate(o) for o in raw["ops"]),
        "retained_heap_mb": raw["retained_heap_mb"],
    }


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _secs(s):
    return (s["t1"] - s["t0"]) / 1e3


def measured_spans(spans):
    """Spans outside the warm-up span's subtree."""
    warm = {s["id"] for s in spans if s["name"] == "warmup"}
    out = []
    for s in spans:  # parents precede their children
        if s["id"] in warm or s["parent"] in warm:
            warm.add(s["id"])
        else:
            out.append(s)
    return out


def per_layer(raw, modules):
    spans, jobs = raw["spans"], raw["jobs"]
    selfs = self_times(spans)
    spans = measured_spans(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    op_name = {"frontier_bulk": "frontier.pass", "crawl_campaign": "campaign.batch",
               "maintenance_queries": "maintenance.pass"}
    op_spans = by_name.get(op_name[raw["workload"]], [])
    m = {name: 0.0 for name, _ in PER_LAYER}

    samples = raw.get("samples", [])
    layer = {}
    for j in jobs:
        f = job_file(j, samples)
        mod = file_module(f, modules)
        # ops is split by file: Dedup, LinkGraph, ...
        layer[j["id"]] = f"ops.{f[:-len('.scala')]}" if mod == "ops" else mod

    def mod_key(j):
        return layer[j["id"]]

    per_op = []
    for s in op_spans:
        js = jobs_in(jobs, s["t0"], s["t1"])
        per_op.append((s, js, attribute(s["t0"], s["t1"], js, mod_key)))
    m["jvm.peak_rss_mb"] = raw["rss_peak_kb"] / 1024.0
    m["jvm.cpu_s_per_op"] = _med([o["cpu"] for o in raw["ops"] if o["cpu"] is not None])
    m["trace.wall_s"] = _med([_secs(s) for s, _, _ in per_op])
    m["trace.jobs_per_op"] = _med([len(js) for _, js, _ in per_op])
    for mod in ("tableio", "seen", "sched", "fetch", "ops.Dedup", "ops.LinkGraph"):
        m[f"{mod}.job_s"] = _med([a.get(mod, 0.0) / 1e3 for _, _, a in per_op])
    for mod in ("tableio", "seen"):
        m[f"{mod}.jobs"] = _med([sum(1 for j in js if mod_key(j) == mod) for _, js, _ in per_op])
    # default breakdown: the op's child spans, the rest unattributed
    m["trace.unattributed_s"] = _med([selfs[s["id"]] / 1e3 for s, _, _ in per_op])

    w = raw["workload"]
    extras = raw["extras"]
    if w == "frontier_bulk":
        sweeps = by_name.get("frontier.sweep", [])
        prefix = {}
        for sw in sweeps:
            for c in spans:
                if c["parent"] == sw["id"]:
                    prefix.setdefault(c["name"][len("prefix."):], []).append(_secs(c))
        order = ["source"] + [k for k, _ in FRONTIER_STAGES]
        t = {k: _med(prefix.get(k, [])) for k in order}
        for (k, name), prev in zip(FRONTIER_STAGES, order):
            m[name] = t[k] - t[prev]
        m["trace.unattributed_s"] = m["trace.wall_s"] - (t["extract"] - t["source"])
        m["pipeline.plan_s"] = _med([_secs(s) for s in by_name.get("pipeline.plan", [])])
        m["pipeline.exec_s"] = _med([_secs(s) for s in by_name.get("pipeline.exec", [])])
        m["pipeline.shuffle_bytes"] = _med([sum(j["shuffle_write"] for j in js) for _, js, _ in per_op])
        m["pipeline.spill_bytes"] = _med([sum(j["spill"] for j in js) for _, js, _ in per_op])
        m["pipeline.tasks"] = _med([sum(j["tasks"] for j in js) for _, js, _ in per_op])
        m["seen.gate_pass_ratio"] = extras.get("seen.gate_pass_ratio", 0.0)
        m["fetch.hit_ratio"] = extras.get("fetch.hit_ratio", 0.0)
    elif w == "crawl_campaign":
        driver = [driver_only(s["t0"], s["t1"], js) / 1e3 for s, js, _ in per_op]
        m["streaming.driver_only_s_p50"] = percentile(driver, 0.5)
        crawl = ("tableio", "seen", "sched", "fetch")
        m["trace.unattributed_s"] = _med([_secs(s) - sum(a.get(k, 0.0) for k in crawl) / 1e3
                                          for s, _, a in per_op])
        m["campaign.jobs_per_batch"] = m["trace.jobs_per_op"]
        m["seen.shard_bytes_last"] = extras.get("seen.shard_bytes_last", 0.0)
        m["tableio.chain_len_last"] = extras.get("tableio.chain_len_last", 0.0)
        m["campaign.batch_s_growth"] = growth([_secs(s) for s, _, _ in per_op])
    elif w == "maintenance_queries":
        for q in MAINTENANCE_QUERIES:
            qs = by_name.get(f"queries.{q}", [])
            qj = [jobs_in(jobs, s["t0"], s["t1"]) for s in qs]
            m[f"queries.{q}.s"] = _med([_secs(s) for s in qs])
            m[f"queries.{q}.jobs"] = _med([len(js) for js in qj])
            m[f"queries.{q}.driver_only_s"] = _med(
                [driver_only(s["t0"], s["t1"], js) / 1e3 for s, js in zip(qs, qj)])
        m["queries.shuffle_bytes"] = _med([sum(j["shuffle_write"] for j in js) for _, js, _ in per_op])
    return m


def result(raw, modules):
    """The published result object of one run."""
    if raw["trace"]:
        values, units = per_layer(raw, modules), dict(PER_LAYER)
    else:
        values, units = end_to_end(raw), dict(END_TO_END)
    return {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


FIGURE_NAMES = {"frontier_bulk": ("frontier_urls_per_s", "pass_s_p50"),
               "crawl_campaign": ("campaign_urls_per_s", "batch_s_p50"),
               "maintenance_queries": ("queries_per_s", "chain_s")}


def summary(raw, res):
    """Human-readable lines printed before the result line."""
    lines = [f"# workload {raw['workload']} seed {raw['seed']} trace {int(raw['trace'])}: "
             f"{len(raw['ops'])} ops in {raw['measure_s']:.1f} s, "
             f"error_ratio {raw['failed'] / max(raw['attempted'], 1):.4f}, "
             f"peak_rss_mb {raw['rss_peak_kb'] / 1024:.0f}, session_s {raw['session_s']:.2f}, "
             f"fixture_s {' '.join(f'{x:.2f}' for x in raw['fixture_s'])}, "
             f"warmup_s {raw['warmup_s']:.2f}",
             "# config " + " ".join(f"{k}={v}" for k, v in raw["config"].items())]
    if not raw["trace"]:
        rate, op = FIGURE_NAMES[raw["workload"]]
        secs = [o["s"] for o in raw["ops"] if o["ok"]]
        lines.append(f"# {rate} {res['metrics']['throughput_per_s']['value']:.6g} "
                     f"{op} {statistics.median(secs) if secs else float('nan'):.4g} "
                     f"over {len(raw['ops'])} ops")
    for o in raw["ops"]:
        if not o["ok"]:
            lines.append(f"# FAILED op {o['i']}: {o['note']}")
    for c in raw["checks"]:
        if not c["ok"]:
            lines.append(f"# FAILED check {c['name']}: {c['detail']}")
    return lines
