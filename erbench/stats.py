"""Metric arithmetic of the ER benchmark: turns the raw record one JVM run
writes (op latencies, check results, spans, task metrics) into the metrics
the benchmark reports. Pure functions, no Spark; tested in test_stats.py.

Interval and span times are epoch milliseconds.
"""
import json
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# (name, unit, better, bound) — every metric is reported on every workload.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pipeline_s", "s", "lower", 0.25),
    ("records_per_s", "1/s", "higher", 0.25),
    ("write_amp", "ratio", "lower", 0.15),
    ("pairwise_f1", "ratio", "higher", 0.01),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

# Per-layer metrics: every module gets the generic six, plus its own counts.
GENERIC = [("self_s", "s"), ("cpu_s", "s"), ("tasks", "count"), ("shuffle_mb", "MB"),
           ("gc_s", "s"), ("driver_gap_s", "s")]
EXTRA = {
    "standardize": [("rows_out", "count", "lower")],
    "blocking": [("keys_out", "count", "lower"), ("max_block", "count", "lower"),
                 ("hot_blocks", "count", "lower")],
    "pairs": [("candidates", "count", "lower"), ("task_skew", "ratio", "lower"),
              ("attach_s", "s", "lower")],
    "scoring": [("pairs_scored", "count", "lower"), ("ns_per_pair", "ns", "lower"),
                ("useful_ratio", "ratio", "higher"), ("edges_auto", "count", "higher"),
                ("edges_review", "count", "lower")],
    "functions": [("jaro_winkler.ns_per_pair", "ns", "lower"),
                  ("edit_distance.ns_per_pair", "ns", "lower"),
                  ("levenshtein_builtin.ns_per_pair", "ns", "lower"),
                  ("token_overlap.ns_per_pair", "ns", "lower"),
                  ("minhash.ns_per_row", "ns", "lower")],
    "cc": [("rounds", "count", "lower"), ("jobs", "count", "lower"),
           ("components", "count", "higher")],
    "golden": [("rows_out", "count", "lower")],
    "snapshot": [("commits", "count", "lower"), ("files_written", "count", "lower"),
                 ("bytes_written", "bytes", "lower"), ("commit_s", "s", "lower")],
    "incremental": [("microbatch_p50_s", "s", "lower"), ("microbatch_last_s", "s", "lower"),
                    ("microbatch_growth", "ratio", "lower"),
                    ("jobs", "count", "lower"), ("files_written", "count", "lower"),
                    ("live_files", "count", "lower"),
                    ("history_rows_scanned", "count", "lower"),
                    ("pairs_scored", "count", "lower")],
}
MODULES = list(EXTRA)
PER_LAYER = ([(f"{m}.{g}", u, "lower") for m in MODULES for g, u in GENERIC]
             + [(f"{m}.{e}", u, b) for m in MODULES for e, u, b in EXTRA[m]]
             + [("trace.delta_s", "s", "lower")])

# Which end-to-end metric each layer should move, and on which workload.
LAYER_TARGETS = {
    "standardize": "pipeline_s on batch_uniform",
    "blocking": "pipeline_s on batch_uniform",
    "pairs": "pipeline_s on batch_hot; no change on batch_uniform",
    "scoring": "pipeline_s on batch_hot",
    "functions": "pipeline_s on batch_hot",
    "cc": "pipeline_s on batch_uniform; incremental.microbatch_p50_s",
    "golden": "pipeline_s on batch_uniform",
    "snapshot": "pipeline_s and write_amp on batch_uniform; incremental.microbatch_p50_s",
    "incremental": "incremental.microbatch_growth and .microbatch_p50_s (traced batch_uniform)",
}


# --- summary statistics ------------------------------------------------------

def median(xs):
    return statistics.median(xs)


def reportable_percentile(n, choices=(99.9, 99.0, 90.0)):
    """Highest percentile with at least ten of `n` samples beyond it, or None."""
    for p in choices:
        if n - math.ceil(n * p / 100.0) >= 10:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(len(s) * p / 100.0) - 1)]


def timing(xs):
    """Median of `xs`, its sample count, and the highest percentile the
    sample count supports (None below 11 samples)."""
    p = reportable_percentile(len(xs))
    return {"value": median(xs), "n": len(xs), "pct": p,
            "pct_value": percentile(xs, p) if p else None}


def growth(latencies):
    """Median of the last third of a sequence of op latencies over the
    median of its first third: about 1 when per-op work does not depend on
    how many ops came before. Two ops compare last with first; one op has
    nothing to compare and reads 1."""
    n = len(latencies)
    if n == 0:
        raise ValueError("growth of an empty sequence")
    if n == 1:
        return 1.0
    k = max(1, n // 3)
    return median(latencies[-k:]) / median(latencies[:k])


# --- interval arithmetic -----------------------------------------------------

def union(intervals):
    """Sorted, merged (start, end) intervals; empty ones dropped."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def length(intervals):
    return sum(b - a for a, b in union(intervals))


def subtract(base, cut):
    """Parts of the `base` intervals that no `cut` interval covers."""
    out = []
    cut = union(cut)
    for a, b in union(base):
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def exclusive(spans):
    """span id -> the span's interval minus its direct children's: the time
    in which it is the innermost open span."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: subtract([(s["start"], s["end"])], children.get(s["id"], []))
            for s in spans}


def module_times(spans, tasks):
    """module -> (self_s, driver_gap_s). A module's self time is the time
    its spans are the innermost open span; its driver gap is the part of
    that time in which none of its own tasks ran (planning, codegen, file
    commits, scheduling)."""
    excl = exclusive(spans)
    by_group = {}
    for t in tasks:
        by_group.setdefault(t["group"], []).append((t["launch"], t["finish"]))
    out = {}
    for s in spans:
        own = excl[s["id"]]
        gap = subtract(own, by_group.get(group(s["id"]), []))
        self_s, gap_s = out.get(s["module"], (0.0, 0.0))
        out[s["module"]] = (self_s + length(own) / 1000.0, gap_s + length(gap) / 1000.0)
    return out


def group(span_id):
    """Spark job group the tracer sets for a span (Tracer.group)."""
    return f"erbench-{span_id}"


# --- per-layer metrics -------------------------------------------------------

def layer_metrics_of_run(spans, tasks, jobs, counts):
    """Per-layer metrics of one traced run id (a dict; modules that did not
    run are absent)."""
    out = {}
    times = module_times(spans, tasks)
    groups = {}
    for s in spans:
        groups.setdefault(s["module"], set()).add(group(s["id"]))
    for m, gs in groups.items():
        mt = [t for t in tasks if t["group"] in gs]
        self_s, gap_s = times[m]
        out[f"{m}.self_s"] = self_s
        out[f"{m}.driver_gap_s"] = gap_s
        out[f"{m}.cpu_s"] = sum(t["cpuNs"] for t in mt) / 1e9
        out[f"{m}.tasks"] = float(len(mt))
        out[f"{m}.shuffle_mb"] = sum(t["shuffleWriteBytes"] for t in mt) / 1e6
        out[f"{m}.gc_s"] = sum(t["gcMs"] for t in mt) / 1000.0
        out[f"{m}.jobs"] = float(sum(1 for j in jobs if j["group"] in gs))

    def cpu_ns(name):
        ids = {group(s["id"]) for s in spans if s["name"] == name}
        return sum(t["cpuNs"] for t in tasks if t["group"] in ids)

    def span_s(pred):
        return sum(s["end"] - s["start"] for s in spans if pred(s)) / 1000.0

    if "pairs" in groups:
        out["pairs.attach_s"] = span_s(lambda s: s["name"] == "pairs.attach")
        out["pairs.task_skew"] = task_skew([t for t in tasks if t["group"] in groups["pairs"]])
    if "scoring" in groups and counts.get("scoring.pairs_scored"):
        out["scoring.ns_per_pair"] = out["scoring.cpu_s"] * 1e9 / counts["scoring.pairs_scored"]
    if "pairs.candidates" in counts and counts["pairs.candidates"] > 0:
        edges = counts.get("scoring.edges_auto", 0) + counts.get("scoring.edges_review", 0)
        out["scoring.useful_ratio"] = edges / counts["pairs.candidates"]
    if "functions" in groups:
        for k in ("jaro_winkler", "edit_distance", "levenshtein_builtin", "token_overlap"):
            out[f"functions.{k}.ns_per_pair"] = cpu_ns(f"functions.{k}") / max(counts["functions.pairs"], 1)
        out["functions.minhash.ns_per_row"] = cpu_ns("functions.minhash") / max(counts["functions.rows"], 1)
    if "snapshot" in groups:
        out["snapshot.commit_s"] = span_s(lambda s: s["module"] == "snapshot")
    for k, v in counts.items():
        out.setdefault(k, v)
    return out


def task_skew(tasks):
    """max / median task run time within the stage with the most task time."""
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(max(t["runMs"], 1))
    if not by_stage:
        return 0.0
    heavy = max(by_stage.values(), key=sum)
    return max(heavy) / median(heavy)


def layer_metrics(raw):
    """Per-layer metrics of a traced run. Batch layers: the median over the
    traced pipeline runs ("traced-<k>"). Incremental layer: the "stream"
    run, one span per `processBatch`, reported per batch. A module that did
    not run on this workload reads 0."""
    spans, tasks, jobs = raw.get("spans", []), raw.get("tasks", []), raw.get("jobs", [])

    def of_run(run, counts):
        rs = [s for s in spans if s["run"] == run]
        gs = {group(s["id"]) for s in rs}
        return layer_metrics_of_run(rs, [t for t in tasks if t["group"] in gs],
                                    [j for j in jobs if j["group"] in gs], counts)

    per_run = [of_run(f"traced-{k}", c) for k, c in enumerate(raw["layers"])]
    out = {}
    for name, _, _ in PER_LAYER:
        vals = [m[name] for m in per_run if name in m]
        out[name] = median(vals) if vals else 0.0

    sops = raw.get("stream_ops", [])
    if sops:
        inc = of_run("stream", {})
        for g in [g for g, _ in GENERIC] + ["jobs"]:
            out[f"incremental.{g}"] = inc.get(f"incremental.{g}", 0.0) / len(sops)
        lat = [o["s"] for o in sops]
        out["incremental.microbatch_p50_s"] = median(lat)
        out["incremental.microbatch_last_s"] = lat[-1]
        out["incremental.microbatch_growth"] = growth(lat)
        for k in ("files_written", "history_rows_scanned", "pairs_scored"):
            out[f"incremental.{k}"] = float(median([o[k] for o in sops]))
        out["incremental.live_files"] = float(sops[-1]["live_files"])
    roots = [s["end"] - s["start"] for s in spans if s["name"] == "pipeline"]
    if roots and raw.get("baseline_s"):
        out["trace.delta_s"] = median(roots) / 1000.0 - median(raw["baseline_s"])
    return out


# --- end-to-end metrics ------------------------------------------------------

def end_to_end(raw):
    """name -> {"value", "n", ...} for every END_TO_END metric. An op is one
    whole-input `Pipeline.runCheckpointed` into a fresh store."""
    ops = [o for o in raw["ops"] if not o["traced"]]
    if not ops:
        raise ValueError("no untraced ops")
    pipeline = timing([o["s"] for o in ops])
    return {
        "setup_s": {"value": raw["setup_s"], "n": 1},
        "pipeline_s": pipeline,
        "records_per_s": {"value": raw["input_records"] / pipeline["value"], "n": len(ops)},
        "write_amp": {"value": median([o["store_bytes"] for o in ops]) / raw["input_bytes"],
                      "n": len(ops)},
        "pairwise_f1": {"value": raw["f1"], "n": 1},
        "peak_rss_mb": {"value": raw["peak_rss_mb"], "n": 1},
    }


def summarize(raw):
    """(result line dict, details) for one raw record. Every op counts as
    attempted; an op fails if it threw or a check failed on its output."""
    ops = raw["ops"] + raw.get("stream_ops", [])
    failed = sum(1 for o in ops if not o["ok"])
    checks = raw["check_failures"] + raw.get("stream_check_failures", [])
    correct = failed == 0 and not checks and len(ops) > 0
    if raw["trace"]:
        vals = layer_metrics(raw)
        metrics = {n: {"value": vals[n], "unit": u} for n, u, _ in PER_LAYER}
        details = {n: {"value": vals[n], "n": 1} for n, _, _ in PER_LAYER}
    else:
        details = end_to_end(raw)
        metrics = {n: {"value": details[n]["value"], "unit": u} for n, u, _, _ in END_TO_END}
    result = {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}
    return result, details


# --- names and the result line -----------------------------------------------

def check_name(name):
    return bool(NAME_RE.match(name))


def check_unit(unit):
    return bool(UNIT_RE.match(unit))


def parse_result_line(stdout):
    """The result object from the last line of a run's standard output;
    raises ValueError if it does not have the result line's shape."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        raise ValueError("no output")
    r = json.loads(lines[-1])
    if not isinstance(r, dict) or set(r) != RESULT_KEYS:
        raise ValueError(f"result keys {sorted(r) if isinstance(r, dict) else r}")
    if not isinstance(r["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(r[k], int) or isinstance(r[k], bool) or r[k] < 0:
            raise ValueError(f"{k} is not a whole number")
    if r["attempted"] < 1:
        raise ValueError("attempted < 1")
    for name, m in r["metrics"].items():
        if not check_name(name):
            raise ValueError(f"bad metric name {name!r}")
        if set(m) != {"value", "unit"} or not check_unit(m["unit"]):
            raise ValueError(f"bad metric {name}: {m}")
        if not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool) \
                or not math.isfinite(m["value"]):
            raise ValueError(f"metric {name} is not a finite number")
    return r
