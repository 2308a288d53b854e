"""Pure helpers of the benchmark harness: statistics, call-site to module
mapping, per-layer aggregation of a traced iteration, and the result line.
Kept free of I/O beyond reading the source tree so they can be unit tested
(`python3 -m unittest discover perfbench/tests`)."""
import math
import os
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Layers reported by the listener, one set of counts each.
MODULES = ["cli", "sources", "operators", "functions", "llm", "ml", "datadiff", "streaming"]
MODULE_COUNTS = ["jobs", "task_s", "shuffle_mb", "spill_mb", "gc_s", "failed_tasks", "result_mb"]

PERCENTILES = [50.0, 90.0, 99.0, 99.9]
CORES = 4
MB = 1048576.0


def median(xs):
    return statistics.median(xs)


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(xs, p):
    """Nearest-rank percentile."""
    return sorted(xs)[_rank(p, len(xs)) - 1]


def tail_percentile(xs):
    """(p, value) for the highest of PERCENTILES that leaves at least ten
    samples beyond it, or None when fewer than 20 samples exist."""
    best = None
    n = len(xs)
    for p in PERCENTILES:
        if n - _rank(p, n) >= 10:
            best = (p, percentile(xs, p))
    return best


def summary(xs):
    """Median, tail percentile and n, as printed for every timing."""
    tail = tail_percentile(xs)
    return {"median": median(xs), "n": len(xs),
            "tail": None if tail is None else {"p": tail[0], "value": tail[1]}}


def outcome(steps, check_ok):
    """(attempted, failed) operations of one iteration: each step (a CLI
    invocation, library call or landed batch) plus the output check. A step
    that threw and a failed check each count as failed."""
    return len(steps) + 1, sum(1 for s in steps if s["error"]) + (0 if check_ok else 1)


def failed_ratio(attempted, failed):
    return failed / attempted if attempted else 1.0


# ------------------------------------------------------------ call sites

FRAME_RE = re.compile(r"\(([A-Za-z0-9_$]+\.scala):\d+\)")


def source_modules(src_root):
    """Map each Scala source file name of the program to its module: the
    package directory under `graft/` (`Cli.scala` -> `cli`), `functions`
    for the Spark-side column bridge, and `entry` for top-level files."""
    out = {}
    for d, _, files in os.walk(src_root):
        rel = os.path.relpath(d, src_root).split(os.sep)
        if rel[:1] == ["graft"]:
            module = rel[1] if len(rel) > 1 else "entry"
        elif "graftbridge" in rel:
            module = "functions"
        else:
            continue
        for f in files:
            if f.endswith(".scala"):
                out[f] = module
    return out


def module_of_site(site, file_modules, streaming=False):
    """Module of the first program frame in a call-site stack. A job with
    no program frame belongs to `streaming` when a streaming query ran it
    (its own micro-batch planning and commits) and to the harness
    (`bench`) otherwise."""
    for m in FRAME_RE.finditer(site):
        mod = file_modules.get(m.group(1))
        if mod is not None:
            return mod
    return "streaming" if streaming else "bench"


def job_module(job, result, file_modules):
    return module_of_site(job["site"], file_modules,
                          job["group"] in result.get("query_starts", {}))


# --------------------------------------------------------------- spans

def self_times(spans):
    """Span id -> seconds of its interval not covered by its children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _union([(c["start"], c["end"]) for c in children.get(s["id"], [])],
                         s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"] - covered) / 1000.0
    return out


def _union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_of(spans, t):
    """Innermost span open at time t (the latest-starting one), or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


# -------------------------------------------------------------- layers

def layer_metrics(result, file_modules):
    """Per-module listener counts and the cross-module driver metrics of
    one traced iteration, restricted to its timed section."""
    t0, t1 = result["start_ms"], result["end_ms"]
    jobs = [j for j in result["jobs"] if t0 <= j["start"] <= t1]
    job_mod = {j["id"]: job_module(j, result, file_modules) for j in jobs}
    out = {f"{m}.{c}": 0.0 for m in MODULES for c in MODULE_COUNTS}
    for j in jobs:
        if job_mod[j["id"]] in MODULES:
            out[f"{job_mod[j['id']]}.jobs"] += 1
    task_s = 0.0
    for st in result["stages"]:
        mod = job_mod.get(st["job"])
        if mod is None:
            continue
        task_s += st["run_ms"] / 1000.0
        if mod not in MODULES:
            continue
        out[f"{mod}.task_s"] += st["run_ms"] / 1000.0
        out[f"{mod}.shuffle_mb"] += (st["shuffle_read"] + st["shuffle_write"]) / MB
        out[f"{mod}.spill_mb"] += st["spill"] / MB
        out[f"{mod}.gc_s"] += st["gc_ms"] / 1000.0
        out[f"{mod}.failed_tasks"] += st["failed"]
        out[f"{mod}.result_mb"] += st["result"] / MB
    wall = (t1 - t0) / 1000.0
    out["cli.count_jobs"] = float(sum(1 for j in jobs if j["site"].startswith("count at")))
    busy = _union([(j["start"], j["end"] if j["end"] > 0 else t1) for j in jobs], t0, t1)
    out["cli.driver_gap_s"] = wall - busy / 1000.0
    out["cli.core_busy"] = task_s / (wall * CORES) if wall > 0 else 0.0
    return out


def stream_metrics(result):
    """Streaming layer metrics from the batch steps and their query runs."""
    steps = [s for s in result["steps"] if s["name"].startswith("streaming:batch")]
    out = {"streaming.query_start_s": 0.0, "streaming.commit_s": 0.0,
           "streaming.batch_growth": 0.0}
    if not steps:
        return out
    starts, commits = [], []
    for s in steps:
        jobs = [j for j in result.get("jobs", []) if s["start"] <= j["start"] <= s["end"]]
        runs = {j["group"] for j in jobs if j["group"] in result.get("query_starts", {})}
        for run in runs:
            q0 = int(result["query_starts"][run])
            first = min(j["start"] for j in jobs if j["group"] == run)
            starts.append((first - q0) / 1000.0)
        ends = [j["end"] for j in jobs if j["end"] > 0]
        if ends:
            commits.append((s["end"] - max(ends)) / 1000.0)
    if starts:
        out["streaming.query_start_s"] = median(starts)
    if commits:
        out["streaming.commit_s"] = median(commits)
    times = [(s["end"] - s["start"]) / 1000.0 for s in steps]
    q = max(1, len(times) // 4)
    out["streaming.batch_growth"] = median(times[-q:]) / median(times[:q])
    return out


def span_module_metrics(result, file_modules):
    """One row per span: its name, parent, start and end, wall and self
    seconds, and the listener's jobs and task seconds by module for the jobs
    that started while it was the innermost open span."""
    spans = result["spans"]
    selft = self_times(spans)
    rows = {s["id"]: {"name": s["name"], "parent": s["parent"],
                      "start": s["start"], "end": s["end"],
                      "wall_s": (s["end"] - s["start"]) / 1000.0,
                      "self_s": selft[s["id"]], "jobs": {}, "task_s": {}} for s in spans}
    stage_s = {}
    for st in result["stages"]:
        stage_s[st["job"]] = stage_s.get(st["job"], 0.0) + st["run_ms"] / 1000.0
    for j in result["jobs"]:
        sp = span_of(spans, j["start"])
        if sp is None:
            continue
        mod = job_module(j, result, file_modules)
        r = rows[sp["id"]]
        r["jobs"][mod] = r["jobs"].get(mod, 0) + 1
        r["task_s"][mod] = r["task_s"].get(mod, 0.0) + stage_s.get(j["id"], 0.0)
    return [dict(id=i, **r) for i, r in sorted(rows.items())]


def step_span_stages(result, step_name):
    """Stages run by jobs that started inside the named step."""
    st = [s for s in result["steps"] if s["name"] == step_name]
    if not st:
        return []
    lo, hi = st[0]["start"], st[0]["end"]
    ids = {j["id"] for j in result["jobs"] if lo <= j["start"] <= hi}
    return [s for s in result["stages"] if s["job"] in ids]


def step_seconds(result, step_name):
    for s in result["steps"]:
        if s["name"] == step_name:
            return (s["end"] - s["start"]) / 1000.0
    return 0.0


def result_line(correct, attempted, failed, metrics):
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": metrics}
