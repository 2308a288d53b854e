#!/usr/bin/env python3
"""Pipeline benchmark: runs one seeded workload through the program's CLIs
from config to committed output, checks the output, and prints the metrics.

    python3 perfbench/run.py --workload <etl_tabular|stream_dedup>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. The first run builds the program from source with
sbt (perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. Each iteration is a fresh JVM, as a spark-submit user pays for
it: JVM start, session start and first-touch code generation are in every
run. The loop is closed (one client; each step starts after the previous
one committed) and runs until --seconds have passed, at least once. The
last stdout line is the JSON result; the lines before it print every metric
by name with its median, tail percentile and sample count.

--trace 1 runs one untraced and one traced iteration: the traced one adds a
SparkListener and spans around each call into the program, then times the
layer probes; it prints the per-layer metrics and writes the spans and the
per-span layer split to .perfbench_traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["etl_tabular", "stream_dedup"]
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("batch_p50_s", "s"),
              ("cpu_s", "s"), ("heap_retained_mb", "MB")]
MIN_ITERATIONS = 1
# a run must end within 180 s: no iteration starts after RUN_BUDGET_S and
# none outlives RUN_DEADLINE_S
RUN_BUDGET_S = 120
RUN_DEADLINE_S = 170
# Trainer holdout AUC floor: the generated label is a noisy linear function
# of the features, which logistic regression recovers well above it.
AUC_FLOOR = 0.8
DRIFT_FLAG = 0.1
# what spark-submit passes on JDK 17, as the repo's own build.sbt does
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, HERE).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile program + harness; return the runtime classpath."""
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(src, "graft")):
        raise SystemExit(f"no program sources under {src}: run from the repo root")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("SPARK_HOME is not set")
    digest = _tree_digest([src, os.path.join(root, "src", "main", "resources"),
                           os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")])
    stamp = os.path.join(HERE, "target", "bench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    log("building program and harness with sbt ...")
    t = time.time()
    # resolve from the local caches only, and give the compiler room
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    opts += "" if "-Dsbt.offline" in opts else " -Dsbt.offline=true"
    opts += "" if "-Xmx" in opts else " -Xmx3g"
    env["SBT_OPTS"] = opts.strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.server.forcestart=false", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:], p.stderr[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t:.0f} s")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


# ------------------------------------------------------------ iteration

def iterate(classpath, workload, inputs, work, traced, timeout):
    """One fresh-JVM iteration; returns its result dict or None."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if traced:
        cmd.append("-Dspark.callstack.depth=400")
    cmd += ["-cp", classpath, "graft.perfbench.Driver", "--workload", workload,
            "--in", inputs, "--work", work, "--trace", "1" if traced else "0", "--out", out]
    spawned = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        try:
            rc = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            log(f"iteration JVM failed (rc={rc}):", f.read()[-3000:])
        return None
    with open(out) as f:
        r = json.load(f)
    r["setup_s"] = r["ready_ms"] / 1000.0 - spawned
    r["wall_s"] = (r["end_ms"] - r["start_ms"]) / 1000.0
    r["work"] = work
    return r


# --------------------------------------------------------------- checks

def _ids(path, col):
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=[col]).column(col).to_pylist()


def check(workload, r, expected):
    """Output check of one iteration: (ok, reason)."""
    import pyarrow.parquet as pq
    w = r["work"]
    if workload == "etl_tabular":
        v = dict(zip(*pq.read_table(os.path.join(w, "validation")).to_pydict().values()))
        if not v.get("auc", 0.0) >= AUC_FLOOR:
            return False, f"holdout AUC {v.get('auc')} below {AUC_FLOOR}"
        log(f"holdout AUC {v['auc']:.4f}")
        n_scores = pq.read_table(os.path.join(w, "scores"), columns=["uid"]).num_rows
        if n_scores != expected["rows"]:
            return False, f"{n_scores} scores for {expected['rows']} rows"
        d = pq.read_table(os.path.join(w, "drift")).to_pydict()
        flagged = sorted(c for c, x in zip(d["column"], d["drift"]) if x > DRIFT_FLAG)
        if flagged != sorted(expected["drifted"]):
            return False, f"drift flagged {flagged}, planted {expected['drifted']}"
        return True, ""
    if workload == "stream_dedup":
        for b, want in enumerate(expected["survivors"]):
            got = sorted(_ids(os.path.join(w, "survivors", f"batch-{b}"), "doc_id"))
            if got != want:
                extra, missing = set(got) - set(want), set(want) - set(got)
                return False, (f"batch {b}: {len(extra)} echoes kept, "
                               f"{len(missing)} fresh docs dropped")
        return True, ""
    raise ValueError(workload)


# ---------------------------------------------------------- layer split

def state_parts(work):
    """State parts the last batch read: accreted parts below its index."""
    root = os.path.join(work, "cluster_state")
    idx = {}
    for table in os.listdir(root) if os.path.isdir(root) else []:
        d = os.path.join(root, table)
        if os.path.isdir(d):
            idx[table] = [int(p[5:]) for p in os.listdir(d)
                          if p.startswith("part-") and p[5:].isdigit()]
    top = max((max(v) for v in idx.values() if v), default=0)
    return float(sum(1 for v in idx.values() for i in v if i < top))


def per_layer(workload, plain, traced, file_modules):
    m = benchlib.layer_metrics(traced, file_modules)
    m.update(benchlib.stream_metrics(traced))
    m["streaming.state_parts"] = state_parts(traced["work"]) \
        if workload == "stream_dedup" else 0.0
    for name in PROBES:
        m[name] = float(traced["probes"].get(name, 0.0))
    fit = [s for s in traced["spans"] if s["name"] == "probe:ml.train_s"]
    m["ml.train_jobs"] = float(sum(1 for j in traced["jobs"] for s in fit
                                   if s["start"] <= j["start"] <= s["end"]))
    m["datadiff.s"] = benchlib.step_seconds(traced, "cli:differ")
    m["datadiff.scans"] = float(sum(1 for s in benchlib.step_span_stages(traced, "cli:differ")
                                    if s["input"] > 0))
    m["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
    return m


PROBES = ["functions.simhash_rows_s", "functions.textstats_rows_s",
          "functions.chunks_rows_s", "functions.srp_rows_s",
          "llm.similarity.candidate_pairs", "llm.dedup.candidate_pairs", "llm.dedup.pair_yield",
          "operators.fanout_tasks", "sources.read_s", "sources.write_s", "sources.write_mb",
          "sources.files_written", "ml.train_s", "ml.score_rows_s"]


def per_layer_names():
    return ([f"{m}.{c}" for m in benchlib.MODULES for c in benchlib.MODULE_COUNTS] +
            ["cli.count_jobs", "cli.driver_gap_s", "cli.core_busy",
             "streaming.query_start_s", "streaming.commit_s", "streaming.state_parts",
             "streaming.batch_growth"] + PROBES +
            ["ml.train_jobs", "datadiff.s", "datadiff.scans", "trace.overhead_s"])


def layer_unit(name):
    tail = name.rsplit(".", 1)[1]
    for suffix, unit in (("_rows_s", "rows/s"), ("_s", "s"), ("_mb", "MB")):
        if tail.endswith(suffix) or tail == suffix.lstrip("_"):
            return unit
    return "ratio" if tail in ("core_busy", "pair_yield", "batch_growth") else "count"


# ----------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    classpath = build(root)
    file_modules = benchlib.source_modules(os.path.join(root, "src", "main", "scala"))
    run_dir = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inputs = os.path.join(run_dir, "in")
        t = time.time()
        expected = gen.generate(args.workload, inputs, args.seed)
        log(f"inputs generated in {time.time() - t:.1f} s")
        results, attempted, failed = [], 0, 0
        t_start = time.time()
        deadline = t_start + RUN_DEADLINE_S
        plan = [False, True] if args.trace else None
        k = 0
        while True:
            if plan is not None:
                if k >= len(plan):
                    break
                traced = plan[k]
            else:
                elapsed = time.time() - t_start
                if k >= MIN_ITERATIONS and (elapsed >= args.seconds or elapsed > RUN_BUDGET_S):
                    break
                traced = False
            r = iterate(classpath, args.workload, inputs, os.path.join(run_dir, f"it{k}"),
                        traced, max(1.0, deadline - time.time()))
            k += 1
            if r is None:
                attempted, failed = attempted + 1, failed + 1
                continue
            errors = [s for s in r["steps"] if s["error"]]
            for s in errors:
                log(f"step {s['name']} failed: {s['error']}")
            ok, why = (False, "a step failed") if errors else \
                check(args.workload, r, expected)
            if not ok:
                log(f"output check failed: {why}")
            a, f = benchlib.outcome(r["steps"], ok)
            attempted, failed = attempted + a, failed + f
            r["ok"] = ok
            results.append(r)
        good = [r for r in results if r["ok"]]
        correct = failed == 0 and bool(good)
        print(f"workload {args.workload} seed {args.seed}: {len(results)} iterations, "
              f"attempted {attempted}, failed {failed}, "
              f"failed_ratio {benchlib.failed_ratio(attempted, failed):.4f}")
        if not good:
            print(json.dumps(benchlib.result_line(False, max(attempted, 1), max(failed, 1), {})))
            return 1
        # traced iterations carry the tracing cost: end-to-end figures come
        # from the untraced ones only
        good = [r for r in good if "spans" not in r] or good
        samples = {
            "setup_s": [r["setup_s"] for r in good],
            "wall_s": [r["wall_s"] for r in good],
            "cpu_s": [r["cpu_s"] for r in good],
            "heap_retained_mb": [r["heap_retained_mb"] for r in good],
            # a batch is one landed micro-batch for the stream; for the
            # batch pipelines the whole input is the one batch
            "batch_p50_s": ([(s["end"] - s["start"]) / 1000.0 for r in good for s in r["steps"]]
                            if args.workload == "stream_dedup" else [r["wall_s"] for r in good]),
        }
        for name, unit in END_TO_END:
            s = benchlib.summary(samples[name])
            tail = f"p{s['tail']['p']:g} {s['tail']['value']:.4f}" if s["tail"] else "no tail"
            print(f"{name}: median {s['median']:.4f} {unit}, {tail}, n={s['n']}")
        for name in dict.fromkeys(st["name"] for r in good for st in r["steps"]):
            xs = [(st["end"] - st["start"]) / 1000.0 for r in good for st in r["steps"]
                  if st["name"] == name]
            print(f"step {name}: median {benchlib.median(xs):.3f} s, n={len(xs)}")
        if args.trace:
            plain = next((r for r in results if r["ok"] and "spans" not in r), None)
            tr = next((r for r in results if r["ok"] and "spans" in r), None)
            if plain is None or tr is None:
                print(json.dumps(benchlib.result_line(False, attempted, max(failed, 1), {})))
                return 1
            layers = per_layer(args.workload, plain, tr, file_modules)
            write_trace(root, args, tr, layers, file_modules)
            for n in per_layer_names():
                print(f"{n}: {layers[n]:.6g} {layer_unit(n)}")
            print(f"tracing overhead: traced wall_s {tr['wall_s']:.3f} s - untraced "
                  f"{plain['wall_s']:.3f} s = {layers['trace.overhead_s']:.3f} s")
            metrics = {n: {"value": layers[n], "unit": layer_unit(n)} for n in per_layer_names()}
        else:
            metrics = {n: {"value": benchlib.median(samples[n]), "unit": u}
                       for n, u in END_TO_END}
        print(json.dumps(benchlib.result_line(correct, attempted, failed, metrics)))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def write_trace(root, args, tr, layers, file_modules):
    d = os.path.join(root, ".perfbench_traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-{args.seed}.json")
    spans = [dict(s, run_id=tr["run_id"]) for s in benchlib.span_module_metrics(tr, file_modules)]
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": spans,
                   "per_layer": layers}, f, indent=1)
    log(f"trace written to {path}")


if __name__ == "__main__":
    sys.exit(main())
