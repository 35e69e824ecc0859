#!/usr/bin/env python3
"""Benchmark runner: build, generate inputs, run one workload, check outputs.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --self-test     # generator and expected-count tests
  python3 perfbench/run.py --report        # repeatability report over results/

Workloads: battery_table, wiki_refs (see perfbench/README.md).
The program is built from the enclosing checkout on first use (sbt,
offline). Inputs are generated from the seed and cached by it under
perfbench/work/inputs. One JVM then sets up several times, runs the
timed closed loop and writes its figures; this script checks outputs
(DuckDB for battery queries), stores the full result under
perfbench/results/<workload>/ and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
DEADLINE_S = 175
HEAP = "2g"

sys.path.insert(0, HERE)
import gen  # noqa: E402

# workload -> (input kind, size): tables at a scale factor, wiki dump in MB
WORKLOADS = {
    "battery_table": ("tables", 0.01),
    "wiki_refs": ("wiki", 8),
}

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "query_p50_s": "s", "driver_heap_mb": "MB",
}

PER_LAYER = {
    "construct.s": "s", "construct.jobs": "count", "construct.cold_jobs": "count",
    "plan.s": "s", "plan.jobs": "count",
    "execute.s": "s", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.tasks_per_stage": "count",
    "execute.gap_ms": "ms", "execute.run_ms": "ms", "execute.cpu_ms": "ms",
    "execute.core_util": "ratio", "execute.shuffle_write_bytes": "B",
    "execute.shuffle_read_bytes": "B", "execute.spill_bytes": "B",
    "execute.peak_mem_bytes": "B", "execute.gc_ms": "ms", "execute.skew": "ratio",
    "sources.commit_s": "s", "sources.commit_share": "ratio", "sources.commit_jobs": "count",
    "sources.rows_read_per_row_returned": "ratio", "sources.fs_bytes_read": "B",
    "sources.fs_bytes_written": "B", "sources.fs_read_ops": "count",
    "sources.fs_write_ops": "count",
    "sources.table_files": "count", "sources.table_bytes": "B",
    "wiki.scan_s": "s", "wiki.parse_s": "s", "wiki.links_s": "s", "wiki.agg_s": "s",
    "wiki.csv_s": "s",
    "wiki.scan_share": "ratio", "wiki.parse_share": "ratio",
    "wiki.links_share": "ratio", "wiki.agg_share": "ratio", "wiki.csv_share": "ratio",
    "wiki.scan_mb_per_s": "MB/s", "wiki.splits": "count", "wiki.link_rows": "count",
    "jvm.gc_ms": "ms", "jvm.heap_growth_mb": "MB",
    "trace.ops_per_s": "1/s", "trace.residue_share": "ratio",
}

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- build ------------------------------------------------------------------

def fingerprint():
    """Hash of every source and build file the harness depends on."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile the program and the harness once per source state; return
    the runtime classpath."""
    state = os.path.join(WORK, "build.json")
    fp = fingerprint()
    if os.path.exists(state):
        with open(state) as f:
            st = json.load(f)
        if st.get("fingerprint") == fp and all(
                os.path.exists(p) for p in st["classpath"].split(os.pathsep)):
            return st["classpath"], fp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    log("building (first run in this checkout)")
    out = run_proc(cmd, HERE, env, deadline, os.path.join(WORK, "build.log"))
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        sys.exit("perfbench: build failed, see perfbench/work/build.log")
    cp = lines[-1].strip()
    with open(state, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, fp


def run_proc(cmd, cwd, env, deadline, log_path):
    """Run cmd in its own process group, output to log_path; kill the
    group if the deadline passes; return the output. Exits on failure."""
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    with open(log_path, errors="replace") as f:
        out = f.read()
    if rc != 0:
        sys.stderr.write(out[-4000:])
        sys.exit(f"perfbench: {cmd[0]} exited with {rc}")
    return out


# --- inputs -----------------------------------------------------------------

def inputs(workload, seed):
    kind, size = WORKLOADS[workload]
    root = os.path.join(WORK, "inputs")
    if kind == "tables":
        return gen.cached(root, kind, seed, size, lambda d: gen.tables(d, seed, size))
    return gen.cached(root, kind, seed, size,
                      lambda d: gen.wiki_dump(os.path.join(d, "dump.xml"), seed, size))


# --- output checks ----------------------------------------------------------

def oracle_check(input_dir, out_dir, deadline):
    """Run the repository's DuckDB oracle check (tools/oracle_check.py:
    oracle SQL per query, column names, arrow types, sorted rows) on the
    battery outputs. Returns ({query: message} for mismatches, the
    tool's summary line)."""
    cmd = [sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"), input_dir, out_dir]
    try:
        p = subprocess.run(cmd, cwd=out_dir, capture_output=True, text=True,
                           timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return {"oracle_check": "timed out"}, None
    bad = dict(re.findall(r"^\[FAIL\] (\S+): (.*)$", p.stdout, re.M))
    if p.returncode != 0 and not bad:
        bad["oracle_check"] = f"exited with {p.returncode}: {p.stderr[-500:]}"
    return bad, (p.stdout.strip().splitlines() or [None])[-1]


# --- one run ----------------------------------------------------------------

def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def paired(workload, seed, trace, fp):
    """ops/s of the stored run of the same workload, seed and source
    fingerprint with the other trace setting, for the tracing-overhead
    figure; None if there is none."""
    path = os.path.join(RESULTS, workload, f"seed{seed}-trace{trace}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        r = json.load(f)
    if r.get("source_fingerprint") != fp:
        return None
    return r["end_to_end"]["ops_per_s"] if trace == 0 else r["layers"]["trace.ops_per_s"]


def run(args):
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: the program's sources (build.sbt, src/main/scala/graft) "
                 "are not in this checkout")
    os.makedirs(WORK, exist_ok=True)
    cp, fp = build(t_start + 870)
    deadline = max(deadline, time.time() + 150)  # a first-run build extends the budget
    t_gen = time.time()
    input_dir = inputs(args.workload, args.seed)
    gen_s = time.time() - t_gen
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
        # a fixed heap size: full GCs for the heap figures must not shrink
        # the heap, or the passes after them slow down while it regrows
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
                  "--seed", str(args.seed), "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--inputs", input_dir, "--work", run_dir,
                  "--out", os.path.join(run_dir, "result.json"), "--cpus", cpus])
        run_proc(cmd, run_dir, dict(os.environ), deadline, os.path.join(run_dir, "jvm.log"))
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            res["progress"] = [l.rstrip() for l in f if l.startswith("[harness")]
        failures = [(c["op"], c["message"]) for c in res["check_failures"]]
        if os.path.isdir(os.path.join(run_dir, "oracle")):
            bad, res["oracle_check"] = oracle_check(
                input_dir, os.path.join(run_dir, "oracle"), deadline)
            failures += sorted(bad.items())
        per_name = res["ops"]["per_name"]
        attempted = res["ops"]["attempted"]
        failed = len(res["ops"]["errors"])
        for op, _ in failures:       # a wrong output fails every run of its op
            failed += per_name.get(op, 1)
        failed = min(failed, attempted)
        res.update({
            "commit": git_commit(), "source_fingerprint": fp, "input_dir_bytes": {
                f: os.path.getsize(os.path.join(input_dir, f))
                for f in sorted(os.listdir(input_dir)) if not f.startswith(".")},
            "input_generation_s": gen_s, "check_failures": [
                {"op": o, "message": m} for o, m in failures],
            "failed": failed, "fail_ratio": failed / attempted,
            "wall_s": time.time() - t_start, "cpus": int(cpus), "jvm_heap": HEAP,
        })
        other = paired(args.workload, args.seed, 1 - args.trace, fp)
        if other:
            mine = res["end_to_end"]["ops_per_s"] if args.trace == 0 else \
                res["layers"]["trace.ops_per_s"]
            untraced, traced = (mine, other) if args.trace == 0 else (other, mine)
            res["trace_overhead"] = 1.0 - traced / untraced
        dest = os.path.join(RESULTS, args.workload)
        os.makedirs(dest, exist_ok=True)
        stem = os.path.join(dest, f"seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, stem + "-spans.jsonl")
        for op, msg in failures:
            log(f"check failed: {op}: {msg}")
        for e in res["ops"]["errors"][:5]:
            log(f"op failed: {e['op']}: {e['error']}")
        if args.trace:
            layers = res["layers"]
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": float(res["end_to_end"][k]), "unit": u}
                       for k, u in END_TO_END.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# --- reports and self-test -------------------------------------------------

def report():
    """Per workload: which counts repeat exactly across traced runs and
    passes, the spread of each end-to-end metric across seeds, and
    whether warm pass times still trend."""
    out = {}
    for wl in sorted(os.listdir(RESULTS)) if os.path.isdir(RESULTS) else []:
        runs = []
        for p in sorted(glob.glob(os.path.join(RESULTS, wl, "seed*-trace*.json"))):
            with open(p) as f:
                runs.append(json.load(f))
        plain = [r for r in runs if not r["trace"]]
        traced = [r for r in runs if r["trace"]]
        w = {"untraced_runs": len(plain), "traced_runs": len(traced)}
        spread = {}
        for k in END_TO_END:
            vals = [r["end_to_end"][k] for r in plain]
            if len(vals) >= 4:
                q = statistics.quantiles(vals, n=4)
                spread[k] = {"median": statistics.median(vals),
                             "iqr_share": (q[2] - q[0]) / statistics.median(vals)}
        w["end_to_end_spread"] = spread
        counts = ["construct.jobs", "plan.jobs", "execute.jobs", "execute.tasks",
                  "sources.commit_jobs", "sources.table_files", "wiki.link_rows"]
        w["counts_exact_across_runs"] = {
            k: len({r["layers"].get(k) for r in traced}) == 1
            for k in counts} if len(traced) >= 2 else None
        w["counts_exact_across_passes"] = [
            r["layer_summary"].get("counts_repeat_across_passes") for r in traced]
        trends = []
        for r in plain:
            timed = [p["secs"] for p in r["passes"] if p.get("timed")]
            if len(timed) >= 2:
                trends.append(timed[-1] / timed[0])
        w["timed_last_over_first_pass"] = trends
        w["warmup_settled"] = [r["warmup"]["settled"] for r in plain if "warmup" in r]
        out[wl] = w
    print(json.dumps(out, indent=1, sort_keys=True))


def self_test():
    rc = subprocess.run([sys.executable, "-m", "unittest", "-q", "test_gen"], cwd=HERE).returncode
    cp, _ = build(time.time() + 870)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    rc |= subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.WikiExpect",
                          os.path.join(WORK, "tmp")]).returncode
    sys.exit(rc)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        self_test()
    elif args.report:
        report()
    elif args.workload:
        run(args)
    else:
        ap.error("--workload is required")


if __name__ == "__main__":
    main()
