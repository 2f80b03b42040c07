#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the repository root):
    python3 perfbench/run.py --workload remit_stream --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt (offline) the first
time, then starts one JVM for the run. Each run gets fresh directories for
the artifact cache, Spark's local dirs, checkpoints, Derby and temp files,
all under .bench_build/perfbench/runs/, deleted when the run ends.

Prints the run's record (capture conditions, checks, every figure) as a line
starting with "record ", then, as the last line, the result JSON:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics, and the run also writes spans, counts and a per-workload
summary under .bench_build/perfbench/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
XMX = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, as paths relative to ROOT."""
    out = []
    for rel in ["build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"]:
        if os.path.isfile(os.path.join(ROOT, rel)):
            out.append(rel)
    for top in ["project", "src/main", "perfbench/src/main"]:
        base = os.path.join(ROOT, top)
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in files:
                if top == "project" and not f.endswith((".sbt", ".scala")):
                    continue
                out.append(os.path.relpath(os.path.join(d, f), ROOT))
    return sorted(set(out))


def fingerprint(files):
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(fp):
    """Compiles the engine and the benchmark; returns the runtime classpath.

    The classpath names the builds' class directories, which sbt rewrites in
    place, so it is reused only while the sources are the ones it was built
    from; any other fingerprint rebuilds (incrementally)."""
    stamp = os.path.join(OUT, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built.get("fingerprint") == fp:
            return built["classpath"]
        os.remove(stamp)
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=lf,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(3, f"build timed out; see {log}")
    lf_out = p.stdout.strip().splitlines()
    with open(log, "a") as lf:
        lf.write(p.stdout)
    cp = lf_out[-1].strip() if lf_out else ""
    if p.returncode != 0 or not cp.startswith("/"):
        fail(3, f"build failed; see {log}")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def commit():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(cp, run_dir):
    cmd = ["java", f"-Xmx{XMX}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
        "-cp", cp, "perfbench.Main"]


def run_jvm(cp, args, run_dir, log):
    cpus = len(os.sched_getaffinity(0))
    for d in ["tmp", "local", "cache", "derby"]:
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CACHE_DIR"] = os.path.join(run_dir, "cache")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    if args.record_board:
        head = ["--record-board"]
    else:
        head = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
    cmd = java_cmd(cp, run_dir) + head + [
        "--cpus", str(cpus), "--run-dir", run_dir, "--out-dir", OUT,
        "--bench-dir", HERE]
    with open(log, "w") as lf:
        # set-up is timed from here: process start, JVM boot and all
        cmd += ["--start-ns", str(time.time_ns())]
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=lf, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(4, f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    return p.returncode, out, cpus


def load_spec():
    """BENCHMARK.json: the workloads and every metric's name and unit."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail(2, "BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def result_line(spec, record):
    """The result JSON: the record's end-to-end metrics (untraced run) or
    per-layer metrics (traced run), each with its unit from BENCHMARK.json."""
    kind = "per_layer" if record["trace"] else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = record[kind].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(5, f"metric {m['name']} is {v!r}, not a number")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    extra = set(record[kind]) - set(metrics)
    if extra:
        fail(5, f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return {"correct": record["failed"] == 0,
            "attempted": max(1, record["attempted"]),
            "failed": record["failed"], "metrics": metrics}


def finite(x):
    """`x` with non-finite numbers (NaN from an empty sample) as null."""
    if isinstance(x, float) and not math.isfinite(x):
        return None
    if isinstance(x, dict):
        return {k: finite(v) for k, v in x.items()}
    if isinstance(x, list):
        return [finite(v) for v in x]
    return x


def load_jsonl(path):
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def trace_summary(record):
    """Per-workload summary of the latest traced run: self time per layer,
    each per-layer metric with the end-to-end metric it should move, and
    tracing overhead against this checkout's untraced runs of the same
    sources."""
    w = record["workload"]
    fp = record["stamp"]["source_fingerprint"]
    untraced = [r for r in load_jsonl(os.path.join(OUT, "results", f"{w}.jsonl"))
                if not r["trace"] and r["stamp"]["source_fingerprint"] == fp]
    overhead = {}
    for name, traced in record["end_to_end"].items():
        base = [r["end_to_end"][name] for r in untraced
                if r["end_to_end"].get(name) is not None]
        if base and traced is not None and statistics.median(base):
            overhead[name] = traced / statistics.median(base) - 1.0
    summary = {
        "workload": w, "run": record["run"], "stamp": record["stamp"],
        "self_s_by_layer": record["self_s"],
        "tracing_overhead": {"basis_untraced_runs": len(untraced),
                             "share_by_metric": overhead},
        "per_layer": {k: {"value": v, "moves": record["moves"].get(k)}
                      for k, v in record["per_layer"].items()},
        "spans": os.path.join("traces", f"{record['run']}.spans.jsonl"),
        "counts": os.path.join("traces", f"{record['run']}.counts.json"),
    }
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    with open(os.path.join(OUT, "traces", f"{w}-summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-board", action="store_true",
                    help="rewrite the digests in board/keys.tsv for the keys it lists")
    args = ap.parse_args()
    if not args.record_board and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(2, "engine sources (build.sbt, src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail(2, "sbt and java are required")

    fp = fingerprint(source_files())
    cp = build(fp)
    load1 = os.getloadavg()[0]
    run_id = f"{args.workload or 'record'}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(OUT, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    log = os.path.join(OUT, "logs", f"{run_id}.log")
    try:
        code, out, cpus = run_jvm(cp, args, run_dir, log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.record_board and code == 0:
        return
    records = [line for line in (out or "").splitlines() if line.startswith("record ")]
    if code != 0 or not records:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(code or 1, f"run failed (exit {code}); log tail:\n{tail}")
    record = json.loads(records[-1][len("record "):])
    result = result_line(spec, record)

    info = record["info"]
    record["stamp"] = {
        "commit": commit(), "source_fingerprint": fp, "nproc": cpus,
        "load_1m_before": load1, "xmx": XMX,
        "input": {k: info[k] for k in ["backlog_events", "offered_rate", "paced_events",
                                       "key_count", "fixture"] if k in info},
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    record = finite(record)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{args.workload}.jsonl"), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    if args.trace:
        trace_summary(record)
    print("record " + json.dumps(record, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
