#!/usr/bin/env python3
"""Benchmark runner: builds the program with the benchmark
(`perfbench/build.py`), runs one workload in fresh JVMs and prints the
result as JSON on the last line of standard output.

    python3 perfbench/run.py --workload match_single --seed 1 --seconds 8 --trace 0

Run it from the repository root. `--trace 0` prints the end-to-end
metrics of BENCHMARK.json, `--trace 1` the per-layer ones. The line
before the result is the run record (machine, versions, seed, Spark
conf, and workload figures such as recall and the error rate).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = os.getcwd()
WORKLOADS = ("match_single", "ann_churn", "curate")
# the unit of one item of work, per workload, for throughput_per_s
ITEM = {"match_single": "resumes", "ann_churn": "CDC rows", "curate": "documents"}
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(2, n))


def jvm(cp, run_dir, name, deadline, args):
    """Runs one benchmark JVM under its own artifact root (temp dir,
    Spark local dirs, checkpoint dir, work dir), removed when it ends.
    Returns the parsed JSON it wrote."""
    root = os.path.join(run_dir, name)
    dirs = {k: os.path.join(root, k) for k in ("tmp", "local", "ckpt", "work")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(run_dir, name + ".json")
    log = os.path.join(run_dir, name + ".log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=dirs["local"], SPARK_GRAFT_CKPT_DIR=dirs["ckpt"])
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={dirs['tmp']}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--out", out, "--work", dirs["work"]] + args)
    timeout = min(JVM_TIMEOUT_S, deadline - time.monotonic())
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             cwd=root, start_new_session=True)
        try:
            rc = p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    shutil.rmtree(root, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            text = lf.read()
        cause = [ln for ln in text.splitlines() if "Exception" in ln or "Error" in ln][:5]
        raise BenchError(f"{name} JVM exited with {rc}:\n" + "\n".join(cause) + "\n" + text[-1500:])
    with open(log) as lf:
        for line in lf:
            if line.startswith("check failed") or line.startswith("request "):
                print(line.rstrip(), file=sys.stderr)
    with open(out) as fh:
        return json.load(fh)


def pct(xs, q):
    """The q-th percentile (0..100) by linear interpolation."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def phase_metrics(ph):
    lat = ph["latencies_ms"]
    return {
        "latency_p50_ms": pct(lat, 50),
        "latency_p90_ms": pct(lat, 90),
        "throughput_per_s": ph["items"] / (sum(lat) / 1000.0),
        "requests": len(lat),
        "write_p50_ms": pct(ph["write_ms"], 50) if ph["write_ms"] else None,
    }


def source_digest():
    h = hashlib.sha256()
    for f in build.source_files():
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def layer_metrics(res, names):
    """Per-layer metrics: span and counter figures from the traced loop,
    ratios derived here, and the tracing overhead."""
    L = dict(res["layers"])

    def ratio(num, den):
        return L.get(num, 0.0) / L[den] if L.get(den) else 0.0
    L["sources.bytes_per_s"] = ratio("sources.bytes", "sources.self_ms") * 1000.0
    L["SectionChunker.sections_per_doc"] = L.get("SectionChunker.sections", 0.0)
    L["ScoreParser.parsed_ratio"] = ratio("ScoreParser.parsed", "ScoreParser.scored")
    L["Dedup.pair_yield"] = ratio("Dedup.verified_pairs", "Dedup.candidate_pairs")
    L["TextAnalysis.kept_ratio"] = ratio("TextAnalysis.kept", "TextAnalysis.gate_in")
    plain = phase_metrics(res["untraced"])
    traced = phase_metrics(res["traced"])
    L["trace.latency_p50_ms"] = traced["latency_p50_ms"]
    L["trace.untraced_latency_p50_ms"] = plain["latency_p50_ms"]
    L["trace.overhead_ratio"] = traced["latency_p50_ms"] / plain["latency_p50_ms"]
    # share of the mean traced request spent in each ann_churn step
    mean_ms = statistics.mean(res["traced"]["latencies_ms"])
    for step in ("IndexStream.commit", "StreamState.compact", "IndexStream.search"):
        L[step + "_share"] = L.get(step + "_ms", 0.0) / mean_ms
    return {n: L.get(n, 0.0) for n in names}, L


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(build.BUILD, exist_ok=True)
    cp = build.classpath()
    # the build may take long on a fresh checkout; runs get their own budget
    deadline = time.monotonic() + 170
    n = cores()
    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    load_before = os.getloadavg()
    try:
        res = jvm(cp, run_dir, "run", deadline,
                  ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                   "--cores", str(n), "--trace", str(a.trace), "--seconds", str(a.seconds)])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after = os.getloadavg()
    # set-up = JVM start to a ready session, plus the workload's build
    setup_s = res["session_s"] + res["build_s"]

    plain = phase_metrics(res["untraced"])
    figures = dict(res["figures"])
    attempted, failed = res["attempted"], res["failed"]
    record = {
        "run_record": {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": os.cpu_count(), "local_n": n,
            "loadavg_before": load_before, "loadavg_after": load_after,
            "java_version": res["java_version"], "spark_version": res["spark_version"],
            "git_commit": git_commit(), "source_digest": source_digest(),
            "spark_conf": res["spark_conf"],
            "item": ITEM[a.workload], "requests": plain["requests"],
            "session_s": res["session_s"], "build_s": res["build_s"],
            "peak_rss_mb": res["peak_rss_mb"],
            "write_p50_ms": plain["write_p50_ms"],
            "recall_at_10": figures.get("recall_at_10"),
            "index_bytes_per_vector": figures.get("index_bytes_per_vector"),
            "error_rate": failed / attempted if attempted else None,
        }
    }
    if a.trace == 0:
        values = {
            "setup_s": setup_s,
            "throughput_per_s": plain["throughput_per_s"],
            "latency_p50_ms": plain["latency_p50_ms"],
            "latency_p90_ms": plain["latency_p90_ms"],
            "live_heap_mb": res["live_heap_mb"],
        }
        specs = spec["end_to_end"]
    else:
        values, every = layer_metrics(res, [m["name"] for m in spec["per_layer"]])
        record["run_record"]["layers"] = every
        record["run_record"]["traced"] = phase_metrics(res["traced"])
        specs = spec["per_layer"]
    record["run_record"]["untraced"] = plain
    record["run_record"]["latencies_ms"] = [round(x, 1) for x in res["untraced"]["latencies_ms"]]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, build.BuildError, OSError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(2)
