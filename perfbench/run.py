#!/usr/bin/env python3
"""Pipeline benchmark of the hourly sessionization job.

Run from the repository root:

    python3 perfbench/run.py --workload hourly_dense --seed 1 --seconds 15 --trace 0

The first run builds the program (the repository's own sbt build) and the
benchmark's JVM harness on top of it with sbt, offline from the toolchain's
caches; later runs reuse that build while the sources are unchanged. Each run
generates its inputs from the seed, drives Ingest.run, Scheduler.catchupWith +
SessionizeHour.run or StreamingJob.run in one JVM, checks every output against
an independent DuckDB reference, and prints one JSON line last. The workloads
are defined in perfbench/src/main/scala/perfbench/Main.scala; see
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

import check

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 needs these when not launched through spark-submit
# (the same list as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
DRIVER_HEAP = "3g"
# Layers a workload bypasses report 0, by whether it is a batch workload;
# every other declared metric must be measured.
BYPASSED = {
    True: ("streaming_job.",),
    False: ("ingest.", "scheduler.", "sessionize_hour.", "sessionize."),
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's and the harness's sources
    and both build definitions."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Returns the runtime classpath, building first when sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"program sources not found under {ROOT}/src/main/scala; "
            "run from the repository root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                           text=True, timeout=840)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "classes" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def run_jvm(cp, args, work, out, spans, tiny):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{DRIVER_HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--tiny", "1" if tiny else "0",
            "--work", work, "--out", out, "--spans", spans]
    log = out[:-len(".json")] + ".log"
    env = dict(os.environ)
    # would move Spark's scratch space out of the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s; see {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        die(f"benchmark JVM failed (exit {rc}); see {log}\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def run(argv, tiny=False, keep=False):
    """Runs the benchmark once and returns (report, work dir). The work dir
    is deleted unless `keep` is set."""
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}{'-tiny' if tiny else ''}"
    results = os.path.join(HERE, ".results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(results, f"{tag}.json")
    spans = os.path.join(results, f"{tag}.spans.jsonl")
    for f in (out, spans):
        if os.path.exists(f):
            os.remove(f)
    try:
        r = run_jvm(cp, args, work, out, spans, tiny)
        report = evaluate(r, args, work)
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
    report["spans"] = os.path.relpath(spans, ROOT) if args.trace else None
    with open(os.path.join(results, f"{tag}.report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return report, work


def main():
    report, _ = run(sys.argv[1:])
    print("perfbench: " + json.dumps({k: report[k] for k in
                                      ("workload", "properties", "samples", "echo", "spans")}))
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


def evaluate(r, args, work):
    batch = r["batch"]
    ref = check.Reference(os.path.join(work, "data"), batch)
    props = ref.properties()
    correct, error = True, None
    emitted = None
    try:
        for p in r["passes"]:
            if p["committed"] != r["hours"]:
                raise check.CheckFailed(f"pass committed {p['committed']} of {r['hours']} hours")
            if batch:
                ref.check_batch(os.path.join(p["dir"], "sessions"))
            else:
                if p["dropped_by_watermark"] != 0:
                    raise check.CheckFailed(
                        f"{p['dropped_by_watermark']} rows dropped by the watermark")
                emitted = ref.check_stream(os.path.join(p["dir"], "out"), p["watermark_us"])
    except check.CheckFailed as e:
        correct, error = False, str(e)
        print(f"perfbench: OUTPUT CHECK FAILED: {e}", file=sys.stderr)

    plain = [p for p in r["passes"] if not p["traced"]]
    traced = [p for p in r["passes"] if p["traced"]]

    def e2e(ps):
        hours = [h for p in ps for h in p["hour_s"]]
        return {
            "events_per_s": statistics.median(r["events"] / p["wall_s"] for p in ps),
            "hour_p50_s": statistics.median(hours),
            "hour_samples": len(hours),
            # the highest percentile with at least ten samples beyond it
            "hour_p90_s": quantile(hours, 0.9) if len(hours) >= 100 else None,
        }

    base = e2e(plain)
    attempted = sum(p["attempts"] for p in r["passes"])
    failed = sum(p["failures"] for p in r["passes"])
    if args.trace:
        layers = dict(r["layers"])
        tr = e2e(traced)
        layers["tracing.hour_p50_overhead_s"] = tr["hour_p50_s"] - base["hour_p50_s"]
        layers["tracing.events_per_s_overhead"] = tr["events_per_s"] - base["events_per_s"]
        layers["process.peak_rss_mb"] = r["peak_rss_mb"]
        if batch:
            nulls, opened = ref.hour_stats(os.path.join(traced[-1]["dir"], "sessions"))
            layers["sessionize_hour.null_session_ids"] = nulls
            layers["sessionize_hour.sessions_opened"] = opened
        else:
            layers["streaming_job.sessions_emitted"] = emitted
        metrics = per_layer_metrics(layers, batch)
    else:
        metrics = {
            "events_per_s": {"value": base["events_per_s"], "unit": "1/s"},
            "hour_p50_s": {"value": base["hour_p50_s"], "unit": "s"},
            "setup_s": {"value": statistics.median(s["s"] for s in r["setups"] if s["counted"]),
                        "unit": "s"},
        }
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return {
        "workload": args.workload,
        "batch": batch,
        "properties": props,
        "samples": {"passes": len(r["passes"]), "hour_samples": base["hour_samples"],
                    "hour_p90_s": base["hour_p90_s"], "fail_ratio": failed / attempted,
                    "setups": r["setups"], "timed_s": r["timed_s"],
                    "peak_rss_mb": r["peak_rss_mb"], "peak_rss_scope": r["peak_rss_scope"],
                    "stream_emitted": emitted},
        "echo": dict(r["echo"], seconds=args.seconds, trace=args.trace),
        "passes": r["passes"],
        "error": error,
        "result": result,
    }


def per_layer_metrics(layers, batch):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer"]
    bypassed = BYPASSED[batch]
    out = {}
    for m in declared:
        name = m["name"]
        if name in layers:
            v = layers[name]
        elif name.startswith(bypassed):
            v = 0.0
        else:
            die(f"traced run did not measure {name}")
        out[name] = {"value": v, "unit": m["unit"]}
    return out


if __name__ == "__main__":
    sys.exit(main())
