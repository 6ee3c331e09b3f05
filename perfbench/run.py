#!/usr/bin/env python3
"""graft's benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft's main sources
together with the harness in `perfbench/` (sbt, offline) and caches the
build under `.bench_build/`; later runs reuse it while the sources are
unchanged. Each run generates its inputs from `--seed`, runs the workload
in one JVM (`local[N]`, N = the machine's cores, one client thread),
checks the outputs, prints every metric by name and unit, and prints one
JSON object as its last line. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft")

# Input sizes per workload: (scale factor of the star schema and events,
# documents, near-duplicate share of the documents, embedding vectors).
INPUTS = {
    "log_interactive": dict(sf=0.01, n_docs=500, neardup_share=0.2, n_vecs=500),
    "curation_batch": dict(sf=0.002, n_docs=400, neardup_share=0.3, n_vecs=200),
    "artifact_serve": dict(sf=0.002, n_docs=600, neardup_share=0.3, n_vecs=600),
}
SETUP_REPS = 3
JVM_TIMEOUT_S = 170


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile graft + the harness once per source tree; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # a fixed heap and young generation: G1's adaptive sizing otherwise
    # moved the peak RSS by ±15% from run to run
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn512m", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"workload JVM did not finish within {JVM_TIMEOUT_S} s")
    if rc != 0:
        die(f"workload JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(PROGRAM, "SparkEntry.scala")):
        die(f"graft's sources are not under {os.path.relpath(PROGRAM, ROOT)}; "
            "run from the root of a graft checkout")
    cp = build()

    work = os.path.join(BUILD, "runs", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(a, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def run(a, cp, work):
    inputs = INPUTS[a.workload]
    # set-up, part 1: input generation, repeated; the median counts
    gen_s, data = [], None
    for i in range(SETUP_REPS):
        data = os.path.join(work, f"data{i}")
        t0 = time.perf_counter()
        in_bytes = gen.generate(data, a.seed, **inputs)
        gen_s.append(time.perf_counter() - t0)
        if i < SETUP_REPS - 1:
            shutil.rmtree(data)
    check = os.path.join(work, "check")
    out = os.path.join(work, "result.json")
    run_jvm(cp, {"workload": a.workload, "data": data, "seconds": a.seconds,
                 "trace": a.trace, "seed": a.seed, "out": out, "check": check,
                 "scratch": os.path.join(work, "spark")}, work)
    with open(out) as f:
        r = json.load(f)

    failures = dict(r["failures"])
    for name, why in oracle.check(data, check, r.get("oracle", [])).items():
        failures.setdefault(name, why)

    samples = r["samples"]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"] or s["op"] in failures)
    # latency over every operation that returned, right or wrong: a wrong
    # result fails the run, and keeping its time keeps the figures
    # comparable across seeds
    lat = [s["s"] for s in samples if s["ok"]]
    setup_s = statistics.median(gen_s) + r["session_s"] + r["warmup_s"]
    p50 = stats.percentile(lat, 0.50)
    p90 = stats.percentile(lat, 0.90)
    # items: queries answered, or input documents curated per pipeline pass
    if a.workload == "curation_batch":
        items_per_s = inputs["n_docs"] / r["batch_s"]
    else:
        items_per_s = len(lat) / r["measured_s"]

    print(f"workload {a.workload}  seed {a.seed}  cores {r['cores']}  "
          f"inputs {json.dumps(inputs)}  input_bytes {in_bytes}")
    show = stats.Report()
    show.add("setup_s", setup_s, "s", f"gen {statistics.median(gen_s):.3f} (median of "
             f"{SETUP_REPS}) + session {r['session_s']:.3f} + warm-up {r['warmup_s']:.3f}")
    if a.workload == "log_interactive":
        show.pct("query_p50_s", p50)
        show.pct("query_p90_s", p90)
        show.add("queries_per_s", items_per_s, "1/s", f"{len(lat)} queries in {r['measured_s']:.2f} s")
    elif a.workload == "curation_batch":
        show.pct("stage_p50_s", p50)
        show.pct("stage_p90_s", p90)
        show.add("docs_per_s", items_per_s, "1/s",
                 f"{inputs['n_docs']} docs, near-dup share {inputs['neardup_share']}, "
                 f"pipeline pass {r['batch_s']:.3f} s (median of {len(r['passes_s'])})")
    else:
        show.add("artifact_build_s", r["batch_s"], "s",
                 ", ".join(f"{k} {v:.2f}" for k, v in r["builds"].items()))
        show.pct("serve_p50_s", p50)
        show.pct("serve_p90_s", p90)
        show.add("serves_per_s", items_per_s, "1/s", f"{len(lat)} served in {r['measured_s']:.2f} s")
    show.add("failed_share", failed / attempted, "share", f"{failed} of {attempted} operations")
    show.add("peak_rss_mb", r["peak_rss_mb"], "MB", "JVM VmHWM")
    for name, why in failures.items():
        print(f"  FAILED {name}: {why}")
    print(show.text())

    if a.trace:
        for line in r.get("count_mismatches", []):
            print(f"  count differs between the two traced passes: {line}")
        values = r["layers"]
    else:
        values = {"setup_s": setup_s, "items_per_s": items_per_s,
                  "peak_rss_mb": r["peak_rss_mb"]}
    # the metric names and units are BENCHMARK.json's
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in values]
    if missing:
        die(f"the run produced no value for {', '.join(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    if a.trace:
        for k, v in metrics.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
    return {"correct": not failures, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    main()
