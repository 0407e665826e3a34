#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from source (once per source
state), runs one workload in a fresh JVM, checks its outputs and prints
one JSON object as the last line of standard output. `--threads 1` runs
the single-threaded baseline.
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
import analysis  # noqa: E402

ROOT = os.getcwd()
WORKLOADS = ["kpi_stream", "registry"]
GOLDEN = os.path.join(HERE, "golden", "registry_sf0.1.json")
DATA = os.path.join(HERE, "data", "sf0.1")
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile the engine and the benchmark program with sbt, once per source state;
    returns the runtime classpath."""
    stamp, cp_file = os.path.join(build_dir, "stamp"), os.path.join(build_dir, "classpath")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(build_dir, "build.log"), "w") as log:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=880)
        log.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed; see {os.path.join(build_dir, 'build.log')}", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def run_jvm(cp, args, work, threads):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        # a fixed heap and young generation and few malloc arenas keep the
        # resident high-water mark from following the GC's timing-driven sizing
        "-Xms2g", "-Xmx2g", "-Xmn384m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main"]
        + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(threads), MALLOC_ARENA_MAX="2")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(tail, file=sys.stderr)
        fail("workload JVM " + ("timed out" if code is None else f"exited with {code}"), 1)


def metric_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["end_to_end"], bench["per_layer"]


def summarize(raw, golden):
    """(e2e values, per-layer values, attempted, failed, notes, named)."""
    if raw["workload"] == "registry":
        attempted, failed, notes = analysis.check_registry(raw, golden)
        e2e, named = analysis.registry_metrics(raw)
        layers = analysis.registry_layers(raw) if raw["trace"] else {}
        runs = {d["run"] for d in raw.get("views", {}).get("drains", [])}
        traced_progress = [p for p in raw.get("progress", []) if p["run"] in runs]
    else:
        triggers = {p["batch"]: p["end"] for p in analysis.kpi_progress(raw)}
        done, missing = analysis.attribute(
            raw["segments"], analysis.file_source_log(raw["checkpoint"]), triggers)
        attempted, failed, notes = analysis.check_kpi(raw, missing)
        e2e, named = analysis.kpi_metrics(raw, done)
        layers = analysis.kpi_layers(raw, done) if raw["trace"] else {}
        traced_progress = analysis.kpi_traced_progress(raw, done)
    if "views" in raw:
        va, vf, vn = analysis.check_views(raw["views"])
        attempted, failed, notes = attempted + va, failed + vf, notes + vn
        layers.update(analysis.views_layers(raw["views"]))
        named["views_rows_per_s"] = layers["views.rows_per_s"]
        named["views_order"] = raw["views"]["order"]
    e2e["setup_s"] = raw["setup_s"]
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]
    if raw["trace"]:
        layers["session.start_s"] = raw["session_s"]
        if e2e["wall_s"] > 0:
            layers["trace.overhead_frac"] = layers["trace.overhead_s"] / e2e["wall_s"]
        spans = raw.get("spans", [])
        spans = spans + analysis.trigger_spans(
            traced_progress, 1 + max((s["id"] for s in spans), default=0))
        spans = analysis.link_sink_spans(spans)
        layers["trace.spans"] = len(spans)
        st = analysis.self_times(spans)
        for name, key in (("query", "self.query_s"), ("build", "self.build_s"),
                          ("plan", "self.plan_s"), ("exec", "self.exec_s"),
                          ("cachepool.release", "self.cachepool_s"),
                          ("trigger", "self.trigger_s"), ("trigger.addBatch", "self.addBatch_s")):
            layers[key] = st.get(name, 0.0) / 1000.0
        layers["self.source_s"] = (st.get("trigger.latestOffset", 0.0)
                                   + st.get("trigger.getBatch", 0.0)) / 1000.0
        layers["self.sink_s"] = sum(v for k, v in st.items() if k.startswith("sink.")) / 1000.0
    return e2e, layers, attempted, failed, notes, named


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--threads", type=int, default=max(1, (os.cpu_count() or 2) // 2))
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "BENCHMARK.json"), DATA, GOLDEN):
        if not os.path.exists(need):
            fail(f"run from the repository root; {os.path.relpath(need, ROOT)} is missing")
    e2e_cat, layer_cat = metric_catalog()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)

    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    t0 = time.time()
    try:
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", DATA, "--work", work, "--out", raw_path], work, a.threads)
        with open(raw_path) as f:
            raw = json.load(f)
        with open(GOLDEN) as f:
            golden = json.load(f)
        e2e, layers, attempted, failed, notes, named = summarize(raw, golden)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for n in notes:
        print(f"perfbench: FAILED {n}", file=sys.stderr)
    named.update({"workload": a.workload, "seed": a.seed, "threads": a.threads,
                  "failed_frac": failed / attempted if attempted else 1.0,
                  "setup_s": e2e["setup_s"],
                  "peak_rss_mb": e2e["peak_rss_mb"], "run_s": time.time() - t0})
    print("perfbench summary: " + json.dumps(named, sort_keys=True))
    if a.trace:
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in layer_cat}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in e2e_cat}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
