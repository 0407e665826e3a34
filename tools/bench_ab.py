#!/usr/bin/env python3
"""A/B the repository benchmark (perfbench/run.py) between two commits.

Each commit is exported with `git archive` into a fresh directory with its
own build directory, so neither side runs from the working tree. Runs go
one JVM at a time, with the same seeds on both sides; the parent goes first
in odd pairs and the change in even ones. After every run the results so far
are written to `<work>/results_<workload>_trace<t>_<parent>_<change>.json`
(each commit's first 12 hex digits). A later call with the same commits,
workload and trace extends that file instead of replacing it, so at the end
the report covers every pair run for those commits: each metric's median
per side, the parent's quartiles, the relative change and the pairs the
change won, for the run's metrics and for the numeric figures of its
`perfbench summary` line (as `summary.<name>`).

    python3 tools/bench_ab.py --parent HEAD~1 --change HEAD \\
        --workload kpi_stream --seeds 6111-6120 [--trace 0] [--work DIR]

Each run lasts the benchmark's own `run_seconds` from BENCHMARK.json.

To measure uncommitted work, stage it (`git add -A`) and pass
`--change $(git stash create)`: that commit holds the index and the
working tree without touching either. Exports and builds under `--work`
are reused by later calls with the same commits.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def seeds_of(spec):
    """'6111-6115' or '1,5,9' (or a mix) as a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def export(sha, work):
    """Directory holding `git archive <sha>`, made once per commit."""
    d = os.path.join(work, f"src_{sha[:12]}")
    done = os.path.join(d, ".exported")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"bench_ab: git archive {sha} failed")
        open(done, "w").close()
    return d


def env_for(sha, work):
    return dict(os.environ, CARGO_TARGET_DIR=os.path.join(work, f"build_{sha[:12]}"))


def prebuild(src, env):
    """Compile a side before any timed run, so both sides start warm."""
    code = ("import os, sys; sys.path.insert(0, 'perfbench'); import run; "
            "run.build(os.path.join(run.ROOT, os.environ['CARGO_TARGET_DIR']))")
    subprocess.run([sys.executable, "-c", code], cwd=src, env=env, check=True)


def numbers(named, prefix=""):
    """The numeric figures of a summary: plain numbers, the `value` of a
    {value, n, ...} entry, and nested maps flattened as `name.key`."""
    out = {}
    for k, v in named.items():
        if isinstance(v, bool) or k in ("seed", "threads"):
            continue
        if isinstance(v, (int, float)):
            out[prefix + k] = v
        elif isinstance(v, dict) and "value" in v:
            out[prefix + k] = v["value"]
        elif isinstance(v, dict):
            out.update(numbers(v, f"{prefix}{k}."))
    return out


def run_once(src, env, workload, seed, seconds, trace, log):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=src, env=env, capture_output=True, text=True)
    with open(log, "a") as f:
        f.write(f"$ {' '.join(cmd)}  (in {src})\n{r.stdout}{r.stderr}\n")
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return {"seed": seed, "error": f"exit {r.returncode}; see {log}"}
    res = json.loads(lines[-1])
    out = {"seed": seed, "correct": res["correct"], "attempted": res["attempted"],
           "failed": res["failed"],
           "metrics": {k: v["value"] for k, v in res["metrics"].items()}}
    summary = [ln for ln in lines if ln.startswith("perfbench summary: ")]
    if summary:
        out["summary"] = numbers(json.loads(summary[-1][len("perfbench summary: "):]))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(results, directions):
    pairs = [(p, c) for p, c in zip(results["parent"], results["change"])
             if "error" not in p and "error" not in c]
    for side in ("parent", "change"):
        bad = [r for r in results[side] if "error" in r or not r["correct"] or r["failed"]]
        runs = ", ".join(f"{r['seed']}: " + (r.get("error") or
                                             f"{r['failed']}/{r['attempted']} failed")
                         for r in bad)
        print(f"{side}: {len(results[side])} runs, {len(bad)} not clean{': ' + runs if bad else ''}")
    for r in results["unpaired"]:
        print(f"unpaired {r['side']} run, seed {r['seed']} (its pair was never run): "
              + (r.get("error") or f"wall_s={r['metrics'].get('wall_s')}"))
    if not pairs:
        return
    names = sorted(set().union(*(p["metrics"].keys() | c["metrics"].keys() for p, c in pairs)))
    rows = [(f"{n}", lambda r, n=n: r["metrics"].get(n)) for n in names]
    snames = sorted(set().union(*(p.get("summary", {}).keys() for p, _ in pairs)))
    rows += [(f"summary.{n}", lambda r, n=n: r.get("summary", {}).get(n)) for n in snames]
    print(f"{len(pairs)} pairs; 'wins' = pairs the change did better in; "
          "'gap>IQR' = the medians differ by more than the parent's quartile distance")
    print(f"{'metric':42} {'parent':>10} {'q1':>10} {'q3':>10} {'change':>10} "
          f"{'delta':>8} {'wins':>6} gap>IQR")
    for name, get in rows:
        vals = [(get(p), get(c)) for p, c in pairs]
        vals = [(a, b) for a, b in vals if isinstance(a, (int, float)) and isinstance(b, (int, float))]
        if not vals:
            continue
        pa, ch = [a for a, _ in vals], [b for _, b in vals]
        pm, cm = statistics.median(pa), statistics.median(ch)
        q1, q3 = quartiles(pa)
        base = name.split("summary.")[-1]
        higher = directions.get(base, "higher" if base.endswith("_per_s") else "lower") == "higher"
        wins = sum(1 for a, b in vals if (b > a if higher else b < a))
        delta = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
        gap = "yes" if abs(cm - pm) > (q3 - q1) else "no"
        print(f"{name:42} {pm:10.4g} {q1:10.4g} {q3:10.4g} {cm:10.4g} {delta:>8} "
              f"{wins:>3}/{len(vals):<2} {gap}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="commit-ish of the baseline")
    ap.add_argument("--change", required=True, help="commit-ish of the change")
    ap.add_argument("--workload", required=True, choices=["kpi_stream", "registry"])
    ap.add_argument("--seeds", required=True, help="e.g. 6111-6120 or 1,2,3")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", help="exports, builds and results (default: a new temp dir)")
    a = ap.parse_args()

    shas = {side: git("rev-parse", "--verify", f"{rev}^{{commit}}")
            for side, rev in (("parent", a.parent), ("change", a.change))}
    work = os.path.abspath(a.work or tempfile.mkdtemp(prefix="bench_ab_"))
    os.makedirs(work, exist_ok=True)
    print(f"bench_ab: parent {shas['parent'][:12]}, change {shas['change'][:12]}, work {work}",
          flush=True)
    srcs = {side: export(sha, work) for side, sha in shas.items()}
    envs = {side: env_for(sha, work) for side, sha in shas.items()}
    for side in ("parent", "change"):
        prebuild(srcs[side], envs[side])
    with open(os.path.join(srcs["parent"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    directions = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    tag = f"{a.workload}_trace{a.trace}_{shas['parent'][:12]}_{shas['change'][:12]}"
    out = os.path.join(work, f"results_{tag}.json")
    log = os.path.join(work, f"runs_{tag}.log")
    results = {"parent": [], "change": [], "unpaired": [], "shas": shas}
    if os.path.exists(out):
        with open(out) as f:
            results = {"unpaired": [], **json.load(f)}
    # a run whose pair an interrupted call never finished stays on record
    # but out of the pairs, so later pairs keep their seeds aligned
    done = min(len(results["parent"]), len(results["change"]))
    for side in ("parent", "change"):
        results["unpaired"] += [dict(r, side=side) for r in results[side][done:]]
        del results[side][done:]
    if done:
        print(f"bench_ab: extending {out} ({done} pairs so far)", flush=True)
    for i, seed in enumerate(seeds_of(a.seeds), start=done):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(srcs[side], envs[side], a.workload, seed, bench["run_seconds"],
                         a.trace, log)
            results[side].append(r)
            with open(out, "w") as f:
                json.dump(results, f, indent=1)
            wall = r.get("metrics", {}).get("wall_s")
            status = r.get("error") or f"correct={r['correct']} wall_s={wall}"
            print(f"pair {i + 1} seed {seed} {side}: {status}", flush=True)
    report(results, directions)


if __name__ == "__main__":
    main()
