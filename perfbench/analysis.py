"""Turns the raw record of one benchmark run into metrics and output checks.

Pure functions over plain data, so each can be tested on its own:
percentiles with their sample counts, segment-to-trigger attribution from
a file-source checkpoint log, span self time, metric-name validity, and
the per-workload metric tables.
"""
import json
import os
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

KPI_TABLES = [
    "gender_counts", "satisfaction_counts", "satisfaction_by_class",
    "type_travel_counts", "age_distribution", "loyalty_by_age",
    "flight_distance_impact", "mean_satisfaction_by_feature",
]
# registry query families in the workload's list: aggregates, joins,
# dedup (connected components), text (tokenizer)
FAMILIES = ["a", "j", "d", "t"]
# the micro-batch engine's phases, in the order a trigger runs them
TRIGGER_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                  "addBatch", "commitOffsets"]
# KPI segments landed while tracing was on
TRACED_PHASES = ("open", "burst_traced")


# ---------------------------------------------------------------- percentiles

class Pct:
    """A percentile with the sample count it came from and how many
    samples lie above it."""

    def __init__(self, value, n, beyond):
        self.value, self.n, self.beyond = value, n, beyond

    def as_dict(self):
        return {"value": self.value, "n": self.n, "beyond": self.beyond}


def pct(xs, q):
    """Linear-interpolated q-th percentile (0..100) of xs, as a Pct."""
    s = sorted(xs)
    if not s:
        return Pct(0.0, 0, 0)
    pos = (len(s) - 1) * q / 100.0
    lo, hi = int(pos // 1), min(int(pos // 1) + 1, len(s) - 1)
    v = s[lo] + (s[hi] - s[lo]) * (pos - lo)
    return Pct(v, len(s), sum(1 for x in s if x > v))


def highest_supported(xs, candidates=(99, 95, 90, 75, 50), min_beyond=10):
    """The highest candidate percentile with at least `min_beyond`
    samples above it; None when no candidate qualifies."""
    for q in candidates:
        p = pct(xs, q)
        if p.beyond >= min_beyond:
            return q, p
    return None


# ------------------------------------------------- segment → trigger mapping

def file_source_log(checkpoint):
    """Map every file path the file source committed to its batch id,
    reading both per-batch log files (`N`) and compacted ones
    (`N.compact`, which repeat every earlier batch's entries)."""
    d = os.path.join(checkpoint, "sources", "0")
    out = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if not re.fullmatch(r"\d+(\.compact)?", name):
            continue
        with open(os.path.join(d, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if line.strip():
                e = json.loads(line)
                out[e["path"]] = e["batchId"]
    return out


def attribute(segments, path_batch, triggers):
    """For each landed segment, the batch that carried it and that
    trigger's end. `segments` carry a directory `name`; `triggers` map
    batch id to the trigger's end time. Returns (attributed, missing)."""
    by_seg = {}
    for path, batch in path_batch.items():
        parts = path.rstrip("/").split("/")
        if len(parts) >= 2:
            by_seg[parts[-2]] = batch
    done, missing = [], []
    for s in segments:
        b = by_seg.get(s["name"])
        if b is None or b not in triggers:
            missing.append(s)
        else:
            done.append(dict(s, batch=b, end=triggers[b]))
    return done, missing


# -------------------------------------------------------------- span timing

def _covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def trigger_spans(progress, first_id):
    """One `trigger` span per progress report, with one child span per
    engine phase laid out in run order from the reported durations. The
    trace id, `<query>#<batch>`, is the one the sink's spans carry."""
    out, next_id = [], first_id
    for p in progress:
        trace, root = f"{p['query']}#{p['batch']}", next_id
        out.append({"id": root, "parent": -1, "trace": trace, "name": "trigger",
                    "start": p["start"], "end": p["end"]})
        t = p["start"]
        for k in TRIGGER_PHASES:
            ms = p["duration_ms"].get(k, 0)
            next_id += 1
            out.append({"id": next_id, "parent": root, "trace": trace, "name": f"trigger.{k}",
                        "start": t, "end": t + ms})
            t += ms
        next_id += 1
    return out


def link_sink_spans(spans):
    """Parent root-level `sink.*` spans to the `trigger.addBatch` span of
    their trace (the merge runs inside that phase). Sink spans of a
    trigger that has no span of its own (a batch only partly traced)
    are dropped."""
    add_batch = {s["trace"]: s["id"] for s in spans if s["name"] == "trigger.addBatch"}
    out = []
    for s in spans:
        if s["name"].startswith("sink.") and s["parent"] == -1:
            if s["trace"] not in add_batch:
                continue
            s = dict(s, parent=add_batch[s["trace"]])
        out.append(s)
    return out


def self_times(spans):
    """Total self time per span name: each span's duration minus the part
    of it that its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _covered(children.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
    return out


# ------------------------------------------------------------ metric names

def validate_benchmark(bench):
    """Problems with a BENCHMARK.json document, as strings."""
    problems = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(bench) != keys:
        problems.append(f"top-level keys {sorted(bench)} != {sorted(keys)}")
    seen = set()
    for w in bench.get("workloads", []):
        if set(w) != {"name", "why"}:
            problems.append(f"workload keys {sorted(w)}")
        if len(w.get("why", "")) > 200 or "\n" in w.get("why", ""):
            problems.append(f"workload {w.get('name')}: why is not one line of <= 200 chars")
    for group, fields in (("workloads", None),
                          ("end_to_end", {"name", "unit", "better", "bound"}),
                          ("per_layer", {"name", "unit", "better"})):
        for m in bench.get(group, []):
            name = m.get("name", "")
            if not NAME_RE.match(name):
                problems.append(f"{group}: bad name {name!r}")
            if name in seen:
                problems.append(f"{group}: duplicate name {name!r}")
            seen.add(name)
            if fields is None:
                continue
            if set(m) != fields:
                problems.append(f"{group} {name}: keys {sorted(m)}")
            if not UNIT_RE.match(m.get("unit", "")):
                problems.append(f"{group} {name}: bad unit {m.get('unit')!r}")
            if m.get("better") not in ("lower", "higher"):
                problems.append(f"{group} {name}: better must be lower or higher")
            if group == "end_to_end" and not (0 < m.get("bound", 0) <= 0.25):
                problems.append(f"{name}: bound must be in (0, 0.25]")
    if not 2 <= len(bench.get("workloads", [])) <= 8:
        problems.append("2 to 8 workloads")
    if not 1 <= len(bench.get("end_to_end", [])) <= 16:
        problems.append("1 to 16 end-to-end metrics")
    if not 1 <= len(bench.get("per_layer", [])) <= 128:
        problems.append("1 to 128 per-layer metrics")
    setup = [m for m in bench.get("end_to_end", []) if m.get("name") == "setup_s"]
    if not setup or setup[0].get("unit") != "s" or setup[0].get("better") != "lower":
        problems.append("setup_s must be an end-to-end metric in s, lower is better")
    rs = bench.get("run_seconds")
    if not (isinstance(rs, int) and 1 <= rs <= 60):
        problems.append("run_seconds must be a whole number from 1 to 60")
    return problems


# --------------------------------------------------------- per-workload rows

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def check_registry(raw, golden):
    """Per-query output checks: every timed or traced result's digest
    equals the golden digest; a warm-pass query only has to succeed."""
    notes, attempted, failed = [], 0, 0
    for p in raw["passes"]:
        for q in p["queries"]:
            attempted += 1
            want = golden.get(q["name"])
            bad = None
            if "error" in q:
                bad = q["error"]
            elif p["kind"] != "warm" and want is None:
                bad = "no golden digest"
            elif p["kind"] != "warm" and q["digest"] != want:
                bad = f"digest {q['digest']} != golden {want}"
            if bad:
                failed += 1
                notes.append(f"{p['kind']} {q['name']}: {bad}")
    return attempted, failed, notes


def registry_metrics(raw):
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    per_query = [q["s"] for p in timed for q in p["queries"] if "s" in q]
    walls = [p["wall_s"] for p in timed]
    p50, p75 = pct(per_query, 50), pct(per_query, 75)
    e2e = {"wall_s": _median(walls)}
    named = {"wall_s": {"value": e2e["wall_s"], "n": len(walls)},
             "query_p50_s": p50.as_dict(), "query_p75_s": p75.as_dict(),
             "order": raw["order"], "cpu_s": _median([p["cpu_s"] for p in timed]),
             "query_s": {q["name"]: q["s"] for p in timed[:1] for q in p["queries"] if "s" in q}}
    return e2e, named


def registry_layers(raw):
    out = {}
    traced = [p for p in raw["passes"] if p["kind"] == "traced"]
    qs = [q for p in traced for q in p["queries"] if "s" in q]
    listener = raw.get("listener", {})

    def phase_sum(prefix, key, names):
        return sum(listener.get(f"{prefix}:{n}", {}).get(key, 0) for n in names)

    names = [q["name"] for q in qs]
    out["build.s"] = sum(q["build_s"] for q in qs)
    out["build.eager_jobs"] = phase_sum("build", "jobs", names)
    for f in FAMILIES:
        fam = [q for q in qs if q["family"] == f]
        out[f"build.s.{f}"] = sum(q["build_s"] for q in fam)
        out[f"build.eager_jobs.{f}"] = phase_sum("build", "jobs", [q["name"] for q in fam])
        out[f"exec.s.{f}"] = sum(q["exec_s"] for q in fam)
    out["plan.s"] = sum(q["plan_s"] for q in qs)
    exec_s = sum(q["exec_s"] for q in qs)
    out["exec.s"] = exec_s
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "input_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{k}"] = phase_sum("exec", k, names)
    cores = raw.get("cores", 1)
    out["exec.cpu_util"] = out["exec.task_cpu_s"] / (exec_s * cores) if exec_s > 0 else 0.0
    out["cachepool.frames"] = sum(q["frames"] for q in qs)
    out["cachepool.release_s"] = sum(q["release_s"] for q in qs)
    untraced = [p["wall_s"] for p in raw["passes"] if p["kind"] == "timed"]
    out["trace.overhead_s"] = (traced[0]["wall_s"] if traced else 0.0) - _median(untraced)
    return out


def kpi_progress(raw):
    """Progress reports of the measured KPI query."""
    return [p for p in raw["progress"] if p["run"] == raw["run"]]


def check_kpi(raw, missing):
    """Segments the engine never attributed to a finished trigger fail;
    a wrong KPI table, a stalled or failed stream fails every segment."""
    notes = [f"segment {s['name']} not attributed to a trigger" for s in missing]
    bad_tables = [c for c in raw["checks"] if c["got"] != c["want"]]
    notes += [f"table {c['name']}: got {c['got']} want {c['want']}" for c in bad_tables]
    if not raw.get("completed"):
        notes.append("stream did not apply every segment in time")
    if raw.get("exception"):
        notes.append(f"stream failed: {raw['exception']}")
    attempted, failed = len(raw["segments"]), len(missing)
    if bad_tables or not raw.get("completed") or raw.get("exception"):
        failed = attempted
    return attempted, failed, notes


def check_views(views):
    """One operation per view drain: it fails when the drain raised, its
    read-back differs from the batch twin, or events were dropped late."""
    notes, bad = [], set()
    for d in views["drains"]:
        if d.get("exception"):
            bad.add(d["view"])
            notes.append(f"view {d['view']}: {d['exception']}")
    for c in views["checks"]:
        if c["got"] != c["want"] or c["dropped_late"] != 0:
            bad.add(c["name"])
            notes.append(f"view {c['name']}: got {c['got']} want {c['want']} ({c['twin']}), "
                         f"dropped_late={c['dropped_late']}")
    return len(views["drains"]), len(bad), notes


def views_layers(views):
    """The non-additive sink merges and the views' drain throughput."""
    out = {}
    vm = views["merges"]
    for kind in ("mergeReplace", "mergeWith", "mergeGroup"):
        out[f"sink.{kind}_ms"] = pct([m["ms"] for m in vm if m["kind"] == kind], 50).value
    drains = views["drains"]
    drain_s = sum(x["s"] for x in drains)
    out["views.drain_s"] = drain_s
    out["views.rows_per_s"] = sum(x["rows"] for x in drains) / drain_s if drain_s else 0.0
    return out


def catchup_s(attributed, phase):
    burst = [s for s in attributed if s["phase"] == phase]
    if not burst:
        return 0.0, 0
    return ((max(s["end"] for s in burst) - min(s["due"] for s in burst)) / 1000.0,
            sum(s["rows"] for s in burst))


def untraced_bursts(attributed):
    """Phases of the untraced catch-up bursts (`burst_1`, `burst_2`, ...)."""
    return sorted({s["phase"] for s in attributed
                   if s["phase"].startswith("burst_") and s["phase"] not in TRACED_PHASES})


def untraced_catchup(attributed):
    """Median catch-up seconds over the untraced bursts, the rows of one
    burst, and the number of bursts."""
    runs = [catchup_s(attributed, p) for p in untraced_bursts(attributed)]
    return _median([r[0] for r in runs]), (runs[0][1] if runs else 0), len(runs)


def kpi_metrics(raw, attributed):
    fresh = [(s["end"] - s["due"]) / 1000.0 for s in attributed if s["phase"] == "open"]
    p50, p75, p95 = pct(fresh, 50), pct(fresh, 75), pct(fresh, 95)
    secs, rows, n = untraced_catchup(attributed)
    e2e = {"wall_s": secs}
    tail = highest_supported(fresh)
    named = {"fresh_p50_s": p50.as_dict(), "fresh_p75_s": p75.as_dict(),
             "fresh_p95_s": p95.as_dict(),
             "fresh_tail": dict(tail[1].as_dict(), q=tail[0]) if tail else None,
             "catchup_rows_per_s": rows / secs if secs > 0 else 0.0,
             "catchup_s": {"value": secs, "n": n}, "burst_rows": rows,
             "burst_cpu_s": {p: raw.get(f"{p}_cpu_s") for p in untraced_bursts(attributed)}}
    marks = list(raw.get("marks", {}).items())
    named["phase_s"] = {b[0]: (b[1] - a[1]) / 1000.0 for a, b in zip(marks, marks[1:])}
    return e2e, named


def kpi_traced_progress(raw, attributed):
    """Progress reports of the KPI triggers that carried segments landed
    while tracing was on. Such a trigger started after its segment
    landed, so the whole trigger ran traced."""
    traced = {s["batch"] for s in attributed if s["phase"] in TRACED_PHASES}
    return [p for p in kpi_progress(raw) if p["batch"] in traced]


def kpi_layers(raw, attributed):
    """Source, micro-batch, sink and generator metrics over the traced
    KPI triggers."""
    out = {}
    progress = kpi_traced_progress(raw, attributed)
    batches = {p["batch"] for p in progress}
    d = [p["duration_ms"] for p in progress]
    out["trigger.count"] = len(progress)
    ex = [x.get("triggerExecution", 0) for x in d]
    out["trigger.execution_ms_p50"] = pct(ex, 50).value
    out["trigger.execution_ms_p95"] = pct(ex, 95).value
    for k in TRIGGER_PHASES:
        out[f"trigger.{k}_ms"] = pct([x.get(k, 0) for x in d], 50).value
    out["trigger.input_rows"] = pct([p["rows"] for p in progress], 50).value
    listener = raw.get("listener", {})
    jobs = sum(listener.get(f"stream:{raw['query_id']}:{b}", {}).get("jobs", 0) for b in batches)
    out["trigger.jobs"] = jobs / len(progress) if progress else 0.0
    merges = [m for m in raw.get("merges", []) if m["batch"] in batches]
    for t in KPI_TABLES:
        out[f"sink.merge_ms.{t}"] = pct([m["ms"] for m in merges if m["table"] == t], 50).value
    out["sink.merge_ms"] = pct([m["ms"] for m in merges], 50).value
    add_total = sum(x.get("addBatch", 0) for x in d)
    out["sink.merge_share"] = sum(m["ms"] for m in merges) / add_total if add_total else 0.0
    out["sink.store_bytes"] = raw["store_bytes"]
    late = [s["at"] - s["due"] for s in raw["segments"] if s["phase"] in ("warm", "open")]
    out["gen.late_ms_p50"] = pct(late, 50).value
    out["gen.late_ms_max"] = max(late) if late else 0.0
    traced_s, _ = catchup_s(attributed, "burst_traced")
    untraced_s, _, _ = untraced_catchup(attributed)
    out["trace.overhead_s"] = traced_s - untraced_s
    return out
