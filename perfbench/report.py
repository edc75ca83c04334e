"""Output checks and metrics, computed from one run's raw measurements.

The JVM side (`perfbench.Main`) records pass times, digests, spans and
Spark task records; everything derived from them is computed here, so it
can be tested without Spark. The metric names and units are the ones
declared in BENCHMARK.json; the zones, tables and queries measured per
layer are read from the per-layer names there.
"""
import json
import os
import re
import statistics

MIB = 1024.0 * 1024.0
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
UNITS = {m["name"]: m["unit"]
         for m in _BENCH["end_to_end"] + _BENCH["per_layer"]}


def _named(prefix: str, suffix: str) -> list:
    """The middle parts of the per-layer names `<prefix><x><suffix>`."""
    return [m["name"][len(prefix):-len(suffix)] for m in _BENCH["per_layer"]
            if m["name"].startswith(prefix) and m["name"].endswith(suffix)]


ZONES = _named("pipeline.", "_s")
SILVER = _named("silver.", "_s")
GOLD = _named("gold.", "_s")
QUERIES = _named("", ".build_s")


# ---------------------------------------------------------------- checks

def pass_problems(p: dict, verified: dict, manifest: dict) -> list:
    """Everything wrong with one pass's outputs; empty when it is correct."""
    problems = []
    # outputs left on disk are digested after timed passes only; outputs
    # a pass consumes are digested by every pass
    digested = p["kind"] == "timed" or bool(p["digests"])
    for out, want in sorted(verified.items() if digested else ()):
        got = p["digests"].get(out)
        if want is None:
            problems.append(f"{out}: output not verified")
        elif got != want:
            problems.append(f"{out}: digest {got} != verified {want}")
    facts = p.get("facts") or {}
    if "silver_rows" in facts:
        for table, rows in sorted(manifest["silver_rows"].items()):
            got = facts["silver_rows"].get(table)
            if got != rows:
                problems.append(f"silver/{table}: {got} rows, manifest {rows}")
    problems += [f"validate {v}" for v in facts.get("validate_failed", [])]
    return problems


def check_passes(passes: list, verified: dict, manifest: dict):
    """(attempted, failed, problems of the first failing pass)."""
    failed, first = 0, []
    for p in passes:
        problems = pass_problems(p, verified, manifest)
        if problems:
            failed += 1
            first = first or problems
    return len(passes), failed, first


def verified_digests(dumped: dict, verdicts: dict) -> dict:
    """Digests of the outputs that matched their twins; None otherwise."""
    return {k: (d["digest"] if verdicts.get(k) is None else None)
            for k, d in dumped.items()}


# ----------------------------------------------------------- end to end

def input_rows(raw: dict, manifest: dict) -> int:
    return sum(manifest["rows"][t] for t in raw["tables"])


def end_to_end(raw: dict, manifest: dict, setups: list) -> dict:
    """The end-to-end metrics; `setups` are the run's set-up samples."""
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    cold = [p for p in raw["passes"] if p["kind"] == "cold"][0]
    run_s = statistics.median(p["wall_s"] for p in timed)
    m = {
        "setup_s": statistics.median(setups),
        "cold_s": cold["wall_s"],
        "run_s": run_s,
        "rows_per_s": input_rows(raw, manifest) / run_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "peak_heap_mb": max(p["heap_mb"] for p in timed),
    }
    return {k: (v, UNITS[k]) for k, v in m.items()}


# ------------------------------------------------------------- per layer

def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    covered, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            covered += b - a
            end = b
        elif b > end:
            covered += b - end
            end = b
    return covered


def self_times(spans: list) -> dict:
    """Span id -> duration minus the part of it its children cover (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - _union_ms(
        [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])],
        s["start_ms"], s["end_ms"]) for s in spans}


def _subtree(spans: list, root: int) -> set:
    ids, grew = {root}, True
    while grew:
        grew = False
        for s in spans:
            if s["parent"] in ids and s["id"] not in ids:
                ids.add(s["id"])
                grew = True
    return ids


def pass_ledger(raw: dict, pass_index: int) -> dict:
    """Spans of one traced pass with self times and Spark totals."""
    spans = [s for s in raw["spans"] if s["pass"] == pass_index]
    fields = raw["task_fields"]
    tasks = [dict(zip(fields, t)) for t in raw["tasks"]]
    ids = {s["id"] for s in spans}
    tasks = [t for t in tasks if t["span"] in ids]
    jobs = [j for j in raw["jobs"] if j[1] in ids]
    own = self_times(spans)
    out = []
    for s in spans:
        sub = _subtree(spans, s["id"])
        st = [t for t in tasks if t["span"] in sub]
        out.append({
            "id": s["id"], "name": s["name"], "parent": s["parent"],
            "start_ms": s["start_ms"], "end_ms": s["end_ms"],
            "wall_s": (s["end_ms"] - s["start_ms"]) / 1000.0,
            "self_s": own[s["id"]] / 1000.0,
            "jobs": sum(1 for j in jobs if j[1] in sub),
            "tasks": len(st),
            "task_s": sum(t["run_ms"] for t in st) / 1000.0,
            "no_task_s": ((s["end_ms"] - s["start_ms"]) - _union_ms(
                [(t["launch_ms"], t["finish_ms"]) for t in st],
                s["start_ms"], s["end_ms"])) / 1000.0,
            "notes": s["notes"],
        })
    return {"spans": out, "tasks": tasks, "jobs": jobs}


def _task_skew(tasks: list) -> float:
    """max / median task time in the stage with the longest wall time."""
    stages = {}
    for t in tasks:
        stages.setdefault(t["stage"], []).append(t)
    if not stages:
        return 0.0
    longest = max(stages.values(), key=lambda ts: max(t["finish_ms"] for t in ts)
                  - min(t["launch_ms"] for t in ts))
    times = [t["finish_ms"] - t["launch_ms"] for t in longest]
    return max(times) / max(statistics.median(times), 1.0)


def layer_metrics(raw: dict, p: dict, manifest: dict) -> dict:
    """Every per-layer metric for one traced pass; 0 where a layer is not
    exercised by the workload."""
    led = pass_ledger(raw, p["index"])
    by_name = {s["name"]: s for s in led["spans"]}
    tasks = led["tasks"]
    root = by_name["pass"]
    m = {}

    def sp(name, key):
        return by_name[name][key] if name in by_name else 0.0

    for z in ZONES:
        m[f"pipeline.{z}_s"] = sp(f"pipeline.{z}", "self_s")
        m[f"pipeline.{z}_jobs"] = sp(f"pipeline.{z}", "jobs")
    for t in SILVER:
        m[f"silver.{t}_s"] = sp(f"silver.{t}", "wall_s")
    facts = p.get("facts") or {}
    raw_rows = sum(manifest["rows"][t] for t in SILVER)
    m["silver.rows_kept_share"] = (
        sum(facts["silver_rows"].values()) / raw_rows
        if "silver_rows" in facts else 0.0)
    for t in GOLD:
        m[f"gold.{t}_s"] = sp(f"gold.{t}", "wall_s")
    gold_ids = ({s["id"] for s in led["spans"] if s["name"].startswith("gold.")}
                | ({by_name["pipeline.gold"]["id"]} if "pipeline.gold" in by_name
                   else set()))
    gold_tasks = [t for t in tasks if t["span"] in gold_ids]
    m["gold.scan_mb"] = sum(t["input_bytes"] for t in gold_tasks) / MIB
    m["gold.scan_rows"] = sum(t["input_records"] for t in gold_tasks)

    input_bytes = sum(manifest["bytes"][t] for t in raw["tables"])
    m["sources.written_mb"] = sum(t["output_bytes"] for t in tasks) / MIB
    m["sources.files_written"] = facts.get("files_written", 0)
    m["sources.scan_mb"] = sum(t["input_bytes"] for t in tasks) / MIB
    m["sources.scan_rows"] = sum(t["input_records"] for t in tasks)
    m["sources.scan_tasks"] = sum(1 for t in tasks if t["input_bytes"] > 0)
    m["sources.stored_bytes_per_input_byte"] = (
        facts.get("stored_bytes", 0) / input_bytes)

    for q in QUERIES:
        m[f"{q}.build_s"] = sp(f"{q}.build", "wall_s")
        m[f"{q}.consume_s"] = sp(f"{q}.consume", "wall_s")
        m[f"{q}.build_jobs"] = sp(f"{q}.build", "jobs")
        m[f"{q}.checkpoint_mb"] = (
            by_name[f"{q}.build"]["notes"].get("checkpoint_bytes", 0.0) / MIB
            if f"{q}.build" in by_name else 0.0)

    m["spark.cpu_s"] = sum(t["cpu_ns"] for t in tasks) / 1e9
    m["spark.task_s"] = sum(t["run_ms"] for t in tasks) / 1000.0
    m["spark.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1000.0
    m["spark.shuffle_write_mb"] = sum(t["shuffle_write_bytes"]
                                      for t in tasks) / MIB
    m["spark.shuffle_records"] = sum(t["shuffle_write_records"] for t in tasks)
    m["spark.fetch_wait_s"] = sum(t["fetch_wait_ms"] for t in tasks) / 1000.0
    m["spark.spill_mb"] = sum(t["spill_bytes"] for t in tasks) / MIB
    m["spark.task_skew"] = _task_skew(tasks)

    dedup = [q for q in QUERIES if q.startswith("dedup_")
             and f"{q}.build" in by_name]
    dedup_ids = {by_name[f"{q}.{k}"]["id"] for q in dedup
                 for k in ("build", "consume")}
    dedup_records = sum(t["shuffle_write_records"] for t in tasks
                        if t["span"] in dedup_ids)
    dedup_rows = sum(int(p["digests"][q].split(":")[0]) for q in dedup)
    m["dedup.out_rows_per_shuffle_record"] = (
        dedup_rows / dedup_records if dedup_records else 0.0)

    m["driver.jobs"] = root["jobs"]
    m["driver.no_task_s"] = root["no_task_s"]
    m["driver.result_mb"] = sum(t["result_bytes"] for t in tasks) / MIB
    m["trace.pass_s"] = root["wall_s"]
    m["trace.root_self_s"] = root["self_s"]
    return m


def per_layer(raw: dict, manifest: dict) -> dict:
    """Median over the traced passes of every per-layer metric, plus the
    tracing overhead against the untraced passes of the same run."""
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    traced = [p for p in timed if p["traced"]]
    untraced = [p for p in timed if not p["traced"]]
    each = [layer_metrics(raw, p, manifest) for p in traced]
    out = {k: statistics.median(e[k] for e in each) for k in each[0]}
    out["trace.overhead_share"] = (
        statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in untraced) - 1.0)
    return {k: (v, UNITS[k]) for k, v in out.items()}
