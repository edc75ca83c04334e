#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness with sbt; inputs are generated from the seed; one fresh JVM runs
the workload (see perfbench/src/main/scala/perfbench/Main.scala). The
outputs of each seed are compared once with the program's DuckDB twin
queries, and every timed pass must reproduce the verified digests.

The last line of stdout is one JSON object: `correct`, `attempted` and
`failed` count passes, and `metrics` holds the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`). A traced run also
writes its span ledger to perfbench/work/ledgers/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

WORK = os.path.join(HERE, "work")
WORKLOADS = ("medallion", "search_graph")
# Input size as a share of the sf0.1 fixture sizes (gen.BASE_ROWS).
SCALE = 0.1
HEAP = "2g"
# A run measures set-up in this many fresh JVMs (the workload's own and
# set-up-only ones) and reports the median.
SETUPS = 3
# A JVM's fixed cost (session, cold, warm-up and one timed pass) is under
# a minute on 4 cores; a run adds timed passes for `--seconds` more.
JVM_TIMEOUT_S = 120
BUILD_TIMEOUT_S = 800
# Spark needs these module opens on JDK 17 outside spark-submit.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root: str) -> str:
    """Hash of every file the build reads, so a changed tree rebuilds."""
    files = [os.path.join(root, "build.sbt")]
    files += glob.glob(os.path.join(root, "project", "*.sbt"))
    files += glob.glob(os.path.join(root, "project", "build.properties"))
    files += glob.glob(os.path.join(root, "src", "main", "**", "*"),
                       recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    files += glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(f for f in files if os.path.isfile(f)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def child(cmd: list, log: str, timeout: float, **kw) -> int:
    """Run a child process to completion, killing it if this process is
    stopped or the child outlives `timeout`."""
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stderr=fh,
                                stdout=kw.pop("stdout", fh), **kw)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{cmd[0]} timed out after {timeout} s; see {log}")


def build(root: str, stamp: str) -> str:
    """Compile program and harness once per source stamp; return the
    runtime classpath."""
    d = os.path.join(WORK, "build", stamp)
    cp_file = os.path.join(d, "classpath.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(d, exist_ok=True)
    out, log = os.path.join(d, "sbt.out"), os.path.join(d, "sbt.log")
    with open(out, "w") as fh:
        code = child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime / fullClasspath"],
                     log, BUILD_TIMEOUT_S, cwd=HERE, stdout=fh)
    with open(out) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {code}); see {out} and {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def input_name(seed: int) -> str:
    """Names the inputs of a seed, scale and generator version."""
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    return f"seed{seed}-scale{SCALE}-gen{version}"


def inputs(seed: int) -> tuple:
    """Generate (or reuse) the seed's inputs; return (dir, manifest)."""
    d = os.path.join(WORK, "inputs", input_name(seed))
    if not os.path.exists(os.path.join(d, "manifest.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, SCALE)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(os.path.join(d, "manifest.json")) as fh:
        return d, json.load(fh)


def jvm(classpath: str, scratch: str, args: list, timeout: float) -> dict:
    """Run perfbench.Main in a fresh JVM; return its result JSON."""
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    result = os.path.join(scratch, "result.json")
    # no hsperfdata file: the run writes nothing outside perfbench/work
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch}/tmp"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--out", scratch,
            "--result", result] + args
    log = os.path.join(scratch, "jvm.log")
    code = child(cmd, log, timeout)
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"JVM exited with {code}; see {log}")
    with open(result) as fh:
        return json.load(fh)


def verify(raw: dict, data_dir: str, cache: str) -> dict:
    """Compare the dumped outputs with their twins; cache the verified
    digests for the seed."""
    verdicts = oracle.compare(data_dir, raw["tables"], raw["dump"])
    for name, v in sorted(verdicts.items()):
        if v is not None:
            print(f"perfbench: output {name} does not match its twin: {v}",
                  file=sys.stderr)
    verified = report.verified_digests(raw["dump"], verdicts)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"verified": verified, "verdicts": verdicts}, fh, indent=1)
    return verified


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout of the program")
    stamp = source_stamp(root)
    classpath = build(root, stamp)
    data_dir, manifest = inputs(a.seed)
    scratch = os.path.join(WORK, "run")

    cache = os.path.join(WORK, "verified", stamp,
                         f"{a.workload}-{input_name(a.seed)}.json")
    args = ["--workload", a.workload, "--data", data_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if not os.path.exists(cache):
        args += ["--dump", os.path.join(scratch, "dump")]
    # set-up only matters untraced; its extra samples come first, so a
    # failing session start fails the run early
    setups = [] if a.trace else [
        jvm(classpath, scratch, ["--setup-only", "1"],
            JVM_TIMEOUT_S)["setup_s"] for _ in range(SETUPS - 1)]
    t0 = time.time()
    raw = jvm(classpath, scratch, args, JVM_TIMEOUT_S + 2 * a.seconds)
    print(f"perfbench: JVM took {time.time() - t0:.1f} s "
          f"({raw['jvm_s']:.1f} s before its result)", file=sys.stderr)
    if raw["dump"] is not None:
        t0 = time.time()
        verified = verify(raw, data_dir, cache)
        print(f"perfbench: twin check took {time.time() - t0:.1f} s",
              file=sys.stderr)
    else:
        with open(cache) as fh:
            verified = json.load(fh)["verified"]

    attempted, failed, problems = report.check_passes(
        raw["passes"], verified, manifest)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    if a.trace:
        metrics = report.per_layer(raw, manifest)
        ledger = os.path.join(WORK, "ledgers",
                              f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(ledger), exist_ok=True)
        traced = [p for p in raw["passes"] if p["traced"]]
        with open(ledger, "w") as fh:
            json.dump({
                "workload": a.workload, "seed": a.seed, "scale": SCALE,
                "cpus": raw["cpus"],
                "passes": [{k: p[k] for k in ("index", "kind", "traced",
                                              "wall_s", "cpu_s", "heap_mb")}
                           for p in raw["passes"]],
                "per_layer": {k: v for k, (v, _) in sorted(metrics.items())},
                "traced_passes": [
                    {"pass": p["index"], "wall_s": p["wall_s"],
                     "spans": [{k: s[k] for k in (
                         "id", "name", "parent", "wall_s", "self_s", "jobs",
                         "tasks", "task_s", "no_task_s", "notes")}
                         for s in report.pass_ledger(raw, p["index"])["spans"]]}
                    for p in traced],
            }, fh, indent=1)
        print(f"perfbench: ledger written to {ledger}", file=sys.stderr)
    else:
        metrics = report.end_to_end(raw, manifest,
                                    setups + [raw["setup_s"]])
    timed = [p["wall_s"] for p in raw["passes"] if p["kind"] == "timed"]
    print(f"perfbench: {a.workload} seed {a.seed}: {len(timed)} timed "
          f"pass(es), median {statistics.median(timed):.3f} s, max "
          f"{max(timed):.3f} s; too few for a percentile above the median",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    t0 = time.time()
    main()
    print(f"perfbench: run took {time.time() - t0:.1f} s", file=sys.stderr)
