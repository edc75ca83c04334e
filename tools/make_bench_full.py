#!/usr/bin/env python3
"""Format a SPARK_GRAFT_BENCH_ALL=1 sweep line into the committed
BENCH_FULL.json artifact (pretty-printed, queries sorted by time desc).

Usage: python3 tools/make_bench_full.py /tmp/bench_full_raw.json <round>
"""
import json
import sys

raw = json.loads(open(sys.argv[1]).read())
qs = raw["queries"]
out = {
    "recorded_round": int(sys.argv[2]),
    "sf": raw["sf"],
    # must equal graft.Bench.ActionVersion (BenchSpec pins BASELINE.json's
    # copy; this one makes the sweep artifact self-describing too)
    "action_version": "consume-r18",
    "mode": "SPARK_GRAFT_BENCH_ALL=1, local[32], shuffle.partitions=32, "
            "one unmeasured warmup pass, best-of-2 timed passes, "
            "prune-proof action agg(bit_xor(xxhash64(struct(*)))) consuming "
            "every output column, session hygiene between queries "
            "(see graft.Bench)",
    "total_sec": raw["value"],
    "n_queries": len(qs),
    "failures": sorted(k for k, v in qs.items() if v < 0),
    "slowest_5": [
        {"query": k, "sec": v}
        for k, v in sorted(qs.items(), key=lambda x: -x[1])[:5]],
    "queries_sec": dict(sorted(qs.items(), key=lambda x: -x[1])),
    # self-adjudication (round-15 verdict #2): queries whose in-sweep
    # min stayed above 1.5x the prior committed record, plus their
    # post-sweep isolated re-measure — isolated ~= prior record means
    # box/sweep noise; isolated still high is a real regression.
    "inflated": raw.get("inflated", []),
    "isolated_retry_sec": raw.get("isolated_retry_sec", {}),
    # r17 verdict #1: flagged queries whose same-JVM isolated retry was
    # still above the guard get ONE cold-JVM re-measure (graft.TimeQuery)
    # so pressure-vs-regression is adjudicated inside the artifact.
    "fresh_jvm_retry_sec": raw.get("fresh_jvm_retry_sec", {}),
    # r18 verdict #4: warmup passes the fresh tier ran before its timed
    # pass — k>=3 means the recorded number is pass-(k+1) steady state,
    # not a cold-code-cache figure.
    "fresh_jvm_warmups": raw.get("fresh_jvm_warmups", 1),
}
with open("BENCH_FULL.json", "w") as f:
    json.dump(out, f, indent=1)
    f.write("\n")
print(f"BENCH_FULL.json: {out['n_queries']} queries, "
      f"{out['total_sec']:.1f}s total, failures={out['failures']}")
