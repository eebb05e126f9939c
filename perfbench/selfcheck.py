#!/usr/bin/env python3
"""Tiny-size self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload end to end on tiny inputs, plain and traced, and checks
that each run passes its output checks, prints every metric that
BENCHMARK.json names with its unit, prints the workload's headline figures,
and that the layers the workload loads did work. Exits non-zero on the
first problem.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

HEADLINES = {
    "nexmark_stream": ["stream_drain_eps", "stream_latency_p50_ms",
                       "stream_latency_p99_ms", "stream_latency_samples"],
    "sql_batch": ["sql_pass_s", "sql_query_geomean_ms"],
    "curation": ["dedup_docs_per_s", "dedup_increment_docs_per_s", "index_build_s",
                 "ann_exact_qps", "ann_qps", "ann_recall_at_10", "minhash_recall"],
}
# layer metrics that must be above zero when the workload runs that layer
LOADED = {
    "nexmark_stream": ["streaming.add_batch_ms", "streaming.state_rows",
                       "streaming.drain_eps.q3", "streaming.drain_eps.q11",
                       "streaming.drain_eps_1slot", "streaming.batches",
                       "streaming.batch_ms_p50", "streaming.self_ms"],
    "sql_batch": ["plans.analysis_ms", "plans.planning_ms", "plans.jobs_per_query",
                  "queries.executor_run_ms", "queries.tasks", "sources.input_bytes",
                  "queries.self_ms"],
    "curation": ["dedup.minhash_s", "dedup.candidate_pairs", "dedup.accepted_pairs",
                 "dedup.increment_s", "dedup.shuffle_bytes", "similarity.exact_s",
                 "similarity.ivfpq_build_s", "similarity.recall_lsh", "similarity.cpu_ms",
                 "similarity.self_ms"],
}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", trace, "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    assert sorted(names) == sorted(HEADLINES), names
    problems = []
    for w in names:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            result, text = run(w, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = result["metrics"]
            if not result["correct"] or result["failed"] != 0:
                problems.append(f"{w}/{trace}: failed checks: "
                                + "; ".join(l for l in text if "FAILED" in l))
            if set(got) != set(want):
                problems.append(f"{w}/{trace}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}")
            for n, m in got.items():
                v = m["value"]
                if m["unit"] != want.get(n, m["unit"]):
                    problems.append(f"{w}/{trace}: {n} unit {m['unit']} != {want[n]}")
                if not isinstance(v, (int, float)) or math.isnan(v) or math.isinf(v):
                    problems.append(f"{w}/{trace}: {n} is not a number: {v}")
                elif trace == "0" and v <= 0:
                    problems.append(f"{w}/{trace}: {n} is not positive: {v}")
            if trace == "0":
                printed = {l.split()[1] for l in text if l.startswith("# ") and len(l.split()) > 2}
                for h in HEADLINES[w] + ["failed_ratio"]:
                    if h not in printed:
                        problems.append(f"{w}/{trace}: headline {h} not printed")
            else:
                for n in LOADED[w]:
                    if not got.get(n, {}).get("value", 0) > 0:
                        problems.append(f"{w}/{trace}: {n} is 0 though {w} loads that layer")
            print(f"{w} trace={trace}: {len(got)} metrics, correct={result['correct']}",
                  flush=True)
    for p in problems:
        print("PROBLEM", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
