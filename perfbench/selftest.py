#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

Usage (from the repository root):
  python3 perfbench/selftest.py [--workload cypher_mixed] [--seed 3]

1. One seed always generates the same requests, also across processes,
   and another seed generates different ones.
2. Two traced runs at one seed report exactly the same job, stage, task,
   exchange and plan-operator counts.
3. The output check catches a deliberately corrupted result: a changed
   value, a dropped row, a float off in its fifth significant digit, a
   renamed column and a failed request all count as failures, while the
   untouched results pass.

Exits non-zero on the first failed test.
"""
import argparse
import copy
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402
import workloads  # noqa: E402

COUNT_METRICS = [
    "impl.build_jobs", "impl.build_stages", "algos.build_jobs", "algos.build_stages",
    "pipeline.build_jobs", "pipeline.build_stages", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.failed_tasks", "catalyst.exchanges", "catalyst.physical_ops",
]


def check(ok, what):
    print(f"{'PASS' if ok else 'FAIL'}: {what}", flush=True)
    if not ok:
        sys.exit(1)


def same_requests_per_seed(workload, seed):
    a = workloads.generate(workload, seed, 60)
    b = workloads.generate(workload, seed, 60)
    code = ("import json, sys; sys.path.insert(0, %r); import workloads; "
            "print(json.dumps(workloads.generate(%r, %d, 60)))" % (str(HERE), workload, seed))
    other = json.loads(subprocess.run([sys.executable, "-c", code], check=True,
                                      capture_output=True, text=True).stdout)
    check(a == b == other, f"seed {seed} generates the same {workload} requests in two processes")
    c = workloads.generate(workload, seed + 1, 60)
    check(a != c, f"seed {seed + 1} generates different {workload} requests")


def traced_run(workload, seed):
    out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "10", "--trace", "1"],
                         check=True, capture_output=True, text=True, cwd=run.ROOT)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["details"], json.loads(lines[-1])


def counts_repeat(workload, seed):
    runs = [traced_run(workload, seed) for _ in range(2)]
    for _, res in runs:
        check(res["correct"], f"traced {workload} run at seed {seed} is correct")
    a, b = ({k: res["metrics"][k]["value"] for k in COUNT_METRICS} for _, res in runs)
    for k in COUNT_METRICS:
        check(a[k] == b[k], f"{k} repeats at seed {seed}: {a[k]} vs {b[k]}")
    return run.ROOT / runs[0][0]["run_dir"]


def corruption_caught(workload, seed, run_dir):
    requests = workloads.generate(workload, seed, len(workloads.WORKLOADS[workload]))
    summary = json.loads((run_dir / "summary.json").read_text())
    results = [json.loads(l) for l in (run_dir / "results.jsonl").read_text().splitlines() if l]
    oracle = run.Oracle(run.data_dir(), run.WORK / "oracle-cache")
    check(not run.check_outputs(oracle, requests, results, summary),
          "the untouched results pass the output check")
    target = next(i for i, r in enumerate(results) if r["rows"] and r["rows"][0])

    def caught(mutate, what):
        bad = copy.deepcopy(results)
        mutate(bad[target])
        flagged = run.check_outputs(oracle, requests, bad, summary)
        check(list(flagged) == [bad[target]["id"]], f"output check catches {what}")

    def change_value(r):
        v = r["rows"][0][0]
        r["rows"][0][0] = (v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool)
                           else (not v if isinstance(v, bool) else f"{v}x"))

    def nudge_float(r):
        for row in r["rows"]:
            for j, v in enumerate(row):
                if isinstance(v, float) and v != 0:
                    row[j] = v * 1.0001
                    return
        change_value(r)

    caught(change_value, "a changed value")
    caught(lambda r: r["rows"].pop(), "a dropped row")
    caught(nudge_float, "a float off in its fifth significant digit")
    caught(lambda r: r["cols"].__setitem__(0, r["cols"][0] + "_x"), "a renamed column")
    caught(lambda r: r.update(ok=False, error="injected", rows=[], cols=[]), "a failed request")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="cypher_pipeline", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=3)
    args = ap.parse_args()
    for w in sorted(workloads.WORKLOADS):
        same_requests_per_seed(w, args.seed)
    run_dir = counts_repeat(args.workload, args.seed)
    corruption_caught(args.workload, args.seed, run_dir)
    print("all self-tests passed")


if __name__ == "__main__":
    main()
