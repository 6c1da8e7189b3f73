#!/usr/bin/env python3
"""Cross-check the traced run's algorithm job counts against graft.bench.R14Probe.

Usage (from the repository root):
  python3 perfbench/r14_crosscheck.py

Runs R14Probe (the engine's own round-14 attribution probe: registry row,
`count()`, two passes, listener read after a 150 ms sleep) and the
benchmark harness, traced and with `count()` as its action, on the same
algorithm calls over the benchmark's generated tables, then prints one
markdown row per call: R14Probe's second-pass job count next to the
harness's build-phase plus action-phase jobs.

The benchmark calls GraphAlgorithms directly. Two registry rows (hits,
toposort) go through a Cypher CALL instead; for those the harness also
runs the registry's own CALL query, so that both paths are compared.
"""
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402
import workloads as w  # noqa: E402

# (registry row, what the harness calls, harness request).
ROWS = [
    ("q_algo_pagerank", "GraphAlgorithms.pageRank",
     dict(op="algo", algo="pagerank", params=dict(iterations=3, rel_types=w.GEO_PLACED))),
    ("q_algo_ppr", "GraphAlgorithms.personalizedPageRank",
     dict(op="algo", algo="ppr", params=dict(seed_below=10, iterations=3, rel_types=w.GEO_PLACED))),
    ("q_algo_components", "GraphAlgorithms.connectedComponents",
     dict(op="algo", algo="components", params=dict(rel_types=w.GEO))),
    ("q_algo_labelprop", "GraphAlgorithms.labelPropagation",
     dict(op="algo", algo="labelprop", params=dict(iterations=5, rel_types=w.GEO))),
    ("q_algo_kcore", "GraphAlgorithms.kCoreEdges",
     dict(op="algo", algo="kcore", params=dict(k=3, mod=1, rem=0))),
    ("q_algo_hits", "GraphAlgorithms.hits",
     dict(op="algo", algo="hits", params=dict(iterations=2, rel_types=w.GEO_PLACED))),
    ("q_algo_hits", "GraftSession.cypher(CALL hits)",
     dict(op="cypher", q="CALL hits(2, 'IN_REGION', 'FROM_NATION', 'PLACED') YIELD hub, auth "
                         "RETURN toInteger(hub) AS hub, toInteger(auth) AS auth, count(*) AS n")),
    ("q_algo_toposort", "GraphAlgorithms.topologicalLevels",
     dict(op="algo", algo="toposort", params=dict(rel_types=[]))),
    ("q_algo_toposort", "GraftSession.cypher(CALL toposort)",
     dict(op="cypher", q="CALL toposort() YIELD level RETURN level, count(*) AS n")),
    ("q_algo_louvain", "GraphAlgorithms.louvain",
     dict(op="algo", algo="louvain", params=dict(sweeps=2, mod=1, rem=0))),
    ("q_algo_triangles", "GraphAlgorithms.triangleCountEdges",
     dict(op="algo", algo="triangles", params=dict(mod=1, rem=0))),
]
ROW_NAMES = sorted({row for row, _, _ in ROWS})


def probe(classpath, data_dir, run_dir):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=str(data_dir), SPARK_GRAFT_CPUS=str(run.cores()))
    cmd = [run.java(), f"-Xmx{run.JVM_HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}"] + run.jdk_opens()
    cmd += ["-cp", classpath, "graft.bench.R14Probe", ",".join(ROW_NAMES)]
    out = run.subprocess.run(cmd, env=env, cwd=run_dir, capture_output=True, text=True,
                             timeout=900, check=True).stdout
    jobs = {}
    for line in out.splitlines():
        parts = line.split()
        if parts and parts[0] in ROW_NAMES and len(parts) == 7:
            jobs[parts[0]] = int(parts[3])
    return jobs


def main():
    run.WORK.mkdir(parents=True, exist_ok=True)
    classpath = run.build()
    data_dir = run.data_dir()
    run_dir = run.WORK / "runs" / "r14-crosscheck"
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    requests = [dict(req, id=i, template=row) for i, (row, _, req) in enumerate(ROWS)]
    run.run_jvm(classpath, run_dir, data_dir, "algo_iterative", requests, [], 0, 0,
                True, run.cores(), 900, action="count")
    spans = [json.loads(l) for l in (run_dir / "spans.jsonl").read_text().splitlines()]
    harness = {s["request"]: (s["build_jobs"], s["action_jobs"])
               for s in spans if s["span"] == "request"}
    r14 = probe(classpath, data_dir, run_dir)
    print("| registry row | harness calls | R14Probe jobs | harness build + action jobs | difference |")
    print("|---|---|---:|---:|---:|")
    for i, (row, call, _) in enumerate(ROWS):
        b, a = harness[i]
        got = r14.get(row)
        diff = "n/a" if got is None else f"{b + a - got:+d}"
        print(f"| {row} | {call} | {got} | {b} + {a} = {b + a} | {diff} |")


if __name__ == "__main__":
    main()
