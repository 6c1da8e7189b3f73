#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload run against GraftSession.

Usage (from the repository root):
  python3 perfbench/run.py --workload cypher_pipeline --seed 1 --seconds 5 --trace 0

Workloads: cypher_pipeline and algo_iterative (gated by BENCHMARK.json),
cypher_mixed and pipeline_batch (the two halves of cypher_pipeline); see
workloads.py and README.md. The run builds the engine together with the
harness (perfbench/harness) on first use, generates its input tables under
.bench_build/perfbench, starts one JVM with a local[nproc] Spark session,
sends the seeded requests one at a time, then checks every collected
result against DuckDB outside the timed window.

--trace 0 prints the end-to-end metrics; --trace 1 runs one deck of
requests traced and prints the per-layer metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import fcntl
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
WORK = ROOT / ".bench_build" / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ORACLE_TOOL = ROOT / "scripts" / "check_oracle.py"

DATA_SEED = 42
SETUPS = 3
MEASURED_REQUESTS = 5000  # more than any window can use
JVM_HEAP = "2g"
ORACLE_BUDGET_S = 60.0
JVM_TIMEOUT_S = 150
WARMUP_CAP_S = 60

sys.path.insert(0, str(HERE))
import datagen  # noqa: E402
import workloads  # noqa: E402


def data_dir():
    """The generated input tables, written on first use."""
    name = f"data-{workloads.SCALE}-{workloads.PIPELINE_SCALE}-{DATA_SEED}"
    return datagen.ensure(str(WORK / name), workloads.SCALE,
                          workloads.PIPELINE_SCALE, DATA_SEED)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((HARNESS / "src").rglob("*.scala"))
    files += [ROOT / "build.sbt", HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    cp_file = HARNESS / "target" / "classpath.txt"
    stamp_file = WORK / "build.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    log("building engine + harness with sbt ...")
    t0 = time.monotonic()
    with open(WORK / "build.log", "w") as out:
        rc = subprocess.run([sbt, "-batch", "-Dsbt.server.autostart=false",
                             "compile", "writeClasspath"],
                            cwd=HARNESS, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not cp_file.exists():
        fail(f"sbt build failed (exit {rc}); see {WORK / 'build.log'}")
    stamp_file.write_text(stamp)
    log(f"built in {time.monotonic() - t0:.0f}s")
    return cp_file.read_text().strip()


# ---------------------------------------------------------------------------
# JVM run
# ---------------------------------------------------------------------------

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def java():
    home = os.environ.get("JAVA_HOME")
    return shutil.which("java", path=os.path.join(home, "bin") if home else None)


def jdk_opens():
    return [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def write_requests(path, reqs):
    with open(path, "w") as f:
        for r in reqs:
            f.write(json.dumps({k: v for k, v in r.items() if k != "sql"}) + "\n")


def run_jvm(classpath, run_dir, data_dir, workload, requests, warmup, seconds,
            warmup_seconds, trace, n_cores, timeout_s, setups=SETUPS, action="collect"):
    write_requests(run_dir / "requests.jsonl", requests)
    write_requests(run_dir / "warmup.jsonl", warmup)
    tmp = run_dir / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = [java(), f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}"]
    cmd += jdk_opens() + ["-cp", classpath, "perfbench.Harness",
            "--data", str(data_dir), "--out", str(run_dir),
            "--requests", str(run_dir / "requests.jsonl"),
            "--warmup", str(run_dir / "warmup.jsonl"),
            "--warmup-seconds", str(warmup_seconds),
            "--seconds", str(seconds), "--deck", str(len(workloads.WORKLOADS[workload])),
            "--trace", "1" if trace else "0",
            "--setups", str(setups), "--cores", str(n_cores), "--action", action,
            "--fixtures", "1" if any(r["op"] == "pipeline" for r in warmup + requests) else "0",
            "--local-dir", str(tmp / "spark-local")]
    with open(run_dir / "jvm.log", "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=timeout_s).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {timeout_s:.0f}s; see {run_dir / 'jvm.log'}")
    if rc != 0:
        fail(f"harness exited {rc}; see {run_dir / 'jvm.log'}")
    summary = json.loads((run_dir / "summary.json").read_text())
    results = [json.loads(l) for l in (run_dir / "results.jsonl").read_text().splitlines() if l]
    return summary, results


# ---------------------------------------------------------------------------
# output check
# ---------------------------------------------------------------------------

def load_oracle_tool():
    spec = importlib.util.spec_from_file_location("check_oracle", ORACLE_TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def plain(v):
    """A DuckDB value in the form the harness writes engine values: integral
    decimals as int, other decimals as float, timestamps as UTC text with
    microseconds, structs and lists as lists."""
    if isinstance(v, Decimal):
        return int(v) if v.as_tuple().exponent >= 0 else float(v)
    if hasattr(v, "strftime"):
        if hasattr(v, "hour"):
            return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
        return v.isoformat()
    if isinstance(v, dict):
        return [plain(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return {math.inf: "Infinity", -math.inf: "-Infinity"}.get(v, "NaN")
    return v


class Oracle:
    """Expected rows per SQL text, computed once by DuckDB over the same
    parquet files and kept on disk across runs."""

    def __init__(self, data_dir, cache_dir):
        self.tool = load_oracle_tool()
        self.con = self.tool.fresh_connection(str(data_dir))
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        cache_dir.mkdir(parents=True, exist_ok=True)
        self.memo = {}

    def expected(self, sql):
        key = hashlib.sha256(f"{self.data_dir}\n{sql}".encode()).hexdigest()
        if key in self.memo:
            return self.memo[key]
        path = self.cache_dir / f"{key}.json"
        if path.exists():
            got = json.loads(path.read_text())
        else:
            try:
                cols, rows, _ = self.tool.run_with_budget(self.con, sql, ORACLE_BUDGET_S)
            except Exception:
                self.con.close()
                self.con = self.tool.fresh_connection(str(self.data_dir))
                raise
            got = {"cols": cols, "rows": [[plain(v) for v in r] for r in rows]}
            path.write_text(json.dumps(got))
        self.memo[key] = got
        return got

    def check(self, result, sql):
        """None when the result matches, else a one-line reason."""
        if not result["ok"]:
            return f"failed: {result['error']}"
        if not sql:
            return "no oracle SQL"
        try:
            exp = self.expected(sql)
        except Exception as e:
            return f"oracle error: {e}"
        gc, gr = self.tool.rows_canon(result["cols"], [tuple(r) for r in result["rows"]])
        ec, er = self.tool.rows_canon(exp["cols"], [tuple(r) for r in exp["rows"]])
        if gc != ec:
            return f"schema: got {gc} vs oracle {ec}"
        if len(gr) != len(er):
            return f"rows: got {len(gr)} vs oracle {len(er)}"
        if gr != er:
            i = next(i for i, (a, b) in enumerate(zip(gr, er)) if a != b)
            return f"values differ at sorted row {i}: got {gr[i]} vs {er[i]}"
        return None


def check_outputs(oracle, requests, results, summary):
    by_id = {r["id"]: r for r in requests}
    registry = summary.get("registry_oracle_sql", {})
    bad = {}
    for res in results:
        req = by_id[res["id"]]
        sql = req["sql"] if req["op"] != "pipeline" else registry.get(req["algo"])
        reason = oracle.check(res, sql)
        if reason:
            bad[res["id"]] = reason
    return bad


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def nearest_rank(values, pct):
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]


def tail(values):
    """(percentile, value): the highest whole percentile with at least ten
    samples beyond it, e.g. p70 of 34 samples; the maximum when there are
    fewer than 20 samples (the median is not a tail)."""
    n = len(values)
    pct = math.floor(100 * (1 - 10 / n)) if n >= 20 else 100
    return float(pct), nearest_rank(values, pct)


def is_write(request):
    return request["op"] in ("update", "construct")


def read_write_p50(good, requests):
    """Median latency of the reads and of the writes among the good
    results (None where there are none)."""
    by_id = {r["id"]: r for r in requests}
    split = {False: [], True: []}
    for r in good:
        split[is_write(by_id[r["id"]])].append(r["latency_s"])
    return tuple(statistics.median(v) if v else None for v in (split[False], split[True]))


def end_to_end(summary, results, bad, requests):
    good = [r for r in results if r["id"] not in bad]
    lat = [r["latency_s"] for r in good] or [float("nan")]
    pct, tail_v = tail(lat)
    setup = statistics.median(s["total_s"] for s in summary["setups"])
    read_p50, write_p50 = read_write_p50(good, requests)
    metrics = {
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail_v, "s"),
        "throughput_rpm": (len(good) / summary["window_s"] * 60, "1/min"),
        "ok_frac": (len(good) / max(len(results), 1), "frac"),
        "peak_rss_mb": (summary["peak_rss_mb"], "MB"),
        "setup_s": (setup, "s"),
    }
    details = {
        "latency_tail_percentile": pct, "samples": len(lat),
        "failed_frac": len(bad) / max(len(results), 1),
        "read_p50_s": read_p50,
        "write_p50_s": write_p50,
        "warmup_s": summary["warmup_s"],
        "window_s": summary["window_s"],
    }
    return metrics, details


def per_layer(summary, results, bad, requests):
    m = {k: (v, unit_of(k)) for k, v in summary["layers"].items()}
    for k in ("session_s", "graph_prep_s", "fixture_s"):
        m[f"setup.{k}"] = (statistics.median(s[k] for s in summary["setups"]), "s")
    read_p50, write_p50 = read_write_p50([r for r in results if r["id"] not in bad], requests)
    m["request.read_p50_s"] = (read_p50 or 0.0, "s")
    m["request.write_p50_s"] = (write_p50 or 0.0, "s")
    return m


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith(".share"):
        return "frac"
    return "count"


# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.monotonic()

    for need in (ENGINE_SRC / "graft", ORACLE_TOOL):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from a full checkout of the repository")
    WORK.mkdir(parents=True, exist_ok=True)
    with open(WORK / "build.lock", "w") as lock:
        # Concurrent runs in one checkout build and generate once.
        fcntl.flock(lock, fcntl.LOCK_EX)
        classpath = build()
        data = data_dir()

    templates = workloads.WORKLOADS[args.workload]
    count = len(templates) if args.trace else MEASURED_REQUESTS
    requests = workloads.generate(args.workload, args.seed, count)
    warmup = workloads.generate(args.workload, args.seed, len(templates), stream="warmup")

    run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    summary, results = run_jvm(classpath, run_dir, data, args.workload, requests,
                               warmup, args.seconds, WARMUP_CAP_S, args.trace,
                               cores(), JVM_TIMEOUT_S)
    if not results:
        fail("no request completed inside the window")

    oracle = Oracle(data, WORK / "oracle-cache")
    bad = check_outputs(oracle, requests, results, summary)
    for rid, reason in sorted(bad.items())[:20]:
        log(f"request {rid} ({next(r['template'] for r in requests if r['id'] == rid)}): {reason}")

    if args.trace:
        metrics = per_layer(summary, results, bad, requests)
        details = {"traced_requests": len(results)}
    else:
        metrics, details = end_to_end(summary, results, bad, requests)
    details["run_dir"] = str(run_dir.relative_to(ROOT))
    details["run_wall_s"] = time.monotonic() - started
    print(json.dumps({"details": details}))
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)
    print(json.dumps({
        "correct": not bad,
        "attempted": len(results),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
