#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine: one client, local[N] with N =
the cores this process may use, one JVM per run.

    python3 perfbench/run.py --workload job_cold --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
runs perfbench.Harness, checks every workload query's result, and prints
each metric on its own line, then one JSON object as the last line. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer split taken from spans. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

RUN_LIMIT_S = 170      # one run ends well within the 180 s a run may take
BUILD_LIMIT_S = 800
# a fixed heap and a collector without concurrent threads keep GC work the
# same from run to run
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
MAIN = "perfbench.Harness"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main" / "scala", HERE / "src"):
        files += sorted(d.rglob("*.scala"))
    return files


def build():
    """Compile the engine and the harness unless the sources are unchanged
    since the last build."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found under {ROOT / 'src'}; run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail("build failed")
    STAMP.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    jars = Path(home) / "jars"
    if not jars.is_dir():
        fail(f"no Spark jars under {jars}")
    return jars


def data_dir():
    d = Path(os.environ.get("PERFBENCH_DATA",
                            Path.home() / "testdata" / "sf0.01")).resolve()
    if not (d / "lineitem.parquet").exists():
        fail(f"test data not found in {d} (set PERFBENCH_DATA)")
    return d


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_harness(args, cores, data, run_dir, deadline):
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    tmp.mkdir()
    local.mkdir()
    cmd = ["java", *ADD_OPENS, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={local}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}{os.pathsep}{spark_jars()}/*", MAIN,
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--data", str(data), "--run-dir", str(run_dir)]
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=str(run_dir / "warehouse"))
    with open(run_dir / "harness.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, stdin=subprocess.DEVNULL,
                                env=env, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        finally:
            # the engine's per-process scratch root, which it leaves behind
            root = run_dir / "scratch_root"
            if root.is_file():
                shutil.rmtree(root.read_text().strip(), ignore_errors=True)
    if proc.returncode != 0 or not (run_dir / "harness.json").is_file():
        tail = (run_dir / "harness.log").read_text(errors="replace").splitlines()[-25:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness exited with {proc.returncode}")
    return json.loads((run_dir / "harness.json").read_text())


# ---------------------------------------------------------------- metrics

def tail_latency(latencies):
    """The highest percentile with at least ten executions beyond it:
    (value, percentile, count). With ten or fewer executions no percentile
    qualifies, and the fastest execution is reported as the 0th."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[0], 0.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def failures(h, check_errors):
    """Timed executions attempted and failed. An execution fails when it
    throws, or when its query's result failed the check."""
    execs = h["loop"]["executions"]
    failed = [e for e in execs if e["error"] or check_errors.get(e["query"])]
    return len(execs), len(failed)


def end_to_end(h, check_errors):
    loop = h["loop"]
    lat = [e["seconds"] for e in loop["executions"]]
    n = len(lat)
    attempted, failed = failures(h, check_errors)
    value, pct, count = tail_latency(lat)
    metrics = {
        "setup_s": (h["setup"]["total_s"], "s"),
        "queries_per_s": (n / loop["wall_s"], "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "cpu_s_per_query": (loop["cpu_s"] / n, "s"),
        "retained_heap_mb": (h["retained_heap_mb"], "MB"),
    }
    notes = {
        "setup_s": "from JVM start",
        "queries_per_s": f"{n} executions in {loop['passes']} pass(es), {loop['wall_s']:.2f} s",
    }
    # printed but not gated: a run is too short for a tail with ten
    # executions beyond a high percentile (see README)
    extra = [("latency_tail_s", value, "s", f"p{pct:.1f} of {count} executions"),
             ("failed_frac", failed / attempted, "fraction",
              f"{failed} of {attempted} executions")]
    return metrics, notes, extra, attempted, failed


def union_us(intervals, lo, hi):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_layer(h, spans, cores):
    """Per-layer metrics of the traced executions. Span durations are
    per-execution medians; everything else is summed over the executions."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    roots = [s for s in spans if s["name"] == "query"]
    jobs = [s for s in spans if s["name"] == "spark.job"]
    batches = [s for s in spans if s["name"] == "streaming.batch"]

    def dur_ms(s):
        return (s["end_us"] - s["start_us"]) / 1000.0

    def child(root, name):
        return next(c for c in by_parent[root["id"]] if c["name"] == name)

    def median_child(name):
        return statistics.median(dur_ms(child(r, name)) for r in roots)

    def jobs_under(name):
        return sum(1 for j in jobs if j["parent"].endswith("/" + name))

    def total(key, items=roots):
        return sum(s[key] for s in items)

    gaps = []
    for r in roots:
        ivs = [(j["start_us"], j["end_us"]) for c in by_parent[r["id"]]
               for j in by_parent.get(c["id"], []) if j["name"] == "spark.job"]
        gaps.append((r["end_us"] - r["start_us"]
                     - union_us(ivs, r["start_us"], r["end_us"])) / 1000.0)
    scans = total("sample_scans")
    hits = total("sample_hits") + total("sample_disk_hits")
    last_batch = {}
    for b in batches:
        if b["batch_id"] >= last_batch.get(b["run_id"], b)["batch_id"]:
            last_batch[b["run_id"]] = b
    run_ms = total("executor_run_ms", jobs)
    wall_ms = sum(dur_ms(r) for r in roots)
    cycle = lambda traced: statistics.fmean(
        e["cycle_s"] for e in h["loop"]["executions"] if e["traced"] == traced)
    mb = 1e6
    m = {
        "setup.session_s": (h["setup"]["session_s"], "s"),
        "setup.catalog_s": (h["setup"]["catalog_s"], "s"),
        "setup.fixtures_s": (h["setup"]["fixtures_s"], "s"),
        "queries.build_ms": (median_child("queries.build"), "ms"),
        "queries.build_jobs": (jobs_under("queries.build"), "count"),
        "plans.plan_ms": (median_child("plans.plan"), "ms"),
        "plans.plan_jobs": (jobs_under("plans.plan"), "count"),
        "plans.analyze_ms": (total("analyze_ms"), "ms"),
        "plans.optimize_ms": (total("optimize_ms"), "ms"),
        "plans.physical_ms": (total("physical_ms"), "ms"),
        "plans.uct_rule_ms": (total("uct_rule_ms"), "ms"),
        "plans.wcoj_rule_ms": (total("wcoj_rule_ms"), "ms"),
        "plans.switch_rule_ms": (total("switch_rule_ms"), "ms"),
        "plans.uct_sample_ms": (total("uct_sample_ms"), "ms"),
        "plans.uct_search_ms": (total("uct_search_ms"), "ms"),
        "plans.sample_scans": (scans, "count"),
        "plans.sample_scan_ms": (total("sample_scan_ms"), "ms"),
        "plans.sample_hit_ratio": (hits / (scans + hits) if scans + hits else 0.0,
                                   "fraction"),
        "plans.order_cache_entries": (h["order_cache_entries"], "count"),
        "plans.switches": (total("switches"), "count"),
        "plans.wcoj_routes": (total("wcoj_routes"), "count"),
        "exec.run_ms": (median_child("exec.run"), "ms"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (total("stages", jobs), "count"),
        "exec.tasks": (total("tasks", jobs), "count"),
        "exec.aqe_updates": (total("aqe_updates"), "count"),
        "exec.executor_run_ms": (run_ms, "ms"),
        "exec.executor_cpu_ms": (total("executor_cpu_ms", jobs), "ms"),
        "exec.task_gc_ms": (total("task_gc_ms", jobs), "ms"),
        "exec.shuffle_read_mb": (total("shuffle_read_bytes", jobs) / mb, "MB"),
        "exec.shuffle_write_mb": (total("shuffle_write_bytes", jobs) / mb, "MB"),
        "exec.spill_mb": (total("spill_bytes", jobs) / mb, "MB"),
        "exec.driver_gap_ms": (statistics.median(gaps), "ms"),
        "exec.core_busy_frac": (run_ms / (wall_ms * cores), "fraction"),
        "streaming.batches": (len(batches), "count"),
        "streaming.trigger_ms": (total("trigger_ms", batches), "ms"),
        "streaming.add_batch_ms": (total("add_batch_ms", batches), "ms"),
        "streaming.wal_commit_ms": (total("wal_commit_ms", batches), "ms"),
        "streaming.commit_offsets_ms": (total("commit_offsets_ms", batches), "ms"),
        "streaming.query_planning_ms": (total("query_planning_ms", batches), "ms"),
        "streaming.state_commit_ms": (total("state_commit_ms", batches), "ms"),
        "streaming.state_rows": (total("state_rows", list(last_batch.values())), "count"),
        "streaming.harness_ms": (total("harness_ms"), "ms"),
        "jvm.gc_ms": (total("gc_ms"), "ms"),
        "trace.overhead_frac": (1.0 - cycle(False) / cycle(True), "fraction"),
    }
    return m


def span_errors(spans):
    """The three children of every query span must tile it: build, plan and
    run are contiguous and their durations add up to the query's."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    errors = []
    for r in (s for s in spans if s["name"] == "query"):
        kids = sorted((c for c in by_parent.get(r["id"], [])
                       if c["name"] in ("queries.build", "plans.plan", "exec.run")),
                      key=lambda c: c["start_us"])
        edges = [r["start_us"]] + [x for c in kids for x in (c["start_us"], c["end_us"])] \
            + [r["end_us"]]
        if len(kids) != 3 or any(abs(a - b) > 1 for a, b in zip(edges[::2], edges[1::2])):
            errors.append(f"span {r['id']}: children do not tile the query span")
    return errors


# ------------------------------------------------------------------- main

def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    t_start = time.time()
    data = data_dir()
    build()
    deadline = time.time() + RUN_LIMIT_S - 15  # leaves time for the checks
    cores = len(os.sched_getaffinity(0))
    run_dir = HERE / "out" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        h = run_harness(args, cores, data, run_dir, deadline)
        import check
        check_errors = check.check_all(str(data), str(run_dir / "check"), h["checks"])
        print("perfbench: phases " + ", ".join(
            f"{k} {v:.1f}" for k, v in h["phases"].items())
            + f", run.py total {time.time() - t_start:.1f} s", file=sys.stderr)
        spans = []
        if args.trace:
            with open(run_dir / "spans.jsonl") as f:
                spans = [json.loads(line) for line in f if line.strip()]
    finally:
        for d in ("check", "tmp", "spark-local", "warehouse"):
            shutil.rmtree(run_dir / d, ignore_errors=True)
        for d in run_dir.glob("sample-cache-*"):
            shutil.rmtree(d, ignore_errors=True)

    metrics, notes, extra, attempted, failed = end_to_end(h, check_errors)
    problems = [f"check {k}: {v}" for k, v in check_errors.items() if v]
    if args.trace:
        metrics, notes, extra = per_layer(h, spans, cores), {}, []
        problems += span_errors(spans)
    for line in problems:
        print("FAIL " + line)
    print(f"perfbench workload={args.workload} seed={args.seed} cores={cores} "
          f"trace={args.trace} run_dir={run_dir.relative_to(ROOT)}")
    for name, (value, unit) in metrics.items():
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"{name:30s} {value:14.6g} {unit}{note}")
    for name, value, unit, note in extra:
        print(f"{name:30s} {value:14.6g} {unit}  ({note})")
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
