#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run builds the program from source if needed (perfbench/build.py),
then starts fresh JVMs one after another, each timed until its local[N]
SparkSession is ready: a set-up-only JVM, then two JVMs that each run
the workload's registry queries in one closed loop with one client, a
cold pass and then warm passes (together filling `--seconds`). Each
query is timed as the registry call plus a full materialization through
Spark's noop sink. The cold and warm figures pool both pass JVMs, so a
run's cold pass is a median of two fresh sessions. After the timed
passes the last JVM writes every result once, and each is checked
against the registry's DuckDB oracle SQL, with the normalize/compare
rule of tools/oracle_check.py.

--trace 0 prints the end-to-end metrics; --trace 1 runs one JVM with
traced and untraced warm passes side by side and prints the per-layer
metrics.
The last stdout line is one JSON object: correct, attempted, failed,
metrics. A full report (passes, query order, spans, per-query layer
numbers, oracle results) goes to .bench_build/perfbench/reports/.
The exit code is non-zero when any query fails or mismatches, and
when the program cannot be built or run (then no result is printed).
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import stats  # noqa: E402

# an untraced run starts set-up-only JVMs, then JVMs that each time a
# set-up, a cold pass and warm passes (the last of them also writes the
# outputs): setup_s is the median over all of them, cold_pass_s and
# warm_pass_s pool the pass JVMs' samples
SETUP_JVMS = 1
PASS_JVMS = 2
# the whole command must end within 180 s; keep a margin for the
# oracle check and clean-up
DEADLINE_S = 165
JVM_HEAP = "3g"
# warm-pass length both workloads are sized to on a 4-core host
NOMINAL_PASS_S = 4.0
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
MB = 1024.0 * 1024.0
# printed and reported beside the metrics BENCHMARK.json names: with a
# few warm samples per run the query-time statistics are too coarse to
# gate on (the tail rule needs more than ten), failures are gated through
# the result's `failed` count, and warm compile time and task GC time read
# 0 on most runs at this scale (jvm.gc_s and codegen.compiles stand in)
EXTRA_UNITS = {"query_p50_s": "s", "query_tail_s": "s", "failed_frac": "ratio",
               "tables.opened": "count", "codegen.compile_s": "s", "exec.gc_s": "s"}


class RunFailed(Exception):
    """The program could not be run to a result."""


def load_spec():
    """Workload definitions from perfbench/workloads.json, metric
    names and units from BENCHMARK.json at the repository root."""
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    spec["end_to_end"], spec["per_layer"] = bench["end_to_end"], bench["per_layer"]
    return spec


def git_commit():
    """HEAD of the checkout, when the checkout itself is a git work tree."""
    def git(*a):
        out = subprocess.run(["git", *a], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    try:
        top = git("rev-parse", "--show-toplevel")
        if top and os.path.realpath(top) == os.path.realpath(os.getcwd()):
            return git("rev-parse", "HEAD") or None
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def launch(classes, jvm_dir, mode, deadline, extra_args):
    """Start one JVM in its own directory (tmpdir, local dirs, log);
    return (seconds until its session was ready, its exit code)."""
    tmp = os.path.join(jvm_dir, "tmp")
    local = os.path.join(jvm_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    jars = os.path.join(build.spark_jars(), "*")
    # no hsperfdata file: it would land in /tmp, outside the checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-cp", f"{os.path.abspath(classes)}{os.pathsep}{jars}", "perfbench.Harness",
            "--mode", mode, "--local-dir", local] + extra_args
    with open(os.path.join(jvm_dir, "jvm.log"), "ab") as log:
        t0 = time.perf_counter()
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; pin both to the run
        env = dict(os.environ, SPARK_LOCAL_DIRS=local)
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=jvm_dir, env=env)
        ready = None
        try:
            for line in proc.stdout:
                if ready is None and line.strip() == b"PERFBENCH_READY":
                    ready = time.perf_counter() - t0
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RunFailed(f"{mode} JVM did not finish before the deadline")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if ready is None:
        raise RunFailed(f"{mode} JVM exited with {rc} before its session was ready")
    return ready, rc


def oracle_module():
    path = os.path.join(os.getcwd(), "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def data_fingerprint(data_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as fh:
            h.update(name.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check_outputs(result, data_dir):
    """Compare each written result with its oracle; return per-query verdicts.

    Oracle results depend only on the SQL text and the data, so they
    are cached under .bench_build between runs; the program's output is
    read and compared on every run."""
    import duckdb
    import pandas as pd

    oc = oracle_module()
    cache_dir = os.path.join(build.BUILD_DIR, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    fp = data_fingerprint(data_dir)
    con = None
    verdicts = {}
    for name, out in sorted(result["outputs"].items()):
        v = {"status": "ok"}
        try:
            if out["error"]:
                raise RuntimeError(f"query failed: {out['error']}")
            got = pd.read_parquet(out["path"])
            v["rows"] = int(len(got))
            sql = result["oracle_sql"].get(name)
            if sql is None:
                # no SQL oracle for this operator: the output must exist
                # and be non-empty (its semantics are specced in the tests)
                v["oracle"] = "none"
                if len(got) == 0:
                    v.update(status="mismatch", detail="empty output and no oracle")
            else:
                key = hashlib.sha256((fp + sql).encode()).hexdigest()[:24]
                path = os.path.join(cache_dir, key + ".pkl")
                if os.path.exists(path):
                    with open(path, "rb") as fh:
                        exp = pickle.load(fh)
                else:
                    if con is None:
                        con = duckdb.connect()
                        for t in oc.TABLES:
                            f = os.path.join(data_dir, f"{t}.parquet")
                            if os.path.exists(f):
                                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
                    exp = con.execute(sql).fetchdf()
                    with open(path + ".tmp", "wb") as fh:
                        pickle.dump(exp, fh)
                    os.replace(path + ".tmp", path)
                msg = oc.compare(name, got, exp)
                v["oracle"] = "duckdb"
                if msg:
                    v.update(status="mismatch", detail=msg[:300])
        except Exception as exc:  # noqa: BLE001 - any failure is a failed output
            v.update(status="failed", detail=str(exc)[:300])
        verdicts[name] = v
    return verdicts


def warm_passes(args):
    """Warm passes per JVM that together fill `--seconds` at the nominal
    pass length: a count fixed by the arguments, not by how fast passes
    happened to run. A traced run has one JVM and at least two."""
    if args.trace:
        return max(2, round(args.seconds / NOMINAL_PASS_S))
    return max(1, round(args.seconds / NOMINAL_PASS_S / PASS_JVMS))


def pass_totals(p):
    return sum(s["latency_s"] for s in p["samples"])


def end_to_end(passes, setups):
    """End-to-end values from the passes of every pass JVM of a run."""
    colds = [pass_totals(p) for p in passes if p["index"] == 0]
    warm = [pass_totals(p) for p in passes if p["index"] > 0]
    lat = [s["latency_s"] for p in passes if p["index"] > 0 for s in p["samples"]]
    tail, pct, n = stats.tail(lat)
    values = {
        "setup_s": stats.median(setups),
        "cold_pass_s": stats.median(colds),
        "warm_pass_s": stats.median(warm),
        "query_p50_s": stats.median(lat),
        "query_tail_s": tail,
    }
    notes = {"query_tail_percentile": round(pct, 1), "query_tail_n": n,
             "warm_passes": len(warm), "setup_samples_s": setups, "cold_samples_s": colds}
    return values, notes


def span_index(result):
    spans = {s["id"]: s for s in result["spans"]}
    kids = {}
    for s in result["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    return spans, kids


def dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def interval(s):
    return (s["start_ns"], s["end_ns"])


def query_layers(q, spans, kids, counters, extra, cores):
    """Layer numbers for one traced query span."""
    b = spans.get(q["id"] + "/build")
    e = spans.get(q["id"] + "/exec")
    cb = counters.get(b["id"], {}) if b else {}
    ce = counters.get(e["id"], {}) if e else {}

    def both(k):
        return cb.get(k, 0) + ce.get(k, 0)

    def own(s):
        """Self time of a span: its duration minus what its children cover."""
        if s is None:
            return 0.0
        return stats.self_time(interval(s), [interval(c) for c in kids.get(s["id"], [])]) / 1e9

    # catalyst phase spans hang under the build or exec span they ran in
    cat = [c for s in (q, b, e) if s for c in kids.get(s["id"], []) if c["kind"] == "catalyst"]
    ex = extra.get(q["id"], {})
    build_s = dur(b) if b else 0.0
    exec_s = dur(e) if e else 0.0
    return {
        "query": q["name"],
        "latency_s": build_s + exec_s,
        "build.s": build_s,
        "build.jobs": cb.get("jobs", 0),
        "catalyst.analysis_s": sum(dur(c) for c in cat if c["name"] == "analysis"),
        "catalyst.optimization_s": sum(dur(c) for c in cat if c["name"] == "optimization"),
        "catalyst.planning_s": sum(dur(c) for c in cat if c["name"] == "planning"),
        "codegen.compile_s": ex.get("compile_us", 0) / 1e6,
        "codegen.compiles": ex.get("compiles", 0),
        "exec.s": exec_s,
        "exec.jobs": ce.get("jobs", 0),
        "exec.stages": ce.get("stages", 0),
        "exec.tasks": ce.get("tasks", 0),
        "exec.cpu_s": ce.get("cpu_ns", 0) / 1e9,
        "exec.gc_s": ce.get("gc_ms", 0) / 1e3,
        "exec.run_s": ce.get("run_ms", 0) / 1e3,
        "exec.core_util": stats.core_util(ce.get("run_ms", 0), exec_s, cores),
        "exec.single_task_stage_s": ce.get("single_task_stage_ms", 0) / 1e3,
        "shuffle.write_mb": both("shuffle_write_bytes") / MB,
        "shuffle.read_mb": both("shuffle_read_bytes") / MB,
        "shuffle.spill_mb": both("spill_bytes") / MB,
        "scan.rows_read": both("input_records"),
        "scan.mb_read": both("input_bytes") / MB,
        "cache.persisted_rdds": ex.get("persisted_rdds", 0),
        "cache.peak_storage_mb": ex.get("peak_storage_bytes", 0) / MB,
        "cache.blocks_dropped": both("blocks_dropped"),
        "sources.records_written": both("output_records"),
        "sources.mb_written": both("output_bytes") / MB,
        "span.query_self_s": own(q),
        "span.build_self_s": own(b),
        "span.exec_self_s": own(e),
    }


SUMMED = ["build.s", "build.jobs", "catalyst.analysis_s", "catalyst.optimization_s",
          "catalyst.planning_s", "codegen.compile_s", "codegen.compiles", "exec.s", "exec.jobs",
          "exec.stages", "exec.tasks", "exec.cpu_s", "exec.gc_s", "exec.run_s",
          "exec.single_task_stage_s", "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
          "scan.rows_read", "scan.mb_read", "cache.persisted_rdds", "cache.blocks_dropped",
          "sources.records_written", "sources.mb_written", "span.query_self_s",
          "span.build_self_s", "span.exec_self_s"]


def per_layer(result, verdicts, cores):
    spans, kids = span_index(result)
    counters = result["counters"]
    extra = result["span_extra"]
    result_rows = sum(v.get("rows", 0) for v in verdicts.values())
    per_pass = []
    per_query = []
    for p in result["passes"]:
        if not p["traced"]:
            continue
        pid = f"p{p['index']}"
        qs = [s for s in kids.get(pid, []) if s["kind"] == "query"]
        rows = [query_layers(q, spans, kids, counters, extra, cores) for q in qs]
        for r in rows:
            per_query.append(dict(r, **{"pass": p["index"]}))
        tot = {k: sum(r[k] for r in rows) for k in SUMMED}
        tot["exec.core_util"] = stats.core_util(tot["exec.run_s"] * 1000.0, tot["exec.s"], cores)
        tot["cache.peak_storage_mb"] = max([r["cache.peak_storage_mb"] for r in rows] or [0.0])
        tot["scan.rows_per_result"] = tot["scan.rows_read"] / result_rows if result_rows else 0.0
        tot["sources.write_amp"] = (tot["sources.mb_written"] / tot["scan.mb_read"]
                                    if tot["scan.mb_read"] else 0.0)
        tot["jvm.peak_heap_mb"] = p["peak_heap_bytes"] / MB
        tot["jvm.gc_s"] = p["gc_ms"] / 1e3
        ps = spans[pid]
        tot["span.pass_self_s"] = stats.self_time(interval(ps), [interval(q) for q in qs]) / 1e9
        tot["pass_s"] = sum(r["latency_s"] for r in rows)
        per_pass.append((p["index"], tot))

    cold = dict(per_pass)[0]
    warm = [t for i, t in per_pass if i > 0]
    untraced = [pass_totals(p) for p in result["passes"][1:] if not p["traced"]]
    names = sorted(warm[0])
    metrics = {k: stats.median([t[k] for t in warm]) for k in names if k not in ("pass_s", "exec.run_s")}
    metrics["codegen.cold_compile_s"] = cold["codegen.compile_s"]
    metrics["codegen.cold_compiles"] = cold["codegen.compiles"]
    opens = result["table_opens"]
    metrics["tables.opened"] = len(opens)
    metrics["tables.open_s"] = sum(stats.median(v["open_s"]) for v in opens.values())
    metrics["tables.open_jobs"] = sum(stats.median(v["jobs"]) for v in opens.values())
    metrics["trace.overhead_s"] = stats.median([t["pass_s"] for t in warm]) - stats.median(untraced)
    return metrics, per_query


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # on SIGTERM unwind through the `finally` blocks that stop the JVM
    # and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.monotonic()
    deadline = start + DEADLINE_S

    spec = load_spec()
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload}; have {sorted(spec['workloads'])}", file=sys.stderr)
        return 2
    wl = spec["workloads"][args.workload]
    metric_spec = spec["per_layer" if args.trace else "end_to_end"]
    try:
        classes = build.build()
    except Exception as exc:  # noqa: BLE001 - no program, no result
        print(f"build failed: {exc}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    data_dir = os.path.abspath(os.path.join(HERE, "data", "sf" + wl["sf"]))
    run_dir = os.path.abspath(os.path.join(
        build.BUILD_DIR, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"))
    common = ["--cores", str(cores), "--sf-dir", data_dir, "--queries", ",".join(wl["queries"]),
              "--seed", str(args.seed)]

    def jvm(name, mode, extra):
        """One JVM in a directory of its own, so no JVM sees another's
        temporary tables; returns (set-up seconds, its result)."""
        jvm_dir = os.path.join(run_dir, name)
        out_dir = os.path.join(jvm_dir, "out")
        os.makedirs(out_dir)
        ready, rc = launch(classes, jvm_dir, mode, deadline, common + extra + ["--out", out_dir])
        if mode == "setup":
            return ready, None
        res_path = os.path.join(out_dir, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            raise RunFailed(f"{name} JVM exited with {rc} and no result")
        with open(res_path) as fh:
            return ready, json.load(fh)

    try:
        setups, passes = [], []
        jvms = [("run", "run")] if args.trace else (
            [(f"setup{k}", "setup") for k in range(SETUP_JVMS)] +
            [(f"passes{k}", "passes") for k in range(PASS_JVMS - 1)] + [("run", "run")])
        for name, mode in jvms:
            ready, result = jvm(name, mode, ["--warm-passes", str(warm_passes(args)),
                                             "--trace", str(args.trace)])
            setups.append(ready)
            if result:
                passes += result["passes"]
        verdicts = check_outputs(result, data_dir)
    except RunFailed as exc:
        # the log of the JVM that failed: the last one written
        logs = glob.glob(os.path.join(run_dir, "*", "jvm.log"))
        if logs:
            with open(max(logs, key=os.path.getmtime), errors="replace") as fh:
                sys.stderr.write(fh.read()[-3000:])
        print(f"run failed: {exc}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = [s for p in passes for s in p["samples"]]
    timed_failed = sum(1 for s in samples if s["error"])
    output_failed = sum(1 for v in verdicts.values() if v["status"] != "ok")
    attempted = len(samples) + len(verdicts)
    failed = timed_failed + output_failed

    if args.trace:
        values, per_query = per_layer(result, verdicts, cores)
        notes = {"setup_samples_s": setups}
    else:
        values, notes = end_to_end(passes, setups)
        per_query = []
    values["failed_frac"] = failed / attempted
    notes["warm_phase_s"] = result["warm_phase_s"]
    units = dict(EXTRA_UNITS, **{m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]})
    for name in sorted(values):
        print(f"{name} {values[name]:.6g} {units[name]}")

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": wl["sf"], "queries": wl["queries"],
        "nproc": os.cpu_count(), "cores_used": cores,
        "java_version": result["java_version"], "spark_version": result["spark_version"],
        "git_commit": git_commit(), "source_stamp": os.path.basename(classes),
        "orders": [p["order"] for p in passes],
        "passes": [{"index": p["index"], "traced": p["traced"], "total_s": pass_totals(p),
                    "samples": p["samples"]} for p in passes],
        "metrics": values, "notes": notes, "outputs": verdicts,
        "table_opens": result["table_opens"], "per_query_traced": per_query,
        "spans": result["spans"], "attempted": attempted, "failed": failed,
        "wall_s": time.monotonic() - start,
    }
    rep_dir = os.path.join(build.BUILD_DIR, "reports")
    os.makedirs(rep_dir, exist_ok=True)
    rep = os.path.join(rep_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rep, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"report {rep}")
    for name, v in sorted(verdicts.items()):
        if v["status"] != "ok":
            print(f"FAIL {name}: {v.get('detail', '')}")

    wanted = [m["name"] for m in metric_spec]
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in wanted}}
    print(json.dumps(line))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
