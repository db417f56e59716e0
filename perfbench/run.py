#!/usr/bin/env python3
"""graft's benchmark: ETL sync cycles and a registry query mix, each end
to end, and layer by layer in a traced run.

    python3 perfbench/run.py --workload etl_sync|query_mix \
        --seed <n> --seconds <n> --trace 0|1

Run from the repository root.  The first run builds the engine and the
benchmark (sbt, offline), generates the query tables and computes the
oracle-checked fingerprints of the query rows; later runs reuse them
from `.bench_build/`.  Every run appends its record (environment stamp,
per-operation timings, metrics) to `.bench_build/records/<workload>.jsonl`
and prints the metrics as one JSON object on the last line of stdout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import etl_gen  # noqa: E402
import gen_tables  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("etl_sync", "query_mix")
CORES = max(1, min(4, os.cpu_count() or 1))
XMX = "3g"
# A run is flagged when, in the second before it starts, other processes
# kept at least this many cores busy (median of the sampled runnable count).
# The 1-minute load average is recorded too, but it cannot be the test: a
# previous run leaves it at 2.5-4.5 on a 4-core box for a minute after it ends.
RUNNABLE_LIMIT = 1
DATA_SEED = 42
JVM_TIMEOUT_S = 120    # one run must end within 180 s

SPANS = ["sources.read", "pipeline.sync_dicts", "pipeline.sync_sessions", "sync.incremental",
         "registry.build", "exec.action"]
COUNTERS = ["s", "self_s", "jobs", "jobs_by_time", "stages", "tasks", "tasks_failed", "task_run_s",
            "task_cpu_s", "task_wait_s", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "input_records", "output_rows", "output_bytes", "driver_gap_s"]
FAMILIES = ["core", "analytics", "streaming", "ext.corpus", "ext.dedup", "ext.ann",
            "ext.text", "ext.eval", "ext.search", "ext.multimodal", "ext.selection",
            "ext.layout"]
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths, exts):
    h = hashlib.sha256()
    for p in paths:
        p = os.path.join(ROOT, p)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs if f.endswith(exts))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


# -- build ---------------------------------------------------------------

def run_group(cmd, timeout, **kw):
    """Runs cmd in a process group of its own and waits for it; on every
    way out (exit, timeout, error) whatever is left of the group is
    killed, so no process it started outlives the benchmark. Returns the
    exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def build_classpath():
    """Compile the engine and the benchmark; cached on the source hash."""
    key = tree_hash(["build.sbt", "project", "src/main", "perfbench/build.sbt",
                     "perfbench/project", "perfbench/src"], (".scala", ".sbt", ".properties",
                                                             ".java", "DataSourceRegister"))
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), key
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    log(f"building engine + benchmark (log: {log_path})")
    with open(log_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 800, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT)
    lines = open(log_path).read().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        raise SystemExit(f"build failed, see {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip(), key


def data_dir():
    d = os.path.join(BUILD, "data", f"sf0.1-{tree_hash(['perfbench/gen_tables.py'], ('.py',))}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d, DATA_SEED)
        open(os.path.join(d, "_done"), "w").close()
    return d


def java(cp, work, args, timeout):
    """Runs the benchmark JVM; returns (launch epoch seconds, record)."""
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + JVM_OPENS +
           ["-cp", cp, "graft.perfbench.Main", "--work", work, "--out", out,
            "--cores", str(CORES)] + args)
    with open(os.path.join(work, "jvm.log"), "a") as jlog:
        t0 = time.time()
        rc = run_group(cmd, timeout, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
    if rc is None:
        raise SystemExit(f"benchmark JVM timed out after {timeout}s")
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise SystemExit(f"benchmark JVM failed (exit {rc}):\n{tail}")
    log(f"benchmark JVM ran {time.time() - t0:.1f} s")
    return t0, json.load(open(out))


def fingerprints(cp, cp_key, data):
    """Oracle-checked fingerprints of every row of the query mix."""
    rows_file = os.path.join(HERE, "rows.json")
    mix = json.load(open(rows_file))
    key = hashlib.sha256((cp_key + data + open(rows_file).read()).encode()).hexdigest()[:16]
    path = os.path.join(BUILD, f"fingerprints-{key}.json")
    if os.path.exists(path):
        return json.load(open(path))
    rows = sorted(mix["query_mix"])
    work = os.path.join(BUILD, "fp-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inp = os.path.join(work, "rows.json")
    json.dump({"rows": rows}, open(inp, "w"))
    log(f"fingerprinting {len(rows)} rows against the DuckDB oracle")
    _, rec = java(cp, work, ["--mode", "fingerprint", "--workload", "query_mix",
                             "--data", data, "--input", inp], timeout=600)
    verdicts = oracle.verify(rec["rows"], work, data)
    bad = {r: v["detail"] for r, v in verdicts.items() if not v["ok"]}
    for r, d in sorted(bad.items()):
        log(f"oracle check FAILED for {r}: {d}")
    json.dump(verdicts, open(path, "w"), indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    return verdicts


# -- metrics -------------------------------------------------------------

def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def runnable_others(samples=10, interval=0.05):
    """Median number of runnable processes besides this one, sampled from
    /proc/stat over half a second; -1 where /proc/stat is missing."""
    seen = []
    for _ in range(samples):
        try:
            with open("/proc/stat") as f:
                line = next(x for x in f if x.startswith("procs_running"))
        except (OSError, StopIteration):
            return -1
        seen.append(int(line.split()[1]) - 1)
        time.sleep(interval)
    return statistics.median(seen)


def p50_with_failures(times, ok, wall_s):
    """Median latency with every failed operation counted as slower than
    any other (a failed request misses every latency limit); when failed
    operations reach the median, the timed wall time `wall_s` stands in."""
    m = statistics.median(t if good else math.inf for t, good in zip(times, ok))
    return m if math.isfinite(m) else wall_s


def env_stamp(seed):
    try:
        load1 = float(open("/proc/loadavg").read().split()[0])
    except OSError:
        load1 = -1.0
    runnable = runnable_others()
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": os.cpu_count(), "master": f"local[{CORES}]", "xmx": XMX,
            "git_commit": commit,
            "source_hash": tree_hash(["src/main", "perfbench"], (".scala", ".py", ".json")),
            "seed": seed, "load1_pre": load1, "runnable_pre": runnable,
            "runnable_limit": RUNNABLE_LIMIT, "above_load_limit": runnable >= RUNNABLE_LIMIT,
            "tmp_free_gb": round(shutil.disk_usage(ROOT).free / 1e9, 2),
            "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


def layer_unit(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_per_row", "_per_row_in")):
        return "ratio"
    return "count"


def layer_metrics(workload, rec, etl_extra):
    """Per-layer metrics of a traced run: span counters as means per
    request (one daily cycle, or one row run), Catalyst phase times,
    waste ratios and per-family costs."""
    trace = rec["trace"]
    spans = trace["spans"]
    if workload == "etl_sync":
        spans = [s for s in spans if s["request"] != "backfill"]
        requests = rec["cycles_run"]
    else:
        requests = len(rec["ops"])
    m = {}
    for name in SPANS:
        mine = [s for s in spans if s["name"] == name]
        for c in COUNTERS:
            m[f"{name}.{c}"] = sum(s[c] for s in mine) / requests
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = trace["catalyst"][f"{phase}_ms"] / requests
    etl = workload == "etl_sync"
    m["sources.reads_per_row"] = etl_extra["reads_per_row"] if etl else 0.0
    m["pipeline.rows_written_per_row_in"] = etl_extra["rows_written_per_row_in"] if etl else 0.0
    cyc = [x for x in rec.get("listings", []) if x["request"] != "backfill"]
    for k in ("partitions_touched", "files_written"):
        m[f"pipeline.{k}"] = sum(x[k] for x in cyc) / requests if etl else 0.0
    jobs_by_req = {}
    for s in trace["spans"]:
        jobs_by_req[s["request"]] = jobs_by_req.get(s["request"], 0) + s["jobs"]
    for f in FAMILIES:
        ops = [o for o in rec.get("ops", []) if o["family"] == f]
        m[f"family.{f}.s"] = statistics.mean(o["s"] for o in ops) if ops else 0.0
        # the JVM names a row's request <row>#<pass>.<position in the pass>
        m[f"family.{f}.jobs"] = statistics.mean(
            jobs_by_req.get(f"{o['row']}#{o['pass']}.{o['index']}", 0) for o in ops) \
            if ops else 0.0
    return m


def backfill_layers(rec):
    """Traced etl_sync: the backfill's spans, whose task time against driver
    gap shows how much of `cold_s` is per-row work."""
    out = {}
    for s in rec.get("trace", {}).get("spans", []):
        if s["request"] == "backfill":
            c = out.setdefault(s["name"], {k: 0.0 for k in ("s", "jobs", "task_run_s",
                                                             "driver_gap_s", "input_records")})
            for k in c:
                c[k] += s[k]
    return out


def run_etl(cp, args, work):
    pages = os.path.join(work, "pages")
    g0 = time.time()
    plan, batches = etl_gen.generate(pages, args.seed)
    log(f"pages generated in {time.time() - g0:.1f} s")
    plan_path = os.path.join(work, "plan.json")
    json.dump(plan, open(plan_path, "w"))
    t0, rec = java(cp, work, ["--mode", "run", "--workload", "etl_sync", "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--input", plan_path], JVM_TIMEOUT_S)
    n = rec["cycles_run"]
    c0 = time.time()
    states, rows_in = etl_gen.replay(batches, n, plan)
    log(f"model replayed in {time.time() - c0:.1f} s")
    c0 = time.time()
    failed = 0
    problems = etl_gen.check(states[0], os.path.join(work, "etl", "after_backfill"))
    if problems:
        failed += 1
    final = etl_gen.check(states[-1], os.path.join(work, "etl", "warehouse"))
    audit = [a for a in rec["audit"] if a["duplicate_key_groups"] or a["null_key_rows"]]
    cycles_ok = not final and not audit
    if not cycles_ok:
        failed += 1
    log(f"warehouse checked in {time.time() - c0:.1f} s")
    for p in problems + final:
        log(f"warehouse mismatch: {p}")
    for a in audit:
        log(f"auditHealth violation: {a}")
    merged = sum(c["rows"] + c["incremental_rows"] for c in plan["cycles"][:n])
    pages_read = plan["backfill"]["pages"] + plan["backfill"]["dict_pages"] + sum(
        c["pages"] + c["dict_pages"] + c["window_pages"] for c in plan["cycles"][:n])
    written = sum(s["output_rows"] for s in rec.get("trace", {}).get("spans", [])
                  if s["request"] != "backfill" and s["name"] != "sources.read")
    extra = {"reads_per_row": rec["pages_opened"] / pages_read,
             "rows_written_per_row_in": written / max(1, sum(rows_in[1:]))}
    cycle = rec["cycle_s"]
    # a wrong final warehouse fails every cycle: no rows count as merged
    e2e = {"latency_p50_s": p50_with_failures(cycle, [cycles_ok] * n, sum(cycle)),
           "throughput_per_s": merged / sum(cycle) if cycles_ok else 0.0,
           "cold_s": rec["backfill_s"]}
    human = {"etl_backfill_s": (rec["backfill_s"], "s"),
             "etl_cycle_p50_s": (e2e["latency_p50_s"], "s"),
             "etl_rows_per_s": (e2e["throughput_per_s"], "rows/s"),
             "cycles": (n, "count")}
    return rec, t0, e2e, human, 1 + n, failed, extra


def check_streaming_attribution(rec):
    """Traced query runs: every streaming row run must have jobs that the
    trace attributed by start time. Its micro-batches run on the streaming
    query's own thread, under that query's job group, so a trace that
    matched job groups only would miss them."""
    by_req = {}
    for s in rec["trace"]["spans"]:
        by_req[s["request"]] = by_req.get(s["request"], 0) + s["jobs_by_time"]
    missed = [f"{o['row']}#{o['pass']}" for o in rec["ops"] if o["family"] == "streaming"
              and not by_req.get(f"{o['row']}#{o['pass']}.{o['index']}")]
    if missed:
        raise SystemExit(f"trace check failed: no micro-batch jobs attributed to {missed}")


def run_queries(cp, args, work, verdicts):
    mix = json.load(open(os.path.join(HERE, "rows.json")))[args.workload]
    missing = [r for r in mix if r not in verdicts]
    if missing:
        raise SystemExit(f"rows without an oracle fingerprint: {missing}")
    # a row the oracle rejected still runs, and every run of it fails
    expected = {r: v if v["ok"] else {"rows": -1, "hash": "rejected by the oracle check"}
                for r, v in verdicts.items() if r in mix}
    inp = os.path.join(work, "rows.json")
    json.dump({"rows": mix, "fingerprints": expected}, open(inp, "w"))
    data = data_dir()
    t0, rec = java(cp, work, ["--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--data", data, "--input", inp], JVM_TIMEOUT_S)
    ops = rec["ops"]
    for i, o in enumerate(ops):
        o["index"] = i % len(mix)
    for o in ops:
        if not o["ok"]:
            log(f"row {o['row']} failed: {o['detail']}")
    # latency and throughput over every timed pass, the cold first one
    # included: a fresh session pays its first runs' codegen and fixture
    # builds, and a 40 s window reads steadier on a shared host than the
    # 15 s of one warm pass. The cold pass is also its own metric.
    timed_s = sum(rec["pass_s"])
    # failed rows rank above every latency, as in latency_p50_s
    lat = [o["s"] if o["ok"] else math.inf for o in ops]
    good = sum(1 for o in ops if o["ok"])
    e2e = {"latency_p50_s": p50_with_failures([o["s"] for o in ops], [o["ok"] for o in ops],
                                              timed_s),
           "throughput_per_s": good / timed_s,
           "cold_s": rec["pass_s"][0]}
    warm = [o["s"] if o["ok"] else math.inf for o in ops if o["pass"] > 0]
    if args.trace:
        check_streaming_attribution(rec)
    n_beyond = sum(1 for x in lat if x > quantile(lat, 0.9))
    human = {"query_p50_s": (e2e["latency_p50_s"], "s"),
             "query_p90_s": (quantile(lat, 0.9), f"s (n={len(lat)}, {n_beyond} beyond"
                             + ("" if n_beyond >= 10 else "; fewer than 10, not reportable") + ")"),
             "queries_per_s": (e2e["throughput_per_s"], "1/s"),
             "first_pass_s": (e2e["cold_s"], "s"),
             "warm_p50_s": (statistics.median(warm), f"s (n={len(warm)})"),
             "passes": (len(rec["pass_s"]), "count")}
    return rec, t0, e2e, human, len(ops), len(ops) - good, {}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found: run from a checkout of the repository")
    stamp = env_stamp(args.seed)
    cp, cp_key = build_classpath()
    verdicts = fingerprints(cp, cp_key, data_dir()) if args.workload != "etl_sync" else None
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.workload == "etl_sync":
        rec, t0, e2e, human, attempted, failed, extra = run_etl(cp, args, work)
    else:
        rec, t0, e2e, human, attempted, failed, extra = run_queries(cp, args, work, verdicts)
    # a failed run keeps its work directory (JVM log) for inspection
    shutil.rmtree(work, ignore_errors=True)
    e2e["setup_s"] = rec["first_call_epoch_ms"] / 1000.0 - t0
    # peak memory does not repeat within a tenth between runs, so it is a
    # per-layer number rather than a bounded end-to-end metric
    peak_rss_mb = rec["peak_rss_kb"] / 1024.0
    units = {"setup_s": "s", "latency_p50_s": "s", "throughput_per_s": "1/s", "cold_s": "s"}
    if args.trace:
        metrics = layer_metrics(args.workload, rec, extra)
        metrics["peak_rss_mb"] = peak_rss_mb
        # the per-layer set BENCHMARK.json declares; the record keeps all
        listed = [m["name"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]]
        out_metrics = {k: {"value": metrics[k], "unit": layer_unit(k)} for k in listed}
    else:
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    error_rate = failed / attempted
    for k, (v, u) in human.items():
        log(f"{k} = {v:.6g} {u}")
    for k, v in e2e.items():
        log(f"{k} = {v:.6g} {units[k]}")
    log(f"peak_rss_mb = {peak_rss_mb:.6g} MB")
    log(f"error_rate = {error_rate:.6g} ratio ({failed}/{attempted})")
    if stamp["above_load_limit"]:
        log(f"WARNING: {stamp['runnable_pre']} other processes were runnable before the start "
            f"(limit {RUNNABLE_LIMIT}); the record is flagged")
    record = {"workload": args.workload, "trace": args.trace, "seconds": args.seconds,
              "env": stamp, "e2e": e2e, "peak_rss_mb": peak_rss_mb,
              "error_rate": error_rate, "attempted": attempted,
              "failed": failed, "human": {k: v for k, (v, _) in human.items()},
              "ops": rec.get("ops") or rec.get("cycle_s"),
              "layers": metrics if args.trace else None,
              "call_sites": rec.get("trace", {}).get("call_sites", [])[:40],
              "unattributed_jobs": rec.get("trace", {}).get("unattributed_jobs", {}),
              "backfill_layers": backfill_layers(rec) if args.trace else None}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{args.workload}.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if args.trace:
        for site in record["call_sites"][:10]:
            log(f"call site {site['jobs']:5d} jobs {site['s']:8.3f} s  {site['site']}")
        for site, n in sorted(record["unattributed_jobs"].items()):
            log(f"jobs outside every span: {n:4d} at {site}")
        for name, c in (record["backfill_layers"] or {}).items():
            log(f"backfill {name}: " + " ".join(f"{k}={v:.4g}" for k, v in c.items()))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
