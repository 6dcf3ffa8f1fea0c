#!/usr/bin/env python3
"""CDC benchmark: one run of one workload.

usage (from the repository root):
  python3 perfbench/run.py --workload route_live|fold_drain|asof_read \\
      --seed N --seconds S --trace 0|1

Builds the program from source on first use (sbt, into .bench_build and
the sbt target dirs), generates the workload's inputs from the seed,
runs the workload in a fresh JVM at local[nproc], checks every output
against an oracle that does not run the program (the generator's ledger
or DuckDB), and prints as its last stdout line one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it carries the details: tail percentiles,
sample counts, per-kind latencies and layout counters. See NOTES.md.
"""

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

RUN_LIMIT_S = 175
CLK_TCK = os.sysconf("SC_CLK_TCK")

# Workload sizing (why each value: NOTES.md). A run is a few identical
# chunks, each an ingest step followed by a read slice; the first chunk
# is a warm-up and the figures are medians over the others. The
# route_live rate is about half of the envelopes/s that configuration
# sustained when saturated on a 4-core machine.
LIVE_TABLES = ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events"]
LIVE_MIX = {"lineitem": (0.38, 0.7, 0.2), "orders": (0.2, 0.5, 0.35),
            "events": (0.15, 0.9, 0.05), "customer": (0.08, 0.5, 0.45),
            "part": (0.08, 0.5, 0.45), "supplier": (0.05, 0.5, 0.45),
            "nation": (0.03, 0.3, 0.6), "region": (0.03, 0.3, 0.6)}
# a chunk lands files_per_interval files in each of compact_every
# trigger intervals, so it holds exactly one compacting trigger
LIVE = {"per_file": 100, "warm_files": 1, "warm_per_file": 100, "files_per_interval": 10,
        "trigger_ms": 2000, "compact_every": 3, "chunk_s": 16.0, "read_rounds": 2}
LIVE["chunk_files"] = (30, 30)  # warm-up chunk, measured chunks
# heavy churn: about 1/3 of order changes are updates and 1/7 deletes
FOLD_MIX = {"orders": (0.6, 0.52, 0.34), "customer": (0.2, 0.5, 0.45),
            "part": (0.2, 0.5, 0.45)}
# a chunk is one file, hence one fold trigger
# a chunk's files land one at a time, each after the last one's trigger
FOLD = {"per_file": 1000, "warm_files": 1, "warm_per_file": 100, "buckets": 8, "chunk_s": 16.0,
        "read_rounds": 2, "chunk_files": (1, 2)}
SETUP_RUNS = 5  # stream bring-ups per run, one after each chunk and the rest first

# route_live reads compacted history; fold_drain reads uncompacted batch
# dirs and the maintained stores
READ_KINDS = {"route_live": ["as_of", "latest", "changes_between", "history"],
              "fold_drain": ["as_of_join", "sql_as_of", "snapshot_read", "scd2_read", "agg_read"]}
SCAN_KINDS = ["as_of", "latest", "changes_between", "as_of_join", "sql_as_of", "history"]
LOOKUP_KINDS = ["snapshot_read", "scd2_read", "agg_read"]

# Gated figures are program CPU time (see NOTES.md: on a shared host
# the hypervisor takes a varying share of the CPUs, which moves wall
# times by up to 2x between runs; the latencies are on the details line)
END_TO_END = [("setup_s", "s"), ("ingest_cpu_ms", "ms/1k"), ("read_cpu_ms", "ms"),
              ("storage_bytes_ratio", "ratio")]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    for f in ["build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"]:
        yield os.path.join(ROOT, f)


def build():
    """Compile the program and the harness; returns the runtime classpath."""
    h = hashlib.sha256()
    for p in sorted(source_files()):
        st = os.stat(p)
        h.update(("%s %d %d\n" % (os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns)).encode())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -XX:-UsePerfData").strip()
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "compile", "export Runtime/fullClasspath"]
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=log, stdin=subprocess.DEVNULL, timeout=850, text=True)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        die("build failed, see " + log_path)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def java_cmd(cp, plan_path, run_dir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "spark-warehouse"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Harness", plan_path]
    return cmd


# ---------------------------------------------------------------- plans

def write_registry(run_dir, tables):
    with open(os.path.join(run_dir, "registry.json"), "w") as f:
        json.dump(gen.registry(tables), f, indent=1)


def plan_stream(workload, seed, seconds, run_dir, pool):
    live = workload == "route_live"
    mix, size = (LIVE_MIX, LIVE) if live else (FOLD_MIX, FOLD)
    write_registry(run_dir, LIVE_TABLES if live else list(FOLD_MIX))
    noise = {"unknown": 0.01, "malformed": 0.001} if live else {}
    s = gen.Stream(seed, mix, **noise)
    # the warm-up trigger creates the tables and stores; the warm-up
    # chunk then takes every path a measured chunk takes
    warm = gen.write_files(s, pool, "warm", size["warm_files"], size["warm_per_file"])
    n_chunks = 1 + max(1, int(round(seconds / size["chunk_s"])))
    first, rest = size["chunk_files"]
    body = gen.write_files(s, pool, "part", first + (n_chunks - 1) * rest, size["per_file"])
    names = [e["file"] for e in body]
    chunks = [names[:first]] + [names[i:i + rest] for i in range(first, len(names), rest)]
    kinds = READ_KINDS[workload]
    # the warm-up chunk's read slice is one round, a measured one's more
    rounds = [1] + [size["read_rounds"]] * (n_chunks - 1)
    queries = plan_queries(seed, s, kinds, sum(rounds))
    plan = {"files_per_trigger": 1000, "compact_every": size.get("compact_every", 0),
            "buckets": size.get("buckets", 0), "trigger_ms": size.get("trigger_ms", 0),
            "setup_first": max(1, SETUP_RUNS - n_chunks + 1), "warm": [e["file"] for e in warm],
            "chunks": chunks,
            "chunk_reads": [r * len(kinds) for r in rounds],
            "queries": queries}
    return plan, warm + body


def plan_queries(seed, s, kinds, rounds):
    """A seeded closed-loop query mix: rounds of every kind in shuffled
    order, with times and key ranges inside the generated data."""
    r = random.Random(seed * 31 + 7)
    lo, hi = gen.BASE_MS, s.ms
    okeys = s.next_key["orders"] - 1

    def query(i, kind):
        q = {"id": i, "kind": kind}
        # times and ranges vary in place, not in size, so that answers
        # of one kind cost about the same from seed to seed
        if kind in ("as_of", "sql_as_of"):
            q["t"] = gen.fmt_ts(r.randint(lo + (hi - lo) * 3 // 4, hi))
            q["t_sql"] = q["t"].replace("T", " ").rstrip("Z")
        elif kind == "changes_between":
            t1 = r.randint(lo, hi - (hi - lo) // 5)
            q["t"], q["t2"] = gen.fmt_ts(t1), gen.fmt_ts(t1 + (hi - lo) // 5)
        elif kind == "history":
            q["k"] = r.randint(1, okeys)
        elif kind in ("snapshot_read", "scd2_read"):
            q["k"] = r.randint(1, max(1, okeys - 100))
            q["k2"] = q["k"] + 100
        elif kind == "as_of_join":
            q["k"] = r.randint(1, max(1, okeys - 500))
            q["k2"] = q["k"] + 500
        return q

    queries = []
    for _ in range(rounds):
        order = kinds[:]
        r.shuffle(order)
        for k in order:
            queries.append(query(len(queries), k))
    return queries


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, int(math.ceil(p / 100.0 * len(s))) - 1)]


def tail(xs):
    """The highest percentile with at least ten samples beyond it; with
    fewer than twenty samples there is none, and the maximum is given."""
    n = len(xs)
    p = int(100 * (n - 10) / n) if n >= 20 else 100
    return {"value": pct(xs, p), "p": p, "n": n,
            "beyond": sum(1 for x in xs if x > pct(xs, p))}


def dir_bytes(d):
    total = 0
    for dp, _, fs in os.walk(d):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def layout(wh):
    """Files and bytes per table dir and per maintained store."""
    out = {}
    if not os.path.isdir(wh):
        return out
    for name in sorted(os.listdir(wh)):
        p = os.path.join(wh, name)
        if not os.path.isdir(p):
            continue
            # maintained stores sit one level down (_snapshot/<table>,
        # _scd2/<table>) or two (_agg/<table>/<name>)
        depth = {"_snapshot": 1, "_scd2": 1, "_agg": 2}.get(name, 0)
        subs = [name]
        for _ in range(depth):
            subs = [os.path.join(d, c) for d in subs for c in sorted(os.listdir(os.path.join(wh, d)))]
        for sub in subs:
            files = [os.path.join(dp, f) for dp, _, fs in os.walk(os.path.join(wh, sub))
                     for f in fs if f.endswith(".parquet")]
            out[sub] = {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}
    return out


def ingest_metrics(workload, plan, res, ledger_by_file):
    """Per-chunk ingest figures from the stream's progress events, the
    checkpoint's file-to-batch map and the landing log. Returns the
    per-file or per-trigger latency samples of the measured chunks, the
    median over them of the chunk latency and rate, and details (which
    list every chunk, the warm-up chunk first)."""
    prog = {p["batch"]: p for p in res["progress"]}
    fb = res["file_batch"]
    commit = {b: p["start_ms"] + p["d"]["triggerExecution"] for b, p in prog.items()}
    due = {l["file"]: l["due_ms"] for l in res.get("landings", [])}
    samples, chunk_lat, chunk_rate, batches = [], [], [], []
    for files in plan["chunks"]:
        bs = sorted({fb[f] for f in files})
        busy = sum(prog[b]["d"]["triggerExecution"] for b in bs)
        env = sum(ledger_by_file[f]["lines"] for f in files)
        if workload == "route_live":
            # freshness: a file's scheduled landing time to the commit of
            # the batch that took it
            lat = [commit[fb[f]] - due[f] for f in files]
        else:
            lat = [prog[b]["d"]["triggerExecution"] for b in bs]
        if chunk_lat:
            samples += lat
        chunk_lat.append(statistics.mean(lat))
        chunk_rate.append(env / (busy / 1000.0))
        batches.append(len(bs))
    warmup = warmup_batches(plan, res)
    trig = [prog[b]["d"]["triggerExecution"] for b in sorted(prog) if b not in warmup]
    d = {"triggers": len(trig), "trigger_ms": trig, "chunk_batches": batches,
         "chunk_ingest_ms": chunk_lat, "chunk_per_s": chunk_rate,
         "warmup_batches": sorted(warmup)}
    if workload == "route_live":
        d["freshness_p50_ms"] = statistics.median(samples)
        d["generator_lag_tail_ms"] = tail([l["at_ms"] - l["due_ms"] for l in res["landings"]])
    return samples, statistics.median(chunk_lat[1:]), statistics.median(chunk_rate[1:]), d


def warmup_batches(plan, res):
    """Batch ids of the warm-up trigger and the warm-up chunk."""
    return {res["file_batch"][f] for f in res["warm"] + plan["chunks"][0]}


def host_steps(h):
    """Per step between CPU samples (a chunk's ingest step, its read
    slice, a stream bring-up): wall time, the program's CPU time (the
    process's without its JIT compiler and GC threads) and the share of
    the machine's CPU time the hypervisor stole."""
    tick_ms = 1000.0 / CLK_TCK
    out = []
    for x, y in zip(h, h[1:]):
        d = [b - a for a, b in zip(x["ticks"], y["ticks"])]
        jit, gc = (y["jit"] - x["jit"]) * tick_ms, (y["gc"] - x["gc"]) * tick_ms
        out.append({"step": x["tag"], "wall_ms": y["ms"] - x["ms"],
                    "cpu_ms": (y["proc_ns"] - x["proc_ns"]) / 1e6 - jit - gc,
                    "jit_ms": jit, "gc_ms": gc,
                    "steal": d[7] / float(sum(d)) if len(d) > 7 and sum(d) else 0.0})
    return out


def cpu_metrics(plan, steps, ledger_by_file):
    """Program CPU per 1,000 envelopes of each chunk's ingest step and
    per query of its read slice; each figure is the median over the
    measured chunks."""
    ingest = [s for s in steps if s["step"] == "ingest"]
    reads = [s for s in steps if s["step"] == "read"]
    per_1k = [st["cpu_ms"] * 1000.0 / sum(ledger_by_file[f]["lines"] for f in files)
              for st, files in zip(ingest, plan["chunks"])]
    per_query = [st["cpu_ms"] / n for st, n in zip(reads, plan["chunk_reads"])]
    d = {"chunk_ingest_cpu_ms": per_1k, "chunk_read_cpu_ms": per_query,
         "steal": [round(st["steal"], 4) for st in steps]}
    return statistics.median(per_1k[1:]), statistics.median(per_query[1:]), d


def read_metrics(plan, res):
    """Each chunk's read slice is one round of the workload's query kinds;
    its figure is the geometric mean of the round's latencies, so every
    kind weighs the same. The read figure is the median over the
    measured chunks; the other figures leave the warm-up chunk out."""
    chunks = {}
    for q in res["results"]:
        if "ms" in q:
            chunks.setdefault(q["landed"], []).append(q)
    per_chunk = [v for _, v in sorted(chunks.items())]
    timed = [q for v in per_chunk[1:] for q in v]
    lat = [q["ms"] for q in timed]
    d = {"queries": len(timed), "read_p50_ms": statistics.median(lat),
         "read_tail": tail(lat)}
    for label, kinds in (("scan", SCAN_KINDS), ("lookup", LOOKUP_KINDS)):
        xs = [q["ms"] for q in timed if q["kind"] in kinds]
        if xs:
            d[label + "_p50_ms"] = statistics.median(xs)
    per_kind = {}
    for k in SCAN_KINDS + LOOKUP_KINDS:
        xs = [q["ms"] for q in timed if q["kind"] == k]
        if xs:
            per_kind[k] = statistics.median(xs)
    d["p50_ms"] = per_kind
    d["chunk_read_ms"] = [math.exp(statistics.mean(math.log(q["ms"]) for q in v))
                          for v in per_chunk]
    return statistics.median(d["chunk_read_ms"][1:]), d


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["route_live", "fold_drain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no program sources next to perfbench/ (expected build.sbt and src/main/scala/graft)")
    cp = build()
    started = time.time()

    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    # one core is left to the thread that plans and schedules every job
    # of these small, latency-bound triggers and queries, the landing
    # thread, the JIT and the GC
    cores = max(1, cpus - 1)
    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    pool = os.path.join(run_dir, "pool")
    os.makedirs(pool)
    plan, ledger = plan_stream(a.workload, a.seed, a.seconds, run_dir, pool)
    plan.update({"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                 "dir": run_dir, "master": "local[%d]" % cores, "cores": cores})
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    ledger_by_file = {e["file"]: e for e in ledger}

    t_gen = time.time()
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        try:
            subprocess.run(java_cmd(cp, plan_path, run_dir), stdout=log, stderr=log,
                           stdin=subprocess.DEVNULL, cwd=run_dir,
                           timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            die("workload run exceeded its time limit, see " + log_path, 3)
    res_path = os.path.join(run_dir, "result.json")
    if not os.path.exists(res_path):
        die("harness wrote no result, see " + log_path, 3)
    with open(res_path) as f:
        res = json.load(f)
    if "fatal" in res:
        die("harness failed: %s (see %s)" % (res["fatal"], log_path), 3)
    if res["failed_triggers"]:
        die("the stream failed: %s (see %s)" % (res.get("stream_error", "timed out"), log_path), 3)

    # ------------------------------------------------ checks
    t_jvm = time.time()
    live = a.workload == "route_live"
    wh = os.path.join(run_dir, "run", "wh")
    landed = [ledger_by_file[f] for f in res["landed"]]
    tables = LIVE_TABLES if live else list(FOLD_MIX)
    ck = check.Checker(os.path.join(run_dir, "run", "input"))
    failures = ck.routing(wh, tables, landed)
    attempted = len(tables) + 1
    if not live:
        failures += ck.stores(wh, res["landed"])
        attempted += 5
    answers = res["results"] + res.get("trace_results", [])
    for n in sorted({r["landed"] for r in answers}):
        failures += ck.answers(res["landed"][:n], [r for r in answers if r["landed"] == n],
                               plan["queries"])
    attempted += len(answers) + len(res["progress"])
    if a.trace:
        failures += ck.same_warehouse(wh, os.path.join(run_dir, "replay", "wh"))
        attempted += 1
    failed = len(failures)
    t_check = time.time()

    # ------------------------------------------------ metrics
    details = {"workload": a.workload, "seed": a.seed, "cpus": cpus, "cores": cores,
               "wall_s": {"generate": t_gen - started, "jvm": t_jvm - t_gen,
                          "check": t_check - t_jvm}}
    marks = list(res["marks"].items())
    details["phases_s"] = {k: (v - marks[i - 1][1]) / 1000.0 for i, (k, v) in enumerate(marks) if i}
    ingest, ingest_ms, rate, d = ingest_metrics(a.workload, plan, res, ledger_by_file)
    details.update(d)
    details["ingest_ms"], details["ingest_per_s"] = ingest_ms, rate
    details["ingest_tail"] = tail(ingest)
    details["read_ms"], d = read_metrics(plan, res)
    details.update(d)
    details["host"] = host_steps(res["host"])
    setups = [host_steps(pair)[0] for pair in res["setup_host"]]
    details["setup_wall_s"] = [st["wall_ms"] / 1000.0 for st in setups]
    details["setup_cpu_s"] = [st["cpu_ms"] / 1000.0 for st in setups]
    ingest_cpu, read_cpu, d = cpu_metrics(plan, details["host"], ledger_by_file)
    details.update(d)
    details["layout"] = layout(wh)
    details["rows_routed"] = sum(n for e in landed for t, n in e["counts"].items() if t != "_dead")
    details["rows_dead"] = sum(e["counts"].get("_dead", 0) for e in landed)
    details["error_rate"] = failed / float(attempted)
    if failures:
        details["failures"] = failures[:20]
    e2e = {"setup_s": statistics.median(details["setup_wall_s"]),
           "ingest_cpu_ms": ingest_cpu, "read_cpu_ms": read_cpu,
           "storage_bytes_ratio": dir_bytes(wh) / float(sum(e["bytes"] for e in landed))}

    if a.trace:
        metrics, units = layers.per_layer(a.workload, res, details), layers.UNITS
    else:
        metrics, units = e2e, dict(END_TO_END)
    print(json.dumps({"details": details}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    if failed:
        sys.exit(1)
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
