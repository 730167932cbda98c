#!/usr/bin/env python3
"""Per-query latency benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/build.sbt`, through sbt) and derives the x10 corpus
from the sf0.1 fixture in `perfbench/data/sf0.1`, both into the build
directory (`$CARGO_TARGET_DIR`, default `.bench_build`); later runs reuse
both while their sources are unchanged.

Each run starts one JVM; `setup_s` is the time from its start until the
session is built and the engine warm-up is done. It then runs the
workload's queries under the cold, count and noop protocols (see
perfbench/README.md), digests every output and compares it with
`perfbench/expected.json`. The last line of standard
output is one JSON object: the end-to-end metrics with `--trace 0`, the
per-layer metrics from a traced run with `--trace 1`.
"""
import argparse
import hashlib
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170

# Per workload: its input, the seconds one timed round of a count and a
# noop pass takes on a 4-core box, and its queries (why each was chosen:
# perfbench/README.md). A run times ceil(seconds / round) rounds.
WORKLOADS = {
    "inventory_sf0.1": ("sf0.1", 6.0, [
        "scan_partitioned_prune", "join_left", "agg_rollup", "sort_multi", "win_rank_dense",
        "fn_hash", "udtf_generator", "ev_tumbling", "ev_tumbling_stream", "llm_exact_dedup",
        "llm_knn_batch", "llm_lang_filter", "llm_simhash", "llm_langid", "llm_cos_neardup",
        "mm_decode_stub", "llm_redact",
    ]),
    "heavy_x10": ("x10", 4.0, [
        "win_rank_dense", "fn_json", "llm_exact_dedup", "scan_partitioned_prune",
    ]),
}

E2E = [("setup_s", "s")] + [
    (f"{p}_{s}_s", "s") for p in ("cold", "count", "noop") for s in ("total", "p50")
] + [("scratch_mb", "MB"), ("heap_live_mb", "MB")]

# Every query-owning module but Graph, whose queries cost 6-11 s cold at
# sf0.1 and do not fit a run.
MODULES = ["Scans", "Joins", "Aggregates", "SortSet", "Windows", "Scalars",
           "Udfs", "Events", "StreamDemo", "Dedup", "Similarity", "TextStats",
           "TextHash", "LangId", "Ann", "Multimodal", "Curation"]

# Per-layer metric -> (unit, how it aggregates over a pass's queries,
# the per-query quantity the JVM reports).
LAYER_BASE = [
    ("api.build_s", "s", "sum", "build_s"),
    ("fitonce.fill_jobs", "count", "sum", "fill_jobs"),
    ("tables.scratch_mb", "MB", "pass", "scratch_growth_mb"),
    ("catalyst.optimize_s", "s", "sum", "optimize_s"),
    ("catalyst.planning_s", "s", "sum", "planning_s"),
    ("catalyst.wscg_stages", "count", "sum", "wscg_stages"),
    ("codegen.compile_s", "s", "sum", "compile_s"),
    ("sched.jobs", "count", "sum", "jobs"),
    ("sched.stages", "count", "sum", "stages"),
    ("sched.tasks", "count", "sum", "tasks"),
    ("sched.driver_gap_s", "s", "sum", "driver_gap_s"),
    ("sched.max_concurrent_tasks", "count", "max", "max_concurrent_tasks"),
    ("sched.slot_util", "ratio", "slot", None),
    ("exec.run_s", "s", "sum", "run_s"),
    ("exec.cpu_s", "s", "sum", "cpu_s"),
    ("exec.gc_s", "s", "sum", "gc_s"),
    ("exec.deser_s", "s", "sum", "deser_s"),
    ("shuffle.write_mb", "MB", "sum", "shuffle_write_mb"),
    ("shuffle.read_mb", "MB", "sum", "shuffle_read_mb"),
    ("shuffle.fetch_wait_s", "s", "sum", "fetch_wait_s"),
    ("spill.mb", "MB", "sum", "spill_mb"),
    ("scan.input_mb", "MB", "sum", "input_mb"),
    ("scan.input_rows", "count", "sum", "input_rows"),
] + [(f"mod.{m}_s", "s", "module", m) for m in MODULES]
LAYER_EXTRA = [
    ("cold.fitonce.fill_s", "s"),
    ("cold.catalyst.analysis_s", "s"),
    ("count.catalyst.pruned_queries", "count"),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tree_digest(root, rels):
    """sha256 over the names and contents of the files under `rels`."""
    h = hashlib.sha256()
    for rel in rels:
        top = os.path.join(root, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cached(stamp_file, stamp, make):
    """Runs `make` unless `stamp_file` already records `stamp`."""
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    make()
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build(root, bd):
    """Compiles engine and harness; returns the runtime classpath."""
    srcs = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    cp_file = os.path.join(bd, "classpath.txt")

    def make():
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        with open(os.path.join(bd, "build.log"), "w") as log:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
                stderr=log, text=True, timeout=800)
        lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
        if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
            fail(f"build failed (see {bd}/build.log):\n" + "\n".join(lines[-20:]))
        with open(cp_file, "w") as fh:
            fh.write(lines[-1].strip())

    cached(os.path.join(bd, "classpath.stamp"), tree_digest(root, srcs), make)
    return open(cp_file).read()


def java_cmd(cp, bd, main, *args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
            ["-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(bd, 'tmp')}", "-cp", cp, main] + list(args))


def inputs(root, bd, cp):
    """Checks the sf0.1 corpus against its checksums and derives the x10
    corpus from it; returns their dirs."""
    base = os.path.join(HERE, "data", "sf0.1")
    with open(os.path.join(base, "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            with open(os.path.join(base, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != want:
                    fail(f"input {name} does not match perfbench/data/sf0.1/SHA256SUMS")
    data = os.path.join(bd, "data")
    os.makedirs(data, exist_ok=True)
    synth = os.path.join(data, "synth")
    x10 = os.path.join(synth, "target", "crossover", "x10")
    probe = "src/main/scala/graft/tools/CrossoverProbe.scala"

    def make_x10():
        subprocess.run(["rm", "-rf", synth], check=True)
        os.makedirs(synth)
        tables = ["lineitem", "orders", "customer", "supplier", "part", "events",
                  "documents", "embeddings", "nation", "region"]
        with open(os.path.join(bd, "synth.log"), "w") as log:
            r = subprocess.run(
                java_cmd(cp, bd, "graft.tools.SynthTables", "10", *tables),
                cwd=synth, env=dict(os.environ, SPARK_GRAFT_SF_DIR=base),
                stdout=log, stderr=log, timeout=600)
        if r.returncode != 0:
            fail(f"x10 synthesis failed (see {bd}/synth.log)")

    cached(os.path.join(data, "x10.stamp"),
           tree_digest(root, ["perfbench/data/sf0.1", probe]), make_x10)
    return {"sf0.1": base, "x10": x10}


def fingerprint(d):
    """A sha256 over the names and contents of every input file under `d`,
    and each table's file count and bytes. Reading every file also puts
    it in the page cache, so a cold query does not time the disk."""
    files = sorted(os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d)
                   for f in fs if not f.endswith(".crc") and f != "SHA256SUMS")
    h = hashlib.sha256()
    tables = {}
    for rel in files:
        with open(os.path.join(d, rel), "rb") as fh:
            data = fh.read()
        h.update(rel.encode() + b"\0" + data)
        t = rel.split(os.sep)[0]
        n, b = tables.get(t, (0, 0))
        tables[t] = (n + 1, b + len(data))
    return h.hexdigest()[:16], {t: {"files": n, "bytes": b} for t, (n, b) in sorted(tables.items())}


def box_state():
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    return int(cpu[8]) if len(cpu) > 8 else 0, load


def run_jvm(cmd, cwd, log, timeout):
    """Runs a JVM to completion; returns (exit code, seconds until it printed
    READY). Fails the run if it is not done within `timeout` seconds."""
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=log, text=True,
                         start_new_session=True)
    timer = threading.Timer(timeout, stop, [p])
    timer.start()
    ready = None
    for line in p.stdout:
        if ready is None and line.strip() == "PERFBENCH_READY":
            ready = time.monotonic() - t0
    p.wait()
    timer.cancel()
    if time.monotonic() - t0 >= timeout:
        fail(f"run exceeded {timeout:.0f} s")
    if ready is None:
        fail("JVM exited before its session was ready")
    return p.returncode, ready


def stop(p):
    """Stops the JVM, letting its shutdown hooks remove the scratch dirs."""
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGTERM)
        try:
            p.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
    p.wait()


def per_query(execs, protocol, traced, key=lambda e: e["wall_s"], reduce=statistics.median):
    """`reduce` over passes of `key` for each query's timed executions."""
    by = {}
    for e in execs:
        if e["protocol"] == protocol and e["traced"] == traced and (
                protocol == "cold" or e["pass"] >= 1):
            by.setdefault(e["query"], []).append(key(e))
    return {q: reduce(v) for q, v in by.items()}


def end_to_end(res, setup_s):
    # Per query the fastest timed pass: contention only adds time.
    m = {"setup_s": setup_s}
    for p in ("cold", "count", "noop"):
        t = list(per_query(res["executions"], p, False, reduce=min).values())
        m[f"{p}_total_s"] = sum(t)
        m[f"{p}_p50_s"] = statistics.median(t)
    m["scratch_mb"] = res["scratch_mb"]
    m["heap_live_mb"] = res["heap_live_mb"]
    return m


def per_layer(res):
    execs, nproc = res["executions"], res["nproc"]
    m = {}
    for p in ("cold", "count", "noop"):
        def q(k):
            return per_query(execs, p, True, lambda e: e["layers"].get(k, 0.0))
        walls = per_query(execs, p, True)
        for name, _, how, k in LAYER_BASE:
            if how == "sum":
                v = sum(q(k).values())
            elif how == "max":
                v = max(q(k).values(), default=0.0)
            elif how == "slot":
                union = sum(q("stage_union_s").values())
                v = sum(q("run_s").values()) / (union * nproc) if union else 0.0
            elif how == "module":
                v = sum(walls.get(x, 0.0) for x in res["modules"][k])
            else:
                v = statistics.median([x[k] for x in res["passes"] if x["protocol"] == p
                                       and x["timed"] and x["traced"]])
            m[f"{p}.{name}"] = v
    m["cold.fitonce.fill_s"] = res["fill_s"]
    m["cold.catalyst.analysis_s"] = sum(per_query(
        execs, "cold", True, lambda e: e["layers"].get("analysis_s", 0.0)).values())
    m["count.catalyst.pruned_queries"] = res["pruned_queries"]
    return m


def check(res, expected):
    """Failed executions plus outputs that differ from the expectations."""
    bad = [f"{e['protocol']}/{e['pass']}/{e['query']}: {e['error']}"
           for e in res["executions"] if e["error"]]
    for qn, d in res["digests"].items():
        want = expected.get(qn)
        if "error" in d or want is None or [d["rows"], d["hash"]] != [want["rows"], want["hash"]]:
            bad.append(f"check/{qn}: got {d}, expected {want}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala"))):
        fail("run from the root of a graft checkout (build.sbt and src/main are missing)")
    bd = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    for sub in ("tmp", "work", "results"):
        os.makedirs(os.path.join(bd, sub), exist_ok=True)

    cp = build(root, bd)
    dirs = inputs(root, bd, cp)
    data_key, round_s, queries = WORKLOADS[a.workload]
    rounds = max(1, math.ceil(a.seconds / round_s))
    data = dirs[data_key]
    fp_sha, fp_tables = fingerprint(data)

    steal0, load0 = box_state()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(bd, "results", tag + ".raw.json")
    if os.path.exists(out):
        os.remove(out)
    work = os.path.join(bd, "work")
    log_file = os.path.join(bd, "results", tag + ".log")
    with open(log_file, "w") as log:
        code, setup_s = run_jvm(
            java_cmd(cp, bd, "perfbench.Main", a.workload, dirs["sf0.1"], data, out,
                     str(a.seed), str(rounds), a.trace, ",".join(queries)),
            work, log, RUN_TIMEOUT_S)
    if code != 0 or not os.path.isfile(out):
        fail(f"benchmark JVM failed (exit {code}); see {log_file}")
    steal1, load1 = box_state()
    with open(out) as fh:
        res = json.load(fh)

    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    bad = check(res, expected.get(a.workload, {}))
    attempted = len(res["executions"]) + len(res["digests"])

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  queries {len(queries)}  "
          f"nproc {res['nproc']}")
    print(f"inputs {data_key} fingerprint {fp_sha} " + json.dumps(fp_tables, sort_keys=True))
    print(f"box steal_jiffies {steal1 - steal0}  loadavg {load0:.2f}->{load1:.2f}  "
          f"calib_s {res['calib_s']:.4f}  calib_mem_s {res['calib_mem_s']:.4f}")
    for x in res["passes"]:
        print(f"pass {x['protocol']:5s} {x['pass']:2d} timed={int(x['timed'])} "
              f"traced={int(x['traced'])} total_s {x['total_s']:.4f}")
    print(f"output check: {len(res['digests']) - sum(b.startswith('check/') for b in bad)}"
          f"/{len(res['digests'])} match")
    for b in bad:
        print(f"FAILED {b}")
    print(f"failed_frac {len(bad) / attempted:.6f} ({len(bad)}/{attempted})")

    if a.trace == "1":
        metrics = per_layer(res)
        units = {f"{p}.{n}": u for p in ("cold", "count", "noop") for n, u, _, _ in LAYER_BASE}
        units.update(LAYER_EXTRA)
        for p in ("count", "noop"):
            tr = sum(per_query(res["executions"], p, True).values())
            un = sum(per_query(res["executions"], p, False).values())
            print(f"trace overhead {p}: traced {tr:.4f} s, untraced {un:.4f} s, "
                  f"{tr - un:+.4f} s ({100 * (tr - un) / un:+.2f}%)")
            print(f"{p}.sched.driver_gap_s {metrics[p + '.sched.driver_gap_s']:.4f} s of "
                  f"{p}_total_s {tr:.4f} s (traced passes)")
        cold = sum(per_query(res["executions"], "cold", True).values())
        print(f"trace overhead cold: traced cold_total_s {cold:.4f} s; compare the "
              "untraced run's cold_total_s")
        jobs_ok = all(x["pass_total"] == x["per_query_sum"] for x in res["selftest_jobs"])
        print(f"selftest per-query sched.jobs sums to pass total: {jobs_ok} " +
              json.dumps(res["selftest_jobs"]))
        if not jobs_ok:
            bad.append("selftest")
        with open(os.path.join(bd, "results", tag + ".trace.json"), "w") as fh:
            json.dump(res["spans"], fh)
    else:
        metrics = end_to_end(res, setup_s)
        units = dict(E2E)
    for k in units:
        print(f"{k} = {metrics[k]:.6g} {units[k]}")
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
