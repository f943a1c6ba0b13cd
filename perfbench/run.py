#!/usr/bin/env python3
"""The benchmark's one command.

Usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the program. It builds the program and
the Spark harness from source (perfbench/build.py; skipped when nothing
changed), generates the seeded inputs in a separate single-threaded
process (perfbench/gen.py), starts a harness JVM up to a Spark session
three times (two JVMs stop there), runs the third to its end (a throwaway
query, one timed drain of the backlog, then closed-loop GMV queries;
traced, the registry gates too), checks every output against the oracle
(perfbench/oracle.py), and prints one JSON object as the last line of
stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
The line before it is the run report: wall-clock figures, sample counts,
failures by cause, and in a traced run its own end-to-end figures. The
timed phase is fixed work (one drain, 20 queries); --seconds is accepted
for the common benchmark interface and does not change it.
"""
import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Both workloads run the same operations (the gmall drain, then closed-loop
# GMV queries); they differ in how much backlog each drain gets.
WORKLOADS = {
    "backlog_drain": dict(sessions=3000, orders=800),
    "small_backlog": dict(sessions=1000, orders=250),
}
GMV_QUERIES = 20
GMV_WARMUP = 10
# JVMs that only set up, before the one that runs: setup_s is the median
SETUP_PROBES = 2
# a run must end within 180 s of its start, the one-time build excluded
JAVA_DEADLINE_S = 170
LAYERS_STREAM = ["BaseLog", "DbRouter", "StatefulStreams.uvDedup",
                 "StatefulStreams.bounces", "OrderWide.join", "OrderWide.paymentWide"]
LAYERS_BATCH = ["Sinks.upsert", "OrderWide.enrich", "DwsStats.visitor", "DwsStats.product",
                "DwsStats.keyword", "DwsStats.province", "ServingApi.writeStats",
                "ServingApi.gmvAt"]
STATEFUL = ["StatefulStreams.uvDedup", "StatefulStreams.bounces", "OrderWide.join",
            "OrderWide.paymentWide"]
PLANNED = LAYERS_STREAM + ["DwsStats.visitor", "DwsStats.product", "DwsStats.keyword",
                           "DwsStats.province", "ServingApi.gmvAt"]
UNITS = {"setup_s": "s", "events_per_cpu_s": "1/s", "gmv_query_cpu_ms": "ms",
         "heap_live_mb": "MB"}
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def middle_mean(xs):
    """Mean of the middle half: robust to a call that shares its time with
    a GC or a background burst, and finer than the CPU clock's 10 ms."""
    xs = sorted(xs)
    k = len(xs) // 4
    return statistics.mean(xs[k:len(xs) - k])


def main():
    t_cmd = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep .bench_work for inspection")
    ap.add_argument("--cpus", type=int, default=min(4, os.cpu_count() or 1),
                    help="Spark local[N]; the default is min(4, nproc)")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        die(f"no program sources in {root}: run from the root of a checkout")
    cpu_before_build = time.process_time()
    try:
        cp, build_s = build.build(root)
    except Exception as ex:  # noqa: BLE001 - any build failure ends the run
        die(f"build failed: {ex}")
    work = os.path.join(root, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    build_s += ensure_archive(a, cp, root, os.path.join(work, "archive"))
    # the runner's own CPU time in the build, which set-up excludes
    a.build_cpu_s = time.process_time() - cpu_before_build
    try:
        report, final = run(a, WORKLOADS[a.workload], cp, work, t_cmd, build_s)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(final))


def ensure_archive(a, cp, root, work):
    """Make the JVM class-data archive of this build, once: an untimed pass
    of the harness over a tiny input, with the same classpath and flags as
    the timed runs, records every class it loads (Spark, the program, the
    harness). Later runs map those classes instead of loading and
    verifying them again. Returns the seconds it took (part of the build)."""
    path = build.archive_path(root)
    if os.path.exists(path):
        return 0.0
    t0 = time.time()
    os.makedirs(work)
    tiny = argparse.Namespace(seed=0, cpus=a.cpus, trace=1)
    if finish(start_generator(tiny, dict(sessions=200, orders=60), work), 120) == 0:
        jvm, log = start_harness(tiny, cp, work, [f"-XX:ArchiveClassesAtExit={path}"])
        rc = finish(jvm, 600)
        log.close()
        if rc != 0 and os.path.exists(path):
            os.remove(path)
    if not os.path.exists(path):
        sys.stderr.write("perfbench: no class-data archive made; runs load every class\n")
    shutil.rmtree(work, ignore_errors=True)
    return time.time() - t0


def start_generator(a, w, work):
    """The input, written by one single-threaded generator process."""
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1")
    return subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), "--out", work,
                             "--seed", str(a.seed), "--ods-sessions", str(w["sessions"]),
                             "--ods-orders", str(w["orders"])],
                            env=env, stdout=subprocess.DEVNULL)


def start_harness(a, cp, work, archive=None, setup_only=False):
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    if archive is None:
        path = build.archive_path(os.getcwd())
        archive = [f"-XX:SharedArchiveFile={path}"] if os.path.exists(path) else []
    # C1 only: a run is one short-lived JVM, in which C2 compilations
    # took about half the drain's CPU time and rarely paid back
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           *archive, *opens,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Djava.io.tmpdir={local}",
           "-cp", os.pathsep.join(cp), "graft.perfbench.Main",
           "--work", work, "--day", gen.DAY, "--day-int", str(gen.DAY_INT),
           "--cpus", str(a.cpus), "--gmv-queries", str(GMV_QUERIES),
           "--gmv-warmup", str(GMV_WARMUP),
           "--log-per-trigger", str(gen.LOG_FILES_PER_TRIGGER),
           "--db-per-trigger", str(gen.DB_FILES_PER_TRIGGER),
           "--trace", str(a.trace), "--setup-only", "1" if setup_only else "0"]
    log = open(os.path.join(work, "jvm.log"), "w")
    return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work), log


def finish(p, timeout):
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return "timeout"


def children_cpu_s():
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return ru.ru_utime + ru.ru_stime


def harness(a, cp, work, deadline, setup_only=False):
    """Run one harness JVM to its end; returns the seconds from its launch
    until its Spark session was up, and the file it wrote."""
    launch = time.time()
    jvm, log = start_harness(a, cp, work, setup_only=setup_only)
    try:
        rc = finish(jvm, deadline - time.time())
    finally:
        if jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"Spark harness failed ({rc})")
    out = json.load(open(os.path.join(work, "setup.json" if setup_only else "result.json")))
    return out["session_ready_ms"] / 1000.0 - launch, out


def run(a, w, cp, work, t_cmd, build_s):
    deadline = t_cmd + build_s + JAVA_DEADLINE_S
    # set-up is counted in CPU seconds of every process that does it (the
    # runner, the generator, the JVMs up to the timed phase): on this
    # shared host its wall time doubled with the neighbours' load
    pre_cpu_s = time.process_time() - a.build_cpu_s
    t_gen, gen_cpu0 = time.time(), children_cpu_s()
    rc = finish(start_generator(a, w, work), 120)
    if rc != 0:
        die(f"input generator failed ({rc})")
    gen_s, gen_cpu_s = time.time() - t_gen, children_cpu_s() - gen_cpu0
    # a JVM's start-up to a Spark session, the bulk of the set-up, is
    # measured several times: SETUP_PROBES JVMs stop there, the last one
    # goes on to the throwaway query and the timed phase
    setups, setups_cpu = [], []
    for i in range(SETUP_PROBES):
        probe = os.path.join(work, f"setup-{i}")
        os.makedirs(probe)
        wall, out = harness(a, cp, probe, deadline, setup_only=True)
        setups.append(wall)
        setups_cpu.append(out["session_ready_cpu_ms"] / 1000.0)
        shutil.rmtree(probe, ignore_errors=True)
    main_setup, r = harness(a, cp, work, deadline)
    setups.append(main_setup)
    setups_cpu.append(r["session_ready_cpu_ms"] / 1000.0)
    first_query_cpu_s = (r["ready_cpu_ms"] - r["session_ready_cpu_ms"]) / 1000.0

    # ---- checks against the oracle
    meta = json.load(open(os.path.join(work, "ods", "meta.json")))
    e = oracle.Expected(os.path.join(work, "ods"))
    gmv = r["gmv"]  # per call: wall ms, GMV, files read, process CPU ms
    attempted, failed, stale, problems = oracle.check_round(e, r["out"], [g[1] for g in gmv])
    # the registry gates run in traced runs only; a wrong gate result makes
    # the run incorrect without changing what it attempts
    gate_problems = oracle.check_gates(os.path.join(work, "sf"), os.path.join(work, "gates"),
                                       r["gates"])
    r["outputs"] = oracle.output_rows(e.con, r["out"])

    # ---- metrics: wall clock on this shared host swings with its load, so
    # the bounded metrics are CPU-based; wall figures go in the report
    gmv_ms = [g[0] for g in gmv]
    e2e = {
        "setup_s": pre_cpu_s + gen_cpu_s + median(setups_cpu) + first_query_cpu_s,
        "events_per_cpu_s": meta["records"] / (r["drain_cpu_ms"] / 1000.0),
        "gmv_query_cpu_ms": middle_mean([g[3] for g in gmv]),
        "heap_live_mb": r["heap_live_mb"],
    }
    report = {
        "report": a.workload, "seed": a.seed, "trace": a.trace, "records": meta["records"],
        "wall": {"events_per_s": meta["records"] / (r["drain_ms"] / 1000.0),
                 "gmv_query_p50_ms": median(gmv_ms)},
        "samples": {"gmv_query_p50_ms": len(gmv_ms), "gmv_query_cpu_ms": len(gmv_ms)},
        "attempted": attempted, "failed": failed,
        "failed_by_cause": {"stale_dim": stale, "other": failed - stale},
        "problems": problems[:10], "gate_problems": gate_problems,
        "build_s": round(build_s, 1), "gen_s": gen_s, "setups_s": setups,
        "first_query_s": (r["ready_ms"] - r["session_ready_ms"]) / 1000.0,
        "setup_cpu_s": {"runner": pre_cpu_s, "generator": gen_cpu_s, "jvms": setups_cpu,
                        "first_query": first_query_cpu_s},
        "drain_s": r["drain_ms"] / 1000.0, "drain_cpu_s": r["drain_cpu_ms"] / 1000.0,
        "timed_s": (r["timed_end_ms"] - r["first_timed_ms"]) / 1000.0,
        "gates_ms": {g["gate"]: round(g["ms"], 1) for g in r["gates"]},
        "gates_cpu_ms": {g["gate"]: round(g["cpu_ms"], 1) for g in r["gates"]},
    }
    if a.trace:
        layers = per_layer(r, e)
        layers["traced.events_per_cpu_s"] = (e2e["events_per_cpu_s"], "1/s")
        layers["traced.gmv_query_cpu_ms"] = (e2e["gmv_query_cpu_ms"], "ms")
        report["traced_end_to_end"] = e2e
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    final = {"correct": not problems and not gate_problems, "attempted": attempted,
             "failed": failed, "metrics": metrics}
    return report, final


def per_layer(r, e):
    """Per-layer metrics from the traced run's roll-up."""
    def lay(name, key):
        return float(r["trace"]["layers"].get(name, {}).get(key, 0))

    def q(name, key):
        return float(r["trace"]["queries"][name][key])

    def jobs_of(L, key):  # a hop's own jobs plus its streaming engine's
        return lay(L, key) + lay("hop." + L, key)

    m = {}
    out = r["outputs"]
    for L in LAYERS_STREAM + LAYERS_BATCH:
        if L in LAYERS_STREAM:
            m[f"{L}.busy_ms"] = (lay(L, "wall_ms"), "ms")
            m[f"{L}.overhead_ms"] = (q(L, "trigger_ms") - q(L, "add_batch_ms"), "ms")
        else:
            m[f"{L}.busy_ms"] = (lay(L, "job_ms"), "ms")
            m[f"{L}.overhead_ms"] = (lay(L, "wall_ms") - lay(L, "job_ms"), "ms")
        m[f"{L}.jobs"] = (jobs_of(L, "jobs"), "count")
        m[f"{L}.shuffle_bytes"] = (jobs_of(L, "shuffle_bytes"), "bytes")
        m[f"{L}.gc_ms"] = (jobs_of(L, "gc_ms"), "ms")
        m[f"{L}.cpu_ms"] = (jobs_of(L, "task_cpu_ms"), "ms")
    for L in STATEFUL:
        m[f"{L}.state_rows"] = (q(L, "state_rows"), "count")
        m[f"{L}.state_commit_ms"] = (q(L, "state_commit_ms"), "ms")
    for L in PLANNED:
        m[f"{L}.plan_ms"] = (q(L, "planning_ms") if L in LAYERS_STREAM
                             else float(r["plan_ms"].get(L, 0)), "ms")
    m["BaseLog.dirty_rows"] = (float(out["dwd_dirty"]), "count")
    m["OrderWide.join.match_ratio"] = (
        r["rows_out"].get("OrderWide.join", 0) / max(1, e.detail_rows), "ratio")
    m["OrderWide.enrich.dim_read_ms"] = (lay("OrderWide.enrich", "broadcast_job_ms"), "ms")
    m["Sinks.upsert.rows_upserted"] = (float(e.dim_upserts), "count")
    m["Sinks.upsert.rewrite_ratio"] = (
        lay("Sinks.upsert", "records_written") / max(1, e.dim_upserts), "ratio")
    m["ServingApi.gmvAt.files_scanned"] = (float(median([g[2] for g in r["gmv"]])), "count")
    for g in r["gates"]:
        L = f"{g['module']}.{g['gate']}"
        m[f"{L}.ms"] = (g["ms"], "ms")
        m[f"{L}.jobs"] = (lay(L, "jobs"), "count")
        m[f"{L}.shuffle_bytes"] = (lay(L, "shuffle_bytes"), "bytes")
        m[f"{L}.driver_gap_ms"] = (lay(L, "wall_ms") - lay(L, "job_ms"), "ms")
    return m


if __name__ == "__main__":
    main()
