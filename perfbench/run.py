#!/usr/bin/env python3
"""graft benchmark: three seeded, closed-loop workloads, one client each.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the benchmark harness from source (perfbench/build.sbt); later runs reuse
the build while no source is newer. Each run generates its inputs from
the seed, sets the engine up several times (session start plus one
untimed warm-up pass each), measures for about --seconds seconds,
checks every operation's output, and prints one JSON object as the
last line of standard output. --trace 0 reports the end-to-end metrics;
--trace 1 reports the per-layer metrics and writes the span file.

Every file a run writes stays under <checkout>/.bench_build/.
See perfbench/README.md for the workloads, metrics and sizes.
"""
import argparse
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
sys.dont_write_bytecode = True  # nothing written next to the sources

CORES = max(1, min(4, os.cpu_count() or 1))
SETUPS = 3

# Input sizes per workload (README.md, "Input sizes"); SMOKE is the tiny
# variant the benchmark's own tests run.
WORKLOADS = {
    "queries_short": {"list": "workloads/queries_short.txt", "sf": 0.1, "settle": 2},
    "queries_iterative": {"list": "workloads/queries_iterative.txt", "sf": 0.001, "settle": 1},
    "etl_incremental": {"dim": 10_000, "rows": 9_000, "http_rows": 1_000,
                        "novel": 500, "retry_share": 1 / 3, "settle": 6},
}
SMOKE = {
    "queries_short": {"sf": 0.001, "settle": 0},
    "queries_iterative": {"sf": 0.001, "settle": 0},
    "etl_incremental": {"dim": 2_000, "rows": 1_800, "http_rows": 200, "novel": 100,
                        "settle": 1},
}

END_TO_END = {
    "throughput_ops_per_s": "1/s", "latency_p50_s": "s",
    "rows_per_s": "1/s", "live_heap_mb": "MB", "setup_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "session.shuffle_partitions": "count",
    "build.s": "s", "build.jobs": "count",
    "plan.analysis_ms": "ms", "plan.optimize_ms": "ms", "plan.physical_ms": "ms",
    "codegen.compiles_per_op": "count", "codegen.compile_ms_per_op": "ms",
    "driver.jobs_per_op": "count", "driver.stages_per_op": "count",
    "driver.no_stage_running_s_per_op": "s", "driver.idle_core_share": "share",
    "exec.s": "s", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.tasks_per_op": "count", "exec.input_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B", "exec.spill_bytes": "B", "exec.peak_exec_mem_mb": "MB",
    "materialize.persisted_rdds_per_op": "count", "materialize.block_bytes": "B",
    "materialize.cache_bytes": "B",
    "etl.extract_s": "s", "etl.extract_rows": "count", "etl.http_requests": "count",
    "etl.http_retries": "count", "etl.keymap_s": "s", "etl.keymap_jobs": "count",
    "etl.novel_keys": "count", "etl.lookup_null_keys": "count", "etl.load_s": "s",
    "etl.rows_written": "count", "etl.jdbc_rows_per_s": "1/s",
    "etl.bytes_written_per_input_byte": "ratio",
    "trace.overhead_share": "share",
}
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        for dirpath, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
    return newest


def build():
    """Compiles engine and harness with sbt; returns the runtime classpath."""
    marker = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(marker) and os.path.getmtime(marker) >= newest_source_mtime():
        with open(marker) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    build_log = os.path.join(BUILD, "build.log")
    log("building engine and harness (sbt compile) ...")
    with open(build_log, "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime / fullClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = open(build_log).read().splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 1)
    cp = [l.strip() for l in lines if "scala-2.13" in l and os.pathsep in l and "[" not in l]
    if not cp:
        fail("build printed no classpath", 1)
    with open(marker, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def end_to_end(ops, rec):
    """End-to-end metrics of an untraced run.

    Operations of one kind (one query of the list, or one ETL batch)
    repeat within a run, so each kind contributes its median latency:
    a single operation slowed by a collection or a burst of host load
    does not move the figures. Throughput is the closed-loop rate at
    those medians, operations over the time they take.
    """
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], []).append(o)
    med = {k: statistics.median(o["lat"] for o in v) for k, v in kinds.items()}
    busy = sum(len(v) * med[k] for k, v in kinds.items())
    return {
        "throughput_ops_per_s": len(ops) / busy,
        "latency_p50_s": statistics.median(med.values()),
        "rows_per_s": sum(o["rows"] for o in ops) / busy,
        "live_heap_mb": rec["live_heap_mb"],
        "setup_s": statistics.median(rec["setup_s"]),
    }


def generate(name, cfg, data, seed, seconds):
    import gen
    t0 = time.perf_counter()
    if name == "etl_incremental":
        batches = 1 + cfg["settle"] + int(3 * seconds) + 4
        gen.gen_etl(data, seed, cfg["dim"], batches, cfg["rows"], cfg["http_rows"],
                    cfg["novel"], cfg["retry_share"])
        with open(os.path.join(data, "plan.json")) as f:
            plan = json.load(f)
        args = {"batches": batches, "rows": cfg["rows"], "http_rows": cfg["http_rows"],
                "refuse": ",".join(map(str, plan["refuse_first"]))}
    else:
        gen.gen_tables(data, cfg["sf"], seed)
        args = {"list": os.path.join(HERE, cfg["list"])}
    args["settle"] = cfg["settle"]
    return args, time.perf_counter() - t0


def run_jvm(classpath, work, kv):
    # A fixed heap: a heap that grows during the run collects more often
    # early on and makes the timed phase a warm-up curve.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "graft.bench.Main"]
    cmd += [f"{k}={v}" for k, v in kv.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=150)
        finally:  # never leave the engine process behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-25:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"benchmark process exited with code {p.returncode}", 3)
    with open(kv["out"]) as f:
        return json.load(f)


def check_ops(name, rec, data, work):
    """Marks every operation whose output disagrees with its oracle."""
    if name == "etl_incremental":
        return  # checked in the engine process against the reference KeyMap
    import oracle
    with open(os.path.join(work, "oracle.json")) as f:
        sqls = json.load(f)
    want = oracle.oracle_fingerprints(data, sqls, threads=CORES)
    for o in rec["ops"] + rec["warm"]:
        if o["ok"] and o["hash"] != want[o["name"]]:
            o["ok"] = False
            o["err"] = "result differs from oracle" if not want[o["name"]].startswith("error") \
                else want[o["name"]]
    bad_warm = [o["name"] for o in rec["warm"] if not o["ok"]]
    if bad_warm:
        log(f"warm-up pass: {len(bad_warm)} queries failed or mismatched: {', '.join(bad_warm[:10])}")


def main():
    # SIGTERM unwinds like Ctrl-C, so the engine process is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="plant one wrong result, which must be counted as failed")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one set-up (the benchmark's own tests)")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found: run from the root of a graft checkout")
    classpath = build()

    cfg = dict(WORKLOADS[a.workload], **(SMOKE[a.workload] if a.smoke else {}))
    work = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        extra, gen_s = generate(a.workload, cfg, data, a.seed, a.seconds)
        kv = {"workload": a.workload, "data": data, "work": work,
              "out": os.path.join(work, "record.json"), "seed": a.seed,
              "seconds": a.seconds, "trace": a.trace, "cores": CORES,
              "setups": 1 if a.smoke else SETUPS, "plant_wrong": int(a.plant_wrong), **extra}
        t0 = time.perf_counter()
        rec = run_jvm(classpath, work, kv)
        t1 = time.perf_counter()
        check_ops(a.workload, rec, data, work)
        log(f"inputs {gen_s:.1f} s, engine process {t1 - t0:.1f} s, "
            f"oracle check {time.perf_counter() - t1:.1f} s")
        ops = rec["ops"]
        failed = [o for o in ops if not o["ok"]]
        for o in failed[:5]:
            log(f"failed: {o['name']}: {o['err'][:300]}")
        lats = [o["lat"] for o in ops]
        n = len(ops)
        timed = rec["timed_s"]
        print(f"inputs generated in {gen_s:.2f} s; set-ups: "
              + ", ".join(f"{x:.3f}" for x in rec["setup_s"]) + " s")
        if a.trace == 0:
            # p90 is a metric only with at least 10 operations beyond it;
            # otherwise it is printed here for information.
            beyond = n - math.ceil(0.9 * n)
            p90 = statistics.quantiles(lats, n=10, method="inclusive")[8] if n > 1 else lats[0]
            print(f"{a.workload}: {n} operations in {timed:.2f} s; latency_p50_s over n={n}; "
                  f"latency_p90_s = {p90:.4f} s over n={n} with {beyond} beyond it"
                  + ("" if beyond >= 10 else " (under 10: reported p50 only)")
                  + f"; failed_ratio = {len(failed) / n:.4f}")
            metrics = end_to_end(ops, rec)
            units = END_TO_END
        else:
            layers = dict(rec["layers"])
            layers["session.start_s"] = statistics.median(rec["session_start_s"])
            layers["session.shuffle_partitions"] = rec["shuffle_partitions"]
            traced_tput = rec["traced_ops"] / timed
            ref_tput = rec["ref_ops"] / rec["ref_timed_s"]
            layers["trace.overhead_share"] = (ref_tput - traced_tput) / ref_tput
            metrics = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
            units = PER_LAYER
            spans_dir = os.path.join(BUILD, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            spans_file = os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.jsonl")
            with open(spans_file, "w") as f:
                for s in rec["spans"]:
                    f.write(json.dumps(s) + "\n")
            print(f"{a.workload}: traced {rec['traced_ops']} operations in {timed:.2f} s; "
                  f"span file: {os.path.relpath(spans_file, ROOT)}")
        for k in units:
            print(f"  {k} = {metrics[k]:.6g} {units[k]}")
        result = {"correct": not failed, "attempted": n, "failed": len(failed),
                  "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
        print(json.dumps(result), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
