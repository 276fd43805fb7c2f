"""Layered benchmark for kaggle_ecommerce_etl_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload analytics|similarity|etl \\
        --seed N --seconds S --trace 0|1

One run: generate the inputs, start one SparkSession on
``local[<nproc>]``, warm up with an untimed pass that also checks every
output, then run closed-loop passes (one client, the next operation
starts when the previous one has finished) for at least ``--seconds``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` also records
spans, job groups and Spark's event log, and reports the per-layer
metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the full record is
written to ``.perfbench-out/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("analytics", "similarity", "etl")
#: etl drops are generated for at most this many timed passes
ETL_MAX_PASSES = 3
#: tables bench.trivial_canary and bench.shuffle_canary read; the
#: canaries run in traced runs only, to keep the gated runs short
CANARY_TABLES = ("nation", "lineitem")
#: files the benchmark imports from the repository
ENGINE_FILES = ("kaggle_ecommerce_etl_spark/__init__.py", "bench.py",
                "scripts/check_oracle.py")

#: end-to-end metrics on the result line (``--trace 0``); peak_rss_mb
#: and failed_ratio are in the detail record only (see README)
END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "rows_per_s": "rows/s",
}
#: per-layer metrics that every workload exercises (reported with --trace 1)
PER_LAYER_UNITS = {
    "session.start_s": "s", "spark.job_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def reset_peak_rss(pids) -> bool:
    """Reset VmHWM (Linux clear_refs 5); False where not permitted."""
    try:
        for pid in pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (the
    steal column of /proc/stat), summed over all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def make_dirs(run_dir: str) -> dict[str, str]:
    dirs = {k: os.path.join(run_dir, k) for k in (
        "tmp", "spark-local", "data", "drops", "cleaned", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    return dirs


def start_session(dirs: dict, trace: bool):
    """The SparkSession the engine's get_spark builds, with this run's
    local and event-log directories. Returns (spark, seconds to first
    action)."""
    from kaggle_ecommerce_etl_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": dirs["spark-local"]}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_jvm(sc) -> None:
    """End the driver JVM the session launched and wait for it to exit
    (its Python workers exit with it)."""
    proc = sc._gateway.proc
    sc._gateway.shutdown()
    proc.terminate()
    proc.wait(timeout=60)


def host_context(spark) -> dict:
    from bench import host_uptime_sec

    sc = spark.sparkContext
    return {
        "nproc": nproc(),
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark_version": spark.version,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
        "host_uptime_s": host_uptime_sec(),
    }


def canaries(spark, data_dir: str) -> dict:
    from bench import shuffle_canary, trivial_canary

    t0 = time.perf_counter()
    out = {"trivial_s": trivial_canary(spark, data_dir),
           "shuffle_s": shuffle_canary(spark, data_dir)}
    out["wall_s"] = time.perf_counter() - t0
    return out


def layer_metrics(kind: str, traced: list[dict], spans: list[dict],
                  fold: dict[str, dict]) -> dict:
    """Per-layer numbers for each traced pass, then their median."""
    from perfbench.trace import FOLD_KEYS

    per_pass = []
    for p in traced:
        prefix = f"p{p['pass']}."
        dur: dict[str, float] = {}
        for s in spans:
            if s["op"] and s["op"].startswith(prefix):
                dur[s["name"]] = dur.get(s["name"], 0.0) + s["dur"]
        folded = dict.fromkeys(FOLD_KEYS, 0)
        for group, vals in fold.items():
            if group.startswith(prefix):
                for k in FOLD_KEYS:
                    folded[k] += vals[k]
        ops = p["ops"]
        if kind == "etl":
            counts = [r.get("jobs", {}) for r in ops]
        else:
            counts = [r.get("construct", {}) for r in ops] + [
                r.get("action", {}) for r in ops]
        m = {
            "spark.jobs": sum(c.get("jobs", 0) for c in counts),
            "spark.stages": sum(c.get("stages", 0) for c in counts),
            "spark.tasks": sum(c.get("tasks", 0) for c in counts),
            "spark.job_s": folded["job_wall_s"],
            "spark.executor_run_s": folded["executor_run_s"],
            "spark.executor_cpu_s": folded["executor_cpu_s"],
            "spark.gc_s": folded["gc_s"],
            "spark.shuffle_read_bytes": folded["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": folded["shuffle_write_bytes"],
            "spark.spill_bytes": folded["spill_bytes"],
            "spark.python_bytes": folded["python_bytes"],
            "spark.python_run_s": folded["python_run_s"],
        }
        if kind == "etl":
            offered = sum(sum(r.get("offered", {}).values()) for r in ops)
            appended = sum(sum(r.get("appended", {}).values()) for r in ops)
            raw = sum(r.get("raw_bytes", 0) for r in ops)
            m.update({
                "sources.read_s": dur.get("sources.read", 0.0),
                "pipelines.run_batch_s": dur.get("pipelines.run_batch", 0.0),
                "pipelines.clean_s": dur.get("pipelines.clean", 0.0),
                "sinks.csv_write_s": dur.get("sinks.csv_write", 0.0),
                "sinks.csv_bytes_per_input_byte":
                    sum(r.get("csv_bytes", 0) for r in ops) / raw if raw else 0.0,
                "sinks.jdbc_upsert_s": dur.get("sinks.jdbc_upsert", 0.0),
                "sinks.appended_ratio": appended / offered if offered else 0.0,
                "sinks.rows_offered": offered,
                "etl.jobs_per_drop": m["spark.jobs"] / len(ops),
            })
        else:
            m.update({
                "queries.construct_s": dur.get("queries.construct", 0.0),
                "queries.construct_jobs": sum(
                    r.get("construct", {}).get("jobs", 0) for r in ops),
                "spark.action_s": dur.get("spark.action", 0.0),
                "spark.plan_s": sum(r.get("plan_s", 0.0) for r in ops),
            })
        per_pass.append(m)
    return {k: median([m[k] for m in per_pass]) for k in per_pass[0]}


def drop_brief(drop: dict) -> dict:
    again = drop["redelivery_of"]
    return {"drop": os.path.basename(drop["dir"]), "raw_rows": drop["raw_rows"],
            "redelivery_of": again and os.path.basename(again)}


def run(args, dirs: dict, detail: dict) -> dict:
    from check_oracle import normalize

    from perfbench import datagen
    from perfbench.stats import latency_summary
    from perfbench.trace import Tracer, fold_event_log
    from perfbench.workloads import (
        ANALYTICS,
        SIMILARITY,
        EtlWorkload,
        QueryWorkload,
    )

    rng = random.Random(args.seed)
    t0 = time.perf_counter()
    if args.workload == "etl":
        wl = EtlWorkload(dirs["data"], dirs["drops"], dirs["cleaned"],
                         f"perfbench_{os.getpid()}_{time.time_ns()}")
        tables, rows = ["orders"], {"orders": datagen.ETL_ORDERS_ROWS}
    else:
        names = ANALYTICS if args.workload == "analytics" else SIMILARITY
        wl = QueryWorkload(names, dirs["data"])
        tables, rows = wl.tables(), None
    if args.trace:
        tables = sorted(set(tables) | set(CANARY_TABLES))
    datagen.generate_tables(dirs["data"], tables, rows)
    if args.workload == "etl":
        wl.prepare(args.seed, ETL_MAX_PASSES)
        detail["etl_plan"] = {
            "salt": wl.plan["salt"], "keys_per_drop": datagen.DROP_KEYS,
            "warmup_keys": datagen.WARMUP_KEYS,
            "warmup": drop_brief(wl.plan["warmup"]),
            "passes": [[drop_brief(d) for d in seq] for seq in wl.plan["passes"]]}
    detail["input_generation_s"] = time.perf_counter() - t0
    if args.workload != "etl":
        detail["oracle_s"] = wl.prepare(normalize)

    tracer = Tracer(enabled=False)
    steal0 = cpu_steal_s()
    spark, session_s = start_session(dirs, bool(args.trace))
    sc = spark.sparkContext
    pids = [os.getpid(), sc._gateway.proc.pid]
    checks: list[dict] = []
    try:
        detail["host"] = host_context(spark)
        t0 = time.perf_counter()
        if args.workload == "etl":
            checks = wl.warm_up(spark, tracer)
            warm_s = time.perf_counter() - t0
        else:
            order = list(wl.names)
            rng.shuffle(order)
            checks, warm_s = wl.check_pass(spark, order, normalize)
        detail["warmup_s"] = warm_s
        detail["session_start_s"] = session_s
        setup_s = session_s + warm_s
        detail["host"]["steal_setup_s"] = cpu_steal_s() - steal0
        if args.trace:
            detail["canary_pre"] = canaries(spark, dirs["data"])

        rss_reset = reset_peak_rss(pids)
        steal0 = cpu_steal_s()
        passes: list[dict] = []
        t_start = time.perf_counter()
        pass_no = 0
        while True:
            traced = bool(args.trace) and pass_no % 2 == 1
            tracer.enabled = traced
            pass_no += 1
            if args.workload == "etl":
                ops = wl.run_pass(spark, pass_no, tracer)
                pass_rows = sum(r["raw_rows"] for r in ops)
            else:
                order = list(wl.names)
                rng.shuffle(order)
                ops = wl.run_pass(spark, order, tracer, pass_no)
                pass_rows = wl.pass_rows()
            # operations run back to back; the benchmark's own
            # bookkeeping between them is not part of the pass
            passes.append({"pass": pass_no, "traced": traced,
                           "s": sum(r["s"] for r in ops),
                           "rows": pass_rows, "ops": ops})
            # whole passes until --seconds have elapsed; a traced run
            # needs one untraced and one traced pass
            elapsed = time.perf_counter() - t_start
            if elapsed >= args.seconds and (
                    not args.trace or any(p["traced"] for p in passes)):
                break
            if args.workload == "etl" and pass_no == wl.max_passes:
                break
        tracer.enabled = False
        detail["measured_s"] = time.perf_counter() - t_start
        detail["host"]["steal_measured_s"] = cpu_steal_s() - steal0
        rss = peak_rss_mb(pids)
        detail["peak_rss_reset"] = rss_reset
        if args.trace:
            detail["canary_post"] = canaries(spark, dirs["data"])
        if args.workload == "etl":
            finals = wl.final_check(spark, normalize)
            checks += finals
            detail["warehouse"] = finals
        else:
            detail["checks"] = checks
    finally:
        t0 = time.perf_counter()
        spark.stop()
        stop_jvm(sc)
        detail["stop_s"] = time.perf_counter() - t0

    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    lat = [r["s"] for p in untraced for r in p["ops"]]
    summ = latency_summary(lat)
    pass_s = median([p["s"] for p in untraced])
    metrics = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "op_p50_s": summ["p50"],
        "op_tail_s": summ["tail"],
        "rows_per_s": median([p["rows"] / p["s"] for p in untraced]),
        "peak_rss_mb": rss,
    }
    all_ops = [r for p in passes for r in p["ops"]]
    failed_ops = [r for r in all_ops if not r["ok"]]
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = len(all_ops) + len(checks)
    failed = len(failed_ops) + len(failed_checks)
    detail.update({
        "passes": [{k: p[k] for k in ("pass", "traced", "s", "rows")}
                   for p in passes],
        "op_latency": {"n": summ["n"], "tail_pct": summ["tail_pct"]},
        "per_op_median_s": {
            name: median([r["s"] for p in untraced for r in p["ops"]
                          if r["op"] == name])
            for name in sorted({r["op"] for r in all_ops})},
        "failed_ratio": failed / attempted,
        "failures": [{"op": r.get("id", r["op"]), "why": r.get("why")}
                     for r in failed_ops + failed_checks],
        "end_to_end": metrics,
    })
    if args.trace:
        logs = os.listdir(dirs["eventlog"])
        fold = fold_event_log(os.path.join(dirs["eventlog"], logs[0]))
        spans = tracer.with_self_times()
        layers = layer_metrics(args.workload, traced, spans, fold)
        layers["session.start_s"] = session_s
        layers["trace.overhead_s"] = median([p["s"] for p in traced]) - pass_s
        detail["per_layer"] = layers
        detail["job_groups"] = fold
        detail["trace_ops"] = [
            {k: v for k, v in r.items() if k != "why"}
            for p in traced for r in p["ops"]]
        detail["spans"] = spans
        report = {k: layers[k] for k in PER_LAYER_UNITS}
        units = PER_LAYER_UNITS
    else:
        report = {k: metrics[k] for k in END_TO_END_UNITS}
        units = END_TO_END_UNITS
    return result_line(failed == 0, attempted, failed, report, units)


def result_line(correct: bool, attempted: int, failed: int,
                values: dict, units: dict) -> dict:
    """The record the last stdout line carries."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in values.items()},
    }


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    for p in (ROOT, os.path.join(ROOT, "scripts")):
        sys.path.insert(0, p)

    out = os.path.join(ROOT, ".perfbench-out")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(out, f"run-{tag}-{os.getpid()}")
    dirs = make_dirs(run_dir)
    # every temp file, Spark local dir, derby.log and spark-warehouse/
    # of this run lands in run_dir
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData")
    tempfile.tempdir = None
    os.chdir(run_dir)
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace}
    try:
        result = run(args, dirs, detail)
    except Exception:  # noqa: BLE001 — a crashed run prints no result
        traceback.print_exc()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    detail["run_wall_s"] = time.perf_counter() - t_main
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    detail_path = os.path.join(out, "results", f"{tag}.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(f"perfbench {tag}: detail in {os.path.relpath(detail_path, ROOT)}")
    for name, m in result["metrics"].items():
        print(f"  {name:28s} {m['value']:14.4f} {m['unit']}")
    print(f"  {'peak_rss_mb':28s} {detail['end_to_end']['peak_rss_mb']:14.4f} MB")
    print(f"  {'failed_ratio':28s} {detail['failed_ratio']:14.4f} "
          f"({result['failed']}/{result['attempted']})")
    for f in detail["failures"]:
        print(f"FAILED {f['op']}: {f['why']}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
