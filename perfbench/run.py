"""CDC ingest benchmark: steady-state CoW/MoR upserts with a reader.

    python3 perfbench/run.py --workload upsert_cow --seed 1 --seconds 5 --trace 0

Run from the repository root. Drives the engine only through its public
functions (``feed.synth_cdc_feed``, ``streaming.ingest.apply_cdc_batch``,
``LakeTable`` create/read/lookup/maintenance/table_stats/commit/validate and
``contract.QUERIES``) and times each call from outside.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate run
with Spark's event log on and a job group around every call; it prints the
per-layer metrics, joined from the event log onto the benchmark's spans, and
also runs the curation queries. Both print, as the last stdout line, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``; the
line before it holds host, versions and check details. Full records
(spans, per-batch accounting) go under ``.bench_build/perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {"upsert_cow": "cow", "upsert_mor": "mor"}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def host_info() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def host_probe() -> dict:
    """``scripts/host_probe.py`` in a subprocess: the parallel capacity of
    the host right before a traced run (a covariate, not a gated metric)."""
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", "host_probe.py")],
            cwd=ROOT, capture_output=True, text=True, timeout=120, check=True,
        ).stdout
        return json.loads(out.strip().splitlines()[-1])
    except (subprocess.SubprocessError, ValueError, IndexError) as ex:
        return {"error": f"{type(ex).__name__}: {ex}"[:300]}


def start_spark(run_dir: str, nproc: int, mem_gb: float, trace: bool):
    from ais_etl_spark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        # a quarter of the host's memory, at most 8 GiB
        "spark.driver.memory": f"{max(1, min(8, int(mem_gb // 4)))}g",
        "spark.local.dir": tmp,
        # keep the JVM's temp and perf-data files inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(loop: dict, setup_s: float, final_bytes: int, live_rows: int) -> dict:
    b = loop["batches"]
    events = sum(x["events"] for x in b)
    writer_s = sum(x["apply_s"] for x in b) + loop["maint_s"]
    written = sum(x["bytes_added"] for x in b) + sum(m["bytes_added"] for m in loop["maint"])
    return {
        "ingest_events_per_s": (events / writer_s, "1/s"),
        "commit_s.p50": (median([x["apply_s"] for x in b]), "s"),
        "lookup_miss_ms.p50": (median(loop["misses_ms"]), "ms"),
        "scan_s.p50": (median(loop["scans_s"]), "s"),
        "bytes_written_per_event": (written / events, "B"),
        "table_bytes_per_live_row": (final_bytes / max(live_rows, 1), "B"),
        "setup_s": (setup_s, "s"),
    }


def per_layer(log, sites, tracer, loop: dict, setup: dict, queries: dict,
              e2e: dict, probe: dict) -> tuple[dict, list[dict]]:
    from perfbench import spans as S

    b = loop["batches"]
    events = sum(x["events"] for x in b) or 1
    by_batch = {s["batch"]: s for s in tracer.spans if s["name"] == "apply"}
    acct, jobs_all = [], []
    for x in b:
        span = by_batch[x["batch"]]
        ph = S.merge_phases(log, sites, span)
        wx = ph["write_execs"]
        acct.append({
            "batch": x["batch"], "span_s": span["dur_s"], "driver_s": ph["driver_s"],
            "phase_s": ph["phase_s"], "jobs": ph["jobs"],
            "lww_shuffle_bytes": log.sql_metric(wx, S.is_lww_exchange, "shuffle bytes written"),
            "lww_shuffle_records": log.sql_metric(wx, S.is_lww_exchange, "shuffle records written"),
            "udf_python_s": log.sql_metric(wx, S.is_udf, "time to run Python workers"),
            "udf_rows": log.sql_metric(wx, S.is_udf, "number of output rows"),
            "udf_bytes_to_python": log.sql_metric(wx, S.is_udf, "data sent to Python workers"),
        })
        jobs_all += ph["job_list"]
    scans = [s for s in tracer.spans if s["name"] == "scan" and s["batch"].startswith("b")]
    maint = [s for s in tracer.spans if s["name"].startswith("maint.") and s["batch"].startswith("m")]
    for s in scans + maint:
        jobs_all += log.jobs_in_group(s["group"])
    totals = log.task_totals(jobs_all)
    med = lambda key: median([a[key] for a in acct])  # noqa: E731
    maint_s = lambda n: median([s["dur_s"] for s in maint if s["name"] == f"maint.{n}"])  # noqa: E731
    m = {
        "merge.spark_jobs": (med("jobs"), "count"),
        "merge.driver_s": (med("driver_s"), "s"),
        "merge.stats_job_s": (median([a["phase_s"].get("stats", 0.0) for a in acct]), "s"),
        "merge.write_job_s": (median([a["phase_s"].get("write", 0.0) for a in acct]), "s"),
        "merge.rows_rewritten": (median([x["rows_removed"] for x in b]), "count"),
        "merge.bytes_written": (median([x["bytes_added"] for x in b]), "B"),
        "merge.useful_ratio": (sum(x["applied"] for x in b) / events, "ratio"),
        "commit.manifest_files": (median([x["manifest_files"] for x in b]), "count"),
        "lww.shuffle_bytes": (med("lww_shuffle_bytes"), "B"),
        "lww.shuffle_records": (med("lww_shuffle_records"), "count"),
        "lww.winners_per_event": (sum(x["winners"] for x in b) / events, "ratio"),
        "udf.python_s": (med("udf_python_s"), "s"),
        "udf.rows": (med("udf_rows"), "count"),
        "udf.bytes_to_python": (med("udf_bytes_to_python"), "B"),
        "read.lookup_ms.p50": (median(loop["lookups_ms"]), "ms"),
        "read.delta_files": (median([r["delta_files"] for r in loop["reads"]]), "count"),
        "read.total_files": (median([r["total_files"] for r in loop["reads"]]), "count"),
        "read.scan_task_s": (median([log.task_totals(log.jobs_in_group(s["group"]))["run_s"]
                                     for s in scans]), "s"),
        "maint.compact_deltas_s": (maint_s("compact_deltas"), "s"),
        "maint.compact_small_files_s": (maint_s("compact_small_files"), "s"),
        "maint.expire_snapshots_s": (maint_s("expire_snapshots"), "s"),
        "maint.bytes_rewritten": (sum(r["bytes_added"] for r in loop["maint"])
                                  / max(1, len({r["label"] for r in loop["maint"]})), "B"),
        "setup.warmup_extra_s": (setup["cold_apply_s"] - setup["warm_apply_s"], "s"),
        "spark.gc_s": (totals["gc_s"], "s"),
        "spark.spill_bytes": (totals["spill_bytes"], "B"),
        "host.steal_factor": (probe.get("steal_factor") or 0.0, "ratio"),
        "traced.ingest_events_per_s": e2e["ingest_events_per_s"],
        "traced.commit_s.p50": e2e["commit_s.p50"],
    }
    m["query.total_s"] = (sum(q["warm_s"] for q in queries.values()), "s")
    for name, q in queries.items():
        m[f"query.{name}_s"] = (q["warm_s"], "s")
        m[f"query.{name}.cold_extra_s"] = (q["cold_s"] - q["warm_s"], "s")
    return m, acct


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes (self-test)")
    args = ap.parse_args(argv)

    needed = [os.path.join(ROOT, "ais_etl_spark", "lake", "table.py"),
              os.path.join(ROOT, "scripts", "host_probe.py"),
              os.path.join(ROOT, "scripts", "check_contract.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(work_root, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)

    from perfbench import check, curation, ingest
    from perfbench import spans as S

    mode = WORKLOADS[args.workload]
    trace = bool(args.trace)
    sizes = ingest.SMOKE if args.smoke else ingest.FULL
    host = host_info()

    spark = None
    try:
        # the load generator, in a process of its own that ends before the
        # measured session starts
        feed = ingest.Feed(os.path.join(work_root, "feeds"), args.seed, sizes)
        feed.ensure()
        # the probe takes ~10 s; untraced runs skip it to keep each run short
        probe = host_probe() if trace else {}

        t0 = time.perf_counter()
        spark = start_spark(run_dir, host["nproc"], host["mem_gb"], trace)
        session_s = time.perf_counter() - t0
        tracer = S.Tracer(spark, args.workload, trace)
        ops = ingest.Ops()
        cc = check.load_check_contract(ROOT)

        table, setup = ingest.setup(spark, tracer, ops, feed, mode, run_dir, sizes)
        setup_s = session_s + setup["setup_s"]
        loop = ingest.run_loop(spark, tracer, ops, table, feed, mode, args.seed,
                               sizes, args.seconds)

        segs = [feed.segment(-1)] + [feed.segment(x["seg"]) for x in loop["batches"]]
        t_check = time.perf_counter()
        result = check.check_table(cc, table, segs)
        result["check_s"] = time.perf_counter() - t_check
        correct = result["ok"]
        final_bytes = ingest.file_bytes(table, table.commit()["files"])
        e2e = end_to_end(loop, setup_s, final_bytes, result["live_rows"])

        queries, acct = {}, []
        if trace:
            queries = curation.run_queries(spark, tracer, ops, cc)
            correct = correct and all(q["ok"] for q in queries.values())
            ops.failed += sum(1 for q in queries.values() if not q["ok"] and q["rows"] is not None)
        stop_spark(spark)
        spark = None
        if trace:
            log = S.EventLog(os.path.join(run_dir, "eventlog"))
            sites = S.CallSites(os.path.join(ROOT, "ais_etl_spark", "lake", "table.py"))
            metrics, acct = per_layer(log, sites, tracer, loop, setup, queries, e2e, probe)
        else:
            metrics = e2e
        correct = correct and ops.failed == 0

        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "smoke": args.smoke, "host": host, "host_probe": probe,
            "batches": len(loop["batches"]), "lookups": len(loop["lookups_ms"]),
            "lookup_misses": len(loop["misses_ms"]),
            "scans": len(loop["scans_s"]), "busy_s": loop["busy_s"],
            "session_s": session_s, "setup": setup, "check": result,
            "queries": queries, "errors": ops.errors[:10],
            # per batch: span = Spark job time by phase + driver_s, the
            # remainder of the span that no job of the batch covers
            "accounting": [{k: a[k] for k in ("batch", "span_s", "driver_s", "phase_s")}
                           for a in acct],
        }
        os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
        record = os.path.join(work_root, "results",
                              f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
        with open(record, "w") as f:
            json.dump({"info": info, "metrics": metrics, "loop": loop,
                       "accounting": acct}, f, default=str)
        if trace:
            tracer.write(record[:-5] + ".spans.jsonl")
        info["record"] = os.path.relpath(record, ROOT)
        print(json.dumps({"info": info}, default=str))
        print(json.dumps({
            "correct": bool(correct),
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
