"""Self-test of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

1. A tiny-size smoke run of every workload, untraced, checked for a correct
   result with exactly the end-to-end metrics BENCHMARK.json names; the CoW
   and MoR runs of one seed must end in the same table state.
2. A tiny traced run, checked for exactly the per-layer metrics.
3. Negative tests: the correctness check must fail on a table with one row
   dropped or one row altered, and on an expected state with one row
   dropped or altered.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 11


def _bench_names() -> tuple[list[str], list[str], list[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([w["name"] for w in b["workloads"]], [m["name"] for m in b["end_to_end"]],
            [m["name"] for m in b["per_layer"]])


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n"
                             f"{out.stdout[-2000:]}\n{out.stderr[-3000:]}")
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def smoke() -> None:
    workloads, e2e, layers = _bench_names()
    hashes = {}
    for w in workloads:
        info, res = _run(w, 0)
        assert res["correct"] and res["failed"] == 0, (w, res, info["errors"])
        assert sorted(res["metrics"]) == sorted(e2e), (w, sorted(res["metrics"]))
        hashes[w] = info["check"]["actual_hash"]
        print(f"ok   smoke {w}: {info['batches']} batches, state {hashes[w]}")
    assert len(set(hashes.values())) == 1, f"CoW and MoR end states differ: {hashes}"
    print("ok   upsert_cow and upsert_mor end in the same state")
    info, res = _run(workloads[-1], 1)
    assert res["correct"] and res["failed"] == 0, (res, info["errors"])
    assert sorted(res["metrics"]) == sorted(layers), sorted(set(res["metrics"]) ^ set(layers))
    print(f"ok   traced smoke {workloads[-1]}: {len(res['metrics'])} per-layer metrics")


def negative() -> None:
    sys.path.insert(0, ROOT)
    from perfbench import check, ingest, run

    from ais_etl_spark.html import synth_html
    from ais_etl_spark.streaming.ingest import FEED_SCHEMA, apply_cdc_batch

    work_root = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(work_root, "runs", f"selftest-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["PYTHONPATH"] = ROOT
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp")
    feed = ingest.Feed(os.path.join(work_root, "feeds"), SEED, ingest.SMOKE)
    feed.ensure()
    segs = [feed.segment(-1), feed.segment(0)]
    spark = run.start_spark(run_dir, 2, 8.0, trace=False)
    try:
        cc = check.load_check_contract(ROOT)
        table = ingest._table(spark, run_dir, "neg")
        for i, seg in ((-1, segs[0]), (0, segs[1])):
            apply_cdc_batch(table, spark.read.parquet(seg), batch_id=f"s{i}")
        expected = check.replay(segs)
        assert check.compare(cc, expected, check.table_state(table))["ok"]
        print("ok   check passes on the untouched table")

        # the expected state itself, with one row dropped or altered
        victim = sorted(expected)[0]
        dropped = {k: v for k, v in expected.items() if k != victim}
        altered = dict(expected)
        altered[victim] = (*altered[victim][:2], altered[victim][2] + "!", altered[victim][3])
        for name, bad in (("dropped", dropped), ("altered", altered)):
            assert not check.compare(cc, bad, check.table_state(table))["ok"], name
            print(f"ok   check fails on an expected state with one row {name}")

        # the table, with one row dropped (a delete) or altered (an update
        # with other html), both later than every feed event
        late = datetime.datetime(2100, 1, 1)
        keys = sorted(expected)
        events = spark.createDataFrame(
            [(10**12, "D", keys[1], late, 0, 10**12, None),
             (10**12 + 1, "U", keys[2], late, 0, 10**12 + 1,
              bytearray(synth_html(keys[2], "altered page", "en")))],
            FEED_SCHEMA,
        )
        apply_cdc_batch(table, events, batch_id="corrupt")
        res = check.compare(cc, expected, check.table_state(table))
        assert not res["ok"] and res["diff"]["missing"] == 1 and res["diff"]["text"] == 1, res
        print(f"ok   check fails on a table with one row dropped and one altered: {res['diff']}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    smoke()
    negative()
    print("selftest passed")
