"""Write the benchmark's feed cache in a process of its own:

    python3 perfbench/feedgen.py --cache DIR --sizes full

Writes the feed stream (see ``ingest.Feed``) unless it is cached already,
then stops its Spark session and exits. The benchmark runs it before its
measured session starts, so feed generation leaves no trace (JIT, Python
workers) in the session it measures.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cache", required=True)
    ap.add_argument("--sizes", required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import ingest, run

    run_dir = os.path.join(ROOT, ".bench_build", "perfbench", "runs", f"feedgen-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    host = run.host_info()
    spark = run.start_spark(run_dir, host["nproc"], host["mem_gb"], trace=False)
    try:
        ingest.Feed(args.cache, 0, ingest.SIZES[args.sizes]).write(spark)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
