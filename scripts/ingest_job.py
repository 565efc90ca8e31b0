"""spark-submit entry point: steady-state CDC ingest throughput at one
parallelism level. The north rule's run mode —

    spark-submit --master local[N] --py-files dist/ais_etl_spark.zip \
        scripts/ingest_job.py --events 600000 --out result.json

On a real cluster drop --master local[N] for the cluster master URL;
nothing else changes (the engine ships to executors as the zip, the
same way ais-etl cloudpickles transformer classes into its pods —
/root/reference/runtime/python/bootstrap.py:79-89).

Prints one JSON line: {parallelism, events, micro_batches, compact_every,
ingest_sec, events_per_sec, rows_after} — ``rows_after`` is the table's
live row count, read after the timed span.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=600_000)
    ap.add_argument("--feed-dir", default=None,
                    help="pre-materialized feed parquet (same bytes for every run)")
    ap.add_argument("--warmup-events", type=int, default=20_000)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--out", default=None)
    ap.add_argument("--merge-mode", choices=["cow", "mor"], default="cow")
    ap.add_argument("--micro-batches", type=int, default=1,
                    help="split the feed into this many event_id-ordered "
                         "fenced batches (the production MoR shape: many "
                         "bounded micro-batches, not one giant merge)")
    ap.add_argument("--compact-every", type=int, default=0,
                    help="run compact_deltas() after every K micro-batches "
                         "(mor steady state: fold cost amortized inside the "
                         "timed span)")
    ap.add_argument("--curate", action="store_true",
                    help="full curation enrichment per winner (extract + lang\n"
                         "+ simhash + fingerprint + quality) — the\n"
                         "representative per-record work of CC-scale ingest")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # spark-submit supplies the master; just attach and apply our conf
    spark = (
        SparkSession.builder.appName("ais-etl-ingest-job")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    par = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(par))

    def size_input_splits(path: str) -> None:
        """Right-size parquet input splits to the core count. The
        default 128 MB maxPartitionBytes packs a small compressed feed
        into a handful of splits, silently capping the whole map side
        (scan + partial agg + UDFs) at ~6 tasks REGARDLESS of cores —
        measured 3× throughput loss at 32 cores. At real scale files
        are split-sized already; here we mirror what a cluster gets."""
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        target = max(total // (par * 3), 1 * 1024 * 1024)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
        spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024))

    from ais_etl_spark.feed import synth_cdc_feed
    from ais_etl_spark.lake import LakeTable
    from ais_etl_spark.streaming.ingest import PAGES_SCHEMA, enrich_events, event_id_chunks
    from ais_etl_spark.transforms.curate import CURATED_PAGES_SCHEMA, curate_events

    schema = CURATED_PAGES_SCHEMA if args.curate else PAGES_SCHEMA
    transform = curate_events if args.curate else enrich_events

    tmp = tempfile.mkdtemp(prefix="ais-etl-scaling-")
    try:
        if args.feed_dir:
            feed_path = args.feed_dir
            size_input_splits(feed_path)
        else:
            feed_path = os.path.join(tmp, "feed")
            # identical input at every parallelism level: fixed partition
            # count and seed → identical files, identical bytes
            synth_cdc_feed(
                spark, n_events=args.events, seed=42, hot_pct=20, num_partitions=128
            ).write.parquet(feed_path)
            size_input_splits(feed_path)

        warm_path = os.path.join(tmp, "warm")
        synth_cdc_feed(
            spark, n_events=args.warmup_events, seed=7, num_partitions=128
        ).write.parquet(warm_path)
        wt = LakeTable.create(
            spark, os.path.join(tmp, "warm_pages"), schema,
            key="url", order_col="warc_ts", n_buckets=args.n_buckets,
        )
        wt.merge(spark.read.parquet(warm_path), batch_id="w0",
                 post_dedup_transform=transform, mode=args.merge_mode)

        table = LakeTable.create(
            spark, os.path.join(tmp, "pages"), schema,
            key="url", order_col="warc_ts", n_buckets=args.n_buckets,
        )
        events = spark.read.parquet(feed_path)
        nb = max(1, args.micro_batches)
        # chunk bounds are input metadata (like feed materialization)
        # — computed before the timed span
        chunks = [events] if nb == 1 else event_id_chunks(events, nb)
        t0 = time.time()
        for i, chunk in enumerate(chunks):
            table.merge(chunk, batch_id=f"b{i}", post_dedup_transform=transform,
                        mode=args.merge_mode)
            if nb > 1 and args.compact_every and (i + 1) % args.compact_every == 0:
                table.compact_deltas()
        dt = time.time() - t0
        out = {
            "parallelism": par,
            "events": args.events,
            "micro_batches": nb,
            "compact_every": args.compact_every,
            "ingest_sec": round(dt, 3),
            "events_per_sec": round(args.events / dt, 1),
            # live rows of the final table (read after the timed span)
            "rows_after": table.read().count(),
        }
        line = json.dumps(out)
        print(line)
        if args.out:
            with open(args.out, "w") as f:
                f.write(line + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
