"""The ingest workloads: a populated base table, then a closed loop of
fenced update-heavy CDC batches with a reader between commits.

One writer and one reader share the process. Each batch waits for the
previous commit; after each commit the reader does a fixed number of point
lookups (keys drawn with the feed's hot-key skew, plus one absent key) and
one full read aggregate. Every fourth batch the loop runs the maintenance
``run_ingest`` runs: ``compact_deltas`` (MoR only), ``compact_small_files``
and ``expire_snapshots(keep_last=3)``.

The feed is the load generator: one ``synth_cdc_feed`` stream, written into
a cache once per checkout by a process of its own that ends before the
measured session starts, and neither timed nor part of set-up. The seed
picks the run's window of batches. Batch events follow the base's event
ids, so they carry later event times and most of their updates win.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from ais_etl_spark.feed import synth_cdc_feed
from ais_etl_spark.lake import LakeTable
from ais_etl_spark.streaming.ingest import PAGES_SCHEMA, apply_cdc_batch

MAINT_EVERY = 4
BASE_BATCHES = 4
KEEP_SNAPSHOTS = 3
HOT_URLS = 4  # synth_cdc_feed defaults: 20% of events hit 4 urls
HOT_PCT = 20
N_BUCKETS = 16
STREAM_SEED = 0
WINDOWS = 16
ABSENT_URL = "https://absent.example.com/"


@dataclass(frozen=True)
class Sizes:
    name: str
    n_urls: int
    base_events: int
    batch_events: int
    lookups_per_commit: int
    min_cycles: int

    @property
    def tag(self) -> str:
        return f"u{self.n_urls}-b{self.base_events}-e{self.batch_events}"


# The base holds ~4x the keys one batch touches, so CoW rewrites several
# rows for each row a batch changes.
FULL = Sizes(name="full", n_urls=16_000, base_events=32_000, batch_events=4_000,
             lookups_per_commit=8, min_cycles=2)
SMOKE = Sizes(name="smoke", n_urls=2_000, base_events=4_000, batch_events=1_000,
              lookups_per_commit=3, min_cycles=1)
SIZES = {s.name: s for s in (FULL, SMOKE)}


def url_of(idx: int) -> str:
    """The feed's url for key index ``idx`` (see ``feed.synth_cdc_feed``)."""
    return f"https://site-{idx % 997}.example.com/page/{idx}"


def _write_events(spark, path: str, sizes: Sizes, n_events: int) -> None:
    """The first ``n_events`` events of the stream, written atomically, one
    ``seg=<i>`` dir per batch (base events under ``seg=-1``), each about
    one file per core."""
    cores = spark.sparkContext.defaultParallelism
    eid = F.col("event_id")
    seg = F.when(eid < sizes.base_events, F.lit(-1)).otherwise(
        F.floor((eid - sizes.base_events) / sizes.batch_events)
    ).cast("int")
    n_segs = 1 + (n_events - sizes.base_events) // sizes.batch_events
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        synth_cdc_feed(spark, n_events=n_events, n_urls=sizes.n_urls, seed=STREAM_SEED,
                       hot_urls=HOT_URLS, hot_pct=HOT_PCT, num_partitions=cores * 4)
        .withColumn("seg", seg)
        .repartition(n_segs * cores, "seg", F.pmod(eid, F.lit(cores)))
        .write.partitionBy("seg").parquet(tmp)
    )
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


class Feed:
    """The load generator's output: one ``synth_cdc_feed`` stream from a
    fixed generator seed, cached under ``cache_root`` once per checkout.

    The base is the stream's first ``base_events`` events. After it come
    ``WINDOWS`` windows of ``min_cycles`` maintenance cycles of batches;
    the run's seed picks the window (seed mod ``WINDOWS``), so the same
    seed gives the same batches in both merge modes. Batch event ids, hence
    event times, follow the base's, and both draw keys from one key space,
    so most batch updates win.

    The stream is written by ``perfbench/feedgen.py`` in a short-lived
    process of its own, so no measured session ever generates feed and
    every one starts with the same history."""

    def __init__(self, cache_root: str, seed: int, sizes: Sizes):
        self.root, self.sizes = cache_root, sizes
        self.dir = os.path.join(cache_root, f"stream-{sizes.tag}-w{WINDOWS}")
        self.segs_per_window = sizes.min_cycles * MAINT_EVERY
        self.first_seg = (seed % WINDOWS) * self.segs_per_window
        self.n_segs = WINDOWS * self.segs_per_window

    def cached(self) -> bool:
        return os.path.exists(os.path.join(self.dir, "_DONE"))

    def write(self, spark) -> None:
        if not self.cached():
            _write_events(spark, self.dir, self.sizes,
                          self.sizes.base_events + self.n_segs * self.sizes.batch_events)

    def ensure(self) -> None:
        """Have the stream cached, writing it in a ``feedgen`` subprocess."""
        if self.cached():
            return
        here = os.path.dirname(os.path.abspath(__file__))
        os.makedirs(self.root, exist_ok=True)
        out = subprocess.run(
            [sys.executable, os.path.join(here, "feedgen.py"), "--cache", self.root,
             "--sizes", self.sizes.name],
            cwd=os.path.dirname(here), capture_output=True, text=True, timeout=600)
        if out.returncode != 0 or not self.cached():
            raise RuntimeError(f"feed generation failed ({out.returncode}): "
                               f"{out.stderr[-2000:]}")

    def has_batch(self, i: int) -> bool:
        return self.first_seg + i < self.n_segs

    def segment(self, i: int) -> str:
        """Segment -1 is the base; 0.. are the run's batches."""
        if i >= 0 and not self.has_batch(i):
            raise IndexError(f"batch {i} is past the end of the cached stream")
        return os.path.join(self.dir, f"seg={-1 if i < 0 else self.first_seg + i}")


def lookup_keys(seed: int, batch: int, sizes: Sizes) -> list[str]:
    """Reader keys with the feed's skew (HOT_PCT% hot urls, else uniform),
    plus one url outside the key space, so that every commit times a
    lookup that misses."""
    rng = random.Random(seed * 1_000_003 + batch)
    keys = [
        url_of(rng.randrange(HOT_URLS) if rng.randrange(100) < HOT_PCT
               else rng.randrange(sizes.n_urls))
        for _ in range(sizes.lookups_per_commit)
    ]
    keys.insert(rng.randrange(len(keys) + 1), url_of(sizes.n_urls + rng.randrange(sizes.n_urls)))
    return keys


def file_bytes(table: LakeTable, files: list[dict]) -> int:
    return sum(os.path.getsize(os.path.join(table.path, f["path"])) for f in files)


def manifest_diff(table: LakeTable, before: dict, after: dict) -> dict:
    """Files a commit added and removed, from the two manifests."""
    old = {f["path"]: f for f in before["files"]}
    new = {f["path"]: f for f in after["files"]}
    added = [f for p, f in new.items() if p not in old]
    removed = [f for p, f in old.items() if p not in new]
    return {
        "bytes_added": file_bytes(table, added),
        "files_added": len(added),
        "rows_removed": sum(f.get("n_rows") or 0 for f in removed),
    }


def applied_and_winners(lineage: dict) -> tuple[int, int]:
    """(changes applied, LWW winners) from a merge's lineage. CoW splits
    winners into inserts/updates/deletes/stale no-ops; MoR reports
    upserts and tombstones and cannot tell stale winners apart."""
    if lineage.get("mode") == "mor":
        n = (lineage.get("upserts") or 0) + (lineage.get("tombstones") or 0)
        return n, n
    applied = sum(lineage.get(k) or 0 for k in ("inserts", "updates", "deletes"))
    return applied, applied + (lineage.get("stale_noops") or 0)


class Ops:
    """Counts attempted and failed public calls."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as ex:  # a failed op is counted and reported, not fatal
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__name__', fn)}: {type(ex).__name__}: {ex}"[:500])
            return None


def _maintain(table: LakeTable, mode: str, tracer, ops: Ops, label: str,
              record: list | None) -> None:
    calls = [("compact_small_files", table.compact_small_files),
             ("expire_snapshots", lambda: table.expire_snapshots(keep_last=KEEP_SNAPSHOTS))]
    if mode == "mor":
        calls.insert(0, ("compact_deltas", table.compact_deltas))
    for name, fn in calls:
        before = table.commit()
        with tracer.span(f"maint.{name}", label):
            ops.call(fn)
        if record is not None:
            after = table.commit()
            diff = (manifest_diff(table, before, after)
                    if after["snapshot_id"] != before["snapshot_id"]
                    else {"bytes_added": 0, "files_added": 0, "rows_removed": 0})
            record.append({"name": name, "label": label, **diff})


def _read_once(table: LakeTable, tracer, ops: Ops, keys: list[str], label: str,
               lookups_ms: list, misses_ms: list, scans_s: list) -> None:
    """Point lookups, then one read aggregate (live rows and text bytes per
    lang). A lookup of an absent key is timed into ``misses_ms`` as well."""
    for k in keys:
        with tracer.span("lookup", label) as s:
            rows = ops.call(lambda: table.lookup(k).collect())
        if rows is not None:
            lookups_ms.append(s["dur_s"] * 1000.0)
            if not rows:
                misses_ms.append(s["dur_s"] * 1000.0)
    with tracer.span("scan", label) as s:
        ok = ops.call(lambda: table.read().groupBy("lang").agg(
            F.count(F.lit(1)), F.sum(F.length("text"))).collect()) is not None
    if ok:
        scans_s.append(s["dur_s"])


def _table(spark, work_dir: str, name: str) -> LakeTable:
    """An empty pages table, laid out as ``run_ingest`` creates it."""
    return LakeTable.create(spark, os.path.join(work_dir, name), PAGES_SCHEMA,
                            key="url", order_col="warc_ts", n_buckets=N_BUCKETS)


def setup(spark, tracer, ops: Ops, feed: Feed, mode: str, work_dir: str,
          sizes: Sizes) -> tuple[LakeTable, dict]:
    """Warm up, then build the populated base table.

    Warmup: one full-size batch (the base's first ``batch_events`` events)
    goes onto a throwaway empty table, cold (nothing ran on the session
    before it), then the same batch onto a second fresh throwaway table,
    warm; cold minus warm is the cold-start cost. The base events then go
    in as ``BASE_BATCHES`` batches, the first onto the empty table and the
    rest onto the populated table (the CoW hit path); then one maintenance
    pass, which folds MoR deltas into base files, and the reader's first
    hit, miss and scan. Only the seed-independent base is read, and the
    feed is written before the session starts, so set-up starts equally
    cold in every run."""
    base = spark.read.parquet(feed.segment(-1))
    eid = F.col("event_id")
    t0 = time.perf_counter()
    warm = {}
    for leg in ("cold", "warm"):
        scratch = _table(spark, work_dir, f"warmup_{leg}")
        with tracer.span(f"setup.{leg}", leg) as s:
            ok = ops.call(apply_cdc_batch, scratch, base.filter(eid < sizes.batch_events),
                          batch_id=f"warmup_{leg}", merge_mode=mode)
        if ok is None:
            raise RuntimeError("warmup failed: " + "; ".join(ops.errors))
        warm[f"{leg}_apply_s"] = s["dur_s"]
        shutil.rmtree(scratch.path, ignore_errors=True)
    n = -(-sizes.base_events // BASE_BATCHES)
    table = _table(spark, work_dir, f"pages_{mode}")
    for j in range(BASE_BATCHES):
        with tracer.span("setup.apply", f"s{j}"):
            lineage = ops.call(apply_cdc_batch, table,
                               base.filter((eid >= j * n) & (eid < (j + 1) * n)),
                               batch_id=f"s{j}", merge_mode=mode)
        if lineage is None:
            raise RuntimeError("base build failed: " + "; ".join(ops.errors))
    _maintain(table, mode, tracer, ops, "setup", None)
    _read_once(table, tracer, ops, [url_of(0), ABSENT_URL], "setup", [], [], [])
    return table, {"setup_s": time.perf_counter() - t0, **warm}


def run_loop(spark, tracer, ops: Ops, table: LakeTable, feed: Feed, mode: str,
             seed: int, sizes: Sizes, seconds: float) -> dict:
    """The timed closed loop, in whole maintenance cycles: at least
    ``sizes.min_cycles``, and more until the busy time (writer plus reader
    spans) reaches ``seconds`` or the cached stream ends."""
    batches, maint, lookups_ms, misses_ms, scans_s, reads = [], [], [], [], [], []
    first_span = len(tracer.spans)
    loop_spans = lambda: tracer.spans[first_span:]  # noqa: E731
    cycle = 0
    while cycle < sizes.min_cycles or (sum(s["dur_s"] for s in loop_spans()) < seconds
                                       and feed.has_batch((cycle + 1) * MAINT_EVERY - 1)):
        for k in range(MAINT_EVERY):
            i = cycle * MAINT_EVERY + k
            events = spark.read.parquet(feed.segment(i))
            before = table.commit()
            with tracer.span("apply", f"b{i}") as s:
                lineage = ops.call(apply_cdc_batch, table, events,
                                   batch_id=f"b{i}", merge_mode=mode)
            if lineage is None:
                raise RuntimeError("merge failed: " + "; ".join(ops.errors))
            after = table.commit()
            applied, winners = applied_and_winners(lineage)
            batches.append({
                "batch": f"b{i}", "seg": i, "apply_s": s["dur_s"],
                "events": sizes.batch_events, "applied": applied,
                "winners": winners, "manifest_files": len(after["files"]),
                **manifest_diff(table, before, after),
            })
            stats = table.table_stats()
            reads.append({"delta_files": stats["delta_files"],
                          "total_files": stats["total_files"]})
            _read_once(table, tracer, ops, lookup_keys(seed, i, sizes), f"b{i}",
                       lookups_ms, misses_ms, scans_s)
        _maintain(table, mode, tracer, ops, f"m{cycle}", maint)
        cycle += 1
    return {
        "batches": batches, "maint": maint, "lookups_ms": lookups_ms,
        "misses_ms": misses_ms, "scans_s": scans_s, "reads": reads,
        "maint_s": sum(s["dur_s"] for s in loop_spans() if s["name"].startswith("maint.")),
        "busy_s": sum(s["dur_s"] for s in loop_spans()),
    }
