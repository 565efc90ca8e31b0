"""LWW dedup: struct-max agg ≡ window row_number."""

from pyspark.sql import functions as F

from ais_etl_spark.feed import synth_cdc_feed
from ais_etl_spark.operators.lww import lww_latest, lww_window


def _norm(df):
    cols = sorted(df.columns)
    return df.select(*cols)


def test_struct_max_agrees_with_window(spark):
    feed = synth_cdc_feed(spark, n_events=3000, n_urls=300, seed=13).cache()
    a = _norm(lww_latest(feed))
    b = _norm(lww_window(feed))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    feed.unpersist()


def test_one_row_per_key_and_winner_is_max(spark):
    feed = synth_cdc_feed(spark, n_events=2000, n_urls=100, seed=17).cache()
    out = lww_latest(feed).cache()
    assert out.groupBy("url").count().filter("count > 1").count() == 0
    # winner (warc_ts, event_id) == max over the url's events
    mx = feed.groupBy("url").agg(
        F.max(F.struct("warc_ts", "event_id")).alias("m")
    ).select("url", F.col("m.warc_ts").alias("wts"), F.col("m.event_id").alias("eid"))
    j = out.join(mx, "url")
    assert j.filter("warc_ts <> wts or event_id <> eid").count() == 0
    out.unpersist(); feed.unpersist()


def test_partial_aggregation_in_plan(spark):
    """The scale contract: LWW must aggregate with a map-side partial
    (combiner) BEFORE the exchange, so a hot url collapses to one row
    per task pre-shuffle. max(struct) compiles to SortAggregate (struct
    buffers aren't hash-agg-able) — the partial_max is what matters."""
    feed = synth_cdc_feed(spark, n_events=100, seed=1)
    plan = lww_latest(feed)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan
    # partial agg must run upstream of the shuffle exchange
    assert plan.index("partial_max") > plan.index("Exchange")  # tree prints top-down
