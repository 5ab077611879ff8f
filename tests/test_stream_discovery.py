"""Streaming discovery capstone (r4 verdict #7): stream_sitemap_poll's
change feed composed with discovery_round_plan's fetch-list core.

The equality pins here are the capstone's whole point: the stream and
the batch operator execute the SAME queries.discovery_fetch_plan, so a
standing discovery stream and a batch backfill can never disagree on
which URLs each host fetches next round.
"""

import time

import pytest
from pyspark.sql import functions as F

from crunchy_spark.queries import QUERIES, discovery_fetch_plan

SF = "/root/testdata/sf0.001"

PLAN_KEY = ("host", "url", "action", "fetch_rank", "host_budget")


def _rows(df):
    return sorted(tuple(r[c] for c in PLAN_KEY) for r in df.collect())


def test_stream_plan_per_generation_matches_batch(spark, tmp_path):
    """Two need-generations streamed one per micro-batch: each epoch's
    fetch list equals the batch core over that generation's rows, and
    the full-corpus generation equals the registered
    discovery_round_plan verbatim. Replay emits nothing new."""
    from crunchy_spark.streaming import stream_discovery_plan

    need_dir = str(tmp_path / "need")
    out = str(tmp_path / "plan")
    ckpt = str(tmp_path / "ckpt")

    ep = QUERIES["etag_revalidate_plan"](spark, SF).localCheckpoint()
    rp = QUERIES["robots_policy"](spark, SF).localCheckpoint()
    gen1 = ep.filter(
        F.regexp_extract("url", r"sup(\d+)\.", 1).cast("long") % 2 == 0
    ).localCheckpoint()

    gen1.select("url", "lastmod", "action").coalesce(1).write.parquet(
        f"{need_dir}/gen1.parquet"
    )
    time.sleep(1.1)  # distinct mtimes -> deterministic arrival order
    ep.select("url", "lastmod", "action").coalesce(1).write.parquet(
        f"{need_dir}/gen2.parquet"
    )

    stream_discovery_plan(
        spark, need_dir + "/*", out, ckpt, rp
    ).awaitTermination()

    plans = spark.read.parquet(out)
    assert {r[0] for r in plans.select("epoch").distinct().collect()} == {0, 1}

    # epoch 0 == batch core over generation 1's fetch-needing rows
    want1 = discovery_fetch_plan(
        gen1.filter(F.col("action") != "skip").select(
            "url", "lastmod", "action"
        ),
        rp,
    )
    assert _rows(plans.filter(F.col("epoch") == 0).drop("epoch")) == _rows(
        want1
    )

    # epoch 1 (full corpus) == the registered batch operator verbatim
    want_full = QUERIES["discovery_round_plan"](spark, SF)
    got_full = _rows(plans.filter(F.col("epoch") == 1).drop("epoch"))
    assert got_full == _rows(want_full) and got_full

    # replay with the same checkpoint: no new epochs, same bytes
    stream_discovery_plan(
        spark, need_dir + "/*", out, ckpt, rp
    ).awaitTermination()
    assert _rows(spark.read.parquet(out).filter(F.col("epoch") == 1).drop("epoch")) == got_full


def test_poller_delta_feed_composes_into_fetch_lists(spark, tmp_path):
    """THE composition: sitemap snapshots -> stream_sitemap_poll deltas
    -> stream_discovery_plan(diff_feed=True) -> per-generation fetch
    lists, each equal to the batch core over that generation's 'fetch'
    deltas. A standing crawl chains the two streams; the batch twin
    audits them."""
    from crunchy_spark.queries import _sitemap_gen_df
    from crunchy_spark.streaming import stream_discovery_plan, stream_sitemap_poll

    sm = str(tmp_path / "sitemaps")
    diffs = str(tmp_path / "diffs")
    plan_out = str(tmp_path / "plan")

    sup = spark.read.parquet(f"{SF}/supplier.parquet").select("s_suppkey")
    _sitemap_gen_df(sup, 1).coalesce(1).write.parquet(f"{sm}/gen1.parquet")
    time.sleep(1.1)
    _sitemap_gen_df(sup, 2).coalesce(1).write.parquet(f"{sm}/gen2.parquet")
    stream_sitemap_poll(
        spark, sm + "/*", diffs, str(tmp_path / "ck1")
    ).awaitTermination()

    rp = QUERIES["robots_policy"](spark, SF).localCheckpoint()
    stream_discovery_plan(
        spark, diffs, plan_out, str(tmp_path / "ck2"), rp, diff_feed=True
    ).awaitTermination()

    plans = spark.read.parquet(plan_out)
    diff_rows = spark.read.parquet(diffs).localCheckpoint()
    epochs = sorted(
        r[0] for r in diff_rows.select("epoch").distinct().collect()
    )
    assert epochs == [0, 1]
    checked = 0
    for e in epochs:
        want = discovery_fetch_plan(
            diff_rows.filter(
                (F.col("epoch") == e) & (F.col("action") == "fetch")
            ).select(
                "url", F.col("lastmod_cur").alias("lastmod"), "action"
            ),
            rp,
        )
        got = _rows(plans.filter(F.col("epoch") == e).drop("epoch"))
        assert got == _rows(want)
        checked += len(got)
    assert checked > 0
    # generation 2 is a round-sized fetch list, not a re-crawl: its
    # plan is strictly smaller than generation 1's bootstrap plan
    n0 = plans.filter(F.col("epoch") == 0).count()
    n1 = plans.filter(F.col("epoch") == 1).count()
    assert 0 < n1 < n0


def test_diff_feed_generation_split_across_triggers(spark, tmp_path):
    """One feed generation written as two part files that arrive in two
    separate triggers: the epoch's plan must be the plan over the WHOLE
    generation, not over the last-delivered part (Spark never
    re-delivers the first file, so the second trigger must re-read the
    generation to keep its rows)."""
    from crunchy_spark.queries import _sitemap_gen_df
    from crunchy_spark.streaming import stream_discovery_plan

    need_dir = str(tmp_path / "diffs")
    gen_dir = f"{need_dir}/epoch=0"
    plan_out = str(tmp_path / "plan")
    ckpt = str(tmp_path / "ckpt")

    # a bootstrap poll's feed rows: every sitemap URL is 'added'/'fetch'
    sup = spark.read.parquet(f"{SF}/supplier.parquet").select("s_suppkey")
    feed = _sitemap_gen_df(sup, 1).select(
        "host",
        "url",
        F.lit(None).cast("string").alias("lastmod_prev"),
        F.col("lastmod").alias("lastmod_cur"),
        F.lit("added").alias("status"),
        F.lit("fetch").alias("action"),
        F.lit(0).cast("long").alias("epoch"),
    ).localCheckpoint()
    first = F.substring(F.col("url"), -1, 1) == "1"
    rp = QUERIES["robots_policy"](spark, SF).localCheckpoint()

    def trigger():
        stream_discovery_plan(
            spark, need_dir, plan_out, ckpt, rp, diff_feed=True
        ).awaitTermination()

    feed.filter(first).coalesce(1).write.parquet(gen_dir)
    trigger()
    time.sleep(1.1)  # distinct mtimes -> the second file is a new arrival
    feed.filter(~first).coalesce(1).write.mode("append").parquet(gen_dir)
    trigger()

    want = _rows(
        discovery_fetch_plan(
            feed.select("url", F.col("lastmod_cur").alias("lastmod"), "action"),
            rp,
        )
    )
    got = _rows(spark.read.parquet(f"{plan_out}/epoch=0"))
    assert want and got == want
