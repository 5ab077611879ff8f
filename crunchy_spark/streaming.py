"""Structured Streaming surface (SURVEY.md §2.10).

The reference's "streaming" is message-at-a-time queue consumption with
manual ack (kafka/consumer.py:40-58, databucket_consumer.py:41-54,
pipelines.py:174-206). Spark-first re-expression:

- T1 at-least-once ack/nack      -> checkpointed exactly-once micro-batches
  (foreachBatch + idempotent MERGE keyed on url_sha1 subsumes it)
- T2 prefetch_count=1            -> maxFilesPerTrigger / trigger pacing
- T3 idle-poll DontCloseSpider   -> trigger(availableNow/processingTime)
- T5 kafka manual commit         -> checkpoint offsets (built-in)
- T7 stateful proxy/host health  -> applyInPandasWithState keyed by host

Kafka itself needs the kafka jar (not in this image) — the reader is
gated; the file-source path exercises identical semantics.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from .urlnorm import with_url_identity

SEED_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("entry_point", T.StringType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)

# the queue-message JSON body (reference: api/views.py:19-42 producer)
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("entry_point", T.StringType(), True),
        T.StructField("queue", T.StringType(), True),
        T.StructField("priority", T.DoubleType(), True),
    ]
)


def decode_seed_messages(df: DataFrame, value_col: str = "value") -> DataFrame:
    """S4: queue-message decode with bare-URL fallback — a message body
    is either a JSON dict or a plain URL string (rabbitmq/queue.py:79-92
    `json.loads` with except-pass fallback). from_json yields NULL on
    malformed input, so coalesce(parsed.url, raw) routes JSON bodies
    through the schema and treats everything else as a bare URL; non-URL
    garbage is discarded downstream by site validation (queue.py:155-168
    -> frontier.seeds_to_frontier). Pure column expressions — no per-row
    Python."""
    parsed = F.from_json(F.col(value_col), MESSAGE_SCHEMA)
    return df.select(
        F.coalesce(parsed["url"], F.col(value_col)).alias("url"),
        parsed["entry_point"].alias("entry_point"),
        parsed["queue"].alias("queue"),
        F.coalesce(parsed["priority"], F.lit(0.0)).alias("priority"),
        *[c for c in df.columns if c != value_col],
    )


def stream_seed_ingest(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Streaming seed ingestion from a file source: watch a directory of seed parquet files
    (the RabbitMQ-producer analog, api/views.py:19-42), canonicalize +
    fingerprint each micro-batch, dedup WITHIN a batch via a seq-ordered
    window and ACROSS batches through the engine's snapshot pattern — an
    LSM-style bloom-segment prefilter plus exact anti-join against a
    committed `seen` table (bloom.filter_unseen, the same path
    CrawlEngine.ingest_seeds takes) — never by rescanning the sink.

    Per-batch cost is O(batch + bloom-positive rows): the sink parquet
    is never read back; the seen keys are a column-pruned snapshot scan
    joined only against the maybe-seen subset.

    Exactly-once across crashes: sink rows land in an epoch=N
    subdirectory (overwrite mode — a replayed epoch rewrites the same
    files), and the seen/bloom commit records the epoch AFTERWARD, so a
    crash between the two replays the epoch idempotently while an
    already-committed epoch is skipped outright. The state store lives
    in out_dir/_seen_state ('_'-prefixed: invisible to parquet readers
    of the sink)."""
    reader = (
        spark.readStream.schema(SEED_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_dir)
    )
    return (
        reader.writeStream.foreachBatch(make_seed_sink(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def make_seed_sink(out_dir: str):
    """The exactly-once seed-ingest micro-batch sink, shared by every
    seed source (file directory, Kafka): canonicalize + fingerprint,
    in-batch first-arrival dedup, bloom+exact cross-batch dedup, epoch
    subdirectory sink (idempotent overwrite) then state commit — the
    semantics documented on stream_seed_ingest. Extracting it as a
    factory is what makes S13 a SOURCE swap, not a reimplementation."""
    import os

    from .bloom import adaptive_m_bits, build_bloom, filter_unseen
    from .snapshot import SnapshotStore

    store = SnapshotStore(os.path.join(out_dir, "_seen_state"))

    def sink_batch(batch: DataFrame, epoch_id: int) -> None:
        spark_ = batch.sparkSession
        bootstrapped = store.current_version() >= 0
        last_epoch = (
            int(store.manifest()["meta"].get("epoch", -1)) if bootstrapped else -1
        )
        if epoch_id <= last_epoch:
            return  # replayed and fully committed — nothing to redo
        ident = with_url_identity(batch, "url")
        from pyspark.sql import Window

        w = Window.partitionBy("sha_int").orderBy("seq")
        fresh = (
            ident.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if bootstrapped:
            fresh = filter_unseen(
                fresh,
                store.load(spark_, "seen"),
                bloom=store.load_segments(spark_, "bloom"),
            )
        fresh = fresh.localCheckpoint()
        n_new = fresh.count()
        # sink first (idempotent per-epoch overwrite), state commit last
        fresh.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )
        keys = fresh.select("sha_int")
        if not bootstrapped:
            store.commit(
                {"seen": keys, "bloom": build_bloom(keys, m_bits=adaptive_m_bits(n_new))},
                meta={"epoch": epoch_id},
            )
        elif n_new > 0:
            store.commit(
                appends={
                    "seen": keys,
                    "bloom": build_bloom(keys, m_bits=adaptive_m_bits(n_new)),
                },
                meta={"epoch": epoch_id},
                row_counts={"seen": n_new},
            )
        else:
            # nothing new: just advance the epoch watermark
            store.commit(meta={"epoch": epoch_id})

    return sink_batch


def kafka_seed_frame(raw: DataFrame) -> DataFrame:
    """Kafka records -> the SEED_STREAM_SCHEMA frame the seed sink
    consumes: value bytes decode through the same JSON-or-bare-URL
    parser as every queue message (S4), and seq — the in-batch
    first-arrival tiebreak — derives from (partition, offset), which is
    the arrival order Kafka itself defines (offsets are unique and
    monotonic per partition; 2^40 offsets per partition of headroom)."""
    decoded = decode_seed_messages(
        raw.select(
            F.col("value").cast("string").alias("value"),
            "partition",
            "offset",
        )
    )
    return decoded.select(
        "url",
        "entry_point",
        (F.col("partition").cast("long") * F.lit(1 << 40) + F.col("offset")).alias(
            "seq"
        ),
    )


def stream_kafka_seed_ingest(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """S13 runtime path: Kafka topic -> the SAME exactly-once seed sink
    as stream_seed_ingest (reference kafka/consumer.py:40-83 manual-ack
    loop; here checkpointed offsets + idempotent epoch overwrite + state
    commit last). Returns None when the spark-sql-kafka jar is absent
    (this image), exactly like read_kafka_items."""
    raw = read_kafka_items(spark, bootstrap, topic)
    if raw is None:
        return None
    return (
        kafka_seed_frame(raw)
        .writeStream.foreachBatch(make_seed_sink(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def windowed_event_counts(events_stream: DataFrame) -> DataFrame:
    """T-windowing: watermarked 5-minute tumbling aggregation (batch twin
    is queries.event_windowed_counts; same results on bounded input)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> LTZ for watermark
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("wstart"),
            "event_type",
            "n",
            "v",
        )
    )


# ---------------------------------------------------------------------------
# T7: stateful host health (reference: proxymanager expire.py:15-147 —
# good/dead/unchecked states with reanimation backoff)
# ---------------------------------------------------------------------------
HOST_HEALTH_OUTPUT = "host string, state string, fails int, successes int"
HOST_HEALTH_STATE = "fails int, successes int"


def host_health_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState update: 3+ consecutive fails -> dead;
    any success reanimates (expire.py state machine, deterministic)."""
    fails, successes = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        for ok in pdf["ok"]:
            if bool(ok):
                successes += 1
                fails = 0
            else:
                fails += 1
    state.update((fails, successes))
    st = "dead" if fails >= 3 else ("good" if successes > 0 else "unchecked")
    yield pd.DataFrame(
        [{"host": key[0], "state": st, "fails": fails, "successes": successes}]
    )


def host_health_stream(fetch_results: DataFrame):
    """Keyed stateful stream: (host, ok) fetch outcomes -> health states."""
    return fetch_results.groupBy("host").applyInPandasWithState(
        host_health_fn,
        outputStructType=HOST_HEALTH_OUTPUT,
        stateStructType=HOST_HEALTH_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# Streaming twin of queries.adaptive_crawl_delay: the SAME AIMD fold
# (AIMD_UP on failure, AIMD_DOWN on success, clamp [FLOOR, CAP]),
# carried as keyed state across micro-batches instead of re-folded
# from history. The batch operator is the backfill/audit form; this is
# the live controller a standing crawl actually runs. The fold
# constants are IMPORTED from queries.py (inside the function — lazy
# on workers) so the two genuinely cannot drift.
HOST_DELAY_OUTPUT = "host string, delay_s double, next_round_budget long"
HOST_DELAY_STATE = "delay double"


def round_half_up(x: float, scale: int = 4) -> float:
    """Python twin of Spark's ``F.round`` (and DuckDB ``round``):
    HALF_UP over the shortest decimal repr of the double — Python's
    built-in ``round`` is HALF_EVEN and diverges on exact 4dp ties
    (e.g. the AIMD value 5*0.9^5 = 2.95245 → 2.9525 HALF_UP vs 2.9524
    HALF_EVEN). ``repr(x)`` is the shortest round-trip decimal, the
    same string Scala's BigDecimal.decimal(double) rounds."""
    import decimal

    q = decimal.Decimal(1).scaleb(-scale)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def host_delay_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState update: AIMD politeness delay per host.

    Rows fold in ``seq`` order WITHIN the batch (micro-batch input
    order is not guaranteed) so a replay of the same batch produces
    the identical delay — the determinism the batch twin's oracle
    pins. The inner loop is per-OUTCOME, not per-row-of-corpus: a
    micro-batch carries one row per fetch attempt per host, bounded by
    the politeness budget itself."""
    from .queries import (
        AIMD_CAP,
        AIMD_DELAY0,
        AIMD_DOWN,
        AIMD_FLOOR,
        AIMD_UP,
    )

    (delay,) = state.get if state.exists else (AIMD_DELAY0,)
    for pdf in pdfs:
        for fail in pdf.sort_values("seq")["fail"]:
            if bool(fail):
                delay = min(AIMD_CAP, delay * AIMD_UP)
            else:
                delay = max(AIMD_FLOOR, delay * AIMD_DOWN)
    state.update((delay,))
    delay_4dp = round_half_up(delay)
    yield pd.DataFrame(
        [
            {
                "host": key[0],
                "delay_s": delay_4dp,
                "next_round_budget": int(3600.0 // delay_4dp),
            }
        ]
    )


def host_delay_stream(fetch_results: DataFrame):
    """Keyed stateful stream: (host, seq, fail) outcomes -> live AIMD
    crawl delays (the streaming form of adaptive_crawl_delay)."""
    return fetch_results.groupBy("host").applyInPandasWithState(
        host_delay_fn,
        outputStructType=HOST_DELAY_OUTPUT,
        stateStructType=HOST_DELAY_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# T3': the streaming ROUND loop — the reference's long-running consumer
# (rabbitmq/spiders.py:14-16 run-forever spider, scheduler.py:164-169
# DontCloseSpider idle loop) as a Structured Streaming query.
# ---------------------------------------------------------------------------
def stream_crawl(
    spark: SparkSession,
    store,
    fixtures_dir: str,
    seed_dir: str,
    checkpoint_dir: str,
    conf=None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Streaming crawl rounds: readStream watches ``seed_dir`` for
    arriving seed batches; each micro-batch bootstraps the frontier (first
    batch) or tail-ingests the new seeds (CrawlEngine.ingest_seeds), then
    drains crawl rounds with the SAME batch round plan via foreachBatch.

    Exactly-once: every round is an atomic snapshot commit and seed
    ingestion dedups against the seen set, so a replayed micro-batch
    (post-crash redelivery) re-ingests zero rows and re-drains an
    already-dry frontier — the idempotent-MERGE upgrade of the
    reference's at-least-once ack loop (pipelines.py:174-206).

    With every seed file present before the first trigger this produces
    the batch engine's exact crawl order; seeds arriving in later
    micro-batches enqueue at the tail (arrival semantics), which changes
    order but not the final seen/item sets — proven in
    tests/test_streaming.py."""
    from . import schemas
    from .loop import CrawlEngine

    engine = CrawlEngine(spark, store, fixtures_dir, conf)

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        if store.current_version() < 0:
            engine.bootstrap(batch)
        else:
            engine.ingest_seeds(batch)
        engine.run()

    reader = spark.readStream.schema(schemas.SEED)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = (
        reader.parquet(seed_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        stream = stream.trigger(availableNow=True)
    return stream.start()


def stream_fetch_log(
    spark: SparkSession, store_root: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Live CDC feed over the engine's fetch_log: a file-source stream on
    the snapshot store's append-only fetch_log segments (one parquet dir
    per committed round, never rewritten — compaction touches only
    frontier/bloom, expire_snapshots never collects segments
    still referenced by live manifests). Downstream ops monitors consume
    every fetch outcome exactly once via the stream checkpoint, without
    ever re-scanning history — the streaming twin of
    CrawlEngine.frontier_changelog's batch incremental read.

    Rows within a micro-batch carry fetch_seq, so order-sensitive
    consumers can sort per batch; order-insensitive aggregations (see
    fetch_log_monitor) need nothing."""
    import os as _os

    from . import schemas

    reader = spark.readStream.schema(schemas.FETCH_LOG)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(_os.path.join(store_root, "data", "fetch_log", "v*"))


def fetch_log_monitor(log_stream: DataFrame) -> DataFrame:
    """Ops monitor over the fetch_log stream: running per-(host, status)
    outcome counts — the dashboard the reference reads from RabbitMQ
    management + Mongo counts (queue-depth probe S17), here one
    order-insensitive streaming aggregation (complete/update mode)."""
    return log_stream.groupBy("host", "status").agg(
        F.count("*").alias("n"), F.max("fetch_seq").alias("last_seq")
    )


def read_kafka_items(spark: SparkSession, bootstrap: str, topic: str) -> DataFrame | None:
    """S13: Kafka source (legacy path, kafka/consumer.py:40-58). Needs the
    spark-sql-kafka jar on the classpath; returns None when absent."""
    try:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("subscribe", topic)
            .load()
        )
    except Exception:
        return None


def sitemap_state_view(spark: SparkSession, store) -> DataFrame:
    """Merge-on-read view of the append-only ``sitemap_state`` delta
    segments: latest epoch wins per (host, url); tombstone rows (null
    lastmod, written when a poll shows a URL gone) delete the key. The
    same equality-delete MERGE semantics as the engine's frontier_view
    (loop.py), at sitemap-entry granularity."""
    raw = store.load(spark, "sitemap_state")
    latest = raw.groupBy("host", "url").agg(
        F.max(F.struct("epoch", "lastmod")).alias("m")
    )
    return latest.select(
        "host", "url", F.col("m.lastmod").alias("lastmod")
    ).filter(F.col("lastmod").isNotNull())


def stream_sitemap_poll(
    spark: SparkSession,
    sitemap_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    compact_every: int = 8,
):
    """Streaming sitemap poller — the continuous form of the
    sitemap_diff batch operator (queries.py): watch a directory where
    each arriving parquet file is a sitemap SNAPSHOT of (host, url,
    lastmod) rows; per micro-batch, diff the snapshot against the
    committed last-seen state and append only the CHANGE rows
    (added / removed / changed + the fetch / tombstone action) to the
    sink — discovery becomes a round-sized change feed instead of a
    daily re-crawl. ``maxFilesPerTrigger=1`` pins one snapshot
    generation per micro-batch so diffs are between well-defined
    generations.

    Removal is scoped to the hosts PRESENT in the batch (a host absent
    from this poll was not re-polled — its pages are not "removed";
    the state join is a left-semi against the batch's hosts, so state
    rows of unpolled hosts are never scanned into the diff).
    Unchanged rows are NOT emitted (the feed carries deltas; the batch
    operator emits them for auditability).

    State is LSM-shaped, never rewritten per poll (the bloom.py /
    frontier delta-segment discipline — a full-state overwrite per
    poll would be the stream_seed_ingest disease at 10^9 sitemap
    entries): each epoch APPENDS one delta segment holding the polled
    hosts\' current rows plus null-lastmod tombstones for their
    removed URLs — O(polled delta) written per poll; reads go through
    sitemap_state_view (latest epoch per key, tombstones drop out),
    column-pruned and host-filtered at the parquet scan. Every
    ``compact_every`` epochs the segments fold into one (tombstones
    erased), bounding segment count for long-lived streams.

    Exactly-once across crashes (the stream_seed_ingest pattern): diff
    rows land in an epoch=N subdirectory (overwrite mode — a replayed
    epoch rewrites the same files), and the state commit records the
    epoch AFTERWARD, so a crash between the two replays the epoch
    idempotently while an already-committed epoch is skipped outright.
    State lives in out_dir/_sitemap_state (\'_\'-prefixed: invisible to
    parquet readers of the sink)."""
    import os

    from .snapshot import SnapshotStore

    store = SnapshotStore(os.path.join(out_dir, "_sitemap_state"))

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        spark_ = batch.sparkSession
        bootstrapped = store.current_version() >= 0
        last_epoch = (
            int(store.manifest()["meta"].get("epoch", -1)) if bootstrapped else -1
        )
        if epoch_id <= last_epoch:
            return  # replayed and fully committed — nothing to redo
        b = batch.select("host", "url", F.col("lastmod").alias("lastmod_cur"))
        b = b.localCheckpoint()
        if bootstrapped and store.has_table("sitemap_state"):
            st = sitemap_state_view(spark_, store)
        else:
            st = spark_.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("host", T.StringType()),
                        T.StructField("url", T.StringType()),
                        T.StructField("lastmod", T.StringType()),
                    ]
                ),
            )
        polled = st.join(b.select("host").distinct(), "host", "left_semi").select(
            "host", "url", F.col("lastmod").alias("lastmod_prev")
        )
        j = polled.join(b, ["host", "url"], "full_outer")
        changed = (
            F.col("lastmod_prev").isNotNull()
            & F.col("lastmod_cur").isNotNull()
            & (F.col("lastmod_prev") != F.col("lastmod_cur"))
        )
        diff = (
            j.select(
                "host",
                "url",
                "lastmod_prev",
                "lastmod_cur",
                F.when(F.col("lastmod_prev").isNull(), F.lit("added"))
                .when(F.col("lastmod_cur").isNull(), F.lit("removed"))
                .when(changed, F.lit("changed"))
                .otherwise(F.lit("unchanged"))
                .alias("status"),
                F.when(F.col("lastmod_prev").isNull() | changed, F.lit("fetch"))
                .when(F.col("lastmod_cur").isNull(), F.lit("tombstone"))
                .otherwise(F.lit("skip"))
                .alias("action"),
                F.lit(int(epoch_id)).alias("epoch"),
            )
            .filter(F.col("status") != "unchanged")
            .localCheckpoint()
        )
        # sink FIRST (epoch-keyed overwrite), state commit SECOND — the
        # crash window between them replays idempotently
        diff.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={int(epoch_id)}")
        )
        # delta segment: the polled snapshot + tombstones for removals
        seg = (
            b.withColumnRenamed("lastmod_cur", "lastmod")
            .unionByName(
                diff.filter(F.col("status") == "removed").select(
                    "host", "url", F.lit(None).cast("string").alias("lastmod")
                )
            )
            .select("host", "url", "lastmod", F.lit(int(epoch_id)).alias("epoch"))
            .localCheckpoint()
        )
        if (
            bootstrapped
            and store.has_table("sitemap_state")
            and int(epoch_id) % compact_every == compact_every - 1
        ):
            # compaction: fold every segment + this delta into one
            # (latest epoch per key; tombstoned keys erased outright)
            merged = (
                store.load(spark_, "sitemap_state")
                .unionByName(seg)
                .groupBy("host", "url")
                .agg(F.max(F.struct("epoch", "lastmod")).alias("m"))
                .select(
                    "host", "url", F.col("m.lastmod").alias("lastmod"),
                    F.col("m.epoch").alias("epoch"),
                )
                .filter(F.col("lastmod").isNotNull())
                .localCheckpoint()
            )
            store.commit(
                tables={"sitemap_state": merged},
                meta={"epoch": int(epoch_id)},
                row_counts={"sitemap_state": merged.count()},
            )
        else:
            store.commit(
                appends={"sitemap_state": seg},
                meta={"epoch": int(epoch_id)},
                row_counts={"sitemap_state": seg.count()},
            )

    schema = T.StructType(
        [
            T.StructField("host", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("lastmod", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sitemap_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        stream = stream.trigger(availableNow=True)
    return stream.start()

def stream_discovery_plan(
    spark: SparkSession,
    need_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    robots: DataFrame,
    available_now: bool = True,
    diff_feed: bool = False,
):
    """THE streaming discovery capstone: stream_sitemap_poll's change
    feed composed with discovery_round_plan's fetch-list core — each
    micro-batch (one generation of fetch-needing URLs) becomes that
    generation's per-host fetch list via the SAME
    queries.discovery_fetch_plan the batch operator executes, so
    stream output == batch output over identical generations BY
    CONSTRUCTION (pinned by tests/test_stream_discovery.py).

    Input rows are either etag_revalidate_plan-shaped
    (url, lastmod, action) or the sitemap poller's diff feed
    (url, lastmod_cur, action, ...): ``lastmod_cur`` is normalized to
    ``lastmod``, and skip/tombstone rows drop out (the poller's
    'fetch' action and the batch plan's fetch_full/conditional_get
    both survive the filter).

    One generation per epoch: the rank cut is only correct over a
    whole generation, so the input contract differs by mode.
      non-diff mode: ``need_dir`` takes ONE parquet file per generation
        (callers must ``coalesce(1)`` each generation before writing
        it) — the stream reads one file per micro-batch, and a
        generation written as several part files would be split into
        several epochs, each with its own (wrong) per-host cut.
      ``diff_feed=True``: ``need_dir`` is the poller's sink, holding
        ``epoch=N`` subdirectories. A generation's part files may
        arrive across several triggers, and Spark never re-delivers
        the earlier ones; so each micro-batch only names the source
        epochs it touched, and each such epoch's plan is rebuilt from
        the whole generation read as a batch from ``need_dir/epoch=N``.

    Exactly-once: each generation's plan lands in an epoch=N
    subdirectory with overwrite mode — a crash-replayed micro-batch
    rewrites the identical files (the plan is deterministic in its
    input), so the sink never double-counts; no state store is needed
    because the plan carries no cross-generation state (the robots
    policy is a broadcast dimension, the rank is within-generation).

    Scale shape per micro-batch: one host-keyed window over the
    generation's changed slice + one broadcast join — identical to the
    batch plan (ONE exchange, measured in test_plans.py); a standing
    10^10-URL crawl streams round-sized deltas through it."""
    import os as _os

    from .queries import discovery_fetch_plan

    robots = robots.localCheckpoint()  # host-sized dim, pinned once

    def fetch_needing(need: DataFrame) -> DataFrame:
        if "lastmod_cur" in need.columns and "lastmod" not in need.columns:
            need = need.withColumnRenamed("lastmod_cur", "lastmod")
        return need.filter(~F.col("action").isin("skip", "tombstone")).select(
            "url", "lastmod", "action"
        )

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        if diff_feed:
            # plans are keyed by the FEED's generation (epoch column),
            # not the micro-batch id; each touched generation is re-read
            # whole, so a later trigger carrying its remaining part
            # files overwrites the epoch dir with the full plan
            epochs = [r[0] for r in batch.select("epoch").distinct().collect()]
            for src_epoch in epochs:
                gen = batch.sparkSession.read.schema(schema).parquet(
                    _os.path.join(need_dir, f"epoch={int(src_epoch)}")
                )
                discovery_fetch_plan(fetch_needing(gen), robots).write.mode(
                    "overwrite"
                ).parquet(_os.path.join(out_dir, f"epoch={int(src_epoch)}"))
            return
        plan = discovery_fetch_plan(fetch_needing(batch), robots)
        plan.write.mode("overwrite").parquet(
            _os.path.join(out_dir, f"epoch={int(epoch_id)}")
        )

    if diff_feed:
        # stream_sitemap_poll's change-feed shape (epoch= partition
        # dirs): lastmod_cur normalizes to lastmod in on_batch
        schema = T.StructType(
            [
                T.StructField("host", T.StringType()),
                T.StructField("url", T.StringType()),
                T.StructField("lastmod_prev", T.StringType()),
                T.StructField("lastmod_cur", T.StringType()),
                T.StructField("status", T.StringType()),
                T.StructField("action", T.StringType()),
                T.StructField("epoch", T.LongType()),
            ]
        )
    else:
        schema = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("lastmod", T.StringType()),
                T.StructField("action", T.StringType()),
            ]
        )
    reader = spark.readStream.schema(schema)
    if not diff_feed:
        # one need-generation FILE per micro-batch (see the docstring's
        # one-file-per-generation contract)
        reader = reader.option("maxFilesPerTrigger", 1)
    stream = (
        reader.parquet(need_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        stream = stream.trigger(availableNow=True)
    return stream.start()
