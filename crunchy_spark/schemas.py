"""Fixed StructTypes for every engine table.

The reference is schema-tolerant (Mongo docs + dynamic item dicts,
CrunchyRest/databucket/models.py:6-89); here every stage emits the full
superset schema with nulls so Catalyst can prune columns and push filters.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# images — the fetch payload table (authoritative shape: BASELINE.json
# input_hint). Replaces the reference's fetched-HTML response body.
# ---------------------------------------------------------------------------
IMAGES = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# ---------------------------------------------------------------------------
# frontier — replaces RabbitMQ crawl/spider queues
# (reference: rabbitmq/queue.py:53-168, scheduler.py:136-162).
# Row lifecycle: pending -> fetched | deferred | failed | discarded.
# queue_rank: 0=spider(continuation), 1=tracxn, 2=crunchbase — the
# reference's 3-level priority (scheduler.py:51-52,136-162).
# seq: FIFO arrival index within the whole frontier (total order key).
# state_round: version stamp of this row state — the frontier is stored
# as delta segments (Iceberg merge-on-read with equality deletes: an
# appended row supersedes earlier rows with the same sha_int) and the
# read view keeps max(state_round) per key; see loop.py.
# ---------------------------------------------------------------------------
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("url_sha1", T.StringType(), False),
        T.StructField("sha_int", T.LongType(), False),
        T.StructField("site", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("queue_rank", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("priority", T.DoubleType(), True),
        T.StructField("entry_point", T.StringType(), True),
        T.StructField("image_id", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("round_added", T.IntegerType(), False),
        T.StructField("round_fetched", T.IntegerType(), True),
        T.StructField("fetch_seq", T.LongType(), True),
        T.StructField("reason", T.StringType(), True),
        T.StructField("state_round", T.IntegerType(), False),
    ]
)

# seed input shape (reference: api/views.py:19-42 message shape
# rabbitmq/queue.py:79-92)
SEED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("entry_point", T.StringType(), True),
        T.StructField("queue", T.StringType(), True),
        T.StructField("seq", T.LongType(), False),
        T.StructField("image_id", T.StringType(), True),
        T.StructField("priority", T.DoubleType(), True),
    ]
)

# ---------------------------------------------------------------------------
# seen — the URL-seen set (reference analog: Mongo uniqueness backstop +
# the vestigial dupefilter, rabbitmq/dupefilter.py:35-44).
# ---------------------------------------------------------------------------
SEEN = T.StructType(
    [
        T.StructField("url_sha1", T.StringType(), False),
        T.StructField("sha_int", T.LongType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("round_added", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# host_policy — politeness config (reference: settings.py:122-130,175;
# robots deliberately skipped by the reference, Readme.md:33 — column kept).
# ---------------------------------------------------------------------------
HOST_POLICY = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("crawl_delay_s", T.DoubleType(), False),
        T.StructField("max_concurrent", T.IntegerType(), False),
        T.StructField("robots_allow", T.BooleanType(), False),
        T.StructField("cloudflare", T.BooleanType(), False),
    ]
)

# ---------------------------------------------------------------------------
# page_meta — what the "HTML" of each payload contains; the deterministic
# stand-in for XPath-extractable fields (reference item fields:
# parser/CrunchbaseDataParser.py:18-82, TracxnDataParser.py:52-129).
# ---------------------------------------------------------------------------
PAGE_META = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("website", T.StringType(), True),
        T.StructField("funding", T.StringType(), True),
        T.StructField("founders", T.ArrayType(T.StringType()), True),
        T.StructField("industries", T.ArrayType(T.StringType()), True),
        T.StructField("similar_companies", T.ArrayType(T.StringType()), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("founded", T.StringType(), True),
        T.StructField("logo", T.StringType(), True),
    ]
)

# parsed item superset (reference: models.py:6-89 + spider-internal keys
# spiders/crunchy.py:199-228; internal keys are engine columns dropped
# before the item sink, pipelines.py:8-14)
ITEM = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("url_sha1", T.StringType(), False),
        T.StructField("site", T.StringType(), False),
        T.StructField("entry_point", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("website", T.StringType(), True),
        T.StructField("normalized_domain", T.StringType(), True),
        T.StructField("funding", T.StringType(), True),
        T.StructField("funding_usd", T.DoubleType(), True),
        T.StructField("founders", T.ArrayType(T.StringType()), True),
        T.StructField("industries", T.ArrayType(T.StringType()), True),
        T.StructField("similar_companies", T.ArrayType(T.StringType()), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("founded", T.StringType(), True),
        T.StructField("founded_date", T.DateType(), True),
        T.StructField("logo", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("img_w", T.IntegerType(), True),
        T.StructField("img_h", T.IntegerType(), True),
        T.StructField("img_mean", T.DoubleType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("round_fetched", T.IntegerType(), False),
    ]
)

# lineage — per-partition counters committed with every round
# (north_rule; reference analog: queue-depth probe rabbitmq/manager.py:188-213)
LINEAGE = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("site", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)

# fetch_log — every pop in fetch order, the crawl-order parity artifact
# (reference analog: raw HTML dump sink, spiders/crunchy.py:83-112)
FETCH_LOG = T.StructType(
    [
        T.StructField("fetch_seq", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("url_sha1", T.StringType(), False),
        T.StructField("site", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("attempt", T.IntegerType(), False),
    ]
)

RATES = T.StructType(
    [
        T.StructField("code", T.StringType(), False),
        T.StructField("rate_per_usd", T.DoubleType(), False),
    ]
)
