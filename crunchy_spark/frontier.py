"""Frontier construction + politeness-ranked selection.

Reimplements (Spark-first, not a port):
- 3-level queue priority: spider(0) > tracxn(1) > crunchbase(2)
  (reference: rabbitmq/scheduler.py:51-52,136-162 — the 60-idle-poll
  starvation gate is a wall-clock artifact of the serial consumer; its
  order semantics are exactly "spider exhausts first, then tracxn, then
  crunchbase, FIFO within each", which is what queue_rank+seq encodes)
- FIFO within queue: seq = arrival index (rabbitmq/queue.py:64-76)
- per-host politeness: DOWNLOAD_DELAY / CONCURRENT_REQUESTS
  (settings.py:122-130) becomes a per-round per-host budget enforced by
  two-phase salted window ranking (skew-safe: phase 1 prunes within
  (host, salt) so no single window sees the mega-host's full partition,
  phase 2 ranks the <= salt_k*budget survivors exactly)
- site validation with discard (rabbitmq/queue.py:131-168)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import schemas
from .urlnorm import with_url_identity

QUEUE_RANK = {"spider": 0, "tracxn": 1, "crunchbase": 2}


def queue_rank_col(site, is_continuation):
    return (
        F.when(is_continuation, F.lit(0))
        .when(site == "tracxn", F.lit(1))
        .otherwise(F.lit(2))
    )


def image_id_col(sha_int, n_images: int):
    """Deterministic URL -> payload mapping (fetch-sim join key)."""
    return F.format_string("img%010d", F.pmod(sha_int, F.lit(n_images)))


def global_fifo_rank(
    df: DataFrame,
    order_cols: tuple[str, ...],
    out_col: str,
    base: int = 0,
    n_parts: int = 32,
) -> DataFrame:
    """Total-order index 1..n by ``order_cols``, without a single-partition
    global window.

    Phase 1: range-repartition + sort-within-partitions by the order key
    (Spark's parallel total sort). Phase 2: per-partition row_number plus
    a per-partition offset computed from the (tiny, n_parts-row) count
    census collected to the driver. At 10^8-row rounds every task ranks
    only its range slice; the single-partition `Window.orderBy()` this
    replaces would funnel the whole round through one task."""
    cols = list(order_cols)
    ranged = df.repartitionByRange(n_parts, *cols).sortWithinPartitions(*cols)
    # localCheckpoint: repartitionByRange SAMPLES to pick boundaries, so
    # without materialization the census job and the rank job could see
    # different partitionings (offset/content mismatch = wrong ranks),
    # and the upstream would compute twice besides.
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).localCheckpoint()
    counts = {
        r["_pid"]: r["n"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets = {}
    acc = base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    offset_col = F.element_at(
        F.create_map(
            *[F.lit(x) for pid, off in sorted(offsets.items()) for x in (pid, off)]
        ),
        F.col("_pid"),
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        with_pid.withColumn(out_col, F.row_number().over(w).cast("long") + offset_col)
        .drop("_pid")
    )


def _fixed_width(dt) -> bool:
    """True iff ``dt`` is a fixed-width type a HashAggregate buffer can
    mutate in place (UnsafeRow-mutable): numerics, boolean, date,
    timestamp. Wide decimals, strings, and nested types are not."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return dt.precision <= 18
    return isinstance(
        dt, (T.NumericType, T.BooleanType, T.DateType, T.TimestampType)
    )


def first_arrival(
    df: DataFrame, key_col: str = "sha_int", order_cols: tuple[str, ...] = ("seq",)
) -> DataFrame:
    """Keep the first row per key, ordered by ``order_cols``.

    Equivalent to ``row_number() OVER (PARTITION BY key ORDER BY order) = 1``
    but expressed as an aggregate so Spark runs it with a MAP-SIDE
    PARTIAL combine — on a dup-heavy frontier the shuffle carries one
    row per (partition, key) instead of every row. At 10^10 URLs this is
    the difference between shuffling the frontier and shuffling its
    distinct keys.

    Physical shape depends on the payload: a struct-valued ``min`` buffer
    is NOT UnsafeRow-mutable, so ``min(struct(...))`` silently compiles
    to SortAggregate — two full sorts of the input (map-side partial +
    post-shuffle final). When there is a single order column and every
    carried column is fixed-width (the scheduling hot path: sha_int,
    seq, host_key, queue_rank — all int64/int32), the same semantics are
    expressed as ``min(order)`` + per-column ``min_by(col, order)``:
    all-primitive buffers, HashAggregate, zero sorts. Contract for the
    fast path: the order column must be unique per row within a key
    (true for ``seq``, a global arrival index) — on an order tie,
    independent min_by calls could mix columns from different tied rows,
    where the struct path picks one whole row (lexicographic min).
    Callers with composite or non-unique order keys get the struct path.
    """
    other = [c for c in df.columns if c != key_col and c not in order_cols]
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    if len(order_cols) == 1 and all(
        _fixed_width(dtypes[c]) for c in (*order_cols, *other)
    ):
        o = order_cols[0]
        agg = df.groupBy(key_col).agg(
            F.min(o).alias(o), *[F.min_by(c, o).alias(c) for c in other]
        )
        return agg.select(*df.columns)
    packed = F.struct(*[F.col(c) for c in (*order_cols, *other)])
    agg = df.groupBy(key_col).agg(F.min(packed).alias("_fa"))
    return agg.select(
        key_col, *[F.col(f"_fa.{c}").alias(c) for c in (*order_cols, *other)]
    ).select(*df.columns)


def latest_state(
    df: DataFrame, key_col: str = "sha_int", version_col: str = "state_round"
) -> DataFrame:
    """Keep the highest-version row per key — the merge-on-read view of a
    delta-segmented table (Iceberg equality-delete semantics: an appended
    row supersedes any earlier row with the same key).

    Same map-side-combinable max(struct(version, payload)) shape as
    first_arrival: the shuffle carries one row per (partition, key), not
    the whole segment history."""
    other = [c for c in df.columns if c != key_col and c != version_col]
    packed = F.struct(*[F.col(c) for c in (version_col, *other)])
    agg = df.groupBy(key_col).agg(F.max(packed).alias("_ls"))
    return agg.select(
        key_col, *[F.col(f"_ls.{c}").alias(c) for c in (version_col, *other)]
    ).select(*df.columns)


def seeds_to_frontier(seeds: DataFrame, n_images: int) -> DataFrame:
    """Canonicalize, dedup (keep first arrival), route, discard non-site
    URLs (reference: queue.py:155-168 validates URL against queue site)."""
    s = with_url_identity(seeds, "url")
    # first arrival wins — FIFO dedup (reference Mongo-uniqueness analog)
    s = first_arrival(s, "sha_int", ("seq",))
    s = s.filter(F.col("site") != "other")  # discarded at enqueue
    out = (
        s.withColumn("queue_rank", queue_rank_col(F.col("site"), F.lit(False)))
        .withColumn("image_id", image_id_col(F.col("sha_int"), n_images))
        .withColumn("status", F.lit("pending"))
        .withColumn("attempt", F.lit(0))
        .withColumn("round_added", F.lit(0))
        .withColumn("round_fetched", F.lit(None).cast("int"))
        .withColumn("fetch_seq", F.lit(None).cast("long"))
        .withColumn("reason", F.lit(None).cast("string"))
        .withColumn("priority", F.coalesce(F.col("priority"), F.lit(0.0)))
        .withColumn("state_round", F.lit(0))
    )
    return out.select([f.name for f in schemas.FRONTIER.fields])


def verify_host_key_injective(hosts: DataFrame, host_col: str = "host") -> None:
    """Assert xxhash64 dictionary-encodes the live host set injectively.

    The scheduling hot path can carry an 8-byte ``xxhash64(host)`` key
    instead of the host string (politeness is keyed on host IDENTITY, so
    any injective encoding is semantically identical — and the string
    otherwise rides every shuffle and the probed checkpoint). Injectivity
    is verified on the HOST-SIZED side (census/policy), never the
    frontier: two checksums over a table with one row per host. Expected
    collisions at 10^8 hosts: ~2.7e-4 birthday pairs — and if one ever
    appears this raises, so the caller falls back to string keys rather
    than silently merging two hosts' budgets."""
    r = hosts.agg(
        F.countDistinct(host_col).alias("h"),
        F.countDistinct(F.xxhash64(host_col)).alias("k"),
    ).collect()[0]
    if r["h"] != r["k"]:
        raise ValueError(
            f"xxhash64 collides on the live host set ({r['h']} hosts, "
            f"{r['k']} keys) — use string host keys for this round"
        )


def host_budget_col(round_seconds: float):
    """Per-host round budget over host_policy columns:
    max(1, floor(round_seconds / crawl_delay_s)) * max_concurrent, where a
    host absent from the policy gets delay=5s, concurrency=1."""
    return (
        F.greatest(
            F.lit(1),
            F.floor(
                F.lit(round_seconds) / F.coalesce(F.col("crawl_delay_s"), F.lit(5.0))
            ),
        )
        * F.coalesce(F.col("max_concurrent"), F.lit(1))
    ).cast("int")


def max_host_budget(host_policy: DataFrame, round_seconds: float) -> int:
    """Upper bound on any host's per-round budget: one tiny aggregate
    over the HOST-sized policy table (never the frontier), floored by
    the default-policy budget (delay=5s, concurrency=1) that hosts
    absent from the table receive. Feed the result to
    ``select_fetchable(max_budget=...)`` so its rank filters carry a
    plan-time literal (the WindowGroupLimit rewrite condition)."""
    row = host_policy.agg(F.max(host_budget_col(round_seconds)).alias("m")).first()
    default_b = max(1, int(round_seconds // 5.0))
    return max(default_b, int(row["m"]) if row and row["m"] is not None else 1)


def select_fetchable(
    pending: DataFrame,
    host_policy: DataFrame,
    round_seconds: float = 5.0,
    salt_k: int = 16,
    global_budget: int | None = None,
    census: DataFrame | None = None,
    rows_per_salt: int = 4096,
    host_col: str = "host",
    max_budget: int | None = None,
    two_phase: bool | None = None,
) -> DataFrame:
    """The scheduler pop, as one declarative plan.

    Per-host budget = floor(round_seconds / crawl_delay) * max_concurrent
    (>= 1).

    **Single-window path (default when the budget cap is plan-time
    bounded).** The pop is definitionally one window: row_number over
    (host ORDER BY queue_rank, seq) <= budget. Its skew hazard (the
    mega-host's full row set sorted by one reduce task) is eliminated
    not by salting but by Catalyst's InferWindowGroupLimit: the literal
    ``rn <= max_budget`` conjunct makes the optimizer insert a PARTIAL
    WindowGroupLimit *before* the exchange, which caps every host at
    max_budget rows *per map partition* — the same pigeonhole argument
    that makes salted phase-1 exact (a row in the host's true
    top-budget is in its top-budget within any subset it belongs to)
    applies with map partitions as the implicit salt. Versus the
    two-phase salted plan this removes one full exchange and two full
    sorts of the frontier (measured: the salted w1 was 6.6s of an
    8.2s selection stage at 16M URLs x 8 cores). Taken when
    ``two_phase`` is None and max_budget <= the session's
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (the rewrite
    silently stops above it, which would re-expose the skew — callers
    with bigger budgets get the salted path automatically).

    **Two-phase salted path (fallback, ``two_phase=True`` or cap
    unavailable/too large).** Phase 1 ranks within (host, salt) and
    keeps <= budget per salt; phase 2 ranks the survivors within host
    and keeps exactly budget. A row in the host's true top-budget is in
    its salt's top-budget, so phase 2 is exact — for ANY per-host salt
    count.

    Adaptive salting (W3): when ``census`` (host, n_pending) is given,
    each host's salt count is k_host = clamp(ceil(n_pending /
    rows_per_salt), 1, salt_k) — the mega-host gets the full salt_k
    fan-out while a long tail of small hosts emits no redundant phase-1
    survivors (k=1 makes phase 1 already exact, so phase 2 re-ranks
    only the rows it keeps). Only the two-phase path reads the census;
    the single-window path never evaluates it. CrawlEngine passes the
    pending-per-host aggregate of the very ``pending`` frame it selects
    from (CrawlEngine.host_census_view), so the counts always match
    the rows being ranked; the price, paid only on the two-phase path,
    is one more pass over the pending subtree for that host-sized
    aggregate. Counts only pick k, so no census can change WHICH rows
    are selected — the two-phase rank is exact for any k. At 10^8+
    hosts the broadcast would move to a bucketed map-side join, same as
    host_policy itself. ``census=None`` = fixed salting.

    ``global_budget`` additionally caps the whole round by (queue_rank,
    seq) — reference-parity mode (the serial crawler is global_budget=1).

    ``host_col``: the politeness key column. Callers on the hot path
    pass a dictionary-encoded 8-byte key (xxhash64(host), verified
    injective on the host-sized side via verify_host_key_injective)
    instead of the host string — identical semantics, ~half the bytes
    through the two window exchanges; pending/policy/census must all be
    keyed by the same column.

    ``max_budget``: a plan-time upper bound on every host's budget.
    Each rank filter carries the redundant literal conjunct
    ``rn <= max_budget`` alongside the exact per-host column test, which
    lets Catalyst's InferWindowGroupLimit rewrite the windows from
    full-partition sorts into bounded per-group top-k heaps
    (WindowGroupLimitExec) — the column-only filter does not qualify.
    Semantics are unchanged (the literal is >= every ``_budget``).
    ``None`` = derive it with one host-sized aggregate over
    ``host_policy`` (engine callers that keep the policy as state should
    compute it once per policy change and pass it in).
    """
    if max_budget is None:
        max_budget = max_host_budget(host_policy, round_seconds)
    if two_phase is None:
        wgl_threshold = int(
            pending.sparkSession.conf.get(
                "spark.sql.optimizer.windowGroupLimitThreshold", "1000"
            )
        )
        two_phase = not (0 < max_budget <= wgl_threshold)
    # the census folds into the SAME broadcast as the policy (one small-
    # table join on the driver side of the broadcast, one exchange, one
    # probe) — a separate census join added a second broadcast barrier
    # that cost ~10% wall at local[8] for zero benefit
    pol = host_policy
    if two_phase and census is not None:
        pol = host_policy.join(
            census.select(host_col, F.col("n_pending").alias("_host_n")),
            host_col,
            "full_outer",
        )
    j = pending.join(F.broadcast(pol), host_col, "left")
    j = j.filter(F.coalesce(F.col("robots_allow"), F.lit(True)))
    j = j.withColumn("_budget", host_budget_col(round_seconds))

    def within_budget(rn: str):
        return (F.col(rn) <= F.lit(max_budget)) & (F.col(rn) <= F.col("_budget"))

    if two_phase:
        if census is not None:
            k_host = F.least(
                F.lit(salt_k),
                F.greatest(
                    F.lit(1),
                    F.ceil(
                        F.coalesce(F.col("_host_n"), F.lit(1)) / F.lit(rows_per_salt)
                    ),
                ),
            )
        else:
            k_host = F.lit(salt_k)
        j = j.withColumn("_salt", F.pmod(F.col("sha_int"), k_host)).drop("_host_n")
        w1 = Window.partitionBy(host_col, "_salt").orderBy("queue_rank", "seq")
        j = j.withColumn("_rn1", F.row_number().over(w1)).filter(within_budget("_rn1"))
    w2 = Window.partitionBy(host_col).orderBy("queue_rank", "seq")
    j = j.withColumn("_rn2", F.row_number().over(w2)).filter(within_budget("_rn2"))
    if global_budget is not None:
        wg = Window.orderBy("queue_rank", "seq")
        j = j.withColumn("_rng", F.row_number().over(wg)).filter(
            F.col("_rng") <= F.lit(global_budget)
        )
    return j.drop("_budget", "_salt", "_rn1", "_rn2", "_rng", "crawl_delay_s",
                  "max_concurrent", "robots_allow")
