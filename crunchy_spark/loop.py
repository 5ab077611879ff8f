"""The crawl loop: deterministic frontier rounds with snapshot commits.

One round = one Catalyst plan over (frontier, seen, host_policy, images,
page_meta) ending in an atomic multi-table snapshot commit:

  read frontier snapshot
    -> politeness-ranked selection (frontier.select_fetchable)
    -> fetch-sim join against images (fetchsim.fetch_payloads)
    -> Arrow parse (parse.parse_fetched)
    -> item MERGE + seen MERGE + frontier append/status-flip + lineage
    -> snapshot commit

Reference lifecycle being re-expressed: SURVEY.md §3.1 / the serial
Scrapy scheduler loop (rabbitmq/scheduler.py:136-169) with ack/nack
status feedback (pipelines.py:174-206) and consumer-side upsert+expansion
(gather_data_from_crunchy.py:88-192, similar_companies.py:13-77).

Crawl-order parity: order is a *data property* — fetch_seq assigned by
(round, queue_rank, seq) — so any parallelism yields the same order. With
global_budget=1 the engine reproduces the reference's serial pop order
exactly (see refsim.py + tests/test_parity.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import schemas
from .bloom import build_bloom, filter_unseen
from .datagen import INTERESTED_INDUSTRIES, fixture_meta
from .expand import assign_seq, continuation_rows, expansion_candidates
from .fetchsim import fetch_payloads
from .frontier import seeds_to_frontier, select_fetchable
from .parse import parse_fetched
from .snapshot import SnapshotStore

ITEM_COLS = [f.name for f in schemas.ITEM.fields]
FRONTIER_COLS = [f.name for f in schemas.FRONTIER.fields]


@dataclass
class CrawlConfig:
    round_seconds: float = 5.0
    salt_k: int = 16
    rows_per_salt: int = 4096
    max_attempts: int = 3
    global_budget: int | None = None  # reference-parity mode when =1
    max_rounds: int = 10_000
    use_bloom: bool = True
    # frontier delta segments tolerated before a compaction rewrite
    # (Iceberg merge-on-read -> periodic rewrite_data_files analog)
    compact_every: int = 8
    # snapshot versions retained for time travel / rollback; older
    # manifests and their exclusively-referenced segments are GC'd on
    # each compaction round (Iceberg expire_snapshots analog — a
    # long-lived crawl otherwise retains every dead frontier base
    # forever). None disables expiry.
    snapshot_keep_last: int | None = 64
    # opt-in AIMD politeness: fold each round's fetch outcomes into a
    # per-host delay state (host_delay table) consumed by the NEXT
    # round's select_fetchable — the live form of the registered
    # adaptive_crawl_delay operator (the reference pins DOWNLOAD_DELAY=5
    # statically, settings.py:122-130; Scrapy's AutoThrottle reacts
    # in-process). Off by default: parity mode must match the
    # reference's static-delay crawl ordering exactly.
    adaptive_delay: bool = False
    interested: list[str] = field(default_factory=lambda: list(INTERESTED_INDUSTRIES))


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        fixtures_dir: str,
        conf: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.store = store
        self.conf = conf or CrawlConfig()
        self.fixtures_dir = fixtures_dir
        self.n_images = int(fixture_meta(fixtures_dir)["n_images"])
        self.images = spark.read.parquet(os.path.join(fixtures_dir, "images.parquet"))
        self.page_meta = spark.read.parquet(os.path.join(fixtures_dir, "page_meta.parquet"))
        self.host_policy = spark.read.parquet(
            os.path.join(fixtures_dir, "host_policy.parquet")
        )
        # plan-time budget cap for the politeness rank-limit pushdown
        # (WindowGroupLimit needs a literal); the policy is static per
        # engine, so derive it once, not once per round
        self._max_budget: int | None = None

    # ------------------------------------------------------------------
    def bootstrap(self, seeds: DataFrame) -> int:
        """Seed ingestion (reference: POST /createCrawl, api/views.py:19-42)."""
        frontier = seeds_to_frontier(seeds, self.n_images)
        seen = frontier.select(
            "url_sha1", "sha_int", "url_canon", "host",
            F.col("round_added"),
        )
        max_seq = frontier.agg(F.max("seq")).first()[0] or 0
        empty_items = self.spark.createDataFrame([], schemas.ITEM)
        empty_lineage = self.spark.createDataFrame([], schemas.LINEAGE)
        empty_fetch_log = self.spark.createDataFrame([], schemas.FETCH_LOG)
        from .bloom import adaptive_m_bits

        return self.store.commit(
            {
                "frontier": frontier,
                "seen": seen,
                "bloom": build_bloom(seen, m_bits=adaptive_m_bits(int(max_seq) + 1)),
                "items": empty_items,
                "lineage": empty_lineage,
                "fetch_log": empty_fetch_log,
            },
            meta={"round": 0, "max_seq": int(max_seq), "fetch_seq": 0},
        )

    # ------------------------------------------------------------------
    def ingest_seeds(self, seeds: DataFrame) -> dict:
        """Incremental seed ingestion into a live crawl (the reference
        accepts POST /createCrawl at any time, api/views.py:19-42).
        Later-arriving seeds canonicalize + dedup against the seen set
        and enqueue AT THE TAIL: their seq continues after the current
        max, exactly like a message landing at the end of a durable
        queue — so they can never collide with, or jump ahead of,
        already-assigned FIFO positions."""
        from .frontier import global_fifo_rank

        m = self.store.manifest()
        base_seq = int(m["meta"]["max_seq"])
        round_id = int(m["meta"]["round"])
        seen = self.store.load(self.spark, "seen")
        bloom = self.store.load_segments(self.spark, "bloom")

        rows = seeds_to_frontier(seeds, self.n_images)
        fresh = filter_unseen(rows, seen, bloom=bloom, use_bloom=self.conf.use_bloom)
        ranked = global_fifo_rank(
            fresh.withColumnRenamed("seq", "_arrival"), ("_arrival",), "seq",
            base=base_seq,
        ).drop("_arrival")
        new_rows = (
            ranked.withColumn("round_added", F.lit(round_id))
            .withColumn("state_round", F.lit(round_id))
            .select(*FRONTIER_COLS)
            .localCheckpoint()
        )
        n_new = new_rows.count()
        if n_new == 0:
            return {"ingested": 0}
        seen_new = new_rows.select(
            "url_sha1", "sha_int", "url_canon", "host", "round_added"
        )
        from .bloom import adaptive_m_bits

        self.store.commit(
            appends={
                "frontier": new_rows,
                "seen": seen_new,
                "bloom": build_bloom(new_rows, m_bits=adaptive_m_bits(n_new)),
            },
            meta={**m["meta"], "max_seq": base_seq + n_new},
            row_counts={"frontier": n_new},
        )
        return {"ingested": n_new}

    # ------------------------------------------------------------------
    # above this many delta rows the broadcast anti-join would strain the
    # driver; fall back to the full latest-state aggregate (compaction
    # keeps delta cardinality ~ compact_every * round_size, so the fast
    # path is the norm)
    BROADCAST_DELTA_MAX = 5_000_000

    def frontier_view(self, version: int | None = None) -> DataFrame:
        """Merge-on-read frontier: base segment + status-flip delta
        segments merged to latest state per sha_int (Iceberg equality-
        delete semantics). ``version`` time-travels to an older
        committed snapshot (default: current).

        Fast path: deltas are round-sized while the base is the whole
        frontier, so instead of a latest-state aggregate over everything
        (a full shuffle of 10^10 rows per round) the base is anti-joined
        against the BROADCAST delta key set — the base never shuffles —
        and only the deltas go through the (tiny) latest-state agg. A
        key present in any delta always supersedes the base row
        (state_round is strictly newer by construction), so
        base \\ delta_keys + latest(deltas) == latest(all segments)."""
        import os as _os

        from .frontier import latest_state

        segs = self.store.manifest(version)["tables"]["frontier"]
        if len(segs) == 1:
            return self.store.load(self.spark, "frontier", version=version)
        base = self.spark.read.parquet(_os.path.join(self.store.root, segs[0]))
        deltas = self.spark.read.parquet(
            *[_os.path.join(self.store.root, p) for p in segs[1:]]
        )
        # delta sizes are known at commit time and recorded in the
        # manifest (Iceberg-style per-file record counts) — summing them
        # avoids an extra Spark job scanning all delta parquet every
        # round; counting is only the fallback for segments committed by
        # writers that didn't record a count
        seg_counts = self.store.segment_rows("frontier", version=version)[1:]
        n_delta = (
            sum(seg_counts) if all(c is not None for c in seg_counts)
            else deltas.count()
        )
        if n_delta > self.BROADCAST_DELTA_MAX:
            return latest_state(
                base.unionByName(deltas), "sha_int", "state_round"
            )
        latest = latest_state(deltas, "sha_int", "state_round")
        untouched = base.join(
            F.broadcast(latest.select("sha_int")), "sha_int", "left_anti"
        )
        return untouched.unionByName(latest)

    # ------------------------------------------------------------------
    def frontier_changelog(
        self, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Iceberg-CDC-style incremental read: the NET row-level changes
        to the merged frontier between two committed snapshots —
        (sha_int, url_canon, host, old_status, new_status, change) with
        change in {'insert', 'update'} (the frontier never deletes keys;
        compaction rewrites segments, not rows).

        Fast path — O(delta), the scale story: when ``v_from``'s segment
        list is a prefix of ``v_to``'s (no compaction crossed), every key
        whose merged state can differ appears in the segments ``v_to``
        appended, so the candidate key set is read from ONLY those
        parquet files (manifest diff — the base is never scanned for
        candidates) and both views are semi-joined down to it before the
        full-outer compare. A 10^10-row frontier yields a round-sized
        changelog job.

        Fallback — when compaction rewrote the segment lineage between
        the two versions (or either manifest was expired, which raises
        from manifest()), the diff is the full-outer join of the two
        merged views with unchanged keys filtered out; correct at any
        lineage, linear in the frontier.

        Reference: Crunchy has no change feed at all (Mongo upserts in
        place, pipelines.py); north_rule's snapshot-checkpointed frontier
        makes downstream incremental consumers (recrawl schedulers,
        index refreshers) a manifest diff instead of a table scan."""
        import os as _os

        if v_to is None:
            v_to = self.store.current_version()
        from_segs = self.store.manifest(v_from)["tables"].get("frontier", [])
        to_segs = self.store.manifest(v_to)["tables"].get("frontier", [])
        cols = ["sha_int", "url_canon", "host", "status", "state_round"]
        before = self.frontier_view(version=v_from).select(*cols)
        after = self.frontier_view(version=v_to).select(*cols)
        prefix = len(from_segs) <= len(to_segs) and (
            to_segs[: len(from_segs)] == from_segs
        )
        if prefix:
            new_segs = to_segs[len(from_segs):]
            if not new_segs:  # identical segment lists: empty changelog
                return self._changelog_join(before.limit(0), after.limit(0))
            keys = (
                self.spark.read.parquet(
                    *[_os.path.join(self.store.root, p) for p in new_segs]
                )
                .select("sha_int")
                .distinct()
            )
            seg_counts = [
                c
                for p, c in zip(
                    to_segs,
                    self.store.segment_rows("frontier", version=v_to),
                )
                if p in set(new_segs)
            ]
            n_delta = (
                sum(seg_counts)
                if all(c is not None for c in seg_counts)
                else None
            )
            if n_delta is not None and n_delta <= self.BROADCAST_DELTA_MAX:
                keys = F.broadcast(keys)
            before = before.join(keys, "sha_int", "left_semi")
            after = after.join(keys, "sha_int", "left_semi")
        return self._changelog_join(before, after)

    @staticmethod
    def _changelog_join(before: DataFrame, after: DataFrame) -> DataFrame:
        b = before.select(
            "sha_int",
            F.col("status").alias("old_status"),
            F.col("state_round").alias("old_state_round"),
        )
        a = after.select(
            "sha_int",
            "url_canon",
            "host",
            F.col("status").alias("new_status"),
            F.col("state_round").alias("new_state_round"),
        )
        j = b.join(a, "sha_int", "full_outer")
        change = (
            F.when(F.col("old_status").isNull(), F.lit("insert"))
            # defensive: the engine never deletes frontier keys, but a
            # changelog that silently drops a delete would be wrong
            .when(F.col("new_status").isNull(), F.lit("delete"))
            .when(
                (F.col("old_status") != F.col("new_status"))
                | (F.col("old_state_round") != F.col("new_state_round")),
                F.lit("update"),
            )
        )
        return (
            j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(
                "sha_int",
                "url_canon",
                "host",
                "old_status",
                "new_status",
                "change",
            )
        )

    # ------------------------------------------------------------------
    @staticmethod
    def _census(pending: DataFrame) -> DataFrame:
        return pending.groupBy("host").agg(F.count("*").alias("n_pending"))

    def host_census_view(self) -> DataFrame:
        """Per-host pending counts (host, n_pending), derived from the
        merged frontier view — nothing is stored. select_fetchable reads
        them only on its salted two-phase path, to pick each host's salt
        count; run_round passes the same aggregate over its own pending
        frame."""
        return self._census(
            self.frontier_view().filter(F.col("status") == "pending")
        )

    # ------------------------------------------------------------------
    def host_delay_view(self) -> DataFrame:
        """Per-host AIMD delay state (host, delay_s) — empty until an
        adaptive round commits. Host-sized, like host_policy."""
        if self.store.has_table("host_delay"):
            return self.store.load(self.spark, "host_delay")
        return self.spark.createDataFrame([], "host string, delay_s double")

    def effective_policy(self) -> DataFrame:
        """The policy select_fetchable consumes this round: the static
        host_policy, with crawl_delay_s replaced by the AIMD-folded
        delay for hosts that have state (Config.adaptive_delay). The
        outer join keeps delay state for hosts the static table never
        listed (expansion hosts); their max_concurrent coalesces to 1
        inside select_fetchable."""
        if not self.conf.adaptive_delay:
            return self.host_policy
        d = self.host_delay_view()
        return (
            self.host_policy.join(d, "host", "outer")
            .withColumn(
                "crawl_delay_s", F.coalesce("delay_s", "crawl_delay_s")
            )
            .drop("delay_s")
        )

    def _fold_host_delay(self, log_new: DataFrame) -> DataFrame:
        """Next round's host_delay state: THIS round's outcomes folded
        (in fetch_seq pop order) on top of each host's previous delay
        via the registered AIMD fold (queries.aimd_fold_expr). Seed for
        a host's first appearance is its static crawl_delay_s (default
        AIMD_DELAY0). Incremental by construction — the clamp fold's
        associativity means seeding from the carried state equals
        re-folding all history, so per-round cost is O(round + hosts),
        never O(history). Failure = any non-fetched outcome (deferred
        is the server pushing back; failed is terminal)."""
        from .queries import AIMD_DELAY0, aimd_fold_expr

        prev = self.host_delay_view()
        upd = (
            log_new.select(
                "host",
                "fetch_seq",
                F.when(F.col("status") != "fetched", F.lit(1.0))
                .otherwise(F.lit(0.0))
                .alias("fail"),
            )
            .groupBy("host")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("fetch_seq", "fail"))
                ).alias("_hist")
            )
        )
        folded = (
            upd.join(prev, "host", "left")
            .join(
                F.broadcast(self.host_policy.select("host", "crawl_delay_s")),
                "host",
                "left",
            )
            .withColumn(
                "_seed",
                F.coalesce("delay_s", "crawl_delay_s", F.lit(AIMD_DELAY0)),
            )
            .select(
                "host",
                aimd_fold_expr("_hist", "CAST(_seed AS DOUBLE)").alias(
                    "delay_s"
                ),
            )
        )
        untouched = prev.join(upd.select("host"), "host", "left_anti")
        return untouched.unionByName(folded)

    # ------------------------------------------------------------------
    def run_round(self) -> dict | None:
        """Run one round; returns stats, or None when the frontier is dry.

        A round that finds compact_every or more frontier segments first
        compacts (and expires snapshots beyond snapshot_keep_last), so
        read amplification stays bounded even when run() never drains."""
        m = self.store.manifest()
        if len(m["tables"]["frontier"]) >= self.conf.compact_every:
            self.compact()
            # GC beyond the retention window only when compacting — the
            # cadence that actually creates dead base segments
            if self.conf.snapshot_keep_last:
                self.store.expire_snapshots(self.conf.snapshot_keep_last)
            m = self.store.manifest()
        round_id = int(m["meta"]["round"]) + 1
        base_seq = int(m["meta"]["max_seq"])
        base_fetch_seq = int(m["meta"]["fetch_seq"])
        frontier = self.frontier_view()
        seen = self.store.load(self.spark, "seen")
        bloom = self.store.load_segments(self.spark, "bloom")

        pending = frontier.filter(F.col("status") == "pending")
        if self._max_budget is None:
            from .frontier import max_host_budget

            self._max_budget = max_host_budget(
                self.host_policy, self.conf.round_seconds
            )
            if self.conf.adaptive_delay:
                # adaptive delays decay to AIMD_FLOOR, so the plan-time
                # budget literal must cover the floor, not just the
                # static table's fastest host
                from .queries import AIMD_FLOOR

                row = self.host_policy.agg(
                    F.max(F.coalesce(F.col("max_concurrent"), F.lit(1)))
                ).first()
                mc = int(row[0]) if row and row[0] is not None else 1
                self._max_budget = max(
                    self._max_budget,
                    int(self.conf.round_seconds // AIMD_FLOOR) * mc,
                )
        selected = select_fetchable(
            pending,
            self.effective_policy(),
            round_seconds=self.conf.round_seconds,
            salt_k=self.conf.salt_k,
            global_budget=self.conf.global_budget,
            census=self._census(pending),
            rows_per_salt=self.conf.rows_per_salt,
            max_budget=self._max_budget,
        )
        # the crawl order, assigned deterministically (W2: FIFO via seq) —
        # parallel range-sorted rank, no single-partition global window
        from .frontier import global_fifo_rank

        selected = global_fifo_rank(
            selected, ("queue_rank", "seq"), "fetch_seq", base=base_fetch_seq
        ).localCheckpoint()
        n_selected = selected.count()
        if n_selected == 0:
            return None

        payloads = fetch_payloads(
            selected, self.images, self.page_meta, max_attempts=self.conf.max_attempts
        )
        # one bytes-free materialization serves every metadata consumer
        # (status flip, lineage, fetch log, parse join); the bytes-bearing
        # fetch join executes exactly once, feeding the decoder.
        meta = payloads.drop("bytes").localCheckpoint()
        fetched = payloads.filter(F.col("fetch_status") == "fetched")
        fetched_meta = meta.filter(F.col("fetch_status") == "fetched")
        parsed = parse_fetched(fetched, round_id, slim=fetched_meta).localCheckpoint()

        # -- items sink (S8/S11/S12: drop internals; MERGE-by-URL happens at
        # read time over append segments, see items())
        from .parse import is_continuation_col

        new_items = parsed.filter(~is_continuation_col()).select(*ITEM_COLS)

        # -- frontier expansion (anti-join dedup against everything enqueued)
        cont = continuation_rows(parsed, round_id, self.n_images)
        expn = expansion_candidates(
            parsed, round_id, self.n_images, self.conf.interested
        )
        cand = cont.unionByName(expn)
        from .frontier import first_arrival

        cand = first_arrival(cand, "sha_int", ("_parent_order", "_pos"))
        fresh = filter_unseen(cand, seen, bloom=bloom, use_bloom=self.conf.use_bloom)
        new_rows = assign_seq(fresh, base_seq).localCheckpoint()
        n_new = new_rows.count()
        max_seq = base_seq + n_new

        # -- frontier status flip (S9/S10: ack/nack) as a DELTA, not a
        # full-table rewrite: `meta` already carries the complete frontier
        # row for every selected URL, so the flipped rows are derived
        # row-locally (no join against the frontier) and APPENDED as a
        # new segment stamped state_round=round_id; frontier_view()'s
        # latest-state merge supersedes the old rows at read (Iceberg
        # MERGE with equality deletes). Per-round write cost is
        # O(selected + new), not O(frontier) — at a 10^10-row frontier
        # with small rounds this is the difference between appending a
        # round-sized file and rewriting the table every round.
        flipped = meta.withColumns(
            {
                "status": F.when(F.col("fetch_status") == "fetched", F.lit("fetched"))
                .when(F.col("fetch_status") == "deferred", F.lit("pending"))
                .otherwise(F.lit("failed")),
                "attempt": F.when(
                    F.col("fetch_status").isin("deferred", "failed"),
                    F.col("attempt") + 1,
                ).otherwise(F.col("attempt")),
                "round_fetched": F.when(
                    F.col("fetch_status") == "fetched", F.lit(round_id)
                ).otherwise(F.col("round_fetched")),
                # pending rows always carry fetch_seq NULL, so the only
                # non-null value to record is this round's rank on fetch
                "fetch_seq": F.when(
                    F.col("fetch_status") == "fetched", F.col("fetch_seq")
                ).otherwise(F.lit(None).cast("long")),
                "reason": F.coalesce(F.col("fetch_reason"), F.col("reason")),
                "state_round": F.lit(round_id),
            }
        )
        frontier_delta = flipped.select(*FRONTIER_COLS).unionByName(new_rows)

        # -- seen delta (D1/D2: enqueue-time dedup identity)
        seen_new = new_rows.select(
            "url_sha1", "sha_int", "url_canon", "host", "round_added"
        )

        # -- lineage counters (A9 / north_rule): per-partition status counts
        lineage_new = (
            meta.groupBy(
                F.spark_partition_id().alias("partition_id"),
                "site",
                F.col("fetch_status").alias("status"),
            )
            .agg(F.count("*").alias("n"))
            .withColumn("round", F.lit(round_id))
            .select(*[f.name for f in schemas.LINEAGE.fields])
        )

        # -- fetch log (every pop, in order — the parity artifact)
        log_new = meta.select(
            "fetch_seq",
            F.lit(round_id).alias("round"),
            "url_canon",
            "url_sha1",
            "site",
            "host",
            F.col("fetch_status").alias("status"),
            "attempt",
        )

        meta_out = {
            "round": round_id,
            "max_seq": int(max_seq),
            "fetch_seq": int(base_fetch_seq + n_selected),
        }
        # per-round bloom DELTA, sized to its own key count (the
        # LSM/SSTable per-segment-filter discipline): the base filter is
        # never rewritten in a normal round — with the frontier delta
        # above, NOTHING written per round scales with corpus size.
        from .bloom import adaptive_m_bits

        appends = {
            "frontier": frontier_delta,
            "seen": seen_new,
            "items": new_items,
            "lineage": lineage_new,
            "fetch_log": log_new,
        }
        if n_new:
            appends["bloom"] = build_bloom(
                new_rows, m_bits=adaptive_m_bits(n_new)
            )
        # AIMD politeness state for NEXT round's effective_policy —
        # a host-sized overwrite, folded from this round's log only:
        # O(round + hosts)
        tables_out: dict[str, DataFrame] = {}
        if self.conf.adaptive_delay:
            tables_out["host_delay"] = self._fold_host_delay(log_new)
        self.store.commit(
            tables=tables_out or None,
            appends=appends,
            meta=meta_out,
            # flipped has one row per selected URL (meta is derived
            # row-locally from the selection), so the delta size is
            # known without another job
            row_counts={"frontier": n_selected + n_new},
        )
        return {
            "round": round_id,
            "selected": n_selected,
            "new_urls": n_new,
        }

    # ------------------------------------------------------------------
    def compact(self) -> None:
        """Fold frontier delta segments into a single base segment
        (Iceberg rewrite_data_files analog) and the per-round bloom
        delta filters into one right-sized filter built from the full
        seen set; manifest meta is preserved. The one compaction path:
        run_round calls it every compact_every frontier segments, and
        run() on drain, so external snapshot readers see the final
        frontier as raw parquet without the merge view."""
        m = self.store.manifest()
        tables = {}
        from .bloom import adaptive_m_bits
        from .frontier import latest_state

        if len(m["tables"].get("frontier", [])) > 1:
            tables["frontier"] = latest_state(
                self.store.load(self.spark, "frontier"), "sha_int", "state_round"
            )
        if len(m["tables"].get("bloom", [])) > 1:
            seen = self.store.load(self.spark, "seen")
            tables["bloom"] = build_bloom(
                seen.select("sha_int"),
                m_bits=adaptive_m_bits(int(m["meta"].get("max_seq", 0)) + 1),
            )
        if tables:
            self.store.commit(tables=tables, meta=m["meta"])

    # ------------------------------------------------------------------
    def run(self, max_rounds: int | None = None) -> list[dict]:
        """Iterate rounds until the frontier is dry (T3 idle-loop analog),
        compacting the frontier's delta segments once drained."""
        stats = []
        limit = max_rounds if max_rounds is not None else self.conf.max_rounds
        for _ in range(limit):
            s = self.run_round()
            if s is None:
                self.compact()
                break
            stats.append(s)
        return stats

    # ------------------------------------------------------------------
    def crawl_order(self) -> list[str]:
        """Canonical URLs in pop order, retries included (parity artifact)."""
        log = self.store.load(self.spark, "fetch_log")
        rows = log.orderBy("fetch_seq").select("url_canon").collect()
        return [r[0] for r in rows]

    def items(self) -> DataFrame:
        """Item table with MERGE-by-canonical-URL semantics (latest round
        wins — reference: update_or_create keyed on URL,
        gather_data_from_crunchy.py:144-146)."""
        raw = self.store.load(self.spark, "items")
        wi = Window.partitionBy("url_sha1").orderBy(F.desc("round_fetched"))
        return raw.withColumn("_rn", F.row_number().over(wi)).filter(
            F.col("_rn") == 1
        ).drop("_rn")

    def seen_set(self) -> list[str]:
        """Sorted canonical-URL SHA-1 list (the parity seen-set artifact)."""
        s = self.store.load(self.spark, "seen")
        return [r[0] for r in s.select("url_sha1").orderBy("url_sha1").collect()]
