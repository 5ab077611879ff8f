"""The benchmark's workloads: set-up, timed loop and output checks.

Each workload function takes a ``Run`` (session, scratch directory,
seed, time budget, trace flag) and fills ``run.metrics`` plus the
attempted/failed counters. Checks run after the timed loop; every
failed check or raised call counts as one failed operation.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from . import gen
from .trace import StealMeter, Tracer, median

ROUND_SECONDS = 5.0  # the reference politeness (DOWNLOAD_DELAY=5)
# set-ups per untraced run (setup_s takes their median): a cold crawl
# bootstrap is ~20-30 s here, so only the cheap scheduling set-up repeats
SETUP_REPS = {"crawl_polite": 1, "schedule_dedup": 2, "curation_ops": 3}
# The seed code's wall for one timed unit (round, pass, sweep) on a 4-vCPU
# host. A run times round(--seconds / UNIT_S) units, at least one: the
# count depends on --seconds alone, never on how fast the code under test
# is, so a faster change times the same units as its parent.
UNIT_S = {"crawl_polite": 12.0, "schedule_dedup": 3.0, "curation_ops": 15.0}
TRACE_COMPACT = 2  # a traced crawl compacts at 2 segments: round 2, after the ingest
TRACE_PAIRS = 2  # untraced/traced pass pairs of a traced schedule_dedup run
SCHEDULE_ROUND_S = 3600.0  # one logical hour: 720 pops per 5 s-delay host
WARMUP_PASSES = 1

CURATION_OPS = [
    "crawl_schedule_dedup",
    "politeness_schedule",
    "surt_url_index",
    "host_pagerank",
    "minhash_lsh_pairs",
]


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    size: str = "bench"
    corrupt: bool = False
    tracer: Tracer | None = None
    steal: StealMeter = field(default_factory=StealMeter)
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def attempt(self, what: str, fn, *a, **kw):
        """Run one counted operation; a raise is a failure, not a crash."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:
            self.failed += 1
            self.notes.append(f"{what} raised:\n{traceback.format_exc()}")
            return None

    def units(self, workload: str) -> int:
        return max(1, round(self.seconds / UNIT_S[workload]))

    def timed(self, fn, *a, **kw):
        """``steal.timed``, then, untraced, a full collection outside the
        timed region: every unit starts on a clean heap, and the GC log
        records the live heap after every unit (see ``peak_mem_mib`` in
        run.py). Traced runs report no memory metric and skip it: they
        must end within the same time limit with far more work."""
        out = self.steal.timed(fn, *a, **kw)
        if not self.trace:
            self.spark._jvm.java.lang.System.gc()
        return out

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"check failed: {what}")


# ---------------------------------------------------------------------------
# crawl_polite
# ---------------------------------------------------------------------------
def _engine(run: Run, tag: str, size: str, compact_every: int | None = None):
    from crunchy_spark.loop import CrawlConfig, CrawlEngine
    from crunchy_spark.snapshot import SnapshotStore

    fx = run.path(f"fx-{tag}")
    gen.write_crawl(fx, run.seed, size)
    conf = CrawlConfig(round_seconds=ROUND_SECONDS)
    if compact_every is not None:
        conf.compact_every = compact_every
    eng = CrawlEngine(run.spark, SnapshotStore(run.path(f"store-{tag}")), fx, conf)
    eng.bootstrap(run.spark.read.parquet(os.path.join(fx, "frontier_seed.parquet")))
    return eng


def _twin(run: Run, eng, tag: str):
    """An engine on a copy of ``eng``'s store: same state, so its next
    call does the same work as ``eng``'s next call."""
    from crunchy_spark.loop import CrawlEngine
    from crunchy_spark.snapshot import SnapshotStore

    root = run.path(f"store-twin-{tag}")
    shutil.copytree(eng.store.root, root)
    return CrawlEngine(run.spark, SnapshotStore(root), eng.fixtures_dir, eng.conf)


def _segments(eng) -> int:
    return len(eng.store.manifest()["tables"]["frontier"])


def overhead(traced: list[float], untraced: list[float]) -> float:
    """(traced wall - untraced wall) / untraced wall, over medians."""
    return median(traced) / max(median(untraced), 1e-9) - 1.0


def crawl_rounds(run: Run, eng, n_rounds: int):
    """``n_rounds`` rounds: [(Unit, URLs popped, frontier segments at
    round start)] per round."""
    rounds = []
    for _ in range(n_rounds):
        segs = _segments(eng)
        res = run.attempt("run_round", run.timed, eng.run_round)
        if res is None or res[1] is None:
            if res is not None:
                run.failed += 1
                run.notes.append("frontier ran dry")
            break
        rounds.append((res[0], res[1]["selected"], segs))
    return rounds


def ingest(run: Run, eng):
    """Ingest the first seed batch (half of it re-sent URLs), so the next
    round reads the segments it writes; its Unit, or None if it raised."""
    batch = run.spark.read.parquet(os.path.join(eng.fixtures_dir, "ingest_0.parquet"))
    res = run.attempt("ingest_seeds", run.timed, eng.ingest_seeds, batch)
    return None if res is None else res[0]


def check_crawl(run: Run, eng) -> None:
    """fetch_seq contiguous from 1; no host over its per-round budget;
    lineage sums to the fetch log; seen unique by url_sha1."""
    spark, store = run.spark, eng.store
    log = store.load(spark, "fetch_log")
    if run.corrupt:
        log = log.filter(F.col("fetch_seq") != 2)
    seqs = [r[0] for r in log.select("fetch_seq").orderBy("fetch_seq").collect()]
    run.check("fetch_seq contiguous from 1", seqs == list(range(1, len(seqs) + 1)))

    budget = F.greatest(
        F.lit(1),
        F.floor(F.lit(ROUND_SECONDS) / F.coalesce("crawl_delay_s", F.lit(5.0))),
    ) * F.coalesce("max_concurrent", F.lit(1))
    over = (
        log.groupBy("round", "host")
        .count()
        .join(eng.host_policy, "host", "left")
        .filter(F.col("count") > budget)
        .count()
    )
    run.check("per-round host budget", over == 0)

    n_lineage = store.load(spark, "lineage").agg(F.sum("n")).first()[0] or 0
    run.check("lineage sums to fetch_log rows", n_lineage == len(seqs))

    seen = store.load(spark, "seen")
    dup = seen.groupBy("url_sha1").count().filter(F.col("count") > 1).count()
    run.check("seen unique by url_sha1", dup == 0)


def crawl_polite(run: Run) -> None:
    """Untraced: the engine's default config, ``run.units`` rounds after
    bootstrap. Traced: round 1, a seed ingest, round 2 compacting at
    TRACE_COMPACT segments, so the spans cover commit, ingest, compaction
    and expiry. For trace.overhead_frac, two untraced twin engines copied
    from the store after round 1 run the same ingest: the first warms the
    ingest's code paths, the second is compared with the traced one."""
    if run.trace:
        _install_engine_spans(run)
    setup = []
    eng = None
    for k in range(1 if run.trace else SETUP_REPS["crawl_polite"]):
        unit, eng = run.timed(
            _engine, run, f"s{k}", run.size, TRACE_COMPACT if run.trace else None
        )
        setup.append(unit)
    run.metrics["_setup_reps"] = setup

    if run.trace:
        rounds = crawl_rounds(run, eng, 1)
        warm, twin = _twin(run, eng, "warm"), _twin(run, eng, "plain")
        with run.tracer.paused():
            ingest(run, warm)
        ingests = [ingest(run, eng)]
        with run.tracer.paused():
            ingests.append(ingest(run, twin))
        rounds += crawl_rounds(run, eng, 1)
        traced, plain = ingests
        run.metrics["trace.overhead_frac"] = (
            overhead([traced.adj], [plain.adj]) if traced and plain else 0.0
        )
    else:
        rounds = crawl_rounds(run, eng, run.units("crawl_polite"))
    units = [u for u, _, _ in rounds]
    run.metrics["step_p50_s"] = median(u.adj for u in units)
    run.metrics["rate_per_s"] = sum(n for _, n, _ in rounds) / max(
        sum(u.adj for u in units), 1e-9
    )
    run.notes.append(
        f"crawl_polite: rounds (wall, selected, segments) "
        f"{[(round(u.wall, 2), n, s) for u, n, s in rounds]}"
    )
    if run.trace:
        run.notes.append(
            f"ingests (traced, untraced twin) {[round(u.wall, 2) for u in ingests if u]}"
        )
    check_crawl(run, eng)
    if run.trace:
        crawl_layer_metrics(run, eng, rounds)
        isolate_crawl_layers(run, eng)
        queries_tour(run)


# ---------------------------------------------------------------------------
# traced-run layer metrics shared by every workload
# ---------------------------------------------------------------------------
def _install_engine_spans(run: Run) -> None:
    from crunchy_spark.loop import CrawlEngine
    from crunchy_spark.snapshot import SnapshotStore

    if run.tracer.patched(CrawlEngine):
        return
    run.tracer.install(
        [
            (CrawlEngine, "bootstrap", "bootstrap"),
            (CrawlEngine, "run_round", "run_round"),
            (CrawlEngine, "ingest_seeds", "ingest_seeds"),
            (CrawlEngine, "frontier_view", "frontier_view"),
            (CrawlEngine, "compact", "compact"),
            (SnapshotStore, "commit", "commit"),
            (SnapshotStore, "expire_snapshots", "expire_snapshots"),
        ]
    )
    # files a commit writes: listed before/after, outside the span
    def make(orig):
        def commit(store, *a, **kw):
            if run.tracer.off:
                return orig(store, *a, **kw)
            before = _files(store.data_dir)
            out = orig(store, *a, **kw)
            new = {p: n for p, n in _files(store.data_dir).items() if p not in before}
            run.metrics.setdefault("_commit_files", []).append(
                (len(new), sum(new.values()))
            )
            return out

        return commit

    run.tracer.patch(SnapshotStore, "commit", make)


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _du_mb(root: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    ) / 1e6


def crawl_layer_metrics(run: Run, eng, rounds) -> None:
    """loop / snapshot / fetchsim metrics from the traced crawl's spans."""
    t, m = run.tracer, run.metrics
    t.collect_jobs()
    rs = t.named("run_round")
    in_round = {s.sid for r in rs for s in t.subtree(r)}
    m["loop.round_self_s"] = median(s.self_s for s in rs)
    m["loop.frontier_view_s"] = median(
        s.dur for s in t.named("frontier_view") if s.sid in in_round
    )
    m["loop.bootstrap_s"] = median(s.dur for s in t.named("bootstrap"))
    for attr, key in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks")):
        m[f"loop.{key}_per_round"] = sum(t.inclusive(r, attr) for r in rs) / max(
            1, len(rs)
        )
    m["loop.compact_rounds"] = sum(
        1 for r in rs if any(c.name == "expire_snapshots" for c in t.subtree(r))
    )
    m["loop.round_tail_s"] = max(u.wall for u, _, _ in rounds)
    m["loop.ingest_p50_s"] = median(s.dur for s in t.named("ingest_seeds"))
    m["snapshot.commit_s"] = median(s.dur for s in t.named("commit"))
    m["snapshot.expire_s"] = sum(s.dur for s in t.named("expire_snapshots"))
    files = m.pop("_commit_files", [])
    m["snapshot.files_written"] = sum(f for f, _ in files)
    m["snapshot.mb_written"] = sum(b for _, b in files) / 1e6
    m["snapshot.frontier_segments"] = sum(s for _, _, s in rounds) / len(rounds)
    m["snapshot.store_mb"] = _du_mb(eng.store.root)
    log = eng.store.load(run.spark, "fetch_log")
    by = {r[0]: r[1] for r in log.groupBy("status").count().collect()}
    n = sum(by.values())
    m["fetchsim.attempted"] = n
    m["fetchsim.deferred"] = by.get("deferred", 0)
    m["fetchsim.failed"] = by.get("failed", 0)
    m["fetchsim.ok_ratio"] = by.get("fetched", 0) / max(1, n)
    run.notes.append(
        f"round walls {[round(u.wall, 2) for u, _, _ in rounds]}: round_tail_s is the p100 "
        f"of {len(rounds)} samples"
    )


def _forced(run: Run, name: str, df):
    """Force ``df`` with one action under its own span: an eager local
    checkpoint, which computes every column (no pruning) and keeps the
    rows as the next layer's input. Returns (wall, span, materialized df)."""
    with run.tracer.span(name) as sp:
        out = df.localCheckpoint()
    return sp.dur, sp, out


def isolate_crawl_layers(run: Run, eng, only: set[str] | None = None) -> None:
    """Time each lazy layer on its own, on inputs captured from the crawl
    store's current snapshot (the shape of the next round), forcing each
    with one action. ``only`` restricts to some layers."""
    from crunchy_spark.bloom import (
        DEFAULT_N_BUCKETS,
        adaptive_m_bits,
        build_bloom,
        filter_unseen,
        probe_bloom,
    )
    from crunchy_spark.expand import continuation_rows, expansion_candidates
    from crunchy_spark.fetchsim import fetch_payloads
    from crunchy_spark.frontier import (
        first_arrival,
        global_fifo_rank,
        max_host_budget,
        select_fetchable,
    )
    from crunchy_spark.parse import parse_fetched
    from crunchy_spark.urlnorm import with_url_identity

    want = (lambda layer: True) if only is None else (lambda layer: layer in only)
    spark, store, conf, m = run.spark, eng.store, eng.conf, run.metrics
    meta = store.manifest()["meta"]
    round_id = int(meta["round"]) + 1
    seen = store.load(spark, "seen").localCheckpoint()
    bloom = store.load_segments(spark, "bloom")
    pending = eng.frontier_view().filter(F.col("status") == "pending").localCheckpoint()
    n_pending = pending.count()
    policy = eng.effective_policy()
    census = eng.host_census_view().localCheckpoint()

    sel_s, sel_sp, selected = _forced(
        run, "iso.select",
        select_fetchable(
            pending, policy, round_seconds=conf.round_seconds, salt_k=conf.salt_k,
            census=census, rows_per_salt=conf.rows_per_salt,
            max_budget=max_host_budget(eng.host_policy, conf.round_seconds),
        ),
    )
    n_sel = selected.count()
    rank_s, rank_sp, ranked = _forced(
        run, "iso.rank",
        global_fifo_rank(selected, ("queue_rank", "seq"), "fetch_seq",
                         base=int(meta["fetch_seq"])),
    )
    fetch_s, _, payloads = _forced(
        run, "iso.fetch",
        fetch_payloads(ranked, eng.images, eng.page_meta, conf.max_attempts),
    )
    fetched = payloads.filter(F.col("fetch_status") == "fetched")
    parse_s, _, parsed = _forced(run, "iso.parse", parse_fetched(fetched, round_id))
    n_parsed = parsed.count()
    bytes_in = fetched.agg(F.sum(F.length("bytes"))).first()[0] or 0
    expand_s, _, cand = _forced(
        run, "iso.expand",
        continuation_rows(parsed, round_id, eng.n_images).unionByName(
            expansion_candidates(parsed, round_id, eng.n_images, conf.interested)
        ),
    )
    n_cand = cand.count()
    dedup_s, dedup_sp, dedup = _forced(
        run, "iso.dedup", first_arrival(cand, "sha_int", ("_parent_order", "_pos"))
    )
    n_dedup = dedup.count()
    probe_s, _, fresh = _forced(run, "iso.probe", filter_unseen(dedup, seen, bloom=bloom))
    n_fresh = fresh.count()
    maybe = (
        probe_bloom(dedup, bloom, DEFAULT_N_BUCKETS)
        .agg(F.sum(F.col("_maybe_seen").cast("long")))
        .first()[0]
        or 0
    )
    n_seen = seen.count()
    build_s, _, _ = _forced(
        run, "iso.build", build_bloom(seen.select("sha_int"), m_bits=adaptive_m_bits(n_seen))
    )
    seeds = spark.read.parquet(os.path.join(eng.fixtures_dir, "frontier_seed.parquet"))
    ident_s, _, _ = _forced(run, "iso.identity", with_url_identity(seeds, "url"))
    run.tracer.collect_jobs()

    if want("frontier"):
        m["frontier.select_s"] = sel_s
        m["frontier.rank_s"] = rank_s
        m["frontier.dedup_s"] = dedup_s
        m["frontier.pending_rows"] = n_pending
        m["frontier.selected_rows"] = n_sel
        m["frontier.select_ratio"] = n_sel / max(1, n_pending)
        m["frontier.shuffle_write_mb"] = (
            sum(t.shuffle_write for t in (sel_sp, rank_sp, dedup_sp)) / 1e6
        )
    if want("urlnorm"):
        m["urlnorm.identity_s"] = ident_s
        m["urlnorm.rows"] = seeds.count()
    if want("bloom"):
        m["bloom.probe_s"] = probe_s
        m["bloom.build_s"] = build_s
        m["bloom.maybe_rate"] = maybe / max(1, n_dedup)
        m["bloom.segments"] = len(bloom)
    if want("fetchsim"):
        m["fetchsim.fetch_s"] = fetch_s
    if want("parse"):
        m["parse.decode_s"] = parse_s
        m["parse.rows"] = n_parsed
        m["parse.bytes_in_mb"] = bytes_in / 1e6
    if want("expand"):
        m["expand.s"] = expand_s
        m["expand.candidates"] = n_cand
        m["expand.fresh_rows"] = n_fresh
        m["expand.fresh_ratio"] = n_fresh / max(1, n_cand)


def crawl_tour(run: Run, only: set[str] | None = None) -> None:
    """A small seeded crawl (bootstrap, one compacting round, one ingest)
    that fills the crawl layers' metrics on workloads whose own work never
    reaches them."""
    _install_engine_spans(run)
    eng = _engine(run, "tour", "tiny", compact_every=1)
    rounds = crawl_rounds(run, eng, 1)
    ingest(run, eng)
    crawl_layer_metrics(run, eng, rounds)
    isolate_crawl_layers(run, eng, only)


# ---------------------------------------------------------------------------
# schedule_dedup
# ---------------------------------------------------------------------------
def _schedule_state(run: Run, d: str):
    from crunchy_spark.bloom import build_bloom
    from crunchy_spark.urlnorm import with_url_identity

    spark = run.spark
    frontier = spark.read.parquet(os.path.join(d, "frontier"))
    seen = spark.read.parquet(os.path.join(d, "seen"))
    policy = spark.read.parquet(os.path.join(d, "host_policy"))
    # engine-maintained state (the engine keeps both incrementally across
    # rounds), so built here in set-up, outside the timed passes
    bloom = build_bloom(seen).localCheckpoint()
    bloom.count()
    census = (
        with_url_identity(frontier, "url")
        .groupBy("host")
        .agg(F.count("*").alias("n_pending"))
        .localCheckpoint()
    )
    census.count()
    return frontier, seen, policy, bloom, census


def schedule_pass(frontier, seen, policy, bloom, census):
    """The engine's scheduling core, as run_round composes it."""
    from crunchy_spark.bloom import filter_unseen
    from crunchy_spark.frontier import first_arrival, max_host_budget, select_fetchable
    from crunchy_spark.urlnorm import with_url_identity

    ident = with_url_identity(frontier, "url").select("sha_int", "seq", "host", "queue_rank")
    dedup = first_arrival(ident, "sha_int", ("seq",))
    fresh = filter_unseen(dedup, seen, bloom=bloom, use_bloom=True)
    return select_fetchable(
        fresh, policy, round_seconds=SCHEDULE_ROUND_S, salt_k=128, census=census,
        max_budget=max_host_budget(policy, SCHEDULE_ROUND_S),
    )


def check_schedule(run: Run, state) -> None:
    """Selected count and per-host cap against a plain groupBy
    recomputation: exact dedup, exact anti-join, min(pending, budget)."""
    from crunchy_spark.urlnorm import with_url_identity

    frontier, seen, policy, _, _ = state
    sel = schedule_pass(*state)
    if run.corrupt:
        sel = sel.filter(F.col("seq") % 97 != 5)
    got = {r[0]: r[1] for r in sel.groupBy("host").count().collect()}
    plain = (
        with_url_identity(frontier, "url")
        .groupBy("sha_int", "host")
        .agg(F.min("seq").alias("seq"))
        .join(seen.select("sha_int"), "sha_int", "left_anti")
        .groupBy("host")
        .count()
        .join(policy, "host", "left")
        .select(
            "host",
            F.least(
                F.col("count"),
                F.greatest(
                    F.lit(1),
                    F.floor(F.lit(SCHEDULE_ROUND_S) / F.coalesce("crawl_delay_s", F.lit(5.0))),
                ) * F.coalesce("max_concurrent", F.lit(1)),
            ).alias("want"),
        )
    )
    want = {r[0]: r[1] for r in plain.collect()}
    run.check("selected count", sum(got.values()) == sum(want.values()))
    run.check("per-host cap", got == want)


def schedule_dedup(run: Run) -> None:
    setup = []
    state = None
    for k in range(1 if run.trace else SETUP_REPS["schedule_dedup"]):
        d = run.path(f"sched-{k}")

        def set_up(d=d):
            gen.write_schedule(d, run.seed, run.size)
            return _schedule_state(run, d)

        unit, state = run.timed(set_up)
        setup.append(unit)
    run.metrics["_setup_reps"] = setup
    n = gen.SCHEDULE_SIZES[run.size]
    # untimed pass first: the first pass in a fresh driver pays JIT and
    # plan compilation
    for _ in range(WARMUP_PASSES):
        run.attempt("warm-up pass", lambda: schedule_pass(*state).count())

    def one_pass(traced: bool):
        with run.tracer.span("pass") if traced else nullcontext():
            return run.attempt(
                "scheduling pass", run.timed, lambda: schedule_pass(*state).count()
            )

    # traced: untraced and traced passes alternate, for trace.overhead_frac
    plan = [k % 2 == 1 for k in range(2 * TRACE_PAIRS)] if run.trace else (
        [False] * run.units("schedule_dedup")
    )
    walls, traced = [], []
    for on in plan:
        res = one_pass(on)
        if res is None:
            break
        (traced if on else walls).append(res[0])
    if run.trace:
        run.metrics["trace.overhead_frac"] = overhead(
            [u.adj for u in traced], [u.adj for u in walls]
        )
    run.metrics["step_p50_s"] = median(u.adj for u in walls)
    run.metrics["rate_per_s"] = n / max(run.metrics["step_p50_s"], 1e-9)
    run.notes.append(
        f"schedule_dedup: {len(walls)} passes {[round(u.wall, 2) for u in walls]}, "
        f"traced passes {[round(u.wall, 2) for u in traced]}"
    )
    check_schedule(run, state)
    if run.trace:
        isolate_schedule_layers(run, state)
        crawl_tour(run, only={"fetchsim", "parse", "expand"})
        queries_tour(run)


def isolate_schedule_layers(run: Run, state) -> None:
    """frontier / urlnorm / bloom layers of one pass, each on its own."""
    from crunchy_spark.bloom import DEFAULT_N_BUCKETS, build_bloom, filter_unseen, probe_bloom
    from crunchy_spark.frontier import (
        first_arrival,
        global_fifo_rank,
        max_host_budget,
        select_fetchable,
    )
    from crunchy_spark.urlnorm import with_url_identity

    frontier, seen, policy, bloom, census = state
    m = run.metrics
    ident_s, _, ident = _forced(run, "iso.identity", with_url_identity(frontier, "url"))
    ident = ident.select("sha_int", "seq", "host", "queue_rank")
    n = ident.count()
    dedup_s, dedup_sp, dedup = _forced(
        run, "iso.dedup", first_arrival(ident, "sha_int", ("seq",))
    )
    n_dedup = dedup.count()
    probe_s, _, fresh = _forced(run, "iso.probe", filter_unseen(dedup, seen, bloom=bloom))
    n_fresh = fresh.count()
    maybe = (
        probe_bloom(dedup, bloom, DEFAULT_N_BUCKETS)
        .agg(F.sum(F.col("_maybe_seen").cast("long")))
        .first()[0]
        or 0
    )

    sel_s, sel_sp, selected = _forced(
        run, "iso.select",
        select_fetchable(
            fresh, policy, round_seconds=SCHEDULE_ROUND_S, salt_k=128, census=census,
            max_budget=max_host_budget(policy, SCHEDULE_ROUND_S),
        ),
    )
    n_sel = selected.count()
    rank_s, rank_sp, _ = _forced(
        run, "iso.rank", global_fifo_rank(selected, ("queue_rank", "seq"), "fetch_seq")
    )
    build_s, _, _ = _forced(run, "iso.build", build_bloom(seen))
    run.tracer.collect_jobs()
    m.update(
        {
            "frontier.select_s": sel_s,
            "frontier.rank_s": rank_s,
            "frontier.dedup_s": dedup_s,
            "frontier.pending_rows": n_fresh,
            "frontier.selected_rows": n_sel,
            "frontier.select_ratio": n_sel / max(1, n_fresh),
            "frontier.shuffle_write_mb": sum(
                s.shuffle_write for s in (sel_sp, rank_sp, dedup_sp)
            ) / 1e6,
            "urlnorm.identity_s": ident_s,
            "urlnorm.rows": n,
            "bloom.probe_s": probe_s,
            "bloom.build_s": build_s,
            "bloom.maybe_rate": maybe / max(1, n_dedup),
            "bloom.segments": 1,
        }
    )


# ---------------------------------------------------------------------------
# curation_ops
# ---------------------------------------------------------------------------
class _Collected:
    """Already-collected rows in the shape ``oracle_util.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def _oracle_util():
    tests = os.path.join(gen.ROOT, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import oracle_util

    return oracle_util


def curation_sweeps(run: Run, d: str, ops, traced: list[bool]):
    """One sweep of ``ops`` per entry of ``traced``; a True entry runs each
    operator in its own span. Returns each sweep's {op: Unit} and each
    operator's last rows."""
    from crunchy_spark.queries import QUERIES

    sweeps: list[dict] = []
    last: dict[str, _Collected] = {}
    for on in traced:
        sweeps.append({})
        for op in ops:
            def one(op=op):
                df = QUERIES[op](run.spark, d)
                return df.columns, df.collect()

            with run.tracer.span(f"query.{op}") if on else nullcontext():
                res = run.attempt(op, run.timed, one)
            if res is not None:
                sweeps[-1][op] = res[0]
                last[op] = _Collected(*res[1])
    return sweeps, last


def check_curation(run: Run, d: str, last: dict) -> None:
    import duckdb

    from crunchy_spark.queries import ORACLES

    ou = _oracle_util()
    con = duckdb.connect()
    for t in ("orders", "lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    for op, res in last.items():
        if run.corrupt:
            res = _Collected(res.columns, res.collect()[1:])
        try:
            ou.compare(res, con, ORACLES[op], op)
            ok = True
        except AssertionError as e:
            run.notes.append(str(e)[:300])
            ok = False
        run.check(f"{op} vs DuckDB oracle", ok)


def curation_ops(run: Run) -> None:
    setup = []
    d = None
    for k in range(SETUP_REPS["curation_ops"]):
        d = run.path(f"cur-{k}")
        setup.append(run.timed(gen.write_curation, d, run.seed, run.size)[0])
    run.metrics["_setup_reps"] = setup
    # traced: sweeps 1 and 3 traced, sweep 2 untraced for trace.overhead_frac
    plan = [True, False, True] if run.trace else [False] * run.units("curation_ops")
    sweeps, last = curation_sweeps(run, d, CURATION_OPS, plan)
    per_op = {
        op: median(s[op].adj for s in sweeps if op in s) for op in CURATION_OPS
    }
    run.metrics["step_p50_s"] = sum(per_op.values())
    run.metrics["rate_per_s"] = len(CURATION_OPS) / max(sum(per_op.values()), 1e-9)
    run.notes.append(
        "curation_ops: "
        + ", ".join(
            f"{op}={[round(s[op].wall, 2) for s in sweeps if op in s]}"
            for op in CURATION_OPS
        )
    )
    check_curation(run, d, last)
    if run.trace:
        query_layer_metrics(run, [sweeps[0], sweeps[2]])
        run.metrics["trace.overhead_frac"] = overhead(
            [sum(u.adj for u in sweeps[2].values())],
            [sum(u.adj for u in sweeps[1].values())],
        )
        crawl_tour(run)


def query_layer_metrics(run: Run, sweeps: list[dict]) -> None:
    run.tracer.collect_jobs()
    for op in CURATION_OPS:
        run.metrics[f"queries.{op}_s"] = median(s[op].wall for s in sweeps if op in s)
    run.metrics["queries.shuffle_write_mb"] = sum(
        run.tracer.inclusive(s, "shuffle_write")
        for op in CURATION_OPS
        for s in run.tracer.named(f"query.{op}")
    ) / 1e6


def queries_tour(run: Run) -> None:
    """One checked sweep of the curation operators over the smallest
    tables, so the queries layer has numbers on workloads that never call
    it."""
    d = run.path("cur-tour")
    gen.write_curation(d, run.seed, "tiny")
    sweeps, last = curation_sweeps(run, d, CURATION_OPS, [True])
    check_curation(run, d, last)
    query_layer_metrics(run, sweeps)


WORKLOADS = {
    "crawl_polite": crawl_polite,
    "schedule_dedup": schedule_dedup,
    "curation_ops": curation_ops,
}
