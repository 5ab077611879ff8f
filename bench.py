"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall seconds over the headline set (lower is better). The
per-query dict carries each query's seconds. The frontier-throughput /
N-vs-4N scaling evidence lives in bench/scaling_bench.py (writes
BENCH_SCALING.md) since it needs two SparkSessions.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational core
    "pricing_summary",
    "top_revenue_orders",
    "nation_revenue",
    "top3_orders_per_customer",
    "graph_two_hop",
    # crawl operators
    "url_canonicalize",
    "url_fingerprint",
    "crawl_schedule_dedup",
    "politeness_schedule",
    # training-data ops
    "dedup_exact",
    "ngram_shingle_jaccard_pairs",
    "embedding_neardup_cosine",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "quality_score",
    "ann_cosine_topk",
    "ann_lsh_bucket_topk",
    "event_sessions",
    "entity_match_tiers",
    "fuzzy_ratio_topk",
    # round 3: whole-corpus curation ops (new work — additive vs BENCH_r02)
    "neardup_components",
    "pii_redact",
    "repetition_quality",
    "ngram_topk_corpus",
    "benchmark_decontaminate",
    # round 3: cross-modal curation + retrieval/sampling/as-of batch
    "crossmodal_dup_classify",
    "image_dup_canonical",
    "events_asof_join",
    "stratified_sample",
    "bm25_topk",
    "doc_pack_sequences",
    "vocab_topk",
    # round 3 batch II: corpus-statistics scoring + image batch prep
    "unigram_logprob_quality",
    "tfidf_topk_terms",
    "aspect_bucket_batches",
    "image_shard_pack",
    "host_pagerank",
    "recrawl_schedule",
    # round 3 batch III: crawl hygiene + target-domain curation
    "url_trap_detect",
    "mirror_host_detect",
    "crawl_budget_alloc",
    "dsir_select",
    "semdedup_prune",
    "ccnet_quality_buckets",
    "clip_hard_negatives",
    # round 3 batch IV: substring dedup, corpus health, skew + packing,
    # PQ ANN (additive vs BENCH_r02)
    "dup_span_detect",
    "token_zipf_slope",
    "skew_diagnostics",
    "frontier_shard_plan",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    # round 3 batch V: tokenizer training, incremental dedup, boilerplate
    "bpe_merge_topk",
    "incremental_neardup",
    "boilerplate_strip",
    "curation_keep_list",
    # round 3 batch VI: HITS link analysis, bigram-LM quality, and the
    # composed multimodal keep/drop decision table
    "host_hits",
    "bigram_logprob_quality",
    "image_keep_list",
    # round 3 batch VII: oracled binary header sniff + SURT URL index
    "image_header_sniff",
    "surt_url_index",
    # round 3 batch VIII: WARC offsets, conditional-GET plan, lang-ID eval
    "warc_offset_index",
    "etag_revalidate_plan",
    "lang_confusion",
    # round 3 batch IX: redirects, per-IP politeness, zero-shot, index lookup
    "redirect_resolve",
    "host_ip_politeness",
    "zero_shot_label_match",
    "surt_prefix_lookup",
    # round 3 batch X: LM transfer scoring and distribution-drift monitor
    "caption_lm_fluency",
    "quality_ks_drift",
    "sitemap_diff",
    "canonical_resolve",
    "image_ingest_manifest",
    "dedup_layer_agreement",
    # round 3 batch XII: link-graph analytics, splits, dedup report,
    # entropy gate, recompression plan
    "anchor_text_agg",
    "host_degree_stats",
    "dataset_split_assign",
    "neardup_cluster_stats",
    "token_entropy_quality",
    "image_recompress_plan",
    # round 3 batch XIII: tokenizer coverage, crawl routing, link
    # priority, embedding hygiene
    "oov_rate",
    "host_lang_mix",
    "link_priority_score",
    "embedding_outlier_flag",
    "frontier_next_fetch",
    "kmv_intersect_diag",
    "chunk_split",
    "eval_holdout_sample",
    "quality_calibration",
    "user_engagement_ewma",
    "source_relative_quality",
    "dedup_tier_kappa",
    "funnel_conversion",
    "retention_cohorts",
    "triangle_count_hosts",
    "weighted_sample_aes",
    "mix_rebalance_sample",
    "value_equidepth_buckets",
    # round 4: AIMD politeness controller (JVM higher-order fold) and
    # the discovery-side capstone (robots x freshness x politeness)
    "adaptive_crawl_delay",
    "discovery_round_plan",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from crunchy_spark.queries import QUERIES
    from crunchy_spark.session import get_spark

    spark = get_spark(app_name="crunchy_bench")
    # warm the JVM/Arrow path so per-query numbers measure the plan, not startup
    QUERIES["pricing_summary"](spark, sf_dir).count()

    per_query: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        n = df.count()
        dt = round(time.time() - t0, 3)
        per_query[name] = dt
        total += dt
        print(f"# {name}: {dt}s rows={n}", file=sys.stderr)

    # LSH selectivity evidence: the banded block of embedding_neardup
    # must stay a small fraction of all pairs (it is the scale argument)
    from crunchy_spark.queries import emb_lsh_candidates

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_vec = e.count()
    n_cand = emb_lsh_candidates(e).count()
    all_pairs = n_vec * (n_vec - 1) // 2
    cand_frac = round(n_cand / all_pairs, 4) if all_pairs else 0.0
    print(
        f"# embedding_neardup LSH candidates: {n_cand}/{all_pairs} pairs "
        f"({100 * cand_frac:.2f}% of all-pairs)",
        file=sys.stderr,
    )

    # fuzzy_ratio_topk block selectivity: (brand, name-prefix) block pair
    # count, then the per-record FUZZY_CAND_CAP — post-cap work is
    # O(n * CAP) regardless of block skew, which is the scale argument
    from crunchy_spark.queries import FUZZY_CAND_CAP, _fuzzy_block_pairs, _fuzzy_blocked

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    n_part = part.count()
    part_pairs = n_part * (n_part - 1)  # ordered pairs (a,b)+(b,a), like the join
    n_blocked = _fuzzy_block_pairs(part).count()
    n_capped = _fuzzy_blocked(part).count()
    fuzzy_frac = round(n_capped / part_pairs, 6) if part_pairs else 0.0
    print(
        f"# fuzzy_ratio blocked pairs: {n_blocked}/{part_pairs} "
        f"({100 * n_blocked / max(part_pairs, 1):.2f}%), capped@{FUZZY_CAND_CAP}: "
        f"{n_capped} ({100 * fuzzy_frac:.2f}% of all ordered pairs, "
        f"<= {FUZZY_CAND_CAP}/record by construction)",
        file=sys.stderr,
    )

    # IVF recall/candidate tradeoff: mean scanned fraction and mean
    # recall@5 vs exact cosine top-5 over 8 query vectors, at nprobe=1
    # and the shipped IVF_NPROBE. This corpus is near-orthogonal random
    # vectors (true top-5 at cos ~0.3), so recall tracks scanned
    # fraction for ANY 16-cell coarse quantizer — the mechanism's
    # recall lift on actually-clustered data (4-6x over chance) is
    # pinned by tests/test_ivf.py::test_ivf_recall_on_clustered_corpus.
    from crunchy_spark.queries import IVF_NPROBE, _ivf_recall_stats

    qids = [i * max((n_vec - 1) // 8, 1) for i in range(8)]
    ivf_stats = {}
    for nprobe in sorted({1, IVF_NPROBE}):
        st = _ivf_recall_stats(e, nprobe, qids)
        ivf_stats[str(nprobe)] = st
        print(
            f"# ann_ivf nprobe={nprobe}: mean scanned fraction "
            f"{st['scanned_fraction']}, mean recall@5 vs exact = "
            f"{st['recall_at_5']} over {len(qids)} queries",
            file=sys.stderr,
        )

    # PQ recall/candidate tradeoff: ADC top-PQ_RERANK candidate recall
    # vs exact cosine top-5 over 8 queries. Chance recall == scanned
    # fraction; the lift above it is ADC's ranking signal (the
    # clustered-corpus mechanism test pins >=0.9 recall at ~7% scanned,
    # tests/test_round3d_ops.py).
    from crunchy_spark.queries import PQ_RERANK, _pq_recall_stats

    pq_stats = _pq_recall_stats(e, PQ_RERANK, qids)
    print(
        f"# ann_pq rerank={PQ_RERANK}: scanned fraction "
        f"{pq_stats['scanned_fraction']}, mean recall@5 vs exact = "
        f"{pq_stats['recall_at_5']} over {len(qids)} queries",
        file=sys.stderr,
    )

    # incremental_neardup band-join selectivity: collisions as a
    # fraction of the eligible (batch x predecessors) pair space — the
    # per-batch-cost-is-O(delta ⋈ index) scale argument
    from crunchy_spark.queries import _incremental_candidates, _minhash_sigs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    n_new = docs.filter("doc_id % 10 = 0").count()
    n_old = n_docs - n_new
    eligible = n_new * n_old + n_new * (n_new - 1) // 2
    n_inc_cand = _incremental_candidates(_minhash_sigs(spark, sf_dir, 16)).count()
    inc_frac = round(n_inc_cand / eligible, 4) if eligible else 0.0
    print(
        f"# incremental_neardup band collisions: {n_inc_cand}/{eligible} "
        f"eligible pairs ({100 * inc_frac:.2f}%)",
        file=sys.stderr,
    )

    # seen-filter probe throughput: the bloom over a 1M-key seen set and
    # 1M candidates (half seen) — the advisory-filter cost the
    # scheduling round pays per candidate, plus its maybe-rate (FPR at
    # this sizing)
    from pyspark.sql import functions as F

    from crunchy_spark.bloom import adaptive_m_bits, build_bloom, probe_bloom

    def _skeys(n, offset=0):
        return spark.range(n).select(
            F.conv(
                F.substring(F.sha1(F.concat(F.lit("b"), F.col("id") + offset)), 1, 15),
                16,
                10,
            ).cast("long").alias("sha_int")
        )

    n_seen = 1_000_000
    seen_keys = _skeys(n_seen).localCheckpoint()
    cands = (
        _skeys(n_seen // 2).unionByName(_skeys(n_seen // 2, offset=10_000_000))
        .localCheckpoint()
    )
    bloom = build_bloom(seen_keys, m_bits=adaptive_m_bits(n_seen)).localCheckpoint()
    probe_bloom(cands, bloom, 32).count()  # warm
    t0 = time.time()
    n_maybe = probe_bloom(cands, bloom, 32).filter(F.col("_maybe_seen")).count()
    dt = time.time() - t0
    probe_stats = {
        "bloom": {
            "mprobe_per_s": round(n_seen / dt / 1e6, 2),
            "maybe_rate": round(n_maybe / n_seen, 4),
        }
    }
    print(
        f"# seen-filter probe [bloom]: {probe_stats['bloom']['mprobe_per_s']}M "
        f"probes/s, maybe-rate {probe_stats['bloom']['maybe_rate']} "
        f"(true seen rate 0.5)",
        file=sys.stderr,
    )

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    result = {
        "metric": "headline_query_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        # the headline set GROWS per round (20 queries in r2, 61+ in r3)
        # — compare totals across rounds per-query or per n_queries,
        # never raw total vs raw total
        "n_queries": len(HEADLINE),
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "emb_lsh_candidate_fraction": cand_frac,
        "fuzzy_capped_candidate_fraction": fuzzy_frac,
        "incremental_neardup_candidate_fraction": inc_frac,
        "ivf_nprobe_tradeoff": ivf_stats,
        "pq_rerank_tradeoff": pq_stats,
        "seen_filter_probe": probe_stats,
    }
    # surface the authoritative BASELINE metric (frontier URLs
    # scheduled+deduped/sec + N->4N efficiency) from the latest
    # bench/scaling_bench.py run, if one exists
    scaling_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench", "scaling_result.json"
    )
    try:
        with open(scaling_path) as f:
            s = json.load(f)
        result["frontier_urls_per_sec_local32"] = s["runs"]["32"]["urls_per_sec"]
        result["scaling_efficiency"] = s["scaling_efficiency"]
        result["scaling_primary_pair"] = s["primary_pair"]
        result["scaling_pass"] = s["pass"]
        if "scaling_pass_per_pair" in s:
            result["scaling_pass_per_pair"] = s["scaling_pass_per_pair"]
            result["scaling_efficiency_vs_ceiling"] = s.get(
                "scaling_efficiency_vs_ceiling"
            )
        if "hardware_ceiling" in s:
            # the raw-CPU scaling cap measured INSIDE the scaling run
            # (busy-loop fleet) — the provenance that separates engine
            # behavior from the sandbox VM's day-to-day regime drift
            result["hardware_ceiling"] = s["hardware_ceiling"]
            result["hardware_ceiling_rates_mops"] = s.get(
                "hardware_ceiling_rates_mops"
            )
        # pooled multi-run estimate (bench/scaling_combine.py), when
        # present: same min-of-N estimator over every recorded rep of
        # every same-protocol run — the authoritative numbers under
        # this VM's regime drift (BENCH_SCALING.md round 4)
        pooled_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "bench",
            "scaling_pooled.json",
        )
        try:
            with open(pooled_path) as f:
                p = json.load(f)
            result["scaling_efficiency_pooled"] = p["pooled_efficiency"]
            result["scaling_pass_per_pair_pooled"] = p["pooled_pass_per_pair"]
            result["scaling_pooled_n_runs"] = p["n_runs"]
            result["frontier_urls_per_sec_local32"] = p["pooled_levels"]["32"][
                "urls_per_sec"
            ]
            result["scaling_pass"] = p["pooled_pass_per_pair"].get(
                "2_to_8", result["scaling_pass"]
            )
        except FileNotFoundError:
            pass
        # provenance: these numbers come from the last scaling_bench run,
        # not from this bench invocation — say when/where, never silently
        result["scaling_measured_at"] = s.get("generated_at", "unknown")
        result["scaling_measured_host"] = s.get("host", "unknown")
        if os.uname().nodename != s.get("host", os.uname().nodename):
            print(
                "# WARNING: scaling_result.json was measured on a different "
                f"host ({s.get('host')}); re-run bench/scaling_bench.py here",
                file=sys.stderr,
            )
    except FileNotFoundError:
        print(
            "# WARNING: bench/scaling_result.json missing — frontier "
            "throughput + scaling efficiency omitted; run bench/scaling_bench.py",
            file=sys.stderr,
        )
    except (KeyError, ValueError) as e:
        print(f"# WARNING: bench/scaling_result.json unreadable ({e!r})", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
