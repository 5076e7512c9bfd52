"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized with a noop-format write — full execution of
the plan on every partition, no driver-side collect bottleneck.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from music_streaming_data_pipeline_v2_spark.session import get_spark
from music_streaming_data_pipeline_v2_spark.plans.driver_queries import REGISTRY

HEADLINE = [
    # reference-surface analogs
    "daily_kpis",
    "top_users_per_type_day",
    "kv_table",
    "pricing_summary",
    "revenue_by_nation",
    "top_parts_per_brand",
    "order_priority_semi",
    "validate_events",
    "hourly_activity",
    "grouping_sets_marginals",
    "daily_gapfill",
    # extension operators (training-data pipeline surface)
    "dedup_exact_docs",
    "minhash_lsh_pairs_docs",
    "simhash_pairs_docs",
    "ann_cosine_topk",
    "multimodal_features",
    "user_sessions",
    "asof_user_setting",
    "dataset_split_counts",
    # round 2: reshaping/profile/text/SQL-surface breadth
    "pivot_event_type_matrix",
    "value_histogram",
    "inverted_index_tokens",
    "redacted_docs",
    "small_qty_orders_scalar_subq",
    # round 2: entity resolution + iterative graph clustering + kernel
    "fuzzy_part_pairs",
    "dedup_clusters",
    "ewma_per_user",
    # JVM-native funnel (lead window); the applyInPandas variant
    # `click_purchase_funnel` stays in queries() as the Python-kernel
    # extensibility demo, correctness-checked against the same oracle.
    "click_purchase_funnel_native",
    # round 3: LLM curation batch (chunking / packing / decontamination /
    # rebalancing / winnowed local fingerprints)
    "doc_chunks",
    "sequence_packing",
    "ngram_decontamination",
    "balanced_source_sample",
    "winnowed_fingerprints",
    "winnow_overlap_pairs",
    # round 4: bloom-prefiltered decontamination + semantic dedup +
    # sketch-verified heavy hitters
    "bloom_decontamination",
    "semantic_dedup_decisions",
    "heavy_hitter_tokens",
    # round 5: retrieval + curation scoring (BM25, unigram-LM quality,
    # PII audit, quality-weighted sampling)
    "bm25_search",
    "unigram_lm_quality",
    "pii_scan_counts",
    "weighted_doc_sample",
    "boilerplate_ngrams",
    "pq_codes",
    "pq_topk_adc",
    "ivfpq_topk_adc",
    "duplicated_spans",
    "dsir_gumbel_topk",
    "bm25_hard_negatives",
    "line_dedup_docs",
    # round 5 late: cluster-level curation (leakage-safe splits share
    # the clustering subtree with cluster_representatives — timed
    # separately, cache-cold per pass like everything else)
    "leakage_safe_split",
    "cluster_representatives",
    "bigram_lm_quality",
    # round 5 late: retrieval composition (hybrid RRF over BM25+dense,
    # MRR/nDCG eval, MMR diversification), whole-document NFD bin
    # packing (pandas recurrence kernel), PSI drift audit
    "rrf_hybrid_topk",
    "retrieval_mrr_ndcg",
    "mmr_rerank_topk",
    "nfd_bin_packing",
    "source_drift_psi",
    "char_entropy_scores",
    "embedding_decontamination",
    "textrank_keywords",
    "nb_domain_routing",
    "concurrent_activity_pairs",
    "ccnet_quality_buckets",
    # round 5 late: Gopher page-quality gate (map-only rule flags) and
    # repetition signals (doc-keyed gram count — the boilerplate
    # detector ahead of dedup)
    "gopher_quality_rules",
    "gopher_repetition_signals",
    "source_ngram_overlap",
    "epoch_mix_plan",
    "vocab_oov_rate",
    "cm_token_counts",
    "vocab_coverage_curve",
    "unimax_allocation",
    "recipe_epochs_unimax",
    "doc_length_quantiles",
    "length_quantiles_by_lang",
    # round 6: the curation pipeline composed end-to-end as one plan
    # (dedup -> representatives -> gate -> split -> unimax -> epochs),
    # and the oracle-replayable HLL distinct sketch
    "curation_recipe_e2e",
    "hll_distinct_users",
    "kn_bigram_quality",
    "blocklist_gate_docs",
    "dedup_clusters_star",
    "session_window_native",
    "variant_json_agg",
    # round 6 late: asymmetric containment dedup and cluster-granular
    # k-fold assignment (shares the clustering subtree with
    # leakage_safe_split; timed cache-cold like everything else)
    "containment_pairs_docs",
    "kfold_leakage_safe",
    # round 6 late: BPE tokenizer induction (vocabulary-compressed
    # merge mining; unrolled static k-step plan) + the corpus-encode
    # compression audit built on the trained vocabulary
    "bpe_merge_steps",
    "bpe_token_lengths",
    "wordpiece_merge_steps",
    # round 6 late: FineWeb-style within-source percentile calibration
    # (aggregate-before-window, no document-row sort)
    "quality_percentile_by_source",
    "bpe_fertility_by_lang",
    "minhash_drop_stats_oracle",
    "curated_bpe_merges",
    "curation_funnel_by_lang",
    "chi2_keyness_by_lang",
    "sq8_codes",
    "sq8_topk_sym",
    "sq8_recall",
    "source_overlap_minhash",
    "ks_drift_by_source",
    "ngram_novelty_scores",
    "embedding_outlier_gate",
    "source_token_overlap_hll",
    "tfidf_cosine_pairs_docs",
    "session_attribution_first_touch",
    "lang_confusion_matrix",
    "key_skew_audit_users",
    "eb_shrunk_bad_rates",
    "pmi_collocations",
    "rendezvous_shards",
    "rendezvous_stability",
    "per_domain_cap_sample",
    "phrase_blocklist_docs",
    "python_datasource_agg",
    "epoch_shuffle_positions",
    "unigram_vocab_counts",
    "unigram_token_lengths_docs",
    # round 7
    "unigram_encode_oracle",
    "contamination_spans_docs",
    "quantile_normalized_lengths",
    "compression_ratio_docs",
    "clipped_precision_pairs",
    "half_life_popularity",
    # round 8
    "decontaminated_docs",
    "half_life_from_cells",
    "mad_outlier_events",
    "benford_digit_audit",
    "mad_clipped_means_events",
    # round 9
    "mad_from_cells",
    "benford_source_gate",
    "column_profile_events",
    "skyline_parts",
    "length_quantiles_from_cells",
]


def _stage_waves(
    spark,
    df,
    staged: str,
    waves: int,
    tag: str,
    wave_key=None,
    fmt: str = "csv",
) -> list[list[str]]:
    """Write df as ``fmt`` ("csv" with a header, or "json" lines) part
    files split into ``waves`` deterministic waves under ``staged``
    (untimed setup; NOT inside the watched directory), returning
    per-wave file lists to move into the watched directory between
    drains.

    ``wave_key`` is a Column in [0, waves) assigning each row's wave;
    default is a row-hash split (order-free corpora, e.g. documents).
    Time-ordered sources should pass a chronological key — real file
    arrivals deliver each day's data together, and a hash split would
    make every wave touch every date, defeating (and mis-measuring)
    the touched-dates-only recompute the incremental pipeline prunes
    by."""
    import glob
    import shutil

    from pyspark.sql import functions as F
    out: list[list[str]] = []
    # pmod, not abs(hash) % n: abs(Integer.MIN_VALUE) overflows (throws
    # under ANSI mode; silently drops the row from every wave otherwise)
    key = (
        wave_key
        if wave_key is not None
        else F.pmod(F.hash(*df.columns), F.lit(waves))
    )
    ext = "csv" if fmt == "csv" else "jsonl"
    for w in range(waves):
        wdir = os.path.join(staged, f"w{w}")
        writer = df.filter(key == w).repartition(4).write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        getattr(writer, fmt)(wdir)
        files = []
        parts = sorted(glob.glob(os.path.join(wdir, f"*.{fmt}")))
        for i, part in enumerate(parts):
            dst = os.path.join(staged, f"{tag}_w{w}_{i}.{ext}")
            shutil.move(part, dst)
            files.append(dst)
        out.append(files)
    return out


def bench_streaming(spark, sf_dir: str, work_root: str) -> dict[str, float]:
    """Multi-batch replays of the incremental (Structured Streaming,
    availableNow) pipelines — each wave of files is moved into the
    watched directory and drained as its own run, mirroring the
    reference's per-arrival operation, and most entries follow each
    drain with one serving read over the accumulated state. Timed:
    the drains (discovery + validate + recompute/index maintenance +
    state commit) and reads; untimed: synthesizing the waves from the
    sf tables and one-time state setup."""
    import shutil

    from pyspark.sql import functions as F

    from music_streaming_data_pipeline_v2_spark.operators.packing import (
        lineify_tokens,
    )
    from music_streaming_data_pipeline_v2_spark.operators.sampling import (
        hash_bucket,
    )
    from music_streaming_data_pipeline_v2_spark.plans.driver_queries import (
        _music_tables,
        load_events,
        load_table,
    )
    from music_streaming_data_pipeline_v2_spark.streaming import (
        cap_ingest,
        curation_ingest,
        decontam_ingest,
        dedup_ingest,
        dsir_ingest,
        index_ingest,
        line_ingest,
        overlap_ingest,
        psi_ingest,
        value_ingest,
        winnow_ingest,
    )
    from music_streaming_data_pipeline_v2_spark.streaming.pipeline import (
        run_incremental_pipeline,
    )

    # --- music-shaped event waves: chronological thirds, each wave a
    # contiguous date range like real daily file arrivals — so each
    # drain's recompute touches only its own dates (the pruning the
    # pipeline is designed around), not the full history
    streams, songs, users = _music_tables(spark, sf_dir)
    songs, users = songs.localCheckpoint(), users.localCheckpoint()
    d0, d1 = streams.select(
        F.min(F.to_date("listen_time")), F.max(F.to_date("listen_time"))
    ).first()
    span = max((d1 - d0).days + 1, 1)
    chrono = F.least(
        F.lit(2),
        F.floor(F.datediff(F.to_date("listen_time"), F.lit(d0)) * 3 / span),
    ).cast("int")
    listens = streams.select(
        "user_id",
        "track_id",
        F.date_format("listen_time", "yyyy-MM-dd HH:mm:ss").alias(
            "listen_time"
        ),
    )

    docs = load_table(spark, sf_dir, "documents")
    key = F.pmod(F.hash("doc_id"), F.lit(3))
    pdocs = docs.select("doc_id", "text", "source")
    # decontam: train waves from the content-hash train slice, the
    # pinned eval postings from the test slice
    bkt = hash_bucket("doc_id")
    train = pdocs.filter(bkt < 204)
    eval_docs = pdocs.filter(bkt >= 230)
    probe = spark.createDataFrame(
        [(0, "spark window join"), (1, "hash table scan")],
        "query_id int, text string",
    ).localCheckpoint()
    target_src = F.col("source").isin("src0", "src1", "src2")
    target = docs.filter(target_src).select("doc_id", "text").localCheckpoint()
    # load_events, not load_table: it sets the NANOS-timestamp read
    # conf the events parquet needs even with ts pruned away
    values = load_events(spark, sf_dir).select(
        F.col("event_id").alias("id"), F.col("event_type").alias("grp"), "value"
    )

    def dedup(labels: bool):
        # labels=False is the PLAIN index configuration: pair mining
        # only, no component labeling (that cost belongs to the
        # curation entry, whose serving path reads it)
        return lambda inp, wd: dedup_ingest.run_incremental_dedup(
            spark, inp, wd, jaccard_threshold=0.5, num_hashes=32,
            bands=16, shingle_k=3, maintain_components=labels,
        )

    def decontam(clean: bool):
        return lambda inp, wd: decontam_ingest.run_incremental_decontam(
            spark, inp, wd, emit_cleaned=clean
        )

    def init_decontam(wd: str) -> None:
        decontam_ingest.init_decontam_state(spark, wd, eval_docs, n=5)

    # (entry, wave rows, format, wave key (None = row hash), file tag,
    #  untimed setup(work), drain(in, work), serving read(work) or None)
    replays = [
        ("pipeline", listens, "csv", chrono, "stream", None,
         lambda inp, wd: run_incremental_pipeline(
             spark, inp, songs, users, f"{wd}/out", f"{wd}/ckpt"
         ), None),
        ("dedup", docs.select("doc_id", "lang", "text"), "csv", None,
         "docs", None, dedup(False), None),
        ("curation", docs.select("doc_id", "lang", "text"), "csv", None,
         "cdocs", None, dedup(True),
         lambda wd: curation_ingest.query_curation(spark, wd, 60_000, 3)),
        ("index", docs.select("doc_id", "text"), "json", key, "docs", None,
         lambda inp, wd: index_ingest.run_incremental_index(spark, inp, wd),
         lambda wd: index_ingest.query_index(spark, wd, probe, k=10)),
        ("dsir", docs.filter(~target_src).select("doc_id", "text"), "json",
         key, "docs", None,
         lambda inp, wd: dsir_ingest.run_incremental_dsir(spark, inp, wd),
         lambda wd: dsir_ingest.query_dsir_scores(spark, wd, target)),
        ("linededup",
         docs.select("doc_id", lineify_tokens("text", 10).alias("text")),
         "json", key, "docs", None,
         lambda inp, wd: line_ingest.run_incremental_line_dedup(
             spark, inp, wd
         ),
         lambda wd: line_ingest.read_deduped_docs(spark, wd)),
        ("psi", pdocs, "json", key, "docs", None,
         lambda inp, wd: psi_ingest.run_incremental_psi(spark, inp, wd),
         lambda wd: psi_ingest.query_psi(spark, wd)),
        ("overlap", pdocs, "json", key, "docs", None,
         lambda inp, wd: overlap_ingest.run_incremental_overlap(
             spark, inp, wd
         ),
         lambda wd: overlap_ingest.query_overlap(spark, wd)),
        ("cap", pdocs, "json", key, "docs", None,
         lambda inp, wd: cap_ingest.run_incremental_cap(
             spark, inp, wd, cap=15
         ),
         lambda wd: cap_ingest.query_capped(spark, wd, cap=15)),
        ("winnow", docs.select("doc_id", "text"), "json", key, "docs", None,
         lambda inp, wd: winnow_ingest.run_incremental_winnow(spark, inp, wd),
         lambda wd: winnow_ingest.query_overlap_pairs(spark, wd)),
        ("decontam", train, "json", key, "docs", init_decontam,
         decontam(False),
         lambda wd: decontam_ingest.query_contamination(spark, wd)),
        ("values", values, "json", F.pmod(F.hash("id"), F.lit(3)), "rows",
         None,
         lambda inp, wd: value_ingest.run_incremental_values(spark, inp, wd),
         lambda wd: value_ingest.query_mad_stats(spark, wd)),
        ("decontam_clean", train, "json", key, "docs", init_decontam,
         decontam(True),
         lambda wd: decontam_ingest.query_cleaned_corpus(spark, wd)),
    ]

    timings: dict[str, float] = {}
    for attempt in range(2):  # min-of-2, fresh state each pass
        for entry, rows, fmt, wave_key, tag, setup, run, read in replays:
            base = os.path.join(work_root, f"pass{attempt}", entry)
            inp, wd = os.path.join(base, "in"), os.path.join(base, "work")
            os.makedirs(inp, exist_ok=True)
            waves = _stage_waves(
                spark, rows, os.path.join(base, "staged"), 3, tag, wave_key, fmt
            )
            if setup is not None:
                setup(wd)
            t0 = time.monotonic()
            for files in waves:
                for f in files:
                    shutil.move(f, inp)
                run(inp, wd)
                if read is not None:
                    read(wd).count()
            elapsed = round(time.monotonic() - t0, 3)
            name = f"streaming_incremental_{entry}"
            timings[name] = min(elapsed, timings.get(name, elapsed))
    return timings


_LOADAVG_AT_START = [round(x, 2) for x in os.getloadavg()]


def _git_head() -> str | None:
    """Current commit sha (best effort — None outside a git checkout)."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            timeout=10,
        )
        return out.stdout.strip() or None if out.returncode == 0 else None
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup pass: JVM/codegen warmup, parquet footer + file-index
    # caching, broadcast thread pools — so the timed pass measures
    # steady-state query execution, not one-time session costs.
    spark.range(1000).selectExpr("sum(id)").collect()
    for name in HEADLINE:
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Per-query time = min of 2 timed passes: the min is robust to
    # transient co-tenant load on the bench host (a loaded single pass
    # masqueraded as a 1.5x regression in BENCH_r02), while still
    # measuring full plan execution each pass.
    timings: dict[str, float] = {}
    for _ in range(2):
        # Queries that persist() a shared intermediate (kv_table's plays
        # grain) would otherwise reuse the warmup pass's cache entry —
        # CacheManager keys by canonicalized plan, so a later invocation
        # silently reads the earlier materialization. Each timed pass
        # starts cold so it pays that materialization exactly once, as a
        # real run of the query would.
        spark.catalog.clearCache()
        for name in HEADLINE:
            fn = REGISTRY[name].fn
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = round(time.monotonic() - t0, 3)
            timings[name] = min(elapsed, timings.get(name, elapsed))

    # Streaming path: multi-batch availableNow replays with real file
    # movement and checkpoint state (fresh temp dirs per pass).
    import shutil
    import tempfile

    work_root = tempfile.mkdtemp(prefix="bench_streaming_")
    try:
        timings.update(bench_streaming(spark, sf_dir, work_root))
    finally:
        shutil.rmtree(work_root, ignore_errors=True)

    result = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        # Load stamp from capture START (before the session spun up —
        # mid/end-of-run loadavg would just measure the bench's own 32
        # worker threads). Cross-round comparison is meaningless when
        # either capture started on a loaded host — r6's 1.15x
        # "regression" was pure host drift — so compare_bench.py
        # refuses comparisons when either side's 1-min figure > 2.
        "loadavg": _LOADAVG_AT_START,
        # Code-era stamp: compare_bench's element-wise-min mode folds
        # multiple captures of the SAME code into per-query minima
        # (co-tenant drift the loadavg gate can't see — SCALE.md r8);
        # it refuses to fold captures whose heads differ.
        "git_head": _git_head(),
    }
    # Durable sidecar FIRST: the driver records only a bounded tail of
    # stdout, and with 80+ queries the single JSON line outgrows that
    # window (BENCH_r05.json captured 67 of ~157 queries, parsed: null).
    # BENCH_TIMES.json lives in-repo and is committed at round end, so
    # per-query timings survive for cross-round regression tracking
    # even when the stdout line is clipped.
    times_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_TIMES.json"
    )
    with open(times_path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # The contract line (final stdout line, compact separators). With
    # 143+ entries it is ~4.2 KB against the driver's 2000-char stdout
    # tail, so tail-side parses CANNOT see the whole line — the
    # durable channel is the BENCH_TIMES.json sidecar above (written
    # BEFORE the print, git_head-stamped, committed in-repo), which is
    # what recovered the round-9 numbers after the round-8 tail clip.
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
