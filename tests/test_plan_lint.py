"""plans.inspect.lint — the scale linter must flag each anti-pattern on
a crafted plan and stay silent on the engine's own headline queries."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from riptable_spark.plans import inspect as pi


def test_flags_cartesian(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    warns = pi.lint(a.crossJoin(b))
    assert any("cartesian-product" in w for w in warns)


def test_flags_global_window(spark):
    df = spark.range(100).withColumn("r", F.row_number().over(Window.orderBy("id")))
    warns = pi.lint(df)
    assert any("global-window" in w for w in warns)


def test_flags_python_row_udf(spark):
    from pyspark.sql.types import LongType

    f = F.udf(lambda x: x + 1, LongType())
    warns = pi.lint(spark.range(10).select(f("id")))
    assert any("python-row-udf" in w for w in warns)


def test_flags_split_percentile(spark):
    df = spark.range(100).agg(
        F.percentile("id", F.lit(0.1)).alias("p10"), F.percentile("id", F.lit(0.9)).alias("p90")
    )
    warns = pi.lint(df)
    assert any(w.startswith("split-percentile") for w in warns), warns


def test_fused_percentiles_clean(spark):
    from riptable_spark.operators import groupby as gb

    df = spark.range(100).withColumn("g", F.col("id") % 3)
    fused = df.groupBy("g").agg(*gb.percentiles(F.col("id"), [0.1, 0.5, 0.9], ["p10", "p50", "p90"]))
    assert pi.lint(fused) == []
    # one percentile per input column is not a split
    per_col = df.agg(F.percentile("id", F.lit(0.5)), F.percentile("g", F.lit(0.5)))
    assert pi.lint(per_col) == []


def test_flags_median_plus_percentile(spark):
    """Spark 4 rewrites median into percentile(x, 0.5): median and a
    percentile over one column are two value maps too."""
    df = spark.range(100).agg(F.median("id").alias("m"), F.percentile("id", F.lit(0.9)).alias("p90"))
    warns = pi.lint(df)
    assert any(w.startswith("split-percentile") for w in warns), warns


def test_clean_on_keyed_window_and_pandas(spark):
    df = spark.range(100).withColumn("g", F.col("id") % 5)
    keyed = df.withColumn("r", F.row_number().over(Window.partitionBy("g").orderBy("id")))
    assert pi.lint(keyed) == []


def test_headline_queries_lint_clean(spark, sf_dir):
    """The engine's own headline queries must come back clean — except
    documented exceptions (q121's scalar-relation nested-loop join)."""
    from riptable_spark import queries2, queries3, queries4, queries5  # noqa: F401
    from riptable_spark.queries import QUERIES

    for name in [
        "q01_pricing_summary",
        "q04_groupby_stats",
        "q07_merge2_inner",
        "q13_asof_backward",
        "q16_cumsum",
        "q33_minhash_pairs",
        "q114_lsh_dedup",
    ]:
        warns = pi.lint(QUERIES[name](spark, sf_dir))
        assert warns == [], (name, warns)


def test_global_window_over_aggregate_is_clean(spark, sf_dir):
    """The rank-map pattern — a global window over a pre-aggregated
    (group-cardinality-sized) relation — must NOT be flagged; raw-data
    global windows still are (covered above)."""
    from riptable_spark.operators import text as tx
    from riptable_spark.operators import window as wi
    from riptable_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert pi.lint(tx.build_vocab(docs, min_count=2, max_vocab=10)) == []
    li = load_table(spark, sf_dir, "lineitem")
    assert pi.lint(wi.rankdata(li, "l_quantity")) == []


def test_round3_late_queries_lint_clean(spark, sf_dir):
    """The round-3 late additions must also lint clean: chunking,
    mixture sampling, bloom decontamination, line dedup, URL curation,
    transform, nanpercentile. (q159 pq_search and q32-style topk
    broadcast a tiny query relation — the cross join against a
    broadcast single-row/query-side relation is the intended plan, so
    those assert only against global windows and Python row UDFs.)"""
    from riptable_spark import queries8  # noqa: F401
    from riptable_spark.queries import QUERIES

    for name in [
        "q160_chunk_documents",
        "q161_mixture_sample",
        "q163_line_dedup",
        "q164_nanpercentile",
        "q166_url_curation",
        "q167_groupby_transform",
    ]:
        warns = pi.lint(QUERIES[name](spark, sf_dir))
        assert warns == [], (name, warns)
    for name in ["q159_pq_adc", "q162_bloom_decontaminate", "q165_audio_header_decode"]:
        warns = [
            w for w in pi.lint(QUERIES[name](spark, sf_dir)) if "cartesian" not in w
        ]
        assert warns == [], (name, warns)


def test_session_late_queries_lint_clean(spark, sf_dir):
    """q168-q178 lint gates. Exceptions: q168/q176/q177 contain
    broadcast-sized cross joins or tiny-relation windows by design
    (centroid assign, candidate generation, q173/q174's 1-row totals) — those assert only against
    Python row UDFs and cartesian products of two large relations
    (checked via no CartesianProduct node at all here since even the
    intended ones compile to broadcast joins)."""
    from riptable_spark import queries8  # noqa: F401
    from riptable_spark.queries import QUERIES

    for name in [
        "q169_table_diff",
        "q170_funnel",
        "q171_cohort_retention",
        "q172_welch_ttest",
        "q175_pagerank",
        "q178_rolling_pairwise",
    ]:
        warns = pi.lint(QUERIES[name](spark, sf_dir))
        assert warns == [], (name, warns)
    for name in ["q168_semantic_dedup", "q173_unigram_logprob", "q174_js_divergence", "q176_fuzzy_join", "q177_fuzzy_join_editdist"]:
        warns = [w for w in pi.lint(QUERIES[name](spark, sf_dir)) if "python-row-udf" in w]
        assert warns == [], (name, warns)
        assert "CartesianProduct" not in pi.simple_plan(QUERIES[name](spark, sf_dir)), name


def test_continuation_queries_lint_clean(spark, sf_dir):
    """Lint gates for the continuation-session queries (q181-q195).
    Exceptions by design: q184-q186/q195 rank over distinct-key /
    top-k-bounded relations (the documented tiny-relation global
    window); q183's ADC search crosses a broadcast query relation."""
    from riptable_spark import queries9  # noqa: F401
    from riptable_spark.queries import QUERIES

    for name in [
        "q181_png_pixel_decode",
        "q182_wav_pcm_decode",
        "q187_shuffle_rows",
        "q188_zorder_key",
        "q189_repeated_spans",
        "q190_leakage_safe_split",
        "q191_profile_table",
        "q193_incremental_rollup",
    ]:
        warns = pi.lint(QUERIES[name](spark, sf_dir))
        assert warns == [], (name, warns)
    # q194's 1-row corpus-stats relation broadcasts into a scalar cross
    # join — the documented tiny-relation exception
    for name in [
        "q183_pq_columnar",
        "q184_groupbyhash",
        "q185_groupbylex",
        "q186_groupbypack",
        "q194_tfidf",
        "q195_bm25_search",
    ]:
        warns = [
            w
            for w in pi.lint(QUERIES[name](spark, sf_dir))
            if "cartesian" not in w and "global-window" not in w
        ]
        assert warns == [], (name, warns)


def test_batch10_queries_lint_clean(spark, sf_dir):
    """Lint gates for batch 10 (q197-q241): no Python row UDFs and no
    true cartesian of two large relations anywhere.  Exceptions by
    design (checked in the weaker loop): 1-row global-aggregate cross
    joins (target encoding, DSIR totals, chi-square, HLL/KMV estimates),
    broadcast-anchor ANN scoring (q226), broadcast-probe sketch reads,
    and the documented tiny-relation global windows (RRF, top-k ranks,
    hist-sketch cumulative, KMV TakeOrdered, curriculum cut broadcast)."""
    from riptable_spark import queries10  # noqa: F401
    from riptable_spark.queries import QUERIES

    strict = [
        "q198_bigram_logprob",
        "q200_rolling_higher_moments",
        "q203_acf",
        "q208_robust_stats",
        "q212_daily_percentiles",
        "q215_transition_matrix",
        "q216_cusum_changepoint",
        "q218_last_touch_attribution",
        "q219_hashed_features",
        "q222_fill_time_gaps",
        "q223_weighted_median",
        "q224_scd_join",
        "q232_weighted_quantile",
        "q239_path_trigrams",
    ]
    for name in strict:
        warns = pi.lint(QUERIES[name](spark, sf_dir))
        assert warns == [], (name, warns)
    weaker = [
        "q197_decontaminate_fuzzy", "q199_dsir_weights", "q201_audio_features",
        "q202_target_encode", "q204_group_entropy", "q205_mutual_info",
        "q206_psi_drift", "q207_corpus_overlap", "q209_weighted_stats",
        "q210_hits", "q211_centroid_similarity", "q213_curriculum_order",
        "q214_gram_matrix", "q217_json_extract", "q220_seasonal_zscore",
        "q221_rrf_fusion", "q225_embedding_dim_audit", "q226_knn_label_agreement",
        "q227_quantile_transform", "q228_oov_rate", "q229_negative_sample",
        "q230_hll_distinct", "q231_asof_topk", "q233_count_min",
        "q234_chi_square", "q235_proportion_ci", "q236_rfm_features", "q237_hll_trailing_dau",
        "q238_audience_overlap", "q240_hist_quantile_sketch", "q241_kmv_sketch",
    ]
    for name in weaker:
        df = QUERIES[name](spark, sf_dir)
        warns = [w for w in pi.lint(df) if "python-row-udf" in w]
        assert warns == [], (name, warns)
        assert "CartesianProduct" not in pi.simple_plan(df), name
