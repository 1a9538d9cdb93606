"""Table profiling: per-column audit metrics (row count, NULL count,
distinct count, min/max) in ONE distributed pass — the data-quality
gate a 100 TB ingest runs before anything else. Complements
``Dataset.describe`` (numeric moments) with the schema-wide
completeness/cardinality view an ops dashboard wants.

Scale notes: all per-column metrics fold into a single two-stage hash
aggregation over one scan. Distinct counts default to
``approx_count_distinct`` (HyperLogLog — constant memory per column);
``exact_distinct=True`` switches to exact COUNT(DISTINCT), which makes
Catalyst Expand the scan once per distinct-counted column (documented
q04 trade-off) — fine for narrow audits, wrong for wide tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """One row per profiled column: (column, dtype, n_rows, n_null,
    n_distinct, min_value, max_value) with min/max rendered as strings
    so the output schema is uniform across column types. Single
    aggregation job; the per-column rows are exploded from the one
    result row (metadata-sized, never a per-row operation)."""
    cols = cols or df.columns
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n__")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}__"))
        aggs.append(
            (F.count_distinct(F.col(c)) if exact_distinct else F.approx_count_distinct(c, rsd)).alias(
                f"__nd_{c}__"
            )
        )
        aggs.append(F.min(c).cast("string").alias(f"__mn_{c}__"))
        aggs.append(F.max(c).cast("string").alias(f"__mx_{c}__"))
    one = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dtypes[c]).alias("dtype"),
                F.col("__n__").alias("n_rows"),
                (F.col("__n__") - F.col(f"__nn_{c}__")).alias("n_null"),
                F.col(f"__nd_{c}__").cast("long").alias("n_distinct"),
                F.col(f"__mn_{c}__").alias("min_value"),
                F.col(f"__mx_{c}__").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(structs).alias("p")).select("p.*")


def key_skew(df: DataFrame, key_col: str, top: int = 5) -> tuple[DataFrame, DataFrame]:
    """Join/agg-key skew audit BEFORE the expensive operation: the
    count-of-counts histogram (how many keys occur 2^b..2^(b+1)−1
    times) and the exact top-``top`` heaviest keys.  Two tiny
    aggregations over the per-key counts — the shape of the relation a
    salting/AQE decision actually needs.  Returns (histogram_df,
    topk_df)."""
    per = df.where(F.col(key_col).isNotNull()).groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    bucket = F.length(F.conv(F.col("n").cast("string"), 10, 2)) - 1  # floor(log2 n)
    hist = per.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("n").alias("n_rows")
    )
    topk = per.orderBy(F.col("n").desc(), F.col(key_col)).limit(top)
    return hist, topk


def check_constraints(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[str] | None = None,
    ranges: dict[str, tuple[float, float]] | None = None,
    regex: dict[str, str] | None = None,
    fk: dict[str, tuple[DataFrame, str]] | None = None,
) -> DataFrame:
    """Deequ-style data-quality constraint report: one row per rule with
    its violation count — the audit a 100 TB ingest runs before anything
    downstream trusts the table.

    Cost model (stated so callers can reason at scale): every
    ``not_null`` / ``ranges`` / ``regex`` rule fuses into ONE shared
    aggregate pass over the scan (violations are conditional sums);
    each ``unique`` rule adds a two-stage distinct aggregate; each
    ``fk`` rule adds one anti-join against the dimension (broadcast when
    small).  The report itself is rows-per-rule, constant size.
    """
    parts: list[DataFrame] = []
    scalar_aggs: list[Column] = []
    labels: list[str] = []
    for c in not_null or []:
        scalar_aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint"))
        labels.append(f"not_null({c})")
    for c, (lo, hi) in (ranges or {}).items():
        bad = F.col(c).isNotNull() & ~F.col(c).between(F.lit(lo), F.lit(hi))
        scalar_aggs.append(F.sum(F.when(bad, 1).otherwise(0)).cast("bigint"))
        labels.append(f"range({c})")
    for c, pat in (regex or {}).items():
        bad = F.col(c).isNotNull() & ~F.col(c).rlike(pat)
        scalar_aggs.append(F.sum(F.when(bad, 1).otherwise(0)).cast("bigint"))
        labels.append(f"regex({c})")
    if scalar_aggs:
        one = df.agg(*[a.alias(f"v{i}") for i, a in enumerate(scalar_aggs)])
        structs = F.array(*[
            F.struct(F.lit(lbl).alias("rule"), F.col(f"v{i}").alias("violations"))
            for i, lbl in enumerate(labels)
        ])
        parts.append(one.select(F.explode(structs).alias("p")).select("p.rule", "p.violations"))
    for c in unique or []:
        parts.append(
            df.agg(
                (F.count(c) - F.countDistinct(c)).cast("bigint").alias("violations")
            ).select(F.lit(f"unique({c})").alias("rule"), "violations")
        )
    for c, (dim, dim_col) in (fk or {}).items():
        orphans = df.where(F.col(c).isNotNull()).join(
            dim.select(F.col(dim_col).alias(c)).distinct(), on=c, how="left_anti"
        )
        parts.append(
            orphans.agg(F.count(F.lit(1)).cast("bigint").alias("violations")).select(
                F.lit(f"fk({c})").alias("rule"), "violations"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def join_key_discovery(
    left: DataFrame,
    right: DataFrame,
    left_cols: list[str],
    right_cols: list[str],
    k: int = 128,
    hash_kind: str = "md5",
) -> DataFrame:
    """Join-key discovery between two tables: for every (left column,
    right column) pair, estimate Jaccard overlap and directional
    containment of the DISTINCT value domains from KMV bottom-k
    sketches — the profiling step that finds FK candidates before
    anyone writes a join.

    Scale shape: each table is scanned ONCE (all columns' value hashes
    explode from one projection), reduced to ≤k distinct bottom hashes
    per column; everything after is sketch-sized (k·|cols|) arithmetic
    — pair expansion, union bottom-k, match counting — with exact
    integer counts and one division per estimate.  The theta-sketch
    estimator: within the union's bottom-k, m = rows present in both
    sides, so Jaccard ≈ m/k', containment(A in B) ≈ m / |A-side rows|.
    """
    from .dedup import _base_hash64

    def sketch(df: DataFrame, cols: list[str], side: str) -> DataFrame:
        pairs = F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("col"), _base_hash64(F.col(c).cast("string"), hash_kind).alias("hv"),
                         F.col(c).isNull().alias("isnull"))
                for c in cols
            ])
        )
        d = (
            df.select(pairs.alias("p"))
            .select("p.col", "p.hv", "p.isnull")
            .where(~F.col("isnull"))
            .drop("isnull")
            .distinct()
        )
        w = Window.partitionBy("col").orderBy("hv")
        return d.withColumn("__r__", F.row_number().over(w)).where(F.col("__r__") <= k).drop("__r__")

    sa = sketch(left, left_cols, "a")
    sb = sketch(right, right_cols, "b")
    ea = sa.select(
        F.col("col").alias("col_a"), F.explode(F.array(*[F.lit(c) for c in right_cols])).alias("col_b"),
        "hv", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
    )
    eb = sb.select(
        F.explode(F.array(*[F.lit(c) for c in left_cols])).alias("col_a"), F.col("col").alias("col_b"),
        "hv", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
    )
    u = ea.unionByName(eb).groupBy("col_a", "col_b", "hv").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w2 = Window.partitionBy("col_a", "col_b").orderBy("hv")
    topu = u.withColumn("__r__", F.row_number().over(w2)).where(F.col("__r__") <= k)
    agg = topu.groupBy("col_a", "col_b").agg(
        F.count(F.lit(1)).alias("k_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("m_both"),
        F.sum("in_a").cast("bigint").alias("m_a"),
        F.sum("in_b").cast("bigint").alias("m_b"),
    )
    return agg.select(
        "col_a", "col_b", "k_union", "m_both",
        (F.col("m_both") / F.col("k_union")).alias("jaccard_est"),
        F.when(F.col("m_a") > 0, F.col("m_both") / F.col("m_a")).alias("containment_a_in_b"),
        F.when(F.col("m_b") > 0, F.col("m_both") / F.col("m_b")).alias("containment_b_in_a"),
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """EXACT pre-flight join cardinality: |A ⋈ B| = Σ_k n_A(k)·n_B(k)
    over shared keys, plus per-side row/match counts — the number a
    planner wants before firing a 100 TB join (is this 1:1, 1:N, or an
    accidental M×N explosion?).

    Cost: one hash agg per side reduces each table to (key, count) —
    tiny relative to the data — then one join of the two count
    relations.  All integer arithmetic.
    """
    a = left.where(F.col(left_key).isNotNull()).groupBy(F.col(left_key).alias("k")).agg(
        F.count(F.lit(1)).alias("na")
    )
    b = right.where(F.col(right_key).isNotNull()).groupBy(F.col(right_key).alias("k")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    j = a.join(b, on="k", how="full_outer")
    return j.agg(
        F.sum("na").cast("bigint").alias("n_left"),
        F.sum("nb").cast("bigint").alias("n_right"),
        F.sum(F.when(F.col("nb").isNotNull(), F.col("na"))).cast("bigint").alias("n_left_matched"),
        F.sum(F.when(F.col("na").isNotNull(), F.col("nb"))).cast("bigint").alias("n_right_matched"),
        F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("n_join_rows"),
        F.max(F.col("na") * F.col("nb")).cast("bigint").alias("max_key_contribution"),
    )


def schema_report(df: DataFrame, expected: dict[str, str]) -> DataFrame:
    """Data-contract schema check: one row per column with status
    ``ok`` / ``type_mismatch`` / ``missing`` (expected, absent) /
    ``extra`` (present, not in the contract) — pure METADATA, no scan,
    so it costs nothing at any scale and belongs at the top of every
    pipeline.

    Returns (column, expected, actual, status), deterministic order-
    free relation.
    """
    actual = dict(df.dtypes)
    rows = []
    for col, want in expected.items():
        have = actual.get(col)
        if have is None:
            rows.append((col, want, None, "missing"))
        elif have != want:
            rows.append((col, want, have, "type_mismatch"))
        else:
            rows.append((col, want, have, "ok"))
    for col, have in actual.items():
        if col not in expected:
            rows.append((col, None, have, "extra"))
    return df.sparkSession.createDataFrame(
        rows, "column string, expected string, actual string, status string"
    )


def observe_metrics(
    df: DataFrame, name: str, aggs: dict[str, Column]
):
    """Attach zero-cost pipeline metrics to a DataFrame: the aggregates
    ride the SAME job as whatever action consumes ``df`` (Spark's
    CollectMetrics operator accumulates them per task) — no second scan,
    which at 100 TB is the difference between free observability and
    doubling the read bill.

    Returns ``(df_with_metrics, observation)``; after ANY action on the
    returned frame, ``observation.get`` yields the metric dict.  Only
    deterministic aggregate expressions are allowed (Spark enforces
    this).

        df2, obs = observe_metrics(df, "ingest", {
            "rows": F.count(F.lit(1)),
            "null_keys": F.count_if(F.col("k").isNull()),
            "max_ts": F.max("ts"),
        })
        df2.write.parquet(...)          # metrics accumulate here
        obs.get["null_keys"]
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    out = df.observe(obs, *[c.alias(n) for n, c in aggs.items()])
    return out, obs


def iqr_outliers(
    df: DataFrame,
    keys: list[str],
    val_col: str,
    k: float = 1.5,
) -> DataFrame:
    """Per-group Tukey-fence outlier audit: Q1/Q3 (linear-interpolation
    quantiles), fences at Q1 − k·IQR / Q3 + k·IQR, and how many rows
    fall outside each fence — the standard numeric-quality gate.

    Exactness: for integer-scaled inputs the .25/.75 quantiles
    interpolate at quarter fractions, so every intermediate
    (q, k·IQR with k a dyadic rational like 1.5, the fences) is exactly
    representable in a double — ANY evaluation order yields the same
    value, making the fences engine-identical without rounding.

    Scale shape: one percentile aggregation per key, Q1 and Q3 from one
    shared value map (``groupby.percentiles``; the fence relation
    is group-cardinality-sized and BROADCASTS back onto the fact scan),
    then one conditional count agg — two passes total, no sort of the
    fact table.
    """
    from .groupby import percentiles

    x = F.col(val_col).cast("long")
    fences = df.groupBy(*keys).agg(*percentiles(x, [0.25, 0.75], ["q1", "q3"])).select(
        *keys, "q1", "q3",
        (F.col("q1") - F.lit(float(k)) * (F.col("q3") - F.col("q1"))).alias("lo_fence"),
        (F.col("q3") + F.lit(float(k)) * (F.col("q3") - F.col("q1"))).alias("hi_fence"),
    )
    j = df.select(*keys, x.alias("__x__")).join(F.broadcast(fences), on=keys)
    return j.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("q1").alias("q1"),
        F.min("q3").alias("q3"),
        F.min("lo_fence").alias("lo_fence"),
        F.min("hi_fence").alias("hi_fence"),
        F.sum((F.col("__x__") < F.col("lo_fence")).cast("long")).alias("n_out_low"),
        F.sum((F.col("__x__") > F.col("hi_fence")).cast("long")).alias("n_out_high"),
    )


def k_anonymity(
    df: DataFrame,
    qi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination — the
    data-governance gate before a table leaves the trust boundary:
    every QI equivalence class smaller than ``k`` re-identifies its
    members.  With ``sensitive_col``, also reports l-diversity (distinct
    sensitive values per class): a class can be k-anonymous yet leak the
    attribute when l = 1.

    One hash agg on the QI columns (the same shuffle the release query
    itself would pay); all outputs are exact integers.  Returns one row
    per equivalence class: (qi..., n, violates_k[, l_distinct,
    violates_l]).
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(sensitive_col).cast("long").alias("l_distinct"))
    g = df.groupBy(*qi_cols).agg(*aggs)
    out = g.withColumn("violates_k", F.col("n") < k)
    if sensitive_col is not None:
        out = out.withColumn("violates_l", F.col("l_distinct") <= 1)
    return out


def sla_burn(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    error_col: str,
    windows: list[tuple[str, int]] = (("fast", 300), ("slow", 3600)),
    budget_num: int = 1,
    budget_den: int = 100,
) -> DataFrame:
    """Multi-window SLO error-budget burn report (the SRE
    fast-burn/slow-burn alerting shape): bucket the event stream at each
    window size, flag buckets whose error rate exceeds the budget via
    the cross-multiplied integer test

        burning ⟺ n_err · budget_den > budget_num · n

    — no float rate exists, so the flags are engine-exact.  One hash agg
    per window size over the same scan (unioned); the classic pairing is
    a small fast window (page when it burns) and a long slow window
    (ticket when it burns).  Returns
    (keys…, win_name, bucket_start, n, n_err, burning).
    """
    e = F.col(error_col).cast("long")
    parts = []
    for name, secs in windows:
        b = F.floor(F.unix_seconds(F.col(time_col)) / F.lit(secs)).cast("long")
        g = df.groupBy(*keys, (b * secs).alias("bucket_start")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(e).cast("long").alias("n_err"),
        )
        parts.append(
            g.select(
                *keys, F.lit(name).alias("win_name"), "bucket_start", "n", "n_err",
                (F.col("n_err") * budget_den > budget_num * F.col("n")).alias("burning"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def missing_partitions(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Completeness audit for time-partitioned data: which calendar
    buckets inside each key's observed span have NO rows — the
    backfill planner's input (a silent missing day is the most common
    ingest failure).

    Per key: min/max observed bucket → expected = sequence(min..max)
    exploded from the ONE-ROW-PER-KEY span relation (never the fact
    table) → LEFT ANTI join against observed buckets.  All integer
    bucket indices.  Returns (keys…, bucket_start) for each hole.
    """
    b = F.floor(F.unix_seconds(F.col(time_col)) / F.lit(bucket_seconds)).cast("long")
    observed = df.groupBy(*keys, b.alias("__bkt__")).agg(F.count(F.lit(1)).alias("__n__"))
    span = observed.groupBy(*keys).agg(
        F.min("__bkt__").alias("__lo__"), F.max("__bkt__").alias("__hi__")
    )
    expected = span.select(
        *keys, F.explode(F.sequence(F.col("__lo__"), F.col("__hi__"))).alias("__bkt__")
    )
    missing = expected.join(observed.select(*keys, "__bkt__"), on=[*keys, "__bkt__"], how="left_anti")
    return missing.select(
        *keys, (F.col("__bkt__") * bucket_seconds).cast("long").alias("bucket_start")
    )


def apdex(
    df: DataFrame,
    keys: list[str],
    latency_col: str,
    threshold: int,
) -> DataFrame:
    """Apdex score per key (the standard user-satisfaction SLI):
    satisfied = latency ≤ T, tolerating = T < latency ≤ 4T,

        apdex = (satisfied + tolerating/2) / n = (2·sat + tol) / (2n)

    — the doubled form keeps the numerator an exact BIGINT; the score
    is ONE divide.  One conditional hash agg.  Returns
    (keys…, n, satisfied, tolerating, frustrated, apdex).
    """
    lat = F.col(latency_col).cast("long")
    sat = (lat <= threshold).cast("long")
    tol = ((lat > threshold) & (lat <= 4 * threshold)).cast("long")
    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(sat).cast("long").alias("satisfied"),
        F.sum(tol).cast("long").alias("tolerating"),
    )
    return g.select(
        *keys, "n", "satisfied", "tolerating",
        (F.col("n") - F.col("satisfied") - F.col("tolerating")).alias("frustrated"),
        ((2 * F.col("satisfied") + F.col("tolerating")) / (2 * F.col("n"))).alias("apdex"),
    )


def first_seen_novelty(
    df: DataFrame,
    entity_cols: list[str],
    time_col: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Novelty audit (security/fraud staple): per time bucket, how many
    entity combinations appear for the FIRST time ever, plus the
    running distinct-entity total — "are we seeing new (user, action)
    pairs today, and how fast is the universe growing".

    One hash agg finds each entity's first bucket (min over the bucket
    index); a second bucket-level agg + one running integer sum over
    the AGGREGATED bucket relation produce the report.  All exact.
    Returns (bucket_start, n_new, cum_entities).
    """
    b = F.floor(F.unix_seconds(F.col(time_col)) / F.lit(bucket_seconds)).cast("long")
    firsts = df.groupBy(*entity_cols).agg(F.min(b).alias("__fb__"))
    byb = firsts.groupBy("__fb__").agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    w = Window.orderBy("__fb__").rowsBetween(Window.unboundedPreceding, 0)
    return byb.withColumn("cum_entities", F.sum("n_new").over(w).cast("long")).select(
        (F.col("__fb__") * bucket_seconds).cast("long").alias("bucket_start"),
        "n_new", "cum_entities",
    )


def t_closeness(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    t_num: int = 1,
    t_den: int = 5,
) -> DataFrame:
    """t-closeness audit — the third rung of the privacy ladder after
    :func:`k_anonymity`'s k and l (an attacker learns something whenever
    a class's SENSITIVE DISTRIBUTION differs from the table's): per QI
    equivalence class, the Earth-Mover's Distance between the class's
    sensitive-value distribution and the global one over the ORDERED
    value domain,

        EMD = (1/(V−1)) Σ_v |cum_c(v)·N − cum_g(v)·n| / (n·N)

    — cumulative counts are exact BIGINTs, the per-value terms sum as
    exact integers over the (class × value-domain) grid, and the t
    threshold tests by cross-multiplication.  Shape: one (class, value)
    count agg, a dense grid join against the value domain (domain
    cardinality is small by definition of a sensitive attribute), one
    running-sum window over the AGGREGATED grid.  Returns per class:
    (qi…, n, emd, violates_t).
    """
    g_counts = df.groupBy(F.col(sensitive_col).alias("__val__")).agg(
        F.count(F.lit(1)).cast("long").alias("__gc__")
    )
    totals = g_counts.agg(
        F.sum("__gc__").cast("long").alias("__nn__"),
        F.count(F.lit(1)).cast("long").alias("__nv__"),
    )
    c_counts = df.groupBy(*qi_cols, F.col(sensitive_col).alias("__val__")).agg(
        F.count(F.lit(1)).cast("long").alias("__cc__")
    )
    classes = c_counts.groupBy(*qi_cols).agg(F.sum("__cc__").cast("long").alias("n"))
    grid = classes.crossJoin(F.broadcast(g_counts)).join(
        c_counts, on=[*qi_cols, "__val__"], how="left"
    ).select(
        *qi_cols, "n", "__val__", "__gc__",
        F.coalesce(F.col("__cc__"), F.lit(0)).alias("__cc__"),
    )
    wrun = Window.partitionBy(*qi_cols).orderBy("__val__").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.withColumn("__cumc__", F.sum("__cc__").over(wrun).cast("long")).withColumn(
        "__cumg__", F.sum("__gc__").over(wrun).cast("long")
    ).crossJoin(F.broadcast(totals))
    terms = cum.groupBy(*qi_cols, "n", "__nn__", "__nv__").agg(
        F.sum(F.abs(F.col("__cumc__") * F.col("__nn__") - F.col("__cumg__") * F.col("n")))
        .cast("long").alias("__num__")
    )
    emd = F.col("__num__") / (
        (F.col("__nv__") - 1) * F.col("n") * F.col("__nn__")
    )
    violates = (
        F.col("__num__") * t_den
        > F.lit(t_num) * (F.col("__nv__") - 1) * F.col("n") * F.col("__nn__")
    )
    return terms.select(
        *qi_cols, "n", emd.alias("emd"), violates.alias("violates_t")
    )


def dispersion_index(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Index of dispersion (Fano factor) of bucketed event counts per
    key: F = Var/Mean — 1 for a Poisson process, >1 for bursty
    (overdispersed) streams, <1 for regular ones.

    With S = Σc and Q = Σc² over the key's n observed buckets,
    F = (n·Q − S²)/(n·S): exact BIGINT numerator/denominator and ONE
    divide, so the statistic — and the overdispersion flag
    n·Q − S² > n·S — is engine-identical.  Two hash aggs; the shuffle
    carries one row per (key, bucket).  Returns (keys…, n_buckets,
    total, mean_count, fano, overdispersed).
    """
    b = F.floor(F.unix_seconds(F.col(time_col)) / F.lit(int(bucket_seconds))).cast("long")
    counts = df.groupBy(*keys, b.alias("__bkt__")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = counts.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("__q__"),
    )
    n, s, q = F.col("n_buckets"), F.col("total"), F.col("__q__")
    return agg.select(
        *keys, "n_buckets", "total",
        (s / n).alias("mean_count"),
        ((n * q - s * s) / (n * s)).alias("fano"),
        (n * q - s * s > n * s).alias("overdispersed"),
    )


def grubbs_stat(
    df: DataFrame,
    keys: list[str],
    value_scaled_col: str,
) -> DataFrame:
    """Grubbs outlier statistic per key: G = max|x − x̄| / s over an
    integer-scaled value column.

    Engine-exact composition: the deviation |x·n − S| is an exact
    BIGINT per row, its group MAX is fold-order-free, and
    G = M / (n·s) with s = √((nQ − S²)/(n(n−1))) is a fixed float
    tree over exact operands (one sqrt, two divides — all correctly
    rounded).  The suspect value rides a packed (dev, value) argmax so
    ties break deterministically to the LARGER value.  Two hash aggs +
    one broadcast join.  Returns (keys…, n, mean, stddev,
    suspect_scaled, g_stat).
    """
    x = F.col(value_scaled_col).cast("long")
    m = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("__s__"),
        F.sum(x * x).cast("long").alias("__q__"),
    )
    j = df.join(F.broadcast(m), on=keys)
    dev = F.abs(x * F.col("n") - F.col("__s__"))
    # pack: dev * 2^20 + (value - min_possible)? value can be negative;
    # use struct max instead — Spark max on struct orders lexically.
    packed = F.struct(dev.alias("d"), x.alias("v"))
    agg = j.groupBy(*keys, "n", "__s__", "__q__").agg(F.max(packed).alias("__p__"))
    n, s, q = F.col("n"), F.col("__s__"), F.col("__q__")
    var = (n * q - s * s) / (n * (n - 1))
    sd = F.sqrt(var)
    mdev = F.col("__p__.d")
    return agg.select(
        *keys, "n",
        (s / n).alias("mean"),
        F.when(n >= 2, sd).alias("stddev"),
        F.col("__p__.v").alias("suspect_scaled"),
        F.when((n >= 2) & (n * q - s * s > 0), (mdev / n) / sd).alias("g_stat"),
    )


def prr_signal(
    df: DataFrame,
    group_col: str,
    flag_col,
) -> DataFrame:
    """Proportional-reporting-ratio signal detection (the
    pharmacovigilance 2×2 per group): with a = flagged in group,
    b = unflagged in group, c = flagged elsewhere, d = unflagged
    elsewhere,

        PRR = (a/(a+b)) / (c/(c+d)) = a·(c+d) / ((a+b)·c)
        ROR = a·d / (b·c)

    — each ONE divide of exact BIGINT cross-products (never a float
    rate).  One group agg + one broadcast total.  Returns
    (group, a, b, c, d, prr, ror).
    """
    f = F.col(flag_col) if isinstance(flag_col, str) else flag_col
    g = df.groupBy(group_col).agg(
        F.sum(f.cast("long")).cast("long").alias("a"),
        F.sum((~f).cast("long")).cast("long").alias("b"),
    )
    tot = g.agg(
        F.sum("a").cast("long").alias("__ta__"), F.sum("b").cast("long").alias("__tb__")
    )
    j = g.crossJoin(F.broadcast(tot))
    a, b = F.col("a"), F.col("b")
    c = F.col("__ta__") - a
    d = F.col("__tb__") - b
    return j.select(
        group_col, "a", "b",
        c.alias("c"), d.alias("d"),
        F.when(c > 0, (a * (c + d)) / ((a + b) * c)).alias("prr"),
        F.when((b > 0) & (c > 0), (a * d) / (b * c)).alias("ror"),
    )


def nb_overdispersion(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Negative-binomial overdispersion α by method of moments over
    bucketed event counts: Var = Mean + α·Mean² ⟹

        α = (Var − Mean)/Mean² = (n·Q − S² − n·S) / S²

    — ONE divide of exact BIGINT moments (dispersion_index's Fano
    sibling; α>0 calls for NB rather than Poisson modeling).  Returns
    (keys…, n_buckets, total, mean_count, alpha).
    """
    b = F.floor(F.unix_seconds(F.col(time_col)) / F.lit(int(bucket_seconds))).cast("long")
    counts = df.groupBy(*keys, b.alias("__bkt__")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = counts.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("__q__"),
    )
    n, s, q = F.col("n_buckets"), F.col("total"), F.col("__q__")
    return agg.select(
        *keys, "n_buckets", "total",
        (s / n).alias("mean_count"),
        F.when(s > 0, (n * q - s * s - n * s) / (s * s)).alias("alpha"),
    )


def fd_violations(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Functional-dependency audit: for each candidate (determinant →
    dependent) column pair, how many determinant groups map to more
    than one dependent value — the data-contract check behind "is this
    column derivable from that key?".

    Per pair: ONE hash agg on the determinant collecting
    count(DISTINCT dependent), then a tiny roll-up — n_groups,
    violating groups, excess (Σ extra dependent values), and the holds
    flag.  All integers; all-NULL dependent groups count distinct 0
    and are clamped with greatest(·,1) so they never report −1 excess.
    Each pair is an independent scan+agg unioned at the end (pairs on
    the same determinant could share a scan; at a handful of audited
    pairs the simple form wins).
    """
    outs = []
    for det, dep in pairs:
        g = df.groupBy(F.col(det).alias("__det__")).agg(
            F.countDistinct(F.col(dep)).cast("long").alias("__nd__")
        )
        outs.append(
            g.agg(
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(F.when(F.col("__nd__") > 1, 1).otherwise(0))
                .cast("long")
                .alias("viol_groups"),
                F.sum(F.greatest(F.col("__nd__"), F.lit(1).cast("long")) - 1)
                .cast("long")
                .alias("excess"),
            ).select(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                "n_groups", "viol_groups", "excess",
                (F.col("viol_groups") == 0).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def recursive_cl_diversity(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
    c: int = 2,
) -> DataFrame:
    """Recursive (c, l)-diversity audit (Machanavajjhala et al. 2007) —
    the stronger sibling of the distinct-l check in :func:`k_anonymity`:
    a QI equivalence class is (c, l)-diverse iff, with sensitive-value
    counts sorted descending r1 ≥ r2 ≥ …, the most frequent value does
    not dominate the tail:

        r1 < c · (r_l + r_{l+1} + … + r_m)

    (distinct-l passes a class where one value holds 99% of rows;
    recursive (c, l) catches it).  Chosen over ENTROPY l-diversity for
    the audit flag because the test is pure INTEGER cross-multiplication
    — engine-exact, no ln boundary (the entropy itself is reported too,
    rounded, for dashboards).

    Scale shape: one hash agg on (QI, sensitive) → per-class rank
    window over that AGGREGATED relation (≤ distinct combinations, not
    rows) → one class-level agg.  Returns one row per class:
    (qi…, n, l_distinct, r1, tail_from_l, cl_diverse, entropy).
    """
    counts = df.groupBy(*qi_cols, sensitive_col).agg(
        F.count(F.lit(1)).cast("long").alias("__c__")
    )
    w = Window.partitionBy(*qi_cols).orderBy(
        F.col("__c__").desc(), F.col(sensitive_col)
    )
    ranked = counts.withColumn("__rk__", F.row_number().over(w))
    per = ranked.groupBy(*qi_cols).agg(
        F.sum("__c__").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.max(F.when(F.col("__rk__") == 1, F.col("__c__"))).cast("long").alias("r1"),
        F.sum(F.when(F.col("__rk__") >= l, F.col("__c__")))
        .cast("long")
        .alias("__tail__"),
        # entropy = ln(n) − (Σ c·ln c)/n, assembled from one pass
        F.sum(F.col("__c__").cast("double") * F.log(F.col("__c__").cast("double")))
        .alias("__clnc__"),
    )
    tail = F.coalesce(F.col("__tail__"), F.lit(0))
    entropy = F.log(F.col("n").cast("double")) - F.col("__clnc__") / F.col("n").cast(
        "double"
    )
    return per.select(
        *qi_cols,
        "n",
        "l_distinct",
        "r1",
        tail.alias("tail_from_l"),
        (F.col("r1") < F.lit(int(c)) * tail).alias("cl_diverse"),
        F.round(entropy, 6).alias("entropy"),
    )
