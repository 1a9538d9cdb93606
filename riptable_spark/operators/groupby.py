"""GroupByOps reduce surface (SURVEY §2.4).

Reference: /root/reference/riptable/rt_groupbyops.py:34 (GroupByOps shared
by GroupBy/Categorical/Accum2); dispatch machinery rt_grouping.py:3277.
On Spark the whole iKey/pack pipeline collapses into ``groupBy().agg()`` —
Catalyst plans a partial (map-side) + final hash aggregate around one
shuffle on the keys, which is the scale-correct physical shape.

The fused-filter idiom (bin-0 trick, rt_grouping.py:3319-3327) is exposed
as a ``filter`` argument compiled to ``F.x(F.when(filter, col))`` so the
filter rides inside the same single aggregation pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.nullsafe import isna


def _maybe_filter(col: Column, flt: Column | None) -> Column:
    return F.when(flt, col) if flt is not None else col


# --- the named reduce set (rt_groupbyops.py; kernel enums rt_enum.py:486-532)
def nansum(col, flt=None):
    return F.sum(_maybe_filter(col, flt))  # GB_NANSUM=50


def nanmean(col, flt=None):
    return F.avg(_maybe_filter(col, flt))  # GB_MEAN(nan)=51


def nanmin(col, flt=None):
    return F.min(_maybe_filter(col, flt))


def nanmax(col, flt=None):
    return F.max(_maybe_filter(col, flt))


def nanvar(col, flt=None):
    return F.var_samp(_maybe_filter(col, flt))  # ddof=1, rt_groupbyops.py:2871


def nanstd(col, flt=None):
    return F.stddev_samp(_maybe_filter(col, flt))


def strict(aggfn, col, flt=None):
    """riptable's non-nan aggs propagate invalids (SURVEY §1.2): NULL out
    the group if it contains any invalid. Filtered-OUT rows are excluded,
    not invalidated — only invalids among the rows the filter keeps
    poison the group (bin-0 contract above)."""
    invalid = isna(col) if flt is None else (flt & isna(col))
    return F.when(F.count(F.when(invalid, 1)) > 0, F.lit(None)).otherwise(
        aggfn(_maybe_filter(col, flt))
    )


def count(flt=None):
    return F.count(F.when(flt, 1)) if flt is not None else F.count(F.lit(1))


def median(col, flt=None):
    return F.median(_maybe_filter(col, flt))  # GB_MEDIAN=103, exact


def mode(col, flt=None):
    return F.mode(_maybe_filter(col, flt))  # GB_MODE=104


def quantile(col, q, flt=None):
    """GB_QUANTILE_MULT=106 — exact linear-interpolation percentile,
    matching the reference kernel's interpolation (rt_groupbyops.py:1502)."""
    c = _maybe_filter(col, flt)
    if isinstance(q, (list, tuple)):
        return F.percentile(c, F.array(*[F.lit(float(p)) for p in q]))
    return F.percentile(c, F.lit(float(q)))


def percentiles(col, qs, names, flt=None) -> list[Column]:
    """Several exact percentiles of ONE input as ONE aggregate buffer:
    ``percentile(c, array(qs))[i]`` per name. Catalyst deduplicates the
    semantically equal aggregates, so the k indexed columns share one
    value→count map (one box per value, one exchange, one sort) instead
    of k. Each result is exactly what ``percentile(c, q_i)`` returns —
    the same sorted counts and interpolation per percentage. Use it
    wherever one aggregation asks for ≥2 percentiles of the same input
    (``plans.inspect.lint`` flags the split form as split-percentile)."""
    if len(qs) != len(names):
        raise ValueError(f"percentiles: {len(qs)} quantiles but {len(names)} names")
    p = F.percentile(_maybe_filter(col, flt), F.array(*[F.lit(float(q)) for q in qs]))
    return [p[i].alias(n) for i, n in enumerate(names)]


def nanpercentile(col, q, flt=None):
    """rt_groupbyops.py:1938 nanpercentile — identical to ``quantile``
    (NULL/NaN-excluded like every nan-aggregate here) but takes q on the
    reference's 0-100 percentile scale."""
    if isinstance(q, (list, tuple)):
        return quantile(col, [float(p) / 100.0 for p in q], flt)
    return quantile(col, float(q) / 100.0, flt)


def sem(col, flt=None):
    """rt_groupbyops.py:3500 — stddev/sqrt(count)."""
    c = _maybe_filter(col, flt)
    return F.stddev_samp(c) / F.sqrt(F.count(c))


def count_uniques(col, flt=None):
    return F.count_distinct(_maybe_filter(col, flt))  # rt_groupbyops.py:1037


def first(col, order: Column):
    """GB_FIRST=100 — first by explicit order; min_by keeps it a plain
    hash-agg (no window/sort)."""
    return F.min_by(col, order)


def last(col, order: Column):
    return F.max_by(col, order)  # GB_LAST=102


def ohlc(col, order: Column):
    """rt_groupbyops.py:3514 — returns the 4 exprs; caller aliases."""
    return [
        F.min_by(col, order).alias("open"),
        F.max(col).alias("high"),
        F.min(col).alias("low"),
        F.max_by(col, order).alias("close"),
    ]


def trimbr_exprs(col: Column, lo: float = 0.1, hi: float = 0.9):
    """GB_TRIMBR=105 trimmed mean (rt_groupbyops.py:1366) — the per-group
    [lo, hi] percentile band-edge expressions consumed by trimbr()'s first
    aggregation. Returns a 2-tuple of Columns (__trim_lo__, __trim_hi__)."""
    return tuple(percentiles(col, [lo, hi], ["__trim_lo__", "__trim_hi__"]))


def trimbr(df: DataFrame, keys: list[str], valcol: str, lo: float = 0.1, hi: float = 0.9, alias: str = "trimbr") -> DataFrame:
    """Trimmed mean per group. Two hash-aggs over the same shuffle key —
    AQE reuses the exchange, so it is one shuffle of the fact table plus a
    broadcast-sized join of per-group edges."""
    edges = df.groupBy(*keys).agg(*trimbr_exprs(F.col(valcol), lo, hi))
    joined = df.join(F.broadcast(edges), on=keys)
    return (
        joined.where((F.col(valcol) >= F.col("__trim_lo__")) & (F.col(valcol) <= F.col("__trim_hi__")))
        .groupBy(*keys)
        .agg(F.avg(valcol).alias(alias))
    )


def describe(df: DataFrame, keys: list[str], valcol: str) -> DataFrame:
    """rt_utils.py:857 describe_helper's FULL stat row — Count (all
    rows), Valid, Nans, Mean, Std, Min, P10 P25 P50 P75 P90, Max, MeanM —
    per group. Everything except MeanM is one hash-aggregation pass,
    and the five percentiles share one exact value map per group
    (``percentiles``);
    MeanM (the reference's POSITIONAL middle-80% mean: sorted positions
    floor(.1·(n−1)) … ceil(.9·(n−1)) inclusive, rt_utils.py:906-927) adds
    one window rank over the group and is broadcast-joined back."""
    from pyspark.sql import Window

    c = F.col(valcol)
    base = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("count"),
        F.count(c).alias("valid"),
        (F.count(F.lit(1)) - F.count(c)).alias("nans"),
        F.avg(c).alias("mean"),
        F.stddev_samp(c).alias("std"),
        F.min(c).alias("min"),
        *percentiles(c, [0.10, 0.25, 0.50, 0.75, 0.90], ["p10", "p25", "p50", "p75", "p90"]),
        F.max(c).alias("max"),
    )
    nn = df.where(c.isNotNull())
    w = Window.partitionBy(*keys).orderBy(valcol)
    wp = Window.partitionBy(*keys)
    r = F.row_number().over(w) - 1
    n = F.count(F.lit(1)).over(wp)
    lo = F.floor(F.lit(0.10) * (n - 1))
    hi = F.ceil(F.lit(0.90) * (n - 1))
    mm = (
        nn.withColumn("__r__", r)
        .withColumn("__lo__", lo)
        .withColumn("__hi__", hi)
        .groupBy(*keys)
        .agg(
            F.avg(
                F.when((F.col("__r__") >= F.col("__lo__")) & (F.col("__r__") <= F.col("__hi__")), c)
            ).alias("meanm")
        )
    )
    return base.join(F.broadcast(mm), on=keys, how="left")


def agg_dict(df: DataFrame, keys: list[str], spec: dict[str, list[str]], flt: Column | None = None) -> DataFrame:
    """GroupByOps.agg({col: [fn,...]}) (rt_groupbyops.py:890) → one
    groupBy().agg() with `{col}_{fn}` aliases (Multiset flattened)."""
    fns = {
        "sum": nansum,
        "mean": nanmean,
        "min": nanmin,
        "max": nanmax,
        "var": nanvar,
        "std": nanstd,
        "median": median,
        "mode": mode,
        "sem": sem,
        "count_uniques": count_uniques,
    }
    exprs = []
    for colname, fnames in spec.items():
        for fname in fnames:
            exprs.append(fns[fname](F.col(colname), flt).alias(f"{colname}_{fname}"))
    return df.groupBy(*keys).agg(*exprs)


def null_result(df: DataFrame, keys: list[str]) -> DataFrame:
    """GroupByOps.null (rt_groupbyops.py:1014): keys-only distinct table."""
    return df.select(*keys).distinct()


_NUMERIC_T = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def gbrows(df: DataFrame, funcs: list[str], id_cols: list[str], columns: list[str] | None = None) -> DataFrame:
    """rt_dataset.py:6394 gbrows: every ROW is a group, and aggregation
    runs ACROSS the row's computable (numeric) columns. On Spark this is
    a horizontal reduction over an array expression — whole-stage
    codegen, ZERO shuffles (the reference builds an actual transposed
    GroupBy; the array form is the idiomatic Spark shape). NULLs are
    skipped like the nan-aggregates. ``id_cols`` identifies rows in the
    output (the reference's RowNum is physical order, which Spark rows
    don't have)."""
    cols = columns or [c for c, t in df.dtypes if t.startswith(_NUMERIC_T) and c not in id_cols]
    arr = F.filter(F.array(*[F.col(c).cast("double") for c in cols]), lambda x: x.isNotNull())
    builders = {
        "sum": lambda: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x),
        "mean": lambda: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / F.size(arr),
        "min": lambda: F.array_min(arr),
        "max": lambda: F.array_max(arr),
        "count": lambda: F.size(arr),
    }
    unknown = [f for f in funcs if f not in builders]
    if unknown:
        raise ValueError(f"gbrows: unsupported funcs {unknown}; have {sorted(builders)}")
    return df.select(*id_cols, *[builders[f]().alias(f"row_{f}") for f in funcs])


def quantile_sorted(
    df: DataFrame,
    keys: list[str],
    valcol: str,
    qs: list[float],
    out_names: list[str] | None = None,
    extra_aggs: list | None = None,
) -> DataFrame:
    """Exact grouped quantiles via sort-based rank-select instead of the
    value-map aggregate (``F.percentile``). Same semantics — linear
    interpolation at h=(n-1)q with Spark's own ``lo*(1-d)+hi*d`` formula,
    bit-identical output (verified) — but a different physical plan:
    ONE window shuffle (partitionBy keys, orderBy value) + a cheap
    hash-agg, instead of per-group value→count maps that the percentile
    aggregate builds and merges.

    When to prefer which (measured at sf0.1, 600k rows, 583k distinct
    doubles): this is ~2× faster than ``F.percentile`` on
    high-cardinality value columns, where the percentile aggregate's
    hash map degenerates to all-distinct entries; ``gb.quantile`` wins
    on low-cardinality columns where the map stays tiny. At cluster
    scale the percentile aggregate concentrates EVERY distinct value of
    a group in one final merge buffer (OOM risk on a 100 TB group);
    this form's window sorts spill gracefully. NULLs are excluded like
    the nan-aggregates (rn/n count only non-null rows).

    ``extra_aggs``: additional aggregate expressions folded into the SAME
    final hash-agg (they see the NULL-filtered rows) — lets a caller fuse
    e.g. var/std/sem of another column into this pass instead of paying a
    second scan+agg job over the input.
    """
    from pyspark.sql import Window

    p = F.col(valcol)
    nn = df.where(p.isNotNull())
    w = Window.partitionBy(*keys).orderBy(valcol)
    wn = Window.partitionBy(*keys)
    d = nn.withColumn("__rn__", F.row_number().over(w)).withColumn(
        "__n__", F.count(F.lit(1)).over(wn)
    )
    # SQL-string aggregates: one py4j roundtrip each instead of ~10 DSL
    # calls — driver-side build time matters when a bench rebuilds the
    # plan per run
    aggs = []
    v = f"`{valcol}`"
    for i, q in enumerate(qs):
        h = f"((__n__ - 1) * {float(q)!r}D)"
        aggs.append(F.expr(f"min(CASE WHEN __rn__ = floor({h}) + 1 THEN {v} END) AS __lo{i}__"))
        aggs.append(F.expr(f"min(CASE WHEN __rn__ = ceil({h}) + 1 THEN {v} END) AS __hi{i}__"))
        aggs.append(F.expr(f"first({h}) AS __h{i}__"))
    res = d.groupBy(*keys).agg(*aggs, *(extra_aggs or []))
    names = out_names or [f"q{i}" for i in range(len(qs))]
    sel = list(keys)
    for i, name in enumerate(names):
        frac = F.col(f"__h{i}__") - F.floor(F.col(f"__h{i}__"))
        sel.append(
            (F.col(f"__lo{i}__") * (F.lit(1.0) - frac) + F.col(f"__hi{i}__") * frac).alias(name)
        )
    for e in extra_aggs or []:
        s = e._jc.toString()
        sel.append(s.rsplit(" AS ", 1)[1] if " AS " in s else s)
    return res.select(*sel)


def quantile_ranged(
    df: DataFrame,
    keys: list[str],
    valcol: str,
    qs: list[float],
    out_names: list[str] | None = None,
    npartitions: int | None = None,
) -> DataFrame:
    """Exact grouped quantiles for GIANT groups: the scale path when a
    single key holds more rows than one task should sort.

    ``quantile_sorted``'s window partitions by the key — a 3-key 100 TB
    table sorts in 3 tasks and the per-group sort is the straggler. This
    form range-partitions by (key, value) into ``npartitions`` parallel
    sorted splits and recovers exact global ranks with arithmetic:
    ``monotonically_increasing_id`` after sortWithinPartitions encodes
    the in-partition position, a tiny per-(partition, key) aggregate
    (≤ npartitions + n_keys rows — contiguous ranges mean each extra
    partition adds at most one (pid, key) pair) yields offsets, and the
    target order statistics are picked by an equi-join on (key, rank).
    ONE full-data shuffle (the range exchange + its sampling pass), all
    sorts parallel, interpolation identical to quantile_sorted
    (bit-equal, verified in tests).

    At small scale the extra jobs (range sampling, broadcast builds)
    cost more than they save — measured ~2× slower than quantile_sorted
    at sf0.1 — so this is an explicit opt-in, not the default."""
    from pyspark.sql import Window

    npart = npartitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    p = F.col(valcol)
    nn = df.select(*keys, valcol).where(p.isNotNull())
    s = (
        nn.repartitionByRange(npart, *[F.col(k) for k in keys], p)
        .sortWithinPartitions(*keys, valcol)
        .withColumn("__mid__", F.monotonically_increasing_id())
        .withColumn("__pid__", F.spark_partition_id())
    )
    grp = s.groupBy("__pid__", *keys).agg(
        F.min("__mid__").alias("__m0__"), F.count(F.lit(1)).alias("__c__")
    )
    wcum = Window.partitionBy(*keys).orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
    grp = grp.withColumn("__cb__", F.coalesce(F.sum("__c__").over(wcum), F.lit(0)))
    nk = grp.groupBy(*keys).agg(F.sum("__c__").alias("__n__"))
    targets = None
    for i, q in enumerate(qs):
        h = (F.col("__n__") - 1) * F.lit(float(q))
        for kind, rank in (("lo", F.floor(h) + 1), ("hi", F.ceil(h) + 1)):
            t = nk.select(
                *keys,
                F.lit(i).alias("__qi__"),
                F.lit(kind).alias("__kind__"),
                rank.cast("long").alias("__trank__"),
            )
            targets = t if targets is None else targets.unionByName(t)
    ranked = s.join(F.broadcast(grp), on=["__pid__", *keys]).withColumn(
        "__rank__", F.col("__mid__") - F.col("__m0__") + 1 + F.col("__cb__")
    )
    picked = ranked.join(
        F.broadcast(targets),
        on=[ranked[k] == targets[k] for k in keys] + [ranked["__rank__"] == targets["__trank__"]],
    ).select(*[ranked[k] for k in keys], "__qi__", "__kind__", p)
    aggs = []
    for i in range(len(qs)):
        aggs.append(F.min(F.when((F.col("__qi__") == i) & (F.col("__kind__") == "lo"), p)).alias(f"__lo{i}__"))
        aggs.append(F.min(F.when((F.col("__qi__") == i) & (F.col("__kind__") == "hi"), p)).alias(f"__hi{i}__"))
    res = picked.groupBy(*keys).agg(*aggs).join(F.broadcast(nk), on=list(keys))
    names = out_names or [f"q{i}" for i in range(len(qs))]
    sel = list(keys)
    for i, (name, q) in enumerate(zip(names, qs)):
        h = (F.col("__n__") - 1) * F.lit(float(q))
        frac = h - F.floor(h)
        sel.append((F.col(f"__lo{i}__") * (F.lit(1.0) - frac) + F.col(f"__hi{i}__") * frac).alias(name))
    return res.select(*sel)


def quantile_agg(
    df: DataFrame,
    keys: list[str],
    valcol: str,
    qs: list[float],
    out_names: list[str] | None = None,
) -> DataFrame:
    """Exact grouped quantiles via the value-map percentile AGGREGATE —
    the winning shape when the value column has FEW distinct values (the
    per-group value→count map stays tiny and merges map-side). Same
    linear-interpolation semantics as ``quantile_sorted`` (bit-equal,
    verified). Loses badly when values are near-all-distinct: the map
    degenerates to one entry per row and the final merge concentrates a
    whole group's values in one buffer."""
    names = out_names or [f"q{i}" for i in range(len(qs))]
    arr = F.expr(
        f"percentile(`{valcol}`, array({', '.join(repr(float(q)) + 'D' for q in qs)}))"
    ).alias("__qarr__")
    res = df.where(F.col(valcol).isNotNull()).groupBy(*keys).agg(arr)
    return res.select(*keys, *[F.col("__qarr__")[i].alias(n) for i, n in enumerate(names)])


def quantile_auto(
    df: DataFrame,
    keys: list[str],
    valcol: str,
    qs: list[float],
    out_names: list[str] | None = None,
    distinct_threshold: int = 10_000,
    giant_group_rows: int = 50_000_000,
) -> DataFrame:
    """Exact grouped quantiles with the physical strategy chosen by a
    one-scan probe instead of the caller's guess. The probe is a single
    scan-only aggregate (two HyperLogLog sketches + a count — partial
    aggregation, NO shuffle, a few KB to the driver):

    - distinct(values) ≤ ``distinct_threshold`` → ``quantile_agg``
      (value-map percentile aggregate; map bounded by distinct values);
    - else, estimated rows-per-group = n / distinct(keys) ≤
      ``giant_group_rows`` → ``quantile_sorted`` (one window sort per
      group; spills gracefully);
    - else → ``quantile_ranged`` (range-partitioned parallel sorts; no
      single task ever sorts a whole giant group).

    The rows-per-group estimate is an AVERAGE — a heavily skewed key
    can exceed it; callers who know their skew should call
    ``quantile_ranged`` directly (documented; the estimate errs on the
    conservative side only via ``giant_group_rows``'s default, sized so
    the straggler sort stays under one task's memory). All three
    branches produce bit-identical results (tested); only the physical
    plan differs."""
    probe = df.where(F.col(valcol).isNotNull()).agg(
        F.approx_count_distinct(valcol).alias("dv"),
        F.approx_count_distinct(F.struct(*[F.col(k) for k in keys])).alias("dk"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if probe["n"] == 0 or probe["dv"] <= distinct_threshold:
        return quantile_agg(df, keys, valcol, qs, out_names)
    if probe["n"] / max(probe["dk"], 1) <= giant_group_rows:
        return quantile_sorted(df, keys, valcol, qs, out_names)
    return quantile_ranged(df, keys, valcol, qs, out_names)


# --------------------------------------------------------------------
# Approximate scale dials: when exactness is negotiable, these swap an
# exact aggregate's memory/shuffle profile for a bounded-size sketch.


def quantile_approx(col, q, accuracy: int = 10_000, flt=None):
    """percentile_approx (Greenwald-Khanna sketch): bounded-memory
    grouped quantiles — relative rank error ≤ 1/accuracy. The dial for
    quantiles over unbounded-cardinality values when quantile_ranged's
    extra shuffle isn't worth it and exactness isn't contractual."""
    c = _maybe_filter(col, flt)
    if isinstance(q, (list, tuple)):
        return F.percentile_approx(c, F.array(*[F.lit(float(x)) for x in q]), F.lit(accuracy))
    return F.percentile_approx(c, F.lit(float(q)), F.lit(accuracy))


def count_uniques_approx(col, rsd: float = 0.05, flt=None):
    """approx_count_distinct (HyperLogLog++): fixed-size sketch per
    group vs count_distinct's per-value hash sets — the dial for
    distinct counts over very-high-cardinality values (relative
    standard deviation ``rsd``)."""
    return F.approx_count_distinct(_maybe_filter(col, flt), rsd=rsd)


def transform(df: DataFrame, keys: list[str], expr: Column, out_col: str) -> DataFrame:
    """rt_groupbyops transform=True: the group aggregate broadcast back
    to every member row (output keeps the input's shape). On Spark this
    is the aggregate over an unordered partition window — ONE shuffle on
    the keys, no join back. Compose with any aggregate builder here:
    ``transform(df, ['k'], nanmean(F.col('x')), 'x_mean')``."""
    from pyspark.sql import Window

    return df.withColumn(out_col, expr.over(Window.partitionBy(*keys)))


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period_seconds: int = 604_800,
) -> DataFrame:
    """Cohort retention grid: users bucketed by first-activity period
    (the cohort), counted in each later activity period. Two
    aggregations — first-seen per user (one shuffle on user), then the
    (cohort, period_offset) distinct-user count — both partial-agg
    friendly; the events relation never carries more than (user,
    period) pairs. Returns (cohort_period, period_offset, n_users)."""
    t = F.col(ts_col).cast("timestamp")
    per = F.floor(F.unix_micros(t) / F.lit(period_seconds * 1_000_000)).alias("__p__")
    acts = df.select(F.col(user_col).alias("__u__"), per).distinct()
    first = acts.groupBy("__u__").agg(F.min("__p__").alias("__c__"))
    joined = acts.join(first, on="__u__")
    return (
        joined.groupBy(
            F.col("__c__").alias("cohort_period"),
            (F.col("__p__") - F.col("__c__")).alias("period_offset"),
        )
        .agg(F.count_distinct("__u__").alias("n_users"))
    )


def target_encode(
    df: DataFrame,
    key_cols: list[str] | str,
    target_col: str,
    smoothing: float = 20.0,
    loo: bool = False,
    out_col: str = "te",
    exact: bool = False,
) -> DataFrame:
    """Smoothed target encoding — the classic categorical-feature
    transform: encode(key) = (Σ target + m·prior) / (n + m) with m =
    ``smoothing`` and prior = the global target mean; ``loo=True`` gives
    the leave-one-out variant (the row's own target excluded — the
    leakage-safe form used when encoding the training table itself;
    singleton keys fall back to the prior, the 0/0 guard).

    Scale shape: per-key (n, Σ) is a map-side-combined aggregate (tiny —
    one row per key), broadcast back into the corpus join along with the
    1-row global aggregate, so the corpus itself never shuffles.  NULL
    targets are excluded from both sums and counts (strict-NaN
    discipline matching the groupby family).

    ``exact=True`` (integer target + integer smoothing) computes the
    algebraically identical ratio (s·N + m·S) / (N·(n + m)) with a pure
    INTEGER numerator and denominator (DECIMAL(38,0) widened), so the
    single final division is the only float op — the result is
    bit-identical across engines with NO round() boundary exposure
    (the float path's (s + m·prior)/(n + m) carries prior's rounding
    into values that can straddle a decimal rounding step)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    y = F.col(target_col)
    per_key = df.groupBy(*keys).agg(
        F.count(y).alias("__n__"), F.sum(y).alias("__s__")
    )
    glob = df.agg(
        F.sum(y).alias("__gS__"), F.count(y).alias("__gN__"),
        (F.sum(y) / F.count(y)).alias("__prior__"),
    )
    j = df.join(F.broadcast(per_key), on=keys, how="left").crossJoin(F.broadcast(glob))
    if exact:
        mi = int(smoothing)
        if mi != smoothing:
            raise ValueError("exact=True requires integer smoothing")
        N = F.col("__gN__").cast("decimal(38,0)")
        S = F.col("__gS__").cast("decimal(38,0)")
        if loo:
            n1 = (F.col("__n__") - F.when(y.isNotNull(), 1).otherwise(0)).cast("decimal(38,0)")
            s1 = (F.col("__s__") - F.coalesce(y, F.lit(0))).cast("decimal(38,0)")
        else:
            n1 = F.col("__n__").cast("decimal(38,0)")
            s1 = F.col("__s__").cast("decimal(38,0)")
        num = (s1 * N + mi * S).cast("double")
        den = (N * (n1 + mi)).cast("double")
        enc = F.when(den > 0, num / den).otherwise(F.col("__prior__"))
    else:
        m = F.lit(float(smoothing))
        if loo:
            n1 = F.col("__n__") - F.when(y.isNotNull(), 1).otherwise(0)
            s1 = F.col("__s__") - F.coalesce(y, F.lit(0.0))
            enc = F.when(
                n1 + m > 0, (s1 + m * F.col("__prior__")) / (n1 + m)
            ).otherwise(F.col("__prior__"))
        else:
            enc = (F.col("__s__") + m * F.col("__prior__")) / (F.col("__n__") + m)
    enc = F.coalesce(enc, F.col("__prior__"))
    return j.withColumn(out_col, enc).drop("__n__", "__s__", "__gS__", "__gN__", "__prior__")


def robust_stats(
    df: DataFrame,
    keys: list[str] | str,
    val_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust location/scale + outlier audit: exact median,
    MAD (median absolute deviation), and the count of rows with
    |x − median| > k·MAD — the outlier screen that survives the heavy
    tails that break mean/std gating.

    Scale shape: two exact-median aggregations over the SAME key
    shuffle (the second runs on |x − med| after a broadcast join of the
    tiny per-key medians), plus one broadcast-joined count pass.  For
    integer inputs every intermediate is integer or half-integer —
    exactly representable doubles, so results are engine-portable
    unrounded; with k supplied as an integer the outlier comparison is
    exact integer arithmetic (4|x−med| vs k·4·MAD)."""
    klist = [keys] if isinstance(keys, str) else list(keys)
    x = F.col(val_col)
    med = df.groupBy(*klist).agg(F.median(x).alias("__med__"))
    j = df.join(F.broadcast(med), on=klist)
    dev = j.select(*klist, F.col("__med__"), F.abs(x - F.col("__med__")).alias("__ad__"))
    mad = dev.groupBy(*klist).agg(
        F.min("__med__").alias("median"), F.median("__ad__").alias("mad")
    )
    out = (
        dev.join(F.broadcast(mad.select(*klist, "mad")), on=klist)
        .where(F.col("__ad__") * 4 > F.lit(float(k)) * (F.col("mad") * 4))
        .groupBy(*klist)
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        mad.join(out, on=klist, how="left")
        .withColumn("n_outliers", F.coalesce(F.col("n_outliers"), F.lit(0)))
    )


def weighted_stats(
    df: DataFrame,
    keys: list[str] | str,
    val_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group weighted mean and weighted (frequency-weight) variance
    from one pass of exact power sums: Σw, Σwx, Σwx² → mean = Σwx/Σw,
    var = (Σwx² − (Σwx)²/Σw)/Σw.  Integer-scaled inputs make every sum
    exact in any engine; rows with NULL value or weight are excluded."""
    klist = [keys] if isinstance(keys, str) else list(keys)
    x, w = F.col(val_col), F.col(weight_col)
    d = df.where(x.isNotNull() & w.isNotNull())
    # x² widens to DECIMAL(38,0) before the weight multiply: integer-
    # scaled prices square to ~1e14 and the weighted sum over a 100 TB
    # group would overflow int64 (the q200 lesson applied to aggs)
    agg = d.groupBy(*klist).agg(
        F.sum(w).cast("double").alias("sw"),
        F.sum(w * x).cast("double").alias("swx"),
        F.sum((x * x).cast("decimal(38,0)") * w).cast("double").alias("swxx"),
    )
    mean = F.col("swx") / F.col("sw")
    var = (F.col("swxx") - F.col("swx") * F.col("swx") / F.col("sw")) / F.col("sw")
    return agg.select(
        *klist, F.col("sw").alias("w_total"),
        mean.alias("w_mean"),
        F.when(F.col("sw") > 0, var).alias("w_var"),
    )


def weighted_median(
    df: DataFrame,
    keys: list[str] | str,
    val_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group weighted median: the smallest value whose cumulative
    weight reaches half the group's total.  ALL-integer arithmetic for
    integer weights (the reach test is 2·cumw ≥ total — no /2, no float
    boundary), so the result is engine-exact.

    Scale shape: weights first collapse to one row per (key, DISTINCT
    value) — the cumulative window then runs over the value domain, not
    the row count (the q04 value-map observation); one key-ordered
    window + one final min aggregate."""
    from pyspark.sql import Window

    klist = [keys] if isinstance(keys, str) else list(keys)
    per_val = df.groupBy(*klist, val_col).agg(F.sum(weight_col).alias("__w__"))
    w = Window.partitionBy(*klist).orderBy(val_col)
    tot = Window.partitionBy(*klist)
    scored = per_val.select(
        *klist, F.col(val_col),
        F.sum("__w__").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("__cw__"),
        F.sum("__w__").over(tot).alias("__tw__"),
    )
    return (
        scored.where(F.col("__cw__") * 2 >= F.col("__tw__"))
        .groupBy(*klist)
        .agg(
            F.min(val_col).alias("weighted_median"),
            F.min("__tw__").alias("w_total"),
        )
    )


def weighted_quantile(
    df: DataFrame,
    keys: list[str] | str,
    val_col: str,
    weight_col: str,
    q_num: int = 1,
    q_den: int = 2,
) -> DataFrame:
    """Per-group weighted quantile at the rational q = q_num/q_den: the
    smallest value whose cumulative weight reaches q·total, with the
    ALL-integer reach test cumw·q_den ≥ q_num·total (weighted_median is
    q=1/2).  Same value-domain cumulative shape as weighted_median."""
    from pyspark.sql import Window

    klist = [keys] if isinstance(keys, str) else list(keys)
    per_val = df.groupBy(*klist, val_col).agg(F.sum(weight_col).alias("__w__"))
    w = Window.partitionBy(*klist).orderBy(val_col)
    tot = Window.partitionBy(*klist)
    scored = per_val.select(
        *klist, F.col(val_col),
        F.sum("__w__").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("__cw__"),
        F.sum("__w__").over(tot).alias("__tw__"),
    )
    return (
        scored.where(F.col("__cw__") * q_den >= F.col("__tw__") * q_num)
        .groupBy(*klist)
        .agg(
            F.min(val_col).alias("weighted_quantile"),
            F.min("__tw__").alias("w_total"),
        )
    )


def ltv_curve(
    df: DataFrame,
    key: str,
    ts_col: str,
    value: Column,
    period: str = "month",
) -> DataFrame:
    """Cohort lifetime-value curves: users cohort by their FIRST-seen
    period; revenue accumulates per (cohort, age) where age = periods
    since cohort start — the cumulative-LTV table a growth dashboard
    plots.

    The first-seen period is a per-key min (one agg, broadcast-sized
    for the join back); the cumulative sum runs over ≤#ages rows per
    cohort — all exact integers until the final /100.  Returns (cohort,
    age, n_active, revenue, cum_revenue).
    """
    from pyspark.sql import Window

    pcol = F.date_trunc(period, F.col(ts_col))
    firsts = df.groupBy(key).agg(F.min(pcol).alias("__cohort__"))
    j = df.join(firsts, on=key)
    if period == "week":
        # both sides are week starts, so the day difference divides by 7
        age = (F.datediff(F.date_trunc(period, F.col(ts_col)), F.col("__cohort__")) / 7).cast("bigint")
    else:
        age = F.months_between(F.date_trunc(period, F.col(ts_col)), F.col("__cohort__")).cast("bigint")
    per = j.groupBy(F.col("__cohort__").alias("cohort"), age.alias("age")).agg(
        F.countDistinct(key).alias("n_active"),
        F.sum(value).alias("__rev__"),
    )
    wc = Window.partitionBy("cohort").orderBy("age").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "cohort",
        "age",
        "n_active",
        (F.col("__rev__") / 100).alias("revenue"),
        (F.sum("__rev__").over(wc) / 100).alias("cum_revenue"),
    )


def growth_accounting(df: DataFrame, key: str, ts_col: str) -> DataFrame:
    """Daily active-user growth accounting: every (user, day) activity
    classifies as NEW (first day ever), RETAINED (also active the
    previous day), or RESURRECTED (active before, but not yesterday);
    CHURNED(d) = DAU(d−1) − retained(d).  The DAU decomposition every
    growth dashboard opens with.

    One (key)-ordered lag over the distinct user-day relation
    classifies rows; one day-keyed agg + a self-join on (day−1) adds
    churn.  All integer day arithmetic and exact counts.  Returns
    (day, dau, n_new, n_retained, n_resurrected, n_churned — NULL for
    the first observed day).
    """
    from pyspark.sql import Window

    day = (F.unix_seconds(F.date_trunc("day", F.col(ts_col))) / 86400).cast("bigint")
    ud = df.select(F.col(key).alias("k"), day.alias("day")).distinct()
    w = Window.partitionBy("k").orderBy("day")
    classified = ud.withColumn("__prev__", F.lag("day").over(w))
    status = (
        F.when(F.col("__prev__").isNull(), "new")
        .when(F.col("__prev__") == F.col("day") - 1, "retained")
        .otherwise("resurrected")
    )
    per_day = classified.withColumn("__s__", status).groupBy("day").agg(
        F.count(F.lit(1)).alias("dau"),
        F.sum(F.when(F.col("__s__") == "new", 1).otherwise(0)).cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("__s__") == "retained", 1).otherwise(0)).cast("bigint").alias("n_retained"),
        F.sum(F.when(F.col("__s__") == "resurrected", 1).otherwise(0)).cast("bigint").alias("n_resurrected"),
    )
    prev = per_day.select((F.col("day") + 1).alias("day"), F.col("dau").alias("__prev_dau__"))
    j = per_day.join(prev, on="day", how="left")
    return j.select(
        "day", "dau", "n_new", "n_retained", "n_resurrected",
        (F.col("__prev_dau__") - F.col("n_retained")).alias("n_churned"),
    )
