"""Stats / ML-utility surface (SURVEY §2.8 extras).

Reference: /root/reference/riptable/rt_mlutils.py:12/18 (normalize_zscore,
normalize_minmax), rt_stats.py:83-230 (winsorize, r2, mae, lm, polyFit).

Scale pattern: global statistics are computed as a 1-row aggregate and
broadcast-cross-joined back — never a single-partition window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _with_global(df: DataFrame, aggs: list[Column]) -> DataFrame:
    return df.crossJoin(F.broadcast(df.agg(*aggs)))


def normalize_zscore(df: DataFrame, colname: str, out_col: str | None = None) -> DataFrame:
    """(x - mean) / std  (rt_mlutils.py:12)."""
    out = out_col or f"{colname}_zscore"
    g = _with_global(df, [F.avg(colname).alias("__mu__"), F.stddev_samp(colname).alias("__sd__")])
    return g.withColumn(out, (F.col(colname) - F.col("__mu__")) / F.col("__sd__")).drop("__mu__", "__sd__")


def normalize_minmax(df: DataFrame, colname: str, out_col: str | None = None) -> DataFrame:
    """(x - min) / (max - min)  (rt_mlutils.py:18)."""
    out = out_col or f"{colname}_minmax"
    g = _with_global(df, [F.min(colname).alias("__lo__"), F.max(colname).alias("__hi__")])
    return g.withColumn(
        out, (F.col(colname) - F.col("__lo__")) / (F.col("__hi__") - F.col("__lo__"))
    ).drop("__lo__", "__hi__")


def winsorize(df: DataFrame, colname: str, lo: float = 0.05, hi: float = 0.95, out_col: str | None = None) -> DataFrame:
    """Clip to [p_lo, p_hi] percentiles (rt_stats.py:83)."""
    from ..operators.groupby import percentiles

    out = out_col or f"{colname}_wins"
    g = _with_global(df, percentiles(F.col(colname), [lo, hi], ["__plo__", "__phi__"]))
    return g.withColumn(
        out, F.least(F.greatest(F.col(colname), F.col("__plo__")), F.col("__phi__"))
    ).drop("__plo__", "__phi__")


def r2(df: DataFrame, y: str, yhat: str) -> float:
    """Coefficient of determination (rt_stats.py:93)."""
    row = (
        df.crossJoin(F.broadcast(df.agg(F.avg(y).alias("__my__"))))
        .agg(
            F.sum((F.col(y) - F.col(yhat)) ** 2).alias("ss_res"),
            F.sum((F.col(y) - F.col("__my__")) ** 2).alias("ss_tot"),
        )
        .collect()[0]
    )
    return 1.0 - row.ss_res / row.ss_tot


def mae(df: DataFrame, y: str, yhat: str) -> float:
    """Mean absolute error (rt_stats.py:104)."""
    return df.agg(F.avg(F.abs(F.col(y) - F.col(yhat)))).collect()[0][0]


def lm(df: DataFrame, y: str, x: str) -> tuple[float, float]:
    """Simple linear regression slope/intercept via moment aggregates
    (rt_stats.py:115 lm) — one pass, no MLlib dependency."""
    r = df.agg(
        F.avg(x).alias("mx"),
        F.avg(y).alias("my"),
        F.covar_samp(x, y).alias("cxy"),
        F.var_samp(x).alias("vx"),
    ).collect()[0]
    slope = r.cxy / r.vx
    return slope, r.my - slope * r.mx


def statx(df: DataFrame, colname: str) -> DataFrame:
    """Stats profile (rt_stats.py:40 statx): count/mean/std/min/percentiles
    /max in one aggregation. The five exact percentiles share one value
    map (``groupby.percentiles``), not one map per quantile."""
    from ..operators.groupby import percentiles

    c = F.col(colname)
    return df.agg(
        F.count(c).alias("count"),
        F.avg(c).alias("mean"),
        F.stddev_samp(c).alias("std"),
        F.min(c).alias("min"),
        *percentiles(c, [0.01, 0.10, 0.50, 0.90, 0.99], ["p01", "p10", "p50", "p90", "p99"]),
        F.max(c).alias("max"),
    )


def polyfit(df: DataFrame, x: str, y: str, d: int = 1, flt: Column | None = None) -> list[float]:
    """rt_stats.py:230 polyFit: least-squares polynomial of degree d,
    coefficients constant-first. Distributed part = ONE aggregation of
    the normal-equation moments (Σx^k for k≤2d, Σx^k·y for k≤d — the
    sufficient statistics); the (d+1)×(d+1) solve happens on the driver
    with numpy. At 100 TB the moments pass is a single map-side-combined
    scan; nothing else moves."""
    import numpy as np

    xc = F.col(x).cast("double")
    yc = F.col(y).cast("double")
    if flt is not None:
        xc = F.when(flt, xc)
        yc = F.when(flt, yc)
    good = xc.isNotNull() & yc.isNotNull()
    aggs = [F.sum(F.when(good, F.pow(xc, k))).alias(f"s{k}") for k in range(2 * d + 1)]
    aggs += [F.sum(F.when(good, F.pow(xc, k) * yc)).alias(f"t{k}") for k in range(d + 1)]
    row = df.agg(*aggs).first()
    A = np.array([[row[f"s{i + j}"] for j in range(d + 1)] for i in range(d + 1)])
    b = np.array([row[f"t{i}"] for i in range(d + 1)])
    return [float(c) for c in np.linalg.solve(A, b)]


def linear_spline(
    df: DataFrame, x: str, y: str, knots: list[float]
) -> tuple[list[float], Column]:
    """rt_stats.py:154 linear_spline: regression on the piecewise-linear
    basis [1, x, max(x-knot_j, 0)...]. Same moments-then-solve shape as
    polyfit: one aggregation of the basis Gram matrix (k(k+3)/2 sums for
    k basis terms), numpy solve driver-side. Returns (coefficients,
    fitted-value Column) — apply the Column to any frame with ``x``."""
    import numpy as np

    ks = sorted(knots)
    xc = F.col(x).cast("double")
    yc = F.col(y).cast("double")
    good = xc.isNotNull() & yc.isNotNull()

    def basis(i: int) -> Column:
        if i == 0:
            return F.lit(1.0)
        if i == 1:
            return xc
        return F.greatest(xc - F.lit(ks[i - 2]), F.lit(0.0))

    k = 2 + len(ks)
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(F.when(good, basis(i) * basis(j))).alias(f"g{i}_{j}"))
        aggs.append(F.sum(F.when(good, basis(i) * yc)).alias(f"h{i}"))
    row = df.agg(*aggs).first()
    G = np.empty((k, k))
    for i in range(k):
        for j in range(i, k):
            G[i, j] = G[j, i] = row[f"g{i}_{j}"]
    h = np.array([row[f"h{i}"] for i in range(k)])
    coeff = np.linalg.solve(G, h)
    yhat = F.lit(float(coeff[0])) + F.lit(float(coeff[1])) * xc
    for j, kn in enumerate(ks):
        yhat = yhat + F.lit(float(coeff[2 + j])) * F.greatest(xc - F.lit(kn), F.lit(0.0))
    return [float(c) for c in coeff], yhat


def nanargmin(df: DataFrame, colname: str, rowid_col: str = "__rowid__"):
    """rt nanargmin: POSITION of the minimum non-invalid value (ties →
    lowest position, numpy convention). One global aggregate — min_by
    over (rowid, value) with a rowid tiebreak, no sort."""
    c = F.col(colname)
    r = df.where(c.isNotNull() & ~F.isnan(c.cast("double"))).agg(
        F.min_by(rowid_col, F.struct(c, F.col(rowid_col))).alias("i")
    )
    return r.first()["i"]


def nanargmax(df: DataFrame, colname: str, rowid_col: str = "__rowid__"):
    """rt nanargmax: position of the maximum non-invalid value."""
    c = F.col(colname)
    r = df.where(c.isNotNull() & ~F.isnan(c.cast("double"))).agg(
        F.max_by(rowid_col, F.struct(c, (-F.col(rowid_col)).alias("__nr__"))).alias("i")
    )
    return r.first()["i"]


def ttest_ind_welch(df, group_col, val_col, group_a, group_b):
    """Welch's two-sample t statistic (unequal variances) between two
    groups of ``group_col`` — one conditional-aggregate pass (means,
    sample variances, counts fused into a single hash-agg), the t and
    degrees-of-freedom computed as scalar column algebra on the 1-row
    result. Returns a 1-row DataFrame (mean_a, mean_b, t_stat, dof)."""
    c = F.col(val_col)
    a = F.when(F.col(group_col) == group_a, c)
    b = F.when(F.col(group_col) == group_b, c)
    agg = df.agg(
        F.avg(a).alias("mean_a"), F.var_samp(a).alias("var_a"), F.count(a).alias("n_a"),
        F.avg(b).alias("mean_b"), F.var_samp(b).alias("var_b"), F.count(b).alias("n_b"),
    )
    sa = F.col("var_a") / F.col("n_a")
    sb = F.col("var_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(sa + sb)
    dof = (sa + sb) * (sa + sb) / (
        sa * sa / (F.col("n_a") - 1) + sb * sb / (F.col("n_b") - 1)
    )
    return agg.select("mean_a", "mean_b", t.alias("t_stat"), dof.alias("dof"))


def histogram_dist(df, col, bins: int, lo: float, hi: float):
    """Normalized histogram (bin, p) with fixed [lo, hi) range; values
    outside clamp to the edge bins. One hash-agg; ≤ bins rows out."""
    x = F.col(col).cast("double")
    b = F.floor((x - lo) / (hi - lo) * bins)
    b = F.greatest(F.lit(0), F.least(F.lit(bins - 1), b)).cast("int")
    h = df.where(x.isNotNull()).groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias("__n__"))
    tot = h.agg(F.sum("__n__").alias("__t__"))
    return h.crossJoin(F.broadcast(tot)).select(
        "bin", (F.col("__n__") / F.col("__t__")).alias("p")
    )


def js_divergence(df_a, df_b, col, bins: int = 32, lo: float = 0.0, hi: float = 1.0):
    """Jensen-Shannon divergence between two relations' distributions of
    ``col`` over a fixed binning — the drift metric between corpus
    snapshots. Each side reduces to ≤ bins rows before the full-outer
    bin join; the scalar is Σ ½p·ln(2p/(p+q)) + ½q·ln(2q/(p+q)) with
    0-mass terms dropped. Returns a 1-row DataFrame (js_div)."""
    ha = histogram_dist(df_a, col, bins, lo, hi).withColumnRenamed("p", "pa")
    hb = histogram_dist(df_b, col, bins, lo, hi).withColumnRenamed("p", "pb")
    j = ha.join(hb, on="bin", how="full_outer").select(
        F.coalesce(F.col("pa"), F.lit(0.0)).alias("pa"),
        F.coalesce(F.col("pb"), F.lit(0.0)).alias("pb"),
    )
    ta = F.when(F.col("pa") > 0, F.col("pa") * F.log(F.lit(2.0) * F.col("pa") / (F.col("pa") + F.col("pb")))).otherwise(F.lit(0.0))
    tb = F.when(F.col("pb") > 0, F.col("pb") * F.log(F.lit(2.0) * F.col("pb") / (F.col("pa") + F.col("pb")))).otherwise(F.lit(0.0))
    return j.agg((F.lit(0.5) * F.sum(ta) + F.lit(0.5) * F.sum(tb)).alias("js_div"))


def class_error(df, y: str, yhat: str) -> float:
    """rt_mlutils.py:108 class_error: mean |round(x) − round(y)| — the
    rounded-prediction misclassification rate. One aggregate."""
    r = df.agg(
        (F.sum(F.abs(F.round(F.col(y)) - F.round(F.col(yhat)))) / F.count(F.lit(1))).alias("e")
    ).first()
    return float(r["e"])


def group_entropy(df: DataFrame, keys: list[str] | str, cat_col: str) -> DataFrame:
    """Per-group Shannon entropy (nats) and Herfindahl concentration of a
    categorical column: H = ln(n) − Σc·ln(c)/n and HHI = Σc²/n² from the
    per-(key, value) counts — label/source diversity metrics for slice
    audits.  Two chained hash-aggs (the second runs over the already
    tiny count relation); the ln inputs are exact integers, HHI is an
    exact integer ratio."""
    klist = [keys] if isinstance(keys, str) else list(keys)
    counts = (
        df.where(F.col(cat_col).isNotNull())
        .groupBy(*klist, cat_col)
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    c = F.col("__c__")
    agg = counts.groupBy(*klist).agg(
        F.sum(c).alias("__n__"),
        F.count(F.lit(1)).alias("n_values"),
        F.sum(c.cast("double") * F.log(c.cast("double"))).alias("__clc__"),
        F.sum(c * c).alias("__c2__"),
    )
    n = F.col("__n__")
    return agg.select(
        *klist,
        n.alias("n_rows"),
        F.col("n_values"),
        (F.log(n.cast("double")) - F.col("__clc__") / n).alias("entropy"),
        (F.col("__c2__").cast("double") / (n * n).cast("double")).alias("hhi"),
    )


def mutual_info(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns, with
    the marginal entropies and the normalized variant
    NMI = MI / max(ε, min(Ha, Hb)) — the scale-ready feature-selection /
    leakage-detection screen.

    Scale shape: ONE shuffle of the fact table into the (a, b)
    contingency counts; marginals and the total reduce from that
    already-small relation, broadcast back.  MI assembles as
    ln-of-exact-integer terms: Σ (c_ab/N)·ln(N·c_ab/(c_a·c_b))."""
    pair = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("__cab__"))
    )
    ma = pair.groupBy(col_a).agg(F.sum("__cab__").alias("__ca__"))
    mb = pair.groupBy(col_b).agg(F.sum("__cab__").alias("__cb__"))
    tot = pair.agg(F.sum("__cab__").alias("__N__"))
    j = (
        pair.join(F.broadcast(ma), on=col_a)
        .join(F.broadcast(mb), on=col_b)
        .crossJoin(F.broadcast(tot))
    )
    cab = F.col("__cab__").cast("double")
    ca, cb = F.col("__ca__").cast("double"), F.col("__cb__").cast("double")
    N = F.col("__N__").cast("double")
    mi_term = (cab / N) * F.log(N * cab / (ca * cb))
    ha_term = (cab / N) * F.log(N / ca)  # sums to H(A) over the pair relation
    hb_term = (cab / N) * F.log(N / cb)
    agg = j.agg(
        F.sum(mi_term).alias("mi"),
        F.sum(ha_term).alias("h_a"),
        F.sum(hb_term).alias("h_b"),
    )
    return agg.select(
        "mi", "h_a", "h_b",
        F.when(
            F.least(F.col("h_a"), F.col("h_b")) > 0,
            F.col("mi") / F.least(F.col("h_a"), F.col("h_b")),
        ).otherwise(F.lit(0.0)).alias("nmi"),
    )


def psi(df_a, df_b, col, bins: int = 10, lo: float = 0.0, hi: float = 1.0) -> DataFrame:
    """Population Stability Index between two relations' distributions
    of ``col`` — the standard production drift alarm (PSI < 0.1 stable,
    > 0.25 shifted).  Laplace-smoothed bin masses p = (c+1)/(N+bins) so
    empty bins are well-defined without an arbitrary epsilon (and every
    ln input is an exact integer ratio).  Each side reduces to ≤ bins
    rows before the join; returns 1-row (psi)."""
    def binned(d):
        x = F.col(col).cast("double")
        b = F.floor((x - lo) / (hi - lo) * bins)
        b = F.greatest(F.lit(0), F.least(F.lit(bins - 1), b)).cast("int")
        h = d.where(x.isNotNull()).groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias("c"))
        t = h.agg(F.sum("c").alias("N"))
        return h, t

    ha, ta = binned(df_a)
    hb, tb = binned(df_b)
    # the FULL fixed grid, not just observed bins: a bin empty on both
    # sides still contributes (its smoothed masses differ when Na != Nb)
    allbins = df_a.sparkSession.range(bins).select(F.col("id").cast("int").alias("bin"))
    j = (
        allbins.join(ha, on="bin", how="left")
        .join(hb.withColumnRenamed("c", "cb"), on="bin", how="left")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb.withColumnRenamed("N", "Nb")))
    )
    pa = (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double") / (F.col("N") + bins)
    pb = (F.coalesce(F.col("cb"), F.lit(0)) + 1).cast("double") / (F.col("Nb") + bins)
    return j.agg(F.sum((pa - pb) * F.log(pa / pb)).alias("psi"))


def seasonal_zscore(
    df: DataFrame,
    season_cols: list[str] | str,
    value_col: str,
    out_col: str = "z",
) -> DataFrame:
    """Seasonality-adjusted anomaly score: z = (x − μ_season)/σ_season
    against the row's own seasonal bucket (hour-of-day, day-of-week,
    (service, hour)…) — the deseasonalized alarm that flags a quiet-hour
    spike a global z-score hides.  Per-season (n, Σx, Σx²) is a tiny
    aggregate broadcast back; with integer-scaled x every sum is exact,
    so the composed double algebra is engine-portable.  Rows in
    degenerate buckets (n < 2 or zero variance) get NULL."""
    scols = [season_cols] if isinstance(season_cols, str) else list(season_cols)
    x = F.col(value_col)
    per = df.groupBy(*scols).agg(
        F.count(x).alias("__n__"),
        F.sum(x).cast("double").alias("__sx__"),
        F.sum((x * x).cast("decimal(38,0)")).cast("double").alias("__sxx__"),
    )
    j = df.join(F.broadcast(per), on=scols)
    n = F.col("__n__").cast("double")
    mu = F.col("__sx__") / n
    var = (F.col("__sxx__") - F.col("__sx__") * F.col("__sx__") / n) / (n - 1)
    z = F.when((F.col("__n__") >= 2) & (var > 0), (x - mu) / F.sqrt(var))
    return j.withColumn(out_col, z).drop("__n__", "__sx__", "__sxx__")


def quantile_transform(
    df: DataFrame,
    keys: list[str] | str | None,
    val_col: str,
    out_col: str = "q",
) -> DataFrame:
    """Quantile (rank) transform to [0, 1]: percent_rank within the
    group — the distribution-free normalization that survives heavy
    tails and unit changes where z-scores don't.  Ties share a rank, so
    the output is a pure function of the VALUE (order-stable across
    engines with no tiebreak column); the ratio (rank−1)/(n−1) is exact
    integer division.  One sort-shuffle on the keys."""
    from pyspark.sql import Window

    klist = [] if keys is None else ([keys] if isinstance(keys, str) else list(keys))
    w = (Window.partitionBy(*klist) if klist else Window.partitionBy()).orderBy(val_col)
    return df.withColumn(out_col, F.percent_rank().over(w))


def chi_square(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: χ² = Σ (o−e)²/e over the contingency table with expected
    e = c_a·c_b/N — one fact-table shuffle into the pair counts (the
    mutual_info shape), every term an exact-integer-derived double.
    Returns 1 row (chi2, dof, n).  (p-values need the incomplete gamma;
    compare chi2 against the critical value for the dof instead.)"""
    pair = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("__o__"))
    )
    ma = pair.groupBy(col_a).agg(F.sum("__o__").alias("__ca__"))
    mb = pair.groupBy(col_b).agg(F.sum("__o__").alias("__cb__"))
    tot = pair.agg(
        F.sum("__o__").alias("__N__"),
        F.count_distinct(col_a).alias("__ra__"),
        F.count_distinct(col_b).alias("__rb__"),
    )
    # absent (a, b) cells still contribute e = ca*cb/N to the sum:
    # chi2 = sum_over_observed((o-e)^2/e) + sum_over_missing(e)
    #      = sum_observed((o-e)^2/e - e) + N   (since sum_all(e) = N)
    j = (
        pair.join(F.broadcast(ma), on=col_a)
        .join(F.broadcast(mb), on=col_b)
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("__o__").cast("double")
    e = F.col("__ca__").cast("double") * F.col("__cb__").cast("double") / F.col("__N__").cast("double")
    term = (o - e) * (o - e) / e - e
    agg = j.agg(
        F.sum(term).alias("__t__"),
        F.min("__N__").alias("n"),
        F.min("__ra__").alias("__ra__"),
        F.min("__rb__").alias("__rb__"),
    )
    return agg.select(
        (F.col("__t__") + F.col("n")).alias("chi2"),
        ((F.col("__ra__") - 1) * (F.col("__rb__") - 1)).cast("long").alias("dof"),
        F.col("n").cast("long").alias("n"),
    )


def proportion_ci(
    df: DataFrame,
    keys: list[str] | str,
    success_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Per-group proportion with the Wilson score interval (the
    recommended small-n binomial CI; default z = Φ⁻¹(0.975)):
    center (p̂ + z²/2n)/(1 + z²/n) ± z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n).
    One aggregate of exact integer counts; the interval algebra is
    deterministic double arithmetic.  ``success_col`` is boolean/0-1.
    Returns (keys…, n, n_success, p_hat, ci_lo, ci_hi)."""
    klist = [keys] if isinstance(keys, str) else list(keys)
    s = F.col(success_col).cast("int")
    agg = df.where(s.isNotNull()).groupBy(*klist).agg(
        F.count(s).alias("n"), F.sum(s).alias("n_success")
    )
    n = F.col("n").cast("double")
    p = F.col("n_success").cast("double") / n
    z2 = z * z
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = z * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)) / denom
    return agg.select(
        *klist, "n", "n_success",
        p.alias("p_hat"),
        F.greatest(center - half, F.lit(0.0)).alias("ci_lo"),
        F.least(center + half, F.lit(1.0)).alias("ci_hi"),
    )


def auc_exact(df: DataFrame, label_col: str, score_col: str) -> DataFrame:
    """EXACT ROC AUC (Mann-Whitney form) in pure integer arithmetic:
    collapse to per-score (n_pos, n_neg) counts, cumulative negatives
    over the score order, then AUC = Σ pos_s·(2·neg_below + neg_at_s)
    / (2·P·N) — tie handling (half credit) folded into the ×2 numerator
    so there is NO 0.5 float anywhere until the single final division.
    One shuffle to the score-domain counts (the q04 value-map shape),
    one ordered window over the score DOMAIN, a 1-row result."""
    from pyspark.sql import Window

    y = F.col(label_col).cast("int")
    per = df.where(y.isNotNull() & F.col(score_col).isNotNull()).groupBy(score_col).agg(
        F.sum(y).alias("__p__"),
        F.sum(1 - y).alias("__n__"),
    )
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, -1)
    cum = per.withColumn("__nb__", F.coalesce(F.sum("__n__").over(w), F.lit(0)))
    agg = cum.agg(
        F.sum(F.col("__p__") * (2 * F.col("__nb__") + F.col("__n__"))).alias("__num2__"),
        F.sum("__p__").alias("__P__"),
        F.sum("__n__").alias("__N__"),
    )
    return agg.select(
        F.col("__P__").cast("long").alias("n_pos"),
        F.col("__N__").cast("long").alias("n_neg"),
        (
            F.col("__num2__").cast("double")
            / (2.0 * F.col("__P__").cast("double") * F.col("__N__").cast("double"))
        ).alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability-curve bins for a probabilistic classifier: bucket
    predictions on the fixed [0, 1) grid and compare each bin's mean
    prediction to its positive rate — the calibration audit.  With
    integer-scaled predictions (or raw parquet doubles identical on
    both sides) the means are exact ratios of sums.  Returns
    (bin, n, mean_pred, frac_pos)."""
    p = F.col(pred_col).cast("double")
    y = F.col(label_col).cast("int")
    b = F.greatest(F.lit(0), F.least(F.lit(bins - 1), F.floor(p * bins))).cast("int")
    agg = df.where(p.isNotNull() & y.isNotNull()).groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(p * 1000000).cast("bigint")).alias("__sp__"),
        F.sum(y).alias("__pos__"),
    )
    return agg.select(
        "bin", "n",
        (F.col("__sp__").cast("double") / (F.col("n") * 1000000).cast("double")).alias("mean_pred"),
        (F.col("__pos__").cast("double") / F.col("n").cast("double")).alias("frac_pos"),
    )


def retention_curve(
    df: DataFrame,
    user_col: str,
    day_col: str,
) -> DataFrame:
    """Kaplan-Meier-style retention over activity days: a user's churn
    day is their LAST active day (users active on the final observed
    day are right-censored).  Per day t: n_at_risk (last day ≥ t),
    n_churned (last day = t, t < max), hazard d/n (exact ratio), and
    the survival estimate Π(1 − d_i/n_i) (rounded — the one
    order-sensitive float chain).  All counts assemble from the
    per-user last-day aggregate — the day domain is tiny, so the
    cumulative pass is a ≤|days|-row window."""
    from pyspark.sql import Window

    last = df.groupBy(user_col).agg(F.max(F.col(day_col)).alias("__last__"))
    maxday = last.agg(F.max("__last__").alias("__maxd__"))
    per_day = (
        last.crossJoin(F.broadcast(maxday))
        .groupBy(F.col("__last__").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("__ended__"),
            F.sum(F.when(F.col("__last__") < F.col("__maxd__"), 1).otherwise(0)).alias("n_churned"),
        )
    )
    w = Window.orderBy(F.col("day").desc()).rowsBetween(Window.unboundedPreceding, 0)
    cur = per_day.withColumn("n_at_risk", F.sum("__ended__").over(w))
    wf = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    hazard = F.col("n_churned").cast("double") / F.col("n_at_risk").cast("double")
    surv = F.exp(F.sum(F.log(1.0 - hazard)).over(wf))
    return cur.select(
        "day", "n_at_risk", "n_churned",
        hazard.alias("hazard"),
        surv.alias("survival"),
    )


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Gains / lift table: rank the population by model score into
    ``n_buckets`` via exact score-quantile cutpoints (one percentile
    aggregate broadcast back — no ntile global sort; ties land in one
    bucket deterministically), then per bucket: n, positives, positive
    rate, cumulative capture of all positives and lift vs the base
    rate.  All integer counts + exact ratios; bucket 0 = highest
    scores."""
    from pyspark.sql import Window

    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.agg(
        F.percentile(F.col(score_col), F.array(*[F.lit(q) for q in qs])).alias("__cuts__")
    )
    j = df.crossJoin(F.broadcast(cuts))
    # rank DESC: bucket = number of cutpoints at or above the score
    bucket = F.aggregate(
        F.col("__cuts__"), F.lit(0),
        lambda acc, c: acc + F.when(F.col(score_col) <= c, 1).otherwise(0),
    )
    y = F.col(label_col).cast("int")
    per = j.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(y).alias("n_pos")
    )
    tot = per.agg(F.sum("n").alias("__tn__"), F.sum("n_pos").alias("__tp__"))
    # bucket 0 = best scores; capture accumulates best-first
    w = Window.orderBy(F.col("bucket").asc()).rowsBetween(Window.unboundedPreceding, 0)
    out = per.crossJoin(F.broadcast(tot)).withColumn(
        "cum_pos", F.sum("n_pos").over(w)
    )
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    base = F.col("__tp__").cast("double") / F.col("__tn__").cast("double")
    return out.select(
        F.col("bucket"),
        "n", "n_pos",
        rate.alias("pos_rate"),
        (F.col("cum_pos").cast("double") / F.col("__tp__").cast("double")).alias("cum_capture"),
        (rate / base).alias("lift"),
    )


def permutation_test(
    df: DataFrame,
    group_col: str,
    val_col: str,
    group_a,
    group_b,
    n_perm: int = 50,
    id_col: str | None = None,
    hash_kind: str = "md5",
) -> DataFrame:
    """Deterministic two-sample permutation test for the difference of
    means: ``n_perm`` pseudo-random relabelings (assignment b =
    hash(id, b) % 2 — a pure function of the row id, so reruns and the
    SQL oracle agree exactly), p-value = fraction of permutations whose
    |mean diff| reaches the observed one.  With integer-scaled values
    every permuted mean is an exact ratio, so the comparison set is
    engine-identical — no RNG, no resampling shuffle; the whole test is
    ONE conditional-aggregate pass over (rows × n_perm) exploded
    assignments plus a 1-row observed aggregate.  Returns (obs_diff,
    n_extreme, n_perm, p_value)."""
    idc = F.col(id_col) if id_col else F.col(group_col)
    d = df.where(F.col(group_col).isin([group_a, group_b]) & F.col(val_col).isNotNull())
    # sums stay in the INPUT type (feed integer-scaled values for exact
    # means — float sums are aggregation-order-dependent across engines)
    x = F.col(val_col)
    obs = d.agg(
        (
            F.sum(F.when(F.col(group_col) == group_a, x)).cast("double")
            / F.count(F.when(F.col(group_col) == group_a, x)).cast("double")
            - F.sum(F.when(F.col(group_col) == group_b, x)).cast("double")
            / F.count(F.when(F.col(group_col) == group_b, x)).cast("double")
        ).alias("obs_diff")
    )
    ex = d.select(
        x.alias("__x__"), idc.cast("string").alias("__id__"),
        F.explode(F.array(*[F.lit(b) for b in range(n_perm)])).alias("b"),
    )
    from ..operators.dedup import _base_hash64

    side = F.pmod(_base_hash64(F.concat_ws("#", F.col("__id__"), F.col("b").cast("string")), hash_kind), F.lit(2))
    perm = ex.withColumn("__s__", side).groupBy("b").agg(
        (
            F.sum(F.when(F.col("__s__") == 0, F.col("__x__"))).cast("double")
            / F.count(F.when(F.col("__s__") == 0, F.col("__x__"))).cast("double")
            - F.sum(F.when(F.col("__s__") == 1, F.col("__x__"))).cast("double")
            / F.count(F.when(F.col("__s__") == 1, F.col("__x__"))).cast("double")
        ).alias("__pd__")
    )
    j = perm.crossJoin(F.broadcast(obs))
    agg = j.agg(
        F.min("obs_diff").alias("obs_diff"),
        F.sum(F.when(F.abs(F.col("__pd__")) >= F.abs(F.col("obs_diff")), 1).otherwise(0)).alias("n_extreme"),
        F.count(F.lit(1)).alias("n_perm"),
    )
    return agg.select(
        "obs_diff", F.col("n_extreme").cast("long").alias("n_extreme"),
        F.col("n_perm").cast("long").alias("n_perm"),
        (F.col("n_extreme").cast("double") / F.col("n_perm").cast("double")).alias("p_value"),
    )


def corr_matrix(
    df: DataFrame,
    cols: list[str],
    scales: dict[str, int] | None = None,
) -> DataFrame:
    """Pairwise Pearson correlation matrix in ONE distributed pass.

    All C(k,2) pairs' power sums (Σx, Σx², Σxy) are computed in a single
    two-stage hash aggregate — one scan, one 1-row result, regardless of
    how many pairs — then reshaped to long form (col_x, col_y, n, corr)
    driver-free.  At 100 TB this is the only corr-matrix shape that
    works: the scan dominates, and adding columns adds map-side
    arithmetic, not passes.

    Inputs are integer-scaled per ``scales`` (power sums stay exact
    BIGINTs; keep n·Σxy under 2^53 — pick scales so the lesson from the
    power-sum oracles holds), so corr composes from int64→double
    conversions (exact under 2^53), one sqrt·sqrt product and one divide
    — engine-identical.  Rows with a NULL in ANY of ``cols`` are dropped
    (complete-case, the reference's nan-strict convention).
    """
    scales = scales or {}
    keep = df.dropna(subset=cols)
    sc = {c: F.round(F.col(c) * scales.get(c, 1)).cast("bigint") for c in cols}
    aggs: list[Column] = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(sc[c]).alias(f"s_{c}"))
        aggs.append(F.sum(sc[c] * sc[c]).alias(f"ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(F.sum(sc[a] * sc[b]).alias(f"sp_{a}_{b}"))
    one = keep.agg(*aggs)

    def _corr(a: str, b: str) -> Column:
        n = F.col("n")
        num = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        da = F.sqrt(n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
        db = F.sqrt(n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        return num / (da * db)

    structs = F.array(*[
        F.struct(
            F.lit(a).alias("col_x"), F.lit(b).alias("col_y"), F.col("n").alias("n"),
            _corr(a, b).alias("corr"),
        )
        for a, b in pairs
    ])
    return one.select(F.explode(structs).alias("p")).select("p.col_x", "p.col_y", "p.n", "p.corr")


def lm_by(
    df: DataFrame,
    key: str,
    x: str,
    y: str,
    x_scale: int = 1,
    y_scale: int = 1,
) -> DataFrame:
    """Per-group simple OLS (slope, intercept, r², n) from exact integer
    power sums — the grouped sibling of ``lm`` (reference rt_stats.py
    lm/polyFit deg-1), e.g. per-symbol beta or per-segment elasticity.

    ONE two-stage hash aggregate computes n, Σx, Σy, Σxy, Σx², Σy² per
    key; the closed forms then apply /, ·, − to identical operands in
    any engine.  The squared-covariance r² numerator is composed in
    DOUBLE (int64² would overflow), from operands that are exact
    int64→double conversions — still engine-identical.  Complete-case
    (rows with NULL x or y dropped).
    """
    xs = F.round(F.col(x) * x_scale).cast("bigint")
    ys = F.round(F.col(y) * y_scale).cast("bigint")
    keep = df.where(F.col(x).isNotNull() & F.col(y).isNotNull())
    agg = keep.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xs).alias("sx"),
        F.sum(ys).alias("sy"),
        F.sum(xs * ys).alias("sxy"),
        F.sum(xs * xs).alias("sxx"),
        F.sum(ys * ys).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")        # exact int64
    dx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.when(dx != 0, num / dx)
    intercept = F.col("sy") / n - slope * (F.col("sx") / n)
    numd = num.cast("double")
    r2 = F.when((dx != 0) & (dy != 0), (numd * numd) / (dx.cast("double") * dy.cast("double")))
    return agg.select(
        key, "n", slope.alias("slope"), intercept.alias("intercept"), r2.alias("r2")
    )


def cuped_adjust(
    df: DataFrame,
    arm_col: str,
    metric: str,
    covariate: str,
    metric_scale: int = 100,
    cov_scale: int = 100,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): per experiment arm,
    the covariate-adjusted mean  ȳ_adj = ȳ − θ·(x̄ − μx)  with
    θ = cov(x,y)/var(x) pooled across arms and μx the global covariate
    mean, plus the variance-reduction factor ρ² (fraction of metric
    variance the pre-period covariate explains).

    Everything composes from exact integer power sums: one pass builds
    per-arm sums, the pooled θ/μx reduce from those same sums (a 1-row
    broadcast), and every float op applies to identical operands — no
    per-row float products ever sum across rows, so the oracle replays
    it exactly.  ρ²'s squared covariance is composed in DOUBLE (int64²
    overflows), from exactly-converted operands.
    """
    xs = F.round(F.col(covariate) * cov_scale).cast("bigint")
    ys = F.round(F.col(metric) * metric_scale).cast("bigint")
    keep = df.where(F.col(covariate).isNotNull() & F.col(metric).isNotNull())
    arm = keep.groupBy(arm_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xs).alias("sx"),
        F.sum(ys).alias("sy"),
        F.sum(xs * ys).alias("sxy"),
        F.sum(xs * xs).alias("sxx"),
        F.sum(ys * ys).alias("syy"),
    )
    # NOTE: Spark and DuckDB both resolve identifiers case-INSENSITIVELY
    # — pooled names must not collide with the per-arm ones by case only.
    pooled = arm.agg(
        F.sum("n").alias("n_all"),
        F.sum("sx").alias("sx_all"),
        F.sum("sy").alias("sy_all"),
        F.sum("sxy").alias("sxy_all"),
        F.sum("sxx").alias("sxx_all"),
        F.sum("syy").alias("syy_all"),
    )
    j = arm.crossJoin(F.broadcast(pooled))
    N = F.col("n_all")
    pnum = N * F.col("sxy_all") - F.col("sx_all") * F.col("sy_all")
    pdx = N * F.col("sxx_all") - F.col("sx_all") * F.col("sx_all")
    pdy = N * F.col("syy_all") - F.col("sy_all") * F.col("sy_all")
    theta = F.when(pdx != 0, pnum / pdx)
    mu_x = F.col("sx_all") / N
    ybar = F.col("sy") / F.col("n")
    xbar = F.col("sx") / F.col("n")
    pnumd = pnum.cast("double")
    rho2 = F.when((pdx != 0) & (pdy != 0), (pnumd * pnumd) / (pdx.cast("double") * pdy.cast("double")))
    return j.select(
        arm_col,
        "n",
        (ybar / metric_scale).alias("mean_raw"),
        ((ybar - theta * (xbar - mu_x)) / metric_scale).alias("mean_adj"),
        (theta * cov_scale / metric_scale).alias("theta"),
        rho2.alias("var_reduction"),
    )


def theil_sen_consecutive(
    df: DataFrame,
    key: str,
    order: str | list[str],
    x: str,
    y: str,
    x_scale: int = 1,
    y_scale: int = 100,
) -> DataFrame:
    """Robust per-group trend: the MEDIAN of consecutive-pair slopes
    (y_{i+1}−y_i)/(x_{i+1}−x_i) — the linear-cost Theil-Sen variant
    (full Theil-Sen medians all O(n²) pairs; consecutive pairs keep the
    breakdown robustness against outliers a mean-slope lacks while
    staying one window pass).

    Slopes are per-row divisions of exact integer deltas (identical
    doubles in any engine), and the median of an identical multiset is
    engine-identical under the standard interpolating definition.
    Returns (key, n_slopes, ts_slope).
    """
    from pyspark.sql import Window

    oc = [order] if isinstance(order, str) else list(order)
    xs = F.round(F.col(x) * x_scale).cast("bigint")
    ys = F.round(F.col(y) * y_scale).cast("bigint")
    w = Window.partitionBy(key).orderBy(*oc)
    dx = xs - F.lag(xs).over(w)
    dy = ys - F.lag(ys).over(w)
    slopes = df.select(F.col(key), (dy / dx).alias("__s__"), dx.alias("__dx__")).where(
        F.col("__dx__").isNotNull() & (F.col("__dx__") != 0)
    )
    return slopes.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_slopes"),
        F.percentile(F.col("__s__"), F.lit(0.5)).alias("ts_slope"),
    )


def confusion_matrix(df: DataFrame, label: str, pred: str) -> DataFrame:
    """Per-class precision/recall/F1 from the confusion counts — the
    standard classifier report as a RELATION (one row per class),
    composed entirely from exact integer counts in two tiny
    aggregations over one (label, pred) reduce.

    support = true count of the class; predicted = rows predicted as
    the class; tp = diagonal.  Classes appearing only in ``pred`` get
    support 0 (NULL recall)."""
    cm = df.groupBy(F.col(label).alias("y"), F.col(pred).alias("yhat")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tp = cm.where(F.col("y") == F.col("yhat")).select(F.col("y").alias("cls"), F.col("n").alias("tp"))
    support = cm.groupBy(F.col("y").alias("cls")).agg(F.sum("n").cast("bigint").alias("support"))
    predicted = cm.groupBy(F.col("yhat").alias("cls")).agg(F.sum("n").cast("bigint").alias("predicted"))
    j = (
        support.join(predicted, on="cls", how="full_outer")
        .join(tp, on="cls", how="left")
        .select(
            "cls",
            F.coalesce(F.col("support"), F.lit(0)).alias("support"),
            F.coalesce(F.col("predicted"), F.lit(0)).alias("predicted"),
            F.coalesce(F.col("tp"), F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    prec = F.when(F.col("predicted") > 0, F.col("tp") / F.col("predicted"))
    rec = F.when(F.col("support") > 0, F.col("tp") / F.col("support"))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec))
    return j.select(
        "cls", "support", "predicted", "tp",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )


def ips_eval(
    df: DataFrame,
    by: list[str],
    action_col: str,
    target_col: str,
    reward_col: str,
    prop_num: str,
    prop_den: str,
    lcm: int,
) -> DataFrame:
    """Off-policy evaluation of a target policy from logged bandit data
    by inverse-propensity scoring — the standard counterfactual "what
    would policy π have earned" estimator.

    Inputs carry the logging propensity of the LOGGED action as an
    exact rational ``prop_num/prop_den``; ``lcm`` must be a common
    multiple of every ``prop_num`` so the importance weight
    ``w = prop_den·(lcm/prop_num)`` is an exact integer.  With integer
    rewards the IPS numerator Σ 1[a=π]·w·r and the SNIPS normalizer
    Σ 1[a=π]·w are exact BIGINT sums — one two-stage hash agg total,
    and both estimates are single IEEE divides of exact integers
    (engine-identical, no rounding needed):

        ips   = Σ w·r·match / (lcm·n)      (unbiased value estimate)
        snips = Σ w·r·match / Σ w·match    (self-normalized, lower var)

    Emits per-group (n, n_match, ips_value, snips_value, ess) where
    ess = (Σw)²/Σw² is Kish's effective sample size for the match set.
    """
    m = (F.col(action_col) == F.col(target_col)).cast("long")
    w = F.col(prop_den).cast("long") * (F.lit(int(lcm)) / F.col(prop_num)).cast("long")
    r = F.col(reward_col).cast("long")
    work = df.select(
        *by,
        m.alias("__m__"),
        (w * m).alias("__w__"),
        (w * r * m).alias("__wr__"),
        (w * w * m).alias("__w2__"),
    )
    g = work.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__m__").cast("long").alias("n_match"),
        F.sum("__w__").cast("long").alias("sw"),
        F.sum("__wr__").cast("long").alias("swr"),
        F.sum("__w2__").cast("long").alias("sw2"),
    )
    return g.select(
        *by, "n", "n_match",
        (F.col("swr") / (F.lit(int(lcm)) * F.col("n"))).alias("ips_value"),
        F.when(F.col("sw") > 0, F.col("swr") / F.col("sw")).alias("snips_value"),
        F.when(F.col("sw2") > 0,
               (F.col("sw") * F.col("sw")) / F.col("sw2")).alias("ess"),
    )


def qini_curve(
    df: DataFrame,
    score_col: str,
    treat_col: str,
    outcome_col: str,
) -> DataFrame:
    """Uplift (Qini) curve for a treatment-targeting model: at every
    distinct score threshold taken descending, the incremental
    conversions had everyone above the threshold been treated —

        qini(s) = Y_t(s) − Y_c(s)·N_t(s)/N_c(s)

    with Y/N the cumulative treated/control outcomes/counts above s.

    Same value-domain scale shape as :func:`auc_exact`: one hash agg
    collapses the table to per-distinct-score counts (4 exact integer
    sums), the cumulative window runs over that tiny aggregated domain,
    and the only float op is the final ratio of exact BIGINTs —
    engine-identical, no rounding.  Rows with NULL score are dropped
    (they cannot be ranked); control-empty prefixes yield NULL qini.
    """
    t = F.col(treat_col).cast("long")
    y = F.col(outcome_col).cast("long")
    per = (
        df.where(F.col(score_col).isNotNull())
        .groupBy(F.col(score_col).alias("score"))
        .agg(
            F.sum(t).alias("nt"),
            F.sum(1 - t).alias("nc"),
            F.sum(t * y).alias("yt"),
            F.sum((1 - t) * y).alias("yc"),
        )
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select(
        "score",
        F.sum("nt").over(w).cast("long").alias("cum_nt"),
        F.sum("nc").over(w).cast("long").alias("cum_nc"),
        F.sum("yt").over(w).cast("long").alias("cum_yt"),
        F.sum("yc").over(w).cast("long").alias("cum_yc"),
    )
    return cum.withColumn(
        "qini",
        F.when(
            F.col("cum_nc") > 0,
            F.col("cum_yt")
            - (F.col("cum_yc") * F.col("cum_nt")) / F.col("cum_nc"),
        ),
    )


def did_estimate(
    df: DataFrame,
    treat_col: str,
    post_col: str,
    y_col: str,
    by: list[str] | None = None,
) -> DataFrame:
    """Difference-in-differences: the 2×2 causal estimator

        DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)

    ONE conditional-aggregate pass fuses all four cell sums and counts
    (map-side combined); with integer outcomes every cell mean is a
    single IEEE divide of exact BIGINTs, and the DiD composes from
    those four exactly-rounded doubles identically in any engine.
    Emits cell means, cell counts, and ``did``; NULL if any cell is
    empty (the design is not identified).
    """
    grp = list(by or [])
    t = F.col(treat_col).cast("long")
    p = F.col(post_col).cast("long")
    y = F.col(y_col).cast("long")
    cells = {}
    aggs = []
    for ti in (0, 1):
        for pi in (0, 1):
            tag = f"{'t' if ti else 'c'}{'1' if pi else '0'}"
            cond = (t == ti) & (p == pi)
            aggs.append(F.sum(F.when(cond, y)).alias(f"s_{tag}"))
            aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"n_{tag}"))
            cells[tag] = (f"s_{tag}", f"n_{tag}")
    g = df.groupBy(*grp).agg(*aggs)
    means = {
        tag: F.when(F.col(n) > 0, F.col(s) / F.col(n))
        for tag, (s, n) in cells.items()
    }
    out = g.select(
        *grp,
        *[F.col(f"n_{tag}").cast("long").alias(f"n_{tag}") for tag in cells],
        *[means[tag].alias(f"mean_{tag}") for tag in cells],
    )
    return out.withColumn(
        "did",
        (F.col("mean_t1") - F.col("mean_t0"))
        - (F.col("mean_c1") - F.col("mean_c0")),
    )


def dr_eval(
    df: DataFrame,
    by: list[str],
    action_col: str,
    target_col: str,
    reward_col: str,
    prop_num: str,
    prop_den: str,
    qhat_target_col: str,
    qhat_logged_col: str,
    lcm: int,
) -> DataFrame:
    """Doubly-robust off-policy value estimate — the estimator that is
    unbiased if EITHER the propensities or the reward model is right:

        V_DR = (1/n) Σ [ q̂(x, π(x)) + ρ·(r − q̂(x, a)) ],
        ρ = 1[a = π(x)] / p(a|x)

    Same exact-integer discipline as :func:`ips_eval`: with
    integer-scaled rewards and model predictions (q̂ in the same cents
    scale) and rational propensities (``lcm`` a common multiple of
    every ``prop_num``), both Σq̂_π and the correction sum are exact
    BIGINTs; the estimate is one IEEE divide.  Emits per-group
    (n, dr_value, dm_value, correction) where dm_value is the pure
    direct-method baseline Σq̂_π/n — the gap between them is what the
    propensity correction bought.
    """
    m = (F.col(action_col) == F.col(target_col)).cast("long")
    w = F.col(prop_den).cast("long") * (F.lit(int(lcm)) / F.col(prop_num)).cast("long")
    r = F.col(reward_col).cast("long")
    qt = F.col(qhat_target_col).cast("long")
    ql = F.col(qhat_logged_col).cast("long")
    work = df.select(
        *by,
        qt.alias("__qt__"),
        (w * (r - ql) * m).alias("__corr__"),
    )
    g = work.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__qt__").cast("long").alias("sq"),
        F.sum("__corr__").cast("long").alias("sc"),
    )
    return g.select(
        *by, "n",
        ((F.col("sq") * F.lit(int(lcm)) + F.col("sc"))
         / (F.lit(int(lcm)) * F.col("n"))).alias("dr_value"),
        (F.col("sq") / F.col("n")).alias("dm_value"),
        (F.col("sc") / (F.lit(int(lcm)) * F.col("n"))).alias("correction"),
    )


def pass_at_k(
    df: DataFrame,
    group_cols: list[str],
    correct_col: str,
    k: int,
) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al. 2021, the standard
    LLM code-eval metric): per problem with n samples of which c are
    correct,

        pass@k = 1 − C(n−c, k)/C(n, k)
               = 1 − Π_{i=0..k−1} (n−c−i)/(n−i)

    One count agg per problem, then the k-term product expanded as
    LITERAL integer factors — numerator and denominator are exact
    BIGINTs (n, k bounded by samples-per-problem, far inside int64 for
    any real eval harness), so the estimate is one IEEE divide.
    n < k yields NULL (undefined); c = 0 gives exactly 0.0; any
    clamped factor makes pass@k exactly 1.0.

    Emits group cols + (n, c, pass_at_k).
    """
    c = F.col(correct_col).cast("long")
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("long").alias("c"),
    )
    num = F.lit(1).cast("long")
    den = F.lit(1).cast("long")
    for i in range(k):
        num = num * F.greatest(F.col("n") - F.col("c") - i, F.lit(0).cast("long"))
        den = den * (F.col("n") - i)
    return g.select(
        *group_cols, "n", "c",
        F.when(F.col("n") >= k, F.lit(1.0) - num / den).alias("pass_at_k"),
    )


def bootstrap_ci(
    df: DataFrame,
    val_col: str,
    n_replicas: int = 50,
    id_cols: list[str] | None = None,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
    hash_kind: str = "md5",
) -> DataFrame:
    """Distributed bootstrap confidence interval for the MEAN — the
    online-Poisson-bootstrap construction (each replica gives every row
    an independent multiplicity with E[m] = 1), made fully DETERMINISTIC
    by drawing the multiplicity from a hash instead of an RNG, the same
    no-RNG discipline as permutation_test / hash_split.

    m_b(row) = #{j < 8 : bits 3j..3j+2 of h(row, b) = 0} ~
    Binomial(8, 1/8) ≈ Poisson(1) — all eight Bernoulli(1/8) draws come
    from DISJOINT 3-bit fields of ONE 60-bit hash per (row, replica)
    (independent by construction; one md5 instead of eight was the
    whole cost of this operator — 32M hashes → 4M at sf0.1).  One
    explode over the replica index, ONE two-stage agg of (Σm·x, Σm)
    per replica (the fact table is scanned once for all replicas),
    then the replica-mean quantiles over the tiny B-row relation.
    With integer values the per-replica sums are exact, so the whole
    construction SQL-replays.

    Returns one row: (mean, ci_lo, ci_hi, n_replicas).
    """
    ids = list(id_cols or [])
    idexpr = F.concat_ws("|", *[F.col(c).cast("string") for c in ids]) if ids else F.col(val_col).cast("string")
    from ..operators.dedup import _base_hash64
    from ..operators.groupby import percentiles

    x = F.col(val_col).cast("long")
    b = F.explode(F.sequence(F.lit(0), F.lit(int(n_replicas) - 1))).alias("b")
    work = df.select(x.alias("__x__"), idexpr.alias("__id__")).select(
        "__x__", "__id__", b
    )
    h = _base_hash64(
        F.concat_ws("#", F.col("__id__"), F.col("b").cast("string")), hash_kind
    )
    work = work.withColumn("__h__", h)
    draws = [
        F.when(
            F.shiftrightunsigned(F.col("__h__"), 3 * j).bitwiseAND(F.lit(7)) == 0, 1
        ).otherwise(0)
        for j in range(8)
    ]
    m = draws[0]
    for d in draws[1:]:
        m = m + d
    per = work.withColumn("__m__", m.cast("long")).groupBy("b").agg(
        F.sum(F.col("__m__") * F.col("__x__")).cast("long").alias("sx"),
        F.sum("__m__").cast("long").alias("sm"),
    )
    means = per.where(F.col("sm") > 0).select(
        (F.col("sx") / F.col("sm")).alias("rep_mean")
    )
    base = df.agg((F.sum(x) / F.count(F.lit(1))).alias("mean"))
    ci = means.agg(
        *percentiles(F.col("rep_mean"), [lo_q, hi_q], ["ci_lo", "ci_hi"]),
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
    )
    return base.crossJoin(F.broadcast(ci))


def isotonic_fit(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    y_col: str,
    out_col: str = "iso_fit",
) -> DataFrame:
    """Per-key isotonic (monotone nondecreasing) L2 regression of ``y``
    along the given row order — the calibration workhorse behind
    monotone probability calibration and dose-response fits.

    Pool-adjacent-violators (PAVA) is inherently sequential, so it runs
    as ONE Arrow-batched applyInPandas scan per key (the ema/fifo
    contract).  Block means are kept as INTEGER (sum, count) pairs and
    divided once at the end, so with integer ``y`` the fitted values
    are exact BIGINT ratios — bit-identical to the minimax
    characterization ŷ_i = max_{j≤i} min_{k≥i} mean(y[j..k]) that the
    oracle computes with a completely different O(n³) algorithm.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.DoubleType())]
    )
    cols = list(df.columns)

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        y = pdf[y_col].to_numpy(dtype=np.int64)
        # PAVA with (sum, count) integer blocks
        sums: list[int] = []
        cnts: list[int] = []
        sizes: list[int] = []
        for v in y:
            sums.append(int(v)); cnts.append(1); sizes.append(1)
            # pool while the last block mean < previous block mean
            while len(sums) > 1 and sums[-2] * cnts[-1] > sums[-1] * cnts[-2]:
                s, c, z = sums.pop(), cnts.pop(), sizes.pop()
                sums[-1] += s; cnts[-1] += c; sizes[-1] += z
        fit = np.empty(len(y), dtype=np.float64)
        pos = 0
        for s, c, z in zip(sums, cnts, sizes):
            fit[pos: pos + z] = s / c
            pos += z
        pdf[out_col] = fit
        return pdf[cols + [out_col]]

    from ..operators.apply import grouped_apply
    return grouped_apply(df, keys, scan, schema)


def conformal_interval(
    cal_df: DataFrame,
    test_df: DataFrame,
    yhat_col: str,
    y_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split conformal prediction: the residual-quantile wrapper that
    turns ANY point predictor into a distribution-free interval with
    ≥ 1−α coverage guarantee (under exchangeability).

    q̂ = the ⌈(n+1)(1−α)⌉/n empirical quantile of |y − ŷ| on the
    calibration set — computed EXACTLY via the value-domain rank walk
    (one agg to distinct-residual counts, cumulative over that tiny
    relation; with integer-scaled inputs the residuals are exact
    BIGINTs, so the threshold is a value from the data, not an
    interpolation).  The test relation gets [ŷ − q̂, ŷ + q̂] attached
    via a 1-row broadcast.
    """
    import math

    r = F.abs(F.col(y_col).cast("long") - F.col(yhat_col).cast("long"))
    per = cal_df.select(r.alias("res")).groupBy("res").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("res").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.withColumn("cum", F.sum("cnt").over(w))
    n_row = cal_df.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # rank ⌈(n+1)(1−α)⌉ clamped to n (conformal finite-sample correction)
    qhat = (
        cum.crossJoin(F.broadcast(n_row))
        .withColumn(
            "need",
            F.least(F.ceil((F.col("n") + 1) * F.lit(1.0 - alpha)).cast("long"), F.col("n")),
        )
        .where(F.col("cum") >= F.col("need"))
        .agg(F.min("res").cast("long").alias("qhat"))
    )
    out = test_df.crossJoin(F.broadcast(qhat))
    return out.withColumn(
        "pi_lo", F.col(yhat_col).cast("long") - F.col("qhat")
    ).withColumn("pi_hi", F.col(yhat_col).cast("long") + F.col("qhat"))


def ndcg_at_k(
    df: DataFrame,
    query_cols: list[str],
    rank_col: str,
    rel_col: str,
    k: int,
    scale: int = 10**12,
) -> DataFrame:
    """Exact NDCG@k per query: discount weights 1/log2(rank+1) are
    precomputed in PYTHON and shipped as the SAME integer literals
    round(scale/log2(i+1)) to both engines — so DCG and ideal DCG are
    exact BIGINT dot products (association-free), and NDCG is one
    divide of exact integers.  The ideal ranking sorts relevance
    descending within the query (ties don't matter — equal rel ⇒ equal
    contribution).  Queries with zero total relevance yield NULL.
    """
    import math

    weights = [int(round(scale / math.log2(i + 2))) for i in range(k)]
    wmap = F.map_from_arrays(
        F.array(*[F.lit(i + 1) for i in range(k)]),
        F.array(*[F.lit(w).cast("long") for w in weights]),
    )
    rel = F.col(rel_col).cast("long")
    d = df.select(*query_cols, F.col(rank_col).cast("int").alias("__rk__"), rel.alias("__rel__"))
    dcg = d.where(F.col("__rk__") <= k).select(
        *query_cols, (F.element_at(wmap, F.col("__rk__")) * F.col("__rel__")).alias("__g__")
    ).groupBy(*query_cols).agg(F.sum("__g__").cast("long").alias("dcg_scaled"))
    iw = Window.partitionBy(*query_cols).orderBy(F.col("__rel__").desc(), F.col("__rk__"))
    ideal = d.withColumn("__irk__", F.row_number().over(iw)).where(
        F.col("__irk__") <= k
    ).select(
        *query_cols, (F.element_at(wmap, F.col("__irk__")) * F.col("__rel__")).alias("__g__")
    ).groupBy(*query_cols).agg(F.sum("__g__").cast("long").alias("idcg_scaled"))
    out = ideal.join(dcg, on=query_cols, how="left")
    return out.select(
        *query_cols,
        F.coalesce(F.col("dcg_scaled"), F.lit(0)).cast("long").alias("dcg_scaled"),
        "idcg_scaled",
        F.when(F.col("idcg_scaled") > 0,
               F.coalesce(F.col("dcg_scaled"), F.lit(0)) / F.col("idcg_scaled")).alias("ndcg"),
    )


def map_at_k(
    df: DataFrame,
    query_cols: list[str],
    rank_col: str,
    rel_col: str,
    k: int,
) -> DataFrame:
    """Exact Average Precision @k per query (binary relevance):

        AP@k = (1/R) Σ_{i≤k} rel_i · (hits_i / i),   hits_i = Σ_{j≤i} rel_j

    Every term is made integer by scaling with L = lcm(1..k):
    Σ rel_i·hits_i·(L/i) is an exact BIGINT, R = min(total relevant, k)
    is the standard @k normalizer, and AP = scaled/(L·R) is one divide.
    One running-sum window per query + one agg.  Queries with zero
    relevant items yield NULL.
    """
    import math

    L = math.lcm(*range(1, k + 1))
    rel = F.col(rel_col).cast("long")
    d = df.select(
        *query_cols, F.col(rank_col).cast("int").alias("__rk__"), rel.alias("__rel__")
    )
    w = Window.partitionBy(*query_cols).orderBy("__rk__").rowsBetween(
        Window.unboundedPreceding, 0
    )
    d = d.withColumn("__hits__", F.sum("__rel__").over(w))
    contrib = F.when(
        (F.col("__rk__") <= k) & (F.col("__rel__") > 0),
        F.col("__hits__") * F.lit(int(L)).cast("long") / F.col("__rk__"),
    ).otherwise(F.lit(0)).cast("long")
    g = d.groupBy(*query_cols).agg(
        F.sum(contrib).cast("long").alias("ap_scaled"),
        F.sum(F.when(F.col("__rk__") <= k, F.col("__rel__")).otherwise(0)).cast("long").alias("hits_at_k"),
        F.sum("__rel__").cast("long").alias("total_rel"),
    )
    r_norm = F.least(F.col("total_rel"), F.lit(k).cast("long"))
    return g.select(
        *query_cols, "ap_scaled", "hits_at_k", "total_rel",
        F.when(r_norm > 0, F.col("ap_scaled") / (F.lit(int(L)) * r_norm)).alias("ap_at_k"),
    )


def f1_scores(
    df: DataFrame,
    true_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision/recall/F1 plus the micro-averaged row — all
    exact: tp/fp/fn are one contingency aggregate, and every metric is
    a single divide of BIGINTs (F1 = 2tp/(2tp+fp+fn) — no float
    composition, so no cross-engine association anywhere).  Classes
    are the union of true and predicted labels; the micro row carries
    class = NULL."""
    t, p = F.col(true_col), F.col(pred_col)
    tp = df.where(t == p).groupBy(t.alias("cls")).agg(F.count(F.lit(1)).alias("tp"))
    byt = df.groupBy(t.alias("cls")).agg(F.count(F.lit(1)).alias("n_true"))
    byp = df.groupBy(p.alias("cls")).agg(F.count(F.lit(1)).alias("n_pred"))
    per = (
        byt.join(byp, on="cls", how="full")
        .join(tp, on="cls", how="left")
        .select(
            "cls",
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
            (F.coalesce(F.col("n_pred"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).cast("long").alias("fp"),
            (F.coalesce(F.col("n_true"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).cast("long").alias("fn"),
        )
    )
    metric = per.select(
        "cls", "tp", "fp", "fn",
        F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).alias("recall"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            (2 * F.col("tp")) / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
        ).alias("f1"),
    )
    micro = per.agg(
        F.sum("tp").cast("long").alias("tp"),
        F.sum("fp").cast("long").alias("fp"),
        F.sum("fn").cast("long").alias("fn"),
    ).select(
        F.lit(None).cast(metric.schema["cls"].dataType).alias("cls"),
        "tp", "fp", "fn",
        (F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
        (F.col("tp") / (F.col("tp") + F.col("fn"))).alias("recall"),
        ((2 * F.col("tp")) / (2 * F.col("tp") + F.col("fp") + F.col("fn"))).alias("f1"),
    )
    return metric.unionByName(micro)


def cohen_kappa(df: DataFrame, rater_a_col: str, rater_b_col: str) -> DataFrame:
    """Cohen's κ inter-annotator agreement — the labeling-pipeline QA
    metric:  κ = (n·Σdiag − Σ_c row_c·col_c) / (n² − Σ_c row_c·col_c),
    every term an exact BIGINT from one contingency aggregate, κ one
    divide.  Returns (n, observed_agree, expected_scaled, kappa)."""
    a, b = F.col(rater_a_col), F.col(rater_b_col)
    cont = df.groupBy(a.alias("ca"), b.alias("cb")).agg(F.count(F.lit(1)).alias("cnt"))
    n_diag = cont.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.when(F.col("ca") == F.col("cb"), F.col("cnt")).otherwise(0)).cast("long").alias("diag"),
    )
    rows_ = cont.groupBy("ca").agg(F.sum("cnt").alias("row_n"))
    cols_ = cont.groupBy("cb").agg(F.sum("cnt").alias("col_n"))
    pe = (
        rows_.join(cols_, rows_["ca"] == cols_["cb"])
        .agg(F.sum(F.col("row_n") * F.col("col_n")).cast("long").alias("exp_scaled"))
    )
    j = n_diag.crossJoin(F.broadcast(pe))
    return j.select(
        "n",
        F.col("diag").alias("observed_agree"),
        F.col("exp_scaled").alias("expected_scaled"),
        F.when(
            F.col("n") * F.col("n") != F.col("exp_scaled"),
            (F.col("n") * F.col("diag") - F.col("exp_scaled"))
            / (F.col("n") * F.col("n") - F.col("exp_scaled")),
        ).alias("kappa"),
    )


def mcc(df: DataFrame, true_col: str, pred_col: str) -> DataFrame:
    """Matthews correlation coefficient for binary labels (0/1):
    MCC = (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)) — the four
    cells from ONE conditional agg; numerator exact BIGINT; the
    radicand is a product of four counts evaluated in a fixed
    left-to-right double chain (identical ops both engines) and √ is
    correctly rounded.  NULL when any marginal is zero."""
    t = F.col(true_col).cast("long")
    p = F.col(pred_col).cast("long")
    g = df.agg(
        F.sum(t * p).cast("long").alias("tp"),
        F.sum((1 - t) * (1 - p)).cast("long").alias("tn"),
        F.sum((1 - t) * p).cast("long").alias("fp"),
        F.sum(t * (1 - p)).cast("long").alias("fn"),
    )
    rad = (
        (F.col("tp") + F.col("fp")).cast("double")
        * (F.col("tp") + F.col("fn")).cast("double")
        * (F.col("tn") + F.col("fp")).cast("double")
        * (F.col("tn") + F.col("fn")).cast("double")
    )
    return g.select(
        "tp", "tn", "fp", "fn",
        F.when(
            rad > 0,
            (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")) / F.sqrt(rad),
        ).alias("mcc"),
    )


def brier_score(
    df: DataFrame, prob_pct_col: str, y_col: str, by: list[str] | None = None
) -> DataFrame:
    """Brier score for integer-percent probabilities (p ∈ 0..100):
    mean((p/100 − y)²) = Σ(p − 100y)² / (10000·n) — the squared sum is
    an exact BIGINT, the score one divide.  The probability-calibration
    loss without a single float accumulation."""
    grp = list(by or [])
    p = F.col(prob_pct_col).cast("long")
    y = F.col(y_col).cast("long")
    d = p - 100 * y
    g = df.groupBy(*grp).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d * d).cast("long").alias("ss"),
    )
    return g.select(*grp, "n", (F.col("ss") / (10000 * F.col("n"))).alias("brier"))


def expected_calibration_error(
    df: DataFrame, prob_pct_col: str, y_col: str, n_bins: int = 10
) -> DataFrame:
    """ECE with equal-width probability bins — made EXACT by the
    identity  ECE = Σ_b |100·pos_b − Σp_b| / (100·n):  each bin's
    |accuracy − confidence| times its weight collapses to an integer
    absolute difference, so the whole metric is one divide of exact
    BIGINTs (no per-bin float ratios are ever summed).  Returns the
    per-bin relation plus the scalar attached (bin = ⌊p·n_bins/101⌋
    so p=100 lands in the top bin)."""
    p = F.col(prob_pct_col).cast("long")
    y = F.col(y_col).cast("long")
    b = F.floor(p * n_bins / 101).cast("int")
    per = df.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum(y).cast("long").alias("pos_b"),
        F.sum(p).cast("long").alias("sum_p_b"),
    )
    dev = F.abs(100 * F.col("pos_b") - F.col("sum_p_b"))
    tot = per.agg(
        F.sum(dev).cast("long").alias("sdev"), F.sum("n_b").cast("long").alias("n")
    ).select((F.col("sdev") / (100 * F.col("n"))).alias("ece"))
    return per.withColumn("abs_dev_scaled", dev.cast("long")).crossJoin(F.broadcast(tot))


def f1_threshold_curve(
    df: DataFrame, score_col: str, y_col: str
) -> DataFrame:
    """Exact F1 at EVERY candidate threshold (predict positive when
    score ≥ t, t over the distinct score domain, descending): the
    threshold-tuning curve.  auc_exact's value-domain shape — one agg
    to per-score (n, pos) counts, cumulative over that tiny relation:
    tp(t), fp(t) are running sums, fn = P − tp, and
    F1 = 2tp/(2tp+fp+fn) is one divide of BIGINTs.  argmax of the
    curve IS the optimal operating point, with deterministic
    tie-break to the higher threshold."""
    y = F.col(y_col).cast("long")
    per = df.where(F.col(score_col).isNotNull()).groupBy(
        F.col(score_col).alias("threshold")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.sum(y).alias("pos")
    )
    w = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select(
        "threshold",
        F.sum("pos").over(w).cast("long").alias("tp"),
        (F.sum("n").over(w) - F.sum("pos").over(w)).cast("long").alias("fp"),
    )
    total_pos = df.agg(F.sum(y).cast("long").alias("p_all"))
    out = cum.crossJoin(F.broadcast(total_pos)).withColumn(
        "fn", (F.col("p_all") - F.col("tp")).cast("long")
    )
    return out.select(
        "threshold", "tp", "fp", "fn",
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            (2 * F.col("tp")) / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
        ).alias("f1"),
    )


def gini_split_curve(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Decision-stump split finding on a numeric feature with binary
    labels: for every candidate threshold t (split = x ≤ t), the
    weighted Gini impurity of the two children — the CART criterion as
    a relation, with ``is_best`` marking the optimal split.

    auc_exact's value-domain shape: one agg to per-distinct-x counts,
    cumulative sums over that tiny relation give (n_l, pos_l) at every
    t, and the score

        G(t)·N·n_l·n_r = n_r·(n_l² − pos_l² − neg_l²)
                       + n_l·(n_r² − pos_r² − neg_r²)

    is evaluated as ONE divide of exact BIGINTs by (n_l·n_r) — the
    relative ORDER of candidate scores is then identical across
    engines, so the argmin (tie → lowest threshold) is deterministic.
    The trivial splits (empty child) are excluded.
    """
    y = F.col(y_col).cast("long")
    per = df.where(F.col(x_col).isNotNull()).groupBy(
        F.col(x_col).alias("threshold")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(y).alias("pos"))
    w = Window.orderBy("threshold").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "threshold",
        F.sum("n").over(w).cast("long").alias("n_l"),
        F.sum("pos").over(w).cast("long").alias("pos_l"),
    )
    tot = df.where(F.col(x_col).isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(y).cast("long").alias("pos_all"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    n_l, pos_l = F.col("n_l"), F.col("pos_l")
    neg_l = n_l - pos_l
    n_r = F.col("n_all") - n_l
    pos_r = F.col("pos_all") - pos_l
    neg_r = n_r - pos_r
    num = n_r * (n_l * n_l - pos_l * pos_l - neg_l * neg_l) + n_l * (
        n_r * n_r - pos_r * pos_r - neg_r * neg_r
    )
    scored = j.where(n_r > 0).select(
        "threshold", "n_l", "pos_l",
        n_r.alias("n_r"), pos_r.alias("pos_r"),
        (num / (n_l * n_r)).alias("gini_scaled"),  # = G(t)·N, exact-int divide
    )
    wb = Window.orderBy(F.col("gini_scaled").asc(), F.col("threshold").asc())
    return scored.withColumn(
        "is_best", (F.row_number().over(wb) == 1)
    )


def gini_split_categorical(
    df: DataFrame, cat_col: str, y_col: str
) -> DataFrame:
    """Optimal binary split of a CATEGORICAL feature for a binary
    target — Breiman's theorem: the best subset split is always a
    prefix of categories ordered by target rate, turning a 2^C search
    into the same cumulative scan as :func:`gini_split_curve`.

    Categories are ranked by (pos/n) — one exact-integer divide, so
    the order (ties → category value) is engine-identical — then the
    numeric machinery runs over the rank domain.  The returned
    relation maps each category to its rate rank plus the split score
    when the left child is ranks ≤ r; ``is_best`` marks the optimal
    prefix (left = all categories with rank ≤ that row's)."""
    y = F.col(y_col).cast("long")
    per = df.groupBy(F.col(cat_col).alias("category")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("pos"),
    )
    wr = Window.orderBy((F.col("pos") / F.col("n")).asc(), F.col("category").asc())
    ranked = per.withColumn("rate_rank", F.row_number().over(wr).cast("long"))
    wc = Window.orderBy("rate_rank").rowsBetween(Window.unboundedPreceding, 0)
    cum = ranked.select(
        "category", "rate_rank", "n", "pos",
        F.sum("n").over(wc).cast("long").alias("n_l"),
        F.sum("pos").over(wc).cast("long").alias("pos_l"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("n_all"), F.sum("pos").cast("long").alias("pos_all")
    )
    j = cum.crossJoin(F.broadcast(tot))
    n_l, pos_l = F.col("n_l"), F.col("pos_l")
    neg_l = n_l - pos_l
    n_r = F.col("n_all") - n_l
    pos_r = F.col("pos_all") - pos_l
    neg_r = n_r - pos_r
    num = n_r * (n_l * n_l - pos_l * pos_l - neg_l * neg_l) + n_l * (
        n_r * n_r - pos_r * pos_r - neg_r * neg_r
    )
    scored = j.select(
        "category", "rate_rank", "n", "pos", "n_l", "pos_l",
        F.when(n_r > 0, num / (n_l * n_r)).alias("gini_scaled"),
    )
    wb = Window.orderBy(
        F.when(F.col("gini_scaled").isNull(), F.lit(float("inf"))).otherwise(F.col("gini_scaled")).asc(),
        F.col("rate_rank").asc(),
    )
    return scored.withColumn("is_best", F.row_number().over(wb) == 1)


def distribution_distance(
    df_a: DataFrame, df_b: DataFrame, val_col: str, scale: int = 1
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance AND
    Kolmogorov-Smirnov statistic between two samples of an ordered
    variable — the drift metrics PSI cannot express (PSI ignores bin
    ORDER; W1 is the cost of moving mass along the axis).

    Value-domain construction: union both samples' per-value counts,
    cumulative sums over the merged (tiny) domain give both CDFs at
    every support point; with n_a, n_b the sample sizes,

        KS  = max |cumA·n_b − cumB·n_a| / (n_a·n_b)
        W1  = Σ gap_i · |cumA·n_b − cumB·n_a| / (n_a·n_b)

    where gap_i is the distance to the next support value.  Every
    numerator term is an exact BIGINT (``scale`` converts fractional
    inputs to integers first), both statistics are single divides.
    Returns one row: (n_a, n_b, ks_scaled, w1_scaled, ks, w1) with the
    *_scaled columns the exact integer numerators.
    """
    v = (F.col(val_col) * scale).cast("long")
    pa = df_a.select(v.alias("v")).groupBy("v").agg(F.count(F.lit(1)).alias("ca"))
    pb = df_b.select(v.alias("v")).groupBy("v").agg(F.count(F.lit(1)).alias("cb"))
    dom = pa.join(pb, on="v", how="full").select(
        "v",
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("v")
    cum = dom.select(
        "v",
        F.sum("ca").over(w).cast("long").alias("cumA"),
        F.sum("cb").over(w).cast("long").alias("cumB"),
        (F.lead("v").over(wn) - F.col("v")).alias("gap"),
    )
    tot = (
        df_a.agg(F.count(v).cast("long").alias("n_a"))
        .crossJoin(df_b.agg(F.count(v).cast("long").alias("n_b")))
    )
    j = cum.crossJoin(F.broadcast(tot))
    dev = F.abs(F.col("cumA") * F.col("n_b") - F.col("cumB") * F.col("n_a"))
    agg = j.groupBy("n_a", "n_b").agg(
        F.max(dev).cast("long").alias("ks_scaled"),
        F.sum(F.when(F.col("gap").isNotNull(), dev * F.col("gap")).otherwise(0))
        .cast("long").alias("w1_scaled"),
    )
    return agg.select(
        "n_a", "n_b", "ks_scaled", "w1_scaled",
        (F.col("ks_scaled") / (F.col("n_a") * F.col("n_b"))).alias("ks"),
        (F.col("w1_scaled") / (F.col("n_a") * F.col("n_b") * F.lit(scale))).alias("w1"),
    )


def quantile_match(
    df_a: DataFrame, df_b: DataFrame, val_col: str
) -> DataFrame:
    """Empirical quantile matching (histogram matching / inverse-CDF
    transform): map every distinct value of cohort B onto cohort A's
    value at the SAME empirical percentile — score normalization across
    cohorts, domain adaptation, microarray-style normalization.

        matched(x) = min{ v ∈ A : cumA(v)·n_b ≥ cumB(x)·n_a }

    Everything is value-domain and integer-exact: both CDFs are
    cumulative counts over the distinct-value relations, the percentile
    comparison is cross-multiplied (no ratios), and the min-v lookup is
    ONE searchsorted (union+window — merge_asof's shape), never a
    non-equi join.  Returns (value, n_b_rows, matched_value).
    """
    from ..operators.window import searchsorted_union

    va = F.col(val_col).cast("long")
    pa = df_a.groupBy(va.alias("v")).agg(F.count(F.lit(1)).alias("c"))
    pb = df_b.groupBy(va.alias("v")).agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.orderBy("v")
    na = df_a.agg(F.count(va).cast("long").alias("n_a"))
    nb = df_b.agg(F.count(va).cast("long").alias("n_b"))
    adist = (
        pa.select("v", F.sum("c").over(wv).cast("long").alias("cumA"),
                  F.row_number().over(wp).cast("long").alias("pos"))
        .crossJoin(F.broadcast(nb))
        .select("v", "pos", (F.col("cumA") * F.col("n_b")).alias("thr"))
    )
    bdist = (
        pb.select("v", F.col("c").cast("long").alias("n_b_rows"),
                  F.sum("c").over(wv).cast("long").alias("cumB"))
        .crossJoin(F.broadcast(na))
        .select(F.col("v").alias("value"), "n_b_rows",
                (F.col("cumB") * F.col("n_a")).alias("target"))
    )
    m_rel = adist.agg(F.max("pos").cast("long").alias("m"))
    idx = searchsorted_union(bdist, "target", adist.select(F.col("thr")), "thr",
                             side="left", out_col="__idx__")
    matched_pos = idx.crossJoin(F.broadcast(m_rel)).select(
        "value", "n_b_rows",
        F.least(F.col("__idx__").cast("long") + 1, F.col("m")).alias("pos"),
    )
    return matched_pos.join(
        adist.select("pos", F.col("v").alias("matched_value")), on="pos"
    ).select("value", "n_b_rows", "matched_value")


def spearman_corr(
    df: DataFrame, x_col: str, y_col: str, by: list[str] | None = None
) -> DataFrame:
    """Exact Spearman rank correlation (ties → average ranks, the
    standard convention): Pearson over DOUBLED ranks, which are exact
    integers — 2·rank_avg(v) = 2·(#strictly below) + (#equal) + 1 —
    so every power sum is an exact BIGINT and ρ composes from correctly
    rounded doubles identically in both engines.

    Scale shape: each variable's rank map is value-domain (one agg to
    distinct values + a cumulative over that tiny relation, rankdata's
    pattern) and broadcast-joined back; the moment pass is ONE hash
    agg.  int64 budget: n·Σ(2r)² ≈ 4n³ needs n ≤ ~1.3M rows per group
    (documented; widen to DECIMAL beyond that).
    """
    grp = list(by or [])

    def doubled_ranks(col: str, out: str) -> DataFrame:
        per = df.groupBy(*grp, F.col(col).alias("__v__")).agg(
            F.count(F.lit(1)).alias("__c__")
        )
        w = (
            Window.partitionBy(*grp) if grp else Window.partitionBy(F.lit(1))
        ).orderBy("__v__").rowsBetween(Window.unboundedPreceding, -1)
        return per.select(
            *grp, "__v__",
            (2 * F.coalesce(F.sum("__c__").over(w), F.lit(0)) + F.col("__c__") + 1)
            .cast("long").alias(out),
        )
    rx = doubled_ranks(x_col, "__rx__").withColumnRenamed("__v__", x_col)
    ry = doubled_ranks(y_col, "__ry__").withColumnRenamed("__v__", y_col)
    j = df.join(F.broadcast(rx), on=grp + [x_col]).join(
        F.broadcast(ry), on=grp + [y_col]
    )
    a, b = F.col("__rx__"), F.col("__ry__")
    g = j.groupBy(*grp).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(a).cast("long").alias("sa"),
        F.sum(b).cast("long").alias("sb"),
        F.sum(a * a).cast("long").alias("saa"),
        F.sum(b * b).cast("long").alias("sbb"),
        F.sum(a * b).cast("long").alias("sab"),
    )
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    da = (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    db = (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    return g.select(
        *grp, "n",
        F.when((da > 0) & (db > 0), num / F.sqrt(da * db)).alias("spearman"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    alpha_num: int = 5,
    alpha_den: int = 100,
    by: list[str] | None = None,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a relation
    of hypothesis p-values — the multiple-testing correction every
    metrics platform needs once it tests thousands of segments.

    Step-up rule made exact: with m tests and rank k (p ascending,
    ties by p then arbitrary-stable), reject H_(1..k*) where k* is the
    largest k with  p_k ≤ (k/m)·α  ⟺  p_k·m·α_den ≤ k·α_num (α passed
    as the rational α_num/α_den, so the comparison is p·integers vs
    integer — exact whenever p itself is exact, and engine-identical
    regardless).  k* propagates via a running max over the ranked
    (tiny, aggregated) relation.  Emits (p, rank, m, is_rejected).
    """
    grp = list(by or [])
    w = (
        Window.partitionBy(*grp) if grp else Window.partitionBy(F.lit(1))
    ).orderBy(F.col(p_col).asc())
    wall = Window.partitionBy(*grp) if grp else Window.partitionBy(F.lit(1))
    ranked = df.select(*grp, F.col(p_col).alias("p")).withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).withColumn("m", F.count(F.lit(1)).over(wall).cast("long"))
    passes = F.when(
        F.col("p") * F.col("m") * alpha_den <= F.col("rank") * alpha_num,
        F.col("rank"),
    ).otherwise(F.lit(0))
    kstar = F.max(passes).over(wall)
    return ranked.withColumn("is_rejected", F.col("rank") <= kstar)


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    val_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
    test that pairs with ttest_ind_welch for heavy-tailed metrics, plus
    Cliff's delta effect size.

    Everything exact until the final z: combined tie-averaged ranks as
    DOUBLED integers (Spearman's machinery), so 2·R_a is an exact
    BIGINT and

        U      = R_a − n_a(n_a+1)/2           (2U exact integer)
        delta  = 2U/(n_a·n_b) − 1             (one exact divide)
        z      = (U − n_a·n_b/2) / σ,  σ² = n_a·n_b·[(n+1) − Σ(t³−t)/(n(n−1))]/12
                 (tie-corrected; the σ² bracket is an exact rational of
                 BIGINTs composed in an identical operation chain)

    Returns one row (n_a, n_b, u2 = 2U, cliffs_delta, z).
    """
    sel = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(group_col).alias("g"), F.col(val_col).cast("long").alias("v")
    )
    per = sel.groupBy("v").agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("ta"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.select(
        "v", "t", "ta",
        (2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1)
        .cast("long").alias("dr"),  # doubled average rank of this value
    )
    agg = ranked.agg(
        F.sum("ta").cast("long").alias("n_a"),
        F.sum(F.col("t") - F.col("ta")).cast("long").alias("n_b"),
        F.sum(F.col("dr") * F.col("ta")).cast("long").alias("r2a"),  # 2·R_a
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("long").alias("ties"),
    )
    n = F.col("n_a") + F.col("n_b")
    u2 = F.col("r2a") - F.col("n_a") * (F.col("n_a") + 1)  # exact 2U
    mu2 = F.col("n_a") * F.col("n_b")                      # 2·mean of U
    var = (
        F.col("n_a").cast("double") * F.col("n_b").cast("double") / 12.0
        * ((n + 1).cast("double") - F.col("ties").cast("double") / (n * (n - 1)).cast("double"))
    )
    return agg.select(
        "n_a", "n_b", u2.cast("long").alias("u2"),
        F.when(mu2 > 0, u2 / mu2 - 1).alias("cliffs_delta"),
        F.when(var > 0, (u2 - mu2) / (2 * F.sqrt(var))).alias("z"),
    )


def kruskal_wallis(
    df: DataFrame, group_col: str, val_col: str
) -> DataFrame:
    """Kruskal-Wallis H — the k-sample rank ANOVA extending
    :func:`mann_whitney_u`:

        H = [ 12·Σ_g R_g²/n_g / (n(n+1)) − 3(n+1) ] / [1 − Σ(t³−t)/(n³−n)]

    Doubled tie-averaged ranks make every R_g a half-integer → 2R_g
    exact BIGINT; Σ (2R_g)²/n_g is evaluated as one exact divide per
    group and the composition is an identical double chain cross-engine.
    Returns one row (n, k, h) — compare h against χ²(k−1)."""
    per = df.groupBy(F.col(val_col).cast("long").alias("v")).agg(
        F.count(F.lit(1)).alias("t")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    dr = per.select(
        "v", "t",
        (2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1)
        .cast("long").alias("dr"),
    )
    joined = df.select(
        F.col(group_col).alias("g"), F.col(val_col).cast("long").alias("v")
    ).join(F.broadcast(dr.select("v", "dr")), on="v")
    byg = joined.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("dr").cast("long").alias("r2_g"),  # 2·R_g
    )
    ties = per.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("long").alias("ties")
    )
    # fixed-order (by group key) running fold — a plain hash-agg SUM of
    # float terms reassociates differently per engine (1e-12 drift seen
    # at sf0.01); the ordered cumulative is a left fold in BOTH engines
    wg = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    folded = byg.withColumn(
        "__cum__", F.sum((F.col("r2_g") * F.col("r2_g")) / F.col("n_g")).over(wg)
    ).withColumn("__rn__", F.row_number().over(Window.orderBy("g")))
    agg = folded.groupBy().agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max_by("__cum__", "__rn__").alias("sum_r2sq"),  # last of the ordered fold
    ).crossJoin(F.broadcast(ties))
    n = F.col("n").cast("double")
    h_raw = (
        F.lit(12.0) * F.col("sum_r2sq") / (F.lit(4.0) * n * (n + 1)) - 3 * (n + 1)
    )
    corr = F.lit(1.0) - F.col("ties").cast("double") / (n * n * n - n)
    return agg.select(
        "n", "k",
        F.when(corr > 0, h_raw / corr).alias("h"),
    )


def kendall_tau_b(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Kendall's τ-b (tie-adjusted) — the pairwise-concordance rank
    correlation completing :func:`spearman_corr`:

        τ-b = (C − D) / √((n₀−n₁)(n₀−n₂))

    Computed on the CELL domain: one agg to per-(x,y) counts, then
    concordant/discordant pair mass from a cell×cell dominance join —
    O(cells²), NOT O(rows²), so bucket continuous inputs first (the
    honest contract; with c cells the join is c² tiny rows).  Every
    term (C, D, tie pair counts) is an exact BIGINT; the denominator
    is an identical double chain.
    """
    cells = df.groupBy(
        F.col(x_col).cast("long").alias("x"), F.col(y_col).cast("long").alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("c").alias("c1")
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("c").alias("c2")
    )
    dom = a.join(b, (F.col("x2") > F.col("x1")) & (F.col("y2") != F.col("y1")), "inner")
    cd = dom.agg(
        F.sum(F.when(F.col("y2") > F.col("y1"), F.col("c1") * F.col("c2")).otherwise(0))
        .cast("long").alias("concordant"),
        F.sum(F.when(F.col("y2") < F.col("y1"), F.col("c1") * F.col("c2")).otherwise(0))
        .cast("long").alias("discordant"),
    )
    xt = cells.groupBy("x").agg(F.sum("c").alias("tx")).agg(
        F.sum(F.col("tx") * (F.col("tx") - 1)).cast("long").alias("tie_x2")  # 2·n₁
    )
    yt = cells.groupBy("y").agg(F.sum("c").alias("ty")).agg(
        F.sum(F.col("ty") * (F.col("ty") - 1)).cast("long").alias("tie_y2")  # 2·n₂
    )
    n_rel = df.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = cd.crossJoin(F.broadcast(xt)).crossJoin(F.broadcast(yt)).crossJoin(
        F.broadcast(n_rel)
    )
    n0x2 = F.col("n") * (F.col("n") - 1)  # 2·n₀
    da = (n0x2 - F.col("tie_x2")).cast("double")
    db = (n0x2 - F.col("tie_y2")).cast("double")
    return j.select(
        "n", "concordant", "discordant",
        F.when(
            (da > 0) & (db > 0),
            (F.lit(2.0) * (F.col("concordant") - F.col("discordant"))) / F.sqrt(da * db),
        ).alias("tau_b"),
    )


def effect_size(
    df: DataFrame,
    group_col: str,
    val_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Standardized mean difference between two groups: Cohen's d
    (pooled SD) and the small-sample Hedges g correction
    g = d·(1 − 3/(4(n_a+n_b)−9)) — the effect size that belongs next
    to every t-test / Mann-Whitney p-value.

    One conditional-aggregate pass collects both groups' exact integer
    power sums; means, pooled variance, d and g compose from single
    divides in an identical chain — engine-portable unrounded for
    integer inputs."""
    c = F.col(val_col).cast("long")
    a = F.when(F.col(group_col) == group_a, c)
    b = F.when(F.col(group_col) == group_b, c)
    g = df.agg(
        F.count(a).cast("long").alias("n_a"),
        F.count(b).cast("long").alias("n_b"),
        F.sum(a).cast("long").alias("sa"),
        F.sum(b).cast("long").alias("sb"),
        F.sum(a * a).cast("long").alias("saa"),
        F.sum(b * b).cast("long").alias("sbb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("sa") / na, F.col("sb") / nb
    ssa = F.col("saa").cast("double") - na * ma * ma
    ssb = F.col("sbb").cast("double") - nb * mb * mb
    s_pooled = F.sqrt((ssa + ssb) / (na + nb - 2))
    d = F.when(s_pooled > 0, (ma - mb) / s_pooled)
    corr = F.lit(1.0) - F.lit(3.0) / (4 * (na + nb) - 9)
    return g.select(
        "n_a", "n_b",
        ma.alias("mean_a"), mb.alias("mean_b"),
        d.alias("cohens_d"),
        (d * corr).alias("hedges_g"),
    )


def anova_oneway(
    df: DataFrame, group_col: str, val_col: str
) -> DataFrame:
    """One-way ANOVA F — the parametric sibling of
    :func:`kruskal_wallis`:

        SSW = Σx² − Σ_g (Σx_g)²/n_g ,  SSB = Σ_g (Σx_g)²/n_g − (Σx)²/N
        F = (SSB/(k−1)) / (SSW/(N−k))

    Per-group sums are exact BIGINTs; the one float fold
    Σ_g (Σx_g)²/n_g runs as an ORDERED window cumsum (rule 19 in
    ORACLES.md — hash-agg float sums reassociate), so F is
    engine-identical.  Returns (n, k, ss_between, ss_within, f).
    """
    x = F.col(val_col).cast("long")
    byg = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(x).cast("long").alias("s_g"),
        F.sum(x * x).cast("long").alias("ss_g"),
    )
    wg = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    folded = byg.withColumn(
        "__cum__", F.sum((F.col("s_g") * F.col("s_g")) / F.col("n_g")).over(wg)
    ).withColumn("__rn__", F.row_number().over(Window.orderBy("g")))
    agg = folded.groupBy().agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s_g").cast("long").alias("s_all"),
        F.sum("ss_g").cast("long").alias("ss_all"),
        F.max_by("__cum__", "__rn__").alias("between_term"),
    )
    n, k = F.col("n").cast("double"), F.col("k").cast("double")
    grand = (F.col("s_all") * F.col("s_all")).cast("double") / n
    ssb = F.col("between_term") - grand
    ssw = F.col("ss_all").cast("double") - F.col("between_term")
    fstat = F.when(
        (F.col("k") > 1) & (ssw > 0), (ssb / (k - 1)) / (ssw / (n - k))
    )
    return agg.select(
        "n", "k", ssb.alias("ss_between"), ssw.alias("ss_within"), fstat.alias("f")
    )


def levene_bf(
    df: DataFrame, group_col: str, val_col: str
) -> DataFrame:
    """Brown-Forsythe Levene test for variance homogeneity: one-way
    ANOVA on z = |x − median_g|.  Group medians of integer inputs are
    exact half-integers, so 2z is an exact BIGINT and the scale cancels
    in F — the whole pipeline (median, deviations, ANOVA fold) stays
    engine-exact.  Returns the :func:`anova_oneway` relation over 2z.
    """
    x = F.col(val_col).cast("long")
    med = df.groupBy(F.col(group_col).alias("g")).agg(
        F.median(x).alias("__med__")
    )
    z2 = F.abs(2 * x - (2 * F.col("__med__")).cast("long"))
    dev = df.select(F.col(group_col).alias("g"), x.alias("__x__")).join(
        F.broadcast(med), on="g"
    ).select("g", F.abs(2 * F.col("__x__") - (2 * F.col("__med__")).cast("long")).alias("z2"))
    return anova_oneway(dev, "g", "z2")


def mcnemar(
    df: DataFrame, correct_a_col: str, correct_b_col: str
) -> DataFrame:
    """McNemar's test for PAIRED classifiers (both scored on the same
    examples) — the right significance test for "is model B actually
    better than model A", where two independent-sample tests are wrong.

    One conditional agg collects the 2×2 agreement cells; the statistic
    (with continuity correction) is (|b−c|−1)²/(b+c) — exact integer
    numerator, one divide.  b = A-only correct, c = B-only correct.
    Returns (both, a_only, b_only, neither, chi2_cc).
    """
    a = F.col(correct_a_col).cast("long")
    b = F.col(correct_b_col).cast("long")
    g = df.agg(
        F.sum(a * b).cast("long").alias("both"),
        F.sum(a * (1 - b)).cast("long").alias("a_only"),
        F.sum((1 - a) * b).cast("long").alias("b_only"),
        F.sum((1 - a) * (1 - b)).cast("long").alias("neither"),
    )
    bb, cc = F.col("a_only"), F.col("b_only")
    num = (F.abs(bb - cc) - 1) * (F.abs(bb - cc) - 1)
    return g.withColumn(
        "chi2_cc",
        F.when(bb + cc > 0, F.greatest(num, F.lit(0)) / (bb + cc)),
    )


def durbin_watson(
    df: DataFrame, keys: list[str], resid_col: str, order: list[str]
) -> DataFrame:
    """Durbin-Watson statistic per key — the serial-correlation
    diagnostic for regression residuals (d ≈ 2 none, → 0 positive,
    → 4 negative autocorrelation):

        d = Σ_t (e_t − e_{t−1})² / Σ_t e_t²

    With integer-scaled residuals both sums are exact BIGINTs via one
    lag window per key + one agg — d is a single divide."""
    e = F.col(resid_col).cast("long")
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
    work = df.withColumn("__d__", e - F.lag(e).over(w))
    return work.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__d__") * F.col("__d__")).cast("long").alias("ss_diff"),
        F.sum(e * e).cast("long").alias("ss_resid"),
    ).select(
        *keys, "n",
        F.when(F.col("ss_resid") > 0, F.col("ss_diff") / F.col("ss_resid")).alias("dw"),
    )


def mix_shift(
    df: DataFrame,
    period_col: str,
    group_col: str,
    val_col: str,
    period_a,
    period_b,
) -> DataFrame:
    """Mix-shift decomposition of a ratio metric between two periods
    (the Oaxaca-style "why did the average move" readout every metrics
    review asks for).  With M_p = Σ value / N_p and per-group shares
    w_gp = n_gp/N_p, rates r_gp = s_gp/n_gp:

        mix_g  = (w_gb − w_ga) · r_ga      (composition moved)
        rate_g = w_gb · (r_gb − r_ga)      (within-group value moved)

    and Σ_g (mix_g + rate_g) = M_b − M_a exactly.  Groups absent from a
    period fall back to that period's overall mean as their rate (share
    0), which preserves the telescoping identity.

    Exactness: counts and sums aggregate as BIGINTs; every emitted
    double is a FIXED expression tree over those exact operands (shares
    and rates are single divides), so the result is engine-identical
    with no rounding.  Scale shape: one (period, group) hash agg plus a
    two-row period-total agg broadcast back — the output is
    group-cardinality-sized.

    Returns one row per group: (group, n_a, n_b, s_a, s_b, share_a,
    share_b, rate_a, rate_b, mix_effect, rate_effect).
    """
    p = F.col(period_col)
    x = F.col(val_col).cast("long")
    in_a = F.when(p == F.lit(period_a), 1).otherwise(0)
    in_b = F.when(p == F.lit(period_b), 1).otherwise(0)
    byg = (
        df.where(p.isin(period_a, period_b))
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.sum(in_a).cast("long").alias("n_a"),
            F.sum(in_b).cast("long").alias("n_b"),
            F.sum(x * in_a).cast("long").alias("s_a"),
            F.sum(x * in_b).cast("long").alias("s_b"),
        )
    )
    # totals must NOT alias as N_a/S_a: Spark and DuckDB both resolve
    # case-insensitively, so they would collide with n_a/s_a (ORACLES
    # rule: never distinguish aliases by case)
    tot = byg.groupBy().agg(
        F.sum("n_a").cast("long").alias("na_tot"),
        F.sum("n_b").cast("long").alias("nb_tot"),
        F.sum("s_a").cast("long").alias("sa_tot"),
        F.sum("s_b").cast("long").alias("sb_tot"),
    )
    j = byg.crossJoin(F.broadcast(tot))
    m_a = F.col("sa_tot").cast("double") / F.col("na_tot")
    m_b = F.col("sb_tot").cast("double") / F.col("nb_tot")
    w_a = F.col("n_a").cast("double") / F.col("na_tot")
    w_b = F.col("n_b").cast("double") / F.col("nb_tot")
    r_a = F.when(F.col("n_a") > 0, F.col("s_a").cast("double") / F.col("n_a")).otherwise(m_a)
    r_b = F.when(F.col("n_b") > 0, F.col("s_b").cast("double") / F.col("n_b")).otherwise(m_b)
    return j.select(
        "grp", "n_a", "n_b", "s_a", "s_b",
        w_a.alias("share_a"), w_b.alias("share_b"),
        r_a.alias("rate_a"), r_b.alias("rate_b"),
        ((w_b - w_a) * r_a).alias("mix_effect"),
        (w_b * (r_b - r_a)).alias("rate_effect"),
    )


def forecast_accuracy(
    df: DataFrame,
    keys: list[str],
    actual_col: str,
    forecast_col: str,
    order: list[str],
    seasonal_period: int = 1,
) -> DataFrame:
    """Forecast-accuracy report per series — the metrics a demand/load
    forecasting pipeline tracks, in the cross-engine-exact forms:

        bias  = Σe / n                       (e = forecast − actual)
        mae   = Σ|e| / n
        wape  = Σ|e| / Σ|a|                  (weighted-absolute-% error —
                                              the scale-free form that
                                              cannot divide by a zero
                                              actual, unlike plain MAPE)
        smape = 2·Σ|e| / Σ(|a|+|f|)          (the AGGREGATE sMAPE form —
                                              the per-row-ratio form is a
                                              float group-sum no engine
                                              pair folds identically,
                                              ORACLES.md rules 11/19)
        mase  = Σ|e| · (n−m) / (n · Σ|a_t − a_{t−m}|)
                                             (scaled by the in-sample
                                              naive MAE at lag m =
                                              ``seasonal_period``; m=1
                                              is the classic MASE, m=7
                                              the seasonal variant)

    Every numerator/denominator accumulates as an exact BIGINT from
    integer-scaled inputs; each metric is ONE divide of exact operands,
    so the report is engine-identical with no rounding.  One lag window
    (for the naive baseline) + one hash agg per key.
    """
    a = F.col(actual_col).cast("long")
    f_ = F.col(forecast_col).cast("long")
    e = f_ - a
    m = int(seasonal_period)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
    work = df.withColumn("__naive__", F.abs(a - F.lag(a, m).over(w)))
    g = work.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(e).cast("long").alias("sum_e"),
        F.sum(F.abs(e)).cast("long").alias("sum_ae"),
        F.sum(F.abs(a)).cast("long").alias("sum_aa"),
        F.sum(F.abs(a) + F.abs(f_)).cast("long").alias("sum_af"),
        F.sum("__naive__").cast("long").alias("sum_naive"),
    )
    n = F.col("n")
    return g.select(
        *keys, "n",
        (F.col("sum_e") / n).alias("bias"),
        (F.col("sum_ae") / n).alias("mae"),
        F.when(F.col("sum_aa") > 0, F.col("sum_ae") / F.col("sum_aa")).alias("wape"),
        F.when(F.col("sum_af") > 0, (2 * F.col("sum_ae")) / F.col("sum_af")).alias("smape"),
        F.when(
            (n > m) & (F.col("sum_naive") > 0),
            (F.col("sum_ae") * (n - m)) / (n * F.col("sum_naive")),
        ).alias("mase"),
    )


def simpson_check(
    df: DataFrame,
    segment_col: str,
    treat_col: str,
    outcome_col: str,
) -> DataFrame:
    """Simpson's-paradox audit for a binary treatment/outcome table:
    per-segment conversion-rate direction vs the pooled direction, with
    the paradox flag when a segment's sign contradicts the pooled sign.

    All rate comparisons are integer CROSS-MULTIPLIED
    (sign(s_t·n_c − s_c·n_t)) so no float rate decides a flag; the
    emitted rates themselves are single divides of exact BIGINTs.  One
    (segment) conditional agg + a broadcast pooled row.  Returns one
    row per segment: (segment, n_treat, n_ctrl, conv_treat, conv_ctrl,
    rate_treat, rate_ctrl, seg_sign, pooled_sign, paradox).
    """
    t = F.col(treat_col).cast("long")
    y = F.col(outcome_col).cast("long")
    byseg = df.groupBy(F.col(segment_col).alias("segment")).agg(
        F.sum(t).cast("long").alias("n_treat"),
        F.sum(1 - t).cast("long").alias("n_ctrl"),
        F.sum(y * t).cast("long").alias("conv_treat"),
        F.sum(y * (1 - t)).cast("long").alias("conv_ctrl"),
    )
    pooled = byseg.groupBy().agg(
        F.sum("n_treat").cast("long").alias("pt"),
        F.sum("n_ctrl").cast("long").alias("pc"),
        F.sum("conv_treat").cast("long").alias("pst"),
        F.sum("conv_ctrl").cast("long").alias("psc"),
    )
    j = byseg.crossJoin(F.broadcast(pooled))
    seg_sign = F.signum(
        (F.col("conv_treat") * F.col("n_ctrl") - F.col("conv_ctrl") * F.col("n_treat")).cast("double")
    ).cast("int")
    pooled_sign = F.signum(
        (F.col("pst") * F.col("pc") - F.col("psc") * F.col("pt")).cast("double")
    ).cast("int")
    return j.select(
        "segment", "n_treat", "n_ctrl", "conv_treat", "conv_ctrl",
        F.when(F.col("n_treat") > 0, F.col("conv_treat") / F.col("n_treat")).alias("rate_treat"),
        F.when(F.col("n_ctrl") > 0, F.col("conv_ctrl") / F.col("n_ctrl")).alias("rate_ctrl"),
        seg_sign.alias("seg_sign"),
        pooled_sign.alias("pooled_sign"),
        ((seg_sign * pooled_sign) < 0).alias("paradox"),
    )


def pinball_loss(
    df: DataFrame,
    keys: list[str],
    actual_col: str,
    forecast_col: str,
    tau_num: int,
    tau_den: int,
) -> DataFrame:
    """Pinball (quantile) loss per series — THE metric for evaluating a
    quantile forecast (τ = tau_num/tau_den):

        ℓ_τ(y, f) = max(τ·(y−f), (τ−1)·(y−f))

    Scaled by ``tau_den`` every per-row loss is an exact BIGINT
    (max of two integer products), so the group sum is exact and the
    mean loss is ONE divide — engine-identical with no rounding.  A
    well-calibrated τ-quantile forecast minimizes this in expectation.
    Returns (keys…, n, sum_loss_scaled, pinball).
    """
    y = F.col(actual_col).cast("long")
    f_ = F.col(forecast_col).cast("long")
    d = y - f_
    loss = F.greatest(F.lit(int(tau_num)) * d, F.lit(int(tau_num - tau_den)) * d)
    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(loss).cast("long").alias("sum_loss_scaled"),
    )
    return g.select(
        *keys, "n", "sum_loss_scaled",
        (F.col("sum_loss_scaled") / (F.col("n") * F.lit(int(tau_den)))).alias("pinball"),
    )


def holm_bonferroni(
    df: DataFrame,
    p_col: str,
    id_cols: list[str],
    alpha_num: int = 5,
    alpha_den: int = 100,
) -> DataFrame:
    """Holm-Bonferroni step-down multiple-testing correction — the
    uniformly-more-powerful replacement for plain Bonferroni, FWER
    sibling of :func:`bh_fdr`: order p-values ascending, reject H_(i)
    while p_(j)·(m−j+1) ≤ α holds for EVERY j ≤ i (the first failure
    stops all later rejections).

    Exactness: the adjusted p-value is a RUNNING MAX of p_j·(m−j+1) —
    max is associative and exact in floating point, so unlike float
    sums it is engine-identical under any fold; the α test is
    cross-multiplied (p·(m−j+1)·den ≤ num never builds a float α); the
    step-down stop is a running integer MIN of the pass flag.  One sort
    window over the m-row p-value relation (tests are few; this is a
    post-aggregation relation, never raw data).  Returns
    (id…, p, p_rank, m, adj_p, reject).
    """
    w = Window.orderBy(F.col(p_col).asc(), *[F.col(c) for c in id_cols])
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    m = df.select(F.count(F.lit(1)).cast("long").alias("m"))
    d = df.crossJoin(F.broadcast(m)).withColumn("p_rank", F.row_number().over(w))
    mult = F.col("m") - F.col("p_rank") + 1
    passes = (F.col(p_col) * mult * alpha_den <= F.lit(float(alpha_num))).cast("int")
    d = d.withColumn("__adj__", F.max(F.col(p_col) * mult).over(wrun)).withColumn(
        "__ok__", F.min(passes).over(wrun)
    )
    return d.select(
        *id_cols, F.col(p_col).alias("p"), "p_rank", "m",
        F.least(F.col("__adj__"), F.lit(1.0)).alias("adj_p"),
        (F.col("__ok__") == 1).alias("reject"),
    )


def replay_eval(
    df: DataFrame,
    keys: list[str],
    action_col: str,
    policy_action_col: str,
    reward_col: str,
) -> DataFrame:
    """Offline policy evaluation by REPLAY (Li et al. 2011) — the
    third OPE method beside :func:`ips_eval` and :func:`dr_eval`:
    keep only the logged rounds where the target policy would have
    chosen the SAME action the logging policy took, and average their
    rewards.  Unbiased when logging was uniform-random; no propensity
    weights, no value model.

    Everything is exact: the match filter is an integer equality, the
    reward sum a BIGINT, the estimate one divide.  One conditional hash
    agg.  Returns (keys…, n_logged, n_matched, match_rate,
    reward_sum, replay_value).
    """
    hit = (F.col(action_col) == F.col(policy_action_col)).cast("long")
    r = F.col(reward_col).cast("long")
    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_logged"),
        F.sum(hit).cast("long").alias("n_matched"),
        F.sum(r * hit).cast("long").alias("reward_sum"),
    )
    return g.select(
        *keys, "n_logged", "n_matched",
        (F.col("n_matched") / F.col("n_logged")).alias("match_rate"),
        "reward_sum",
        F.when(F.col("n_matched") > 0, F.col("reward_sum") / F.col("n_matched")).alias("replay_value"),
    )


def srm_check(
    df: DataFrame,
    keys: list[str],
    assign_col: str,
    expected: dict,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail for experiments: chi-square
    goodness-of-fit of observed arm counts against the DESIGNED ratio
    (e.g. 50/50) — the first thing to check before reading any A/B
    result, since a biased assignment invalidates everything downstream.

        χ² = Σ_arms (o_a·D − N·d_a)² / (N·d_a·D)

    with d_a the expected ratio weights and D = Σd.  Numerators are
    exact BIGINTs; arms pivot into FIXED columns so the per-arm terms
    add in literal order (never a float hash-agg).  One conditional
    aggregation.  Returns (keys…, n, per-arm counts, chi2, df).
    """
    arms = list(expected.items())
    dd = sum(int(w) for _, w in arms)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for arm, _ in arms:
        aggs.append(
            F.sum((F.col(assign_col) == F.lit(arm)).cast("long")).cast("long").alias(f"n_{arm}")
        )
    g = df.groupBy(*keys).agg(*aggs) if keys else df.groupBy().agg(*aggs)
    chi2 = None
    for arm, wgt in arms:
        o = F.col(f"n_{arm}")
        num = (o * dd - F.col("n") * int(wgt))
        term = (num * num) / (F.col("n") * int(wgt) * dd)
        chi2 = term if chi2 is None else chi2 + term
    return g.select(
        *keys, "n", *[f"n_{arm}" for arm, _ in arms],
        chi2.alias("chi2"), F.lit(len(arms) - 1).cast("long").alias("dof"),
    )


def yuen_trimmed_t(
    df: DataFrame,
    group_col: str,
    val_col: str,
    group_a,
    group_b,
    trim_num: int = 1,
    trim_den: int = 10,
) -> DataFrame:
    """Yuen's trimmed-mean t-test — the robust two-sample comparison
    (outlier-resistant alternative to :func:`ttest_ind_welch`): trim
    g = ⌊n·trim⌋ observations from EACH tail, compare trimmed means
    with winsorized variances.

    Exactness: tail cuts are RANK-based integers (no float quantile
    decides membership); the winsorized sample replaces each trimmed
    tail with its boundary order statistic, so the winsorized sum and
    sum-of-squares are exact BIGINTs (middle sums + g·boundary terms).
    The t statistic and Welch-style df are then fixed trees of single
    divides/sqrt.  One sort window per group + one agg.  Returns
    (n_a, n_b, h_a, h_b, tmean_a, tmean_b, t, dof).
    """
    x = F.col(val_col).cast("long")
    sel = df.where(F.col(group_col).isin(group_a, group_b)).select(
        F.when(F.col(group_col) == F.lit(group_a), F.lit(0)).otherwise(F.lit(1)).alias("g"),
        x.alias("x"),
    )
    w = Window.partitionBy("g").orderBy("x")
    wn = Window.partitionBy("g")
    d = sel.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn).cast("long")
    )
    gcut = F.floor(F.col("n") * trim_num / trim_den).cast("long")
    mid = (F.col("rn") > gcut) & (F.col("rn") <= F.col("n") - gcut)
    lo_b = F.col("rn") == gcut + 1          # lower winsorizing boundary value
    hi_b = F.col("rn") == F.col("n") - gcut  # upper boundary value
    agg = d.groupBy("g").agg(
        F.min("n").alias("n"),
        F.min(gcut).alias("gc"),
        F.sum(F.when(mid, F.col("x"))).cast("long").alias("s_mid"),
        F.sum(F.when(mid, F.col("x") * F.col("x"))).cast("long").alias("ss_mid"),
        F.min(F.when(lo_b, F.col("x"))).cast("long").alias("x_lo"),
        F.min(F.when(hi_b, F.col("x"))).cast("long").alias("x_hi"),
    )
    h = F.col("n") - 2 * F.col("gc")
    sw = F.col("s_mid") + F.col("gc") * (F.col("x_lo") + F.col("x_hi"))
    ssw = F.col("ss_mid") + F.col("gc") * (
        F.col("x_lo") * F.col("x_lo") + F.col("x_hi") * F.col("x_hi")
    )
    # winsorized sample variance: (n·SSw − Sw²) / (n·(n−1)) — exact ints
    # up to the one divide; trimmed mean = s_mid-adjusted… the trimmed
    # mean uses ONLY the middle h values
    per = agg.select(
        "g", "n", "gc", h.alias("h"),
        (F.col("s_mid") / h).alias("tmean"),
        ((F.col("n") * ssw - sw * sw) / (F.col("n") * (F.col("n") - 1))).alias("s2w"),
    ).withColumn("d_i", (F.col("n") - 1) * F.col("s2w") / (F.col("h") * (F.col("h") - 1)))
    a = per.where(F.col("g") == 0).select(
        F.col("n").alias("n_a"), F.col("h").alias("h_a"),
        F.col("tmean").alias("tmean_a"), F.col("d_i").alias("d_a"),
    )
    b = per.where(F.col("g") == 1).select(
        F.col("n").alias("n_b"), F.col("h").alias("h_b"),
        F.col("tmean").alias("tmean_b"), F.col("d_i").alias("d_b"),
    )
    j = a.crossJoin(b)
    tstat = (F.col("tmean_a") - F.col("tmean_b")) / F.sqrt(F.col("d_a") + F.col("d_b"))
    dof = (
        (F.col("d_a") + F.col("d_b")) * (F.col("d_a") + F.col("d_b"))
        / (
            F.col("d_a") * F.col("d_a") / (F.col("h_a") - 1)
            + F.col("d_b") * F.col("d_b") / (F.col("h_b") - 1)
        )
    )
    return j.select(
        "n_a", "n_b", "h_a", "h_b", "tmean_a", "tmean_b",
        tstat.alias("t"), dof.alias("dof"),
    )


def theil_sen_full(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
    max_n: int | None = 200,
) -> DataFrame:
    """Full pairwise Theil-Sen estimator per key: slope = median over
    ALL point pairs of (y_j−y_i)/(x_j−x_i) — the maximally robust
    (29.3% breakdown) line fit, upgrading the O(n) consecutive-pair
    variant (q290).  Intercept is the standard robust form
    median over points of (y_i − slope·x_i) — a tail outlier shifts a
    plain median(y) pairing but not the residual median.

    Every pair slope is ONE divide of exact integer differences, so the
    slope multiset is bit-identical cross-engine and its exact median
    (percentile over identical doubles) matches too.  The pair join is
    per-key quadratic — ``max_n`` caps series length (pairs ≤ C(max_n,
    2)); at scale run it on pre-aggregated series (daily points), never
    raw ticks.  Returns (keys…, n, n_pairs, slope, intercept).
    """
    xx = F.col(x_col).cast("long")
    yy = F.col(y_col).cast("long")
    base = df.select(*keys, xx.alias("__x__"), yy.alias("__y__"))
    if max_n is not None:
        w = Window.partitionBy(*keys)
        base = base.withColumn("__n__", F.count(F.lit(1)).over(w)).where(
            F.col("__n__") <= max_n
        ).drop("__n__")
    a = base.select(*keys, F.col("__x__").alias("xa"), F.col("__y__").alias("ya"))
    b = base.select(*keys, F.col("__x__").alias("xb"), F.col("__y__").alias("yb"))
    pairs = a.join(b, on=list(keys)).where(F.col("xa") < F.col("xb")).select(
        *keys, ((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))).alias("slope_ij")
    )
    med_slope = pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.percentile("slope_ij", F.lit(0.5)).alias("slope"),
    )
    resid = base.join(med_slope, on=list(keys)).select(
        *keys, "n_pairs", "slope",
        (F.col("__y__") - F.col("slope") * F.col("__x__")).alias("__r__"),
    )
    out = resid.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("n_pairs").alias("n_pairs"),
        F.min("slope").alias("slope"),
        F.percentile("__r__", F.lit(0.5)).alias("intercept"),
    )
    return out.select(*keys, "n", "n_pairs", "slope", "intercept")


def iv_estimate(
    df: DataFrame,
    instrument_col: str,
    treatment_col: str,
    outcome_col: str,
) -> DataFrame:
    """Instrumental-variables (2SLS, single instrument) causal estimate
    — the workhorse when treatment is endogenous but an instrument z
    shifts it exogenously:

        β_IV = Cov(z, y) / Cov(z, x)
             = (n·Σzy − Σz·Σy) / (n·Σzx − Σz·Σx)

    plus the first-stage slope (n·Σzx − Σz·Σx)/(n·Σzz − (Σz)²) — a weak
    instrument shows up as a tiny first stage.  Every moment is an
    exact BIGINT from integer-scaled inputs; both estimates are single
    divides of exact products (the LATE/Wald ratio when z is binary).
    One hash aggregation.  Returns (n, beta_iv, first_stage,
    reduced_form).
    """
    z = F.col(instrument_col).cast("long")
    x = F.col(treatment_col).cast("long")
    y = F.col(outcome_col).cast("long")
    g = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(z).cast("long").alias("sz"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(z * x).cast("long").alias("szx"),
        F.sum(z * y).cast("long").alias("szy"),
        F.sum(z * z).cast("long").alias("szz"),
    )
    n = F.col("n")
    cov_zy = n * F.col("szy") - F.col("sz") * F.col("sy")
    cov_zx = n * F.col("szx") - F.col("sz") * F.col("sx")
    var_z = n * F.col("szz") - F.col("sz") * F.col("sz")
    return g.select(
        "n",
        F.when(cov_zx != 0, cov_zy / cov_zx).alias("beta_iv"),
        F.when(var_z != 0, cov_zx / var_z).alias("first_stage"),
        F.when(var_z != 0, cov_zy / var_z).alias("reduced_form"),
    )


def forecast_ensemble_imae(
    df: DataFrame,
    keys: list[str],
    actual_col: str,
    fa_col: str,
    fb_col: str,
) -> DataFrame:
    """Inverse-MAE weighted two-model forecast combination — the
    simplest ensemble that reliably beats both members: per key, weight
    each model by the OTHER model's MAE,

        blend = (f_a·mae_b + f_b·mae_a) / (mae_a + mae_b)

    so the better model (smaller MAE) gets the larger weight.
    Exactness: per-key MAEs are integer sums; the blend numerator and
    denominator are exact BIGINTs per row, and the blended error is
    reported in DENOMINATOR-SCALED integer form (|y·den − num| sums
    exactly) — the comparison "did the blend beat both members" is
    integer cross-multiplication, no float MAE is compared.  Two passes
    (MAE agg + broadcast-back blend).  Returns per key: (n, mae_a_sum,
    mae_b_sum, blend_abs_err_sum_scaled, mae_a, mae_b, mae_blend).
    """
    y = F.col(actual_col).cast("long")
    fa = F.col(fa_col).cast("long")
    fb = F.col(fb_col).cast("long")
    maes = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.abs(fa - y)).cast("long").alias("ea"),
        F.sum(F.abs(fb - y)).cast("long").alias("eb"),
    )
    j = df.join(F.broadcast(maes), on=keys)
    num = fa * F.col("eb") + fb * F.col("ea")
    den = F.col("ea") + F.col("eb")
    scaled_err = F.abs(y * den - num)
    g = j.groupBy(*keys).agg(
        F.min("n").alias("n"),
        F.min("ea").alias("mae_a_sum"),
        F.min("eb").alias("mae_b_sum"),
        F.sum(scaled_err).cast("long").alias("blend_err_scaled"),
    )
    den_g = F.col("mae_a_sum") + F.col("mae_b_sum")
    return g.select(
        *keys, "n", "mae_a_sum", "mae_b_sum", "blend_err_scaled",
        (F.col("mae_a_sum") / F.col("n")).alias("mae_a"),
        (F.col("mae_b_sum") / F.col("n")).alias("mae_b"),
        F.when(den_g > 0, F.col("blend_err_scaled") / (F.col("n") * den_g)).alias("mae_blend"),
    )


def multilabel_prf(
    df: DataFrame,
    true_col: str,
    pred_col: str,
) -> DataFrame:
    """Micro-averaged multi-label precision/recall/F1 plus exact-match
    (subset) accuracy — the eval block for taggers and multi-label
    classifiers whose rows carry label ARRAYS.

    Per-row intersection sizes come from ``array_intersect`` on
    DISTINCT label sets (set semantics in both engines); the micro
    forms are single divides of exact BIGINT sums,

        P = Σ|t∩p| / Σ|p| ,  R = Σ|t∩p| / Σ|t| ,  F1 = 2PR/(P+R)
          = 2Σ|t∩p| / (Σ|p| + Σ|t|)   (the all-integer form used here)

    and exact-match counts rows whose sets are equal.  One hash agg;
    per-row macro averages are deliberately absent (a float mean no
    engine pair folds identically — ORACLES.md rule 22).  Returns
    (n, inter_sum, pred_sum, true_sum, n_exact, micro_p, micro_r,
    micro_f1, subset_accuracy).
    """
    t = F.array_distinct(F.col(true_col))
    p = F.array_distinct(F.col(pred_col))
    inter = F.size(F.array_intersect(t, p))
    eq = (F.size(F.array_except(t, p)) == 0) & (F.size(F.array_except(p, t)) == 0)
    g = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(inter).cast("long").alias("inter_sum"),
        F.sum(F.size(p)).cast("long").alias("pred_sum"),
        F.sum(F.size(t)).cast("long").alias("true_sum"),
        F.sum(eq.cast("long")).cast("long").alias("n_exact"),
    )
    return g.select(
        "n", "inter_sum", "pred_sum", "true_sum", "n_exact",
        F.when(F.col("pred_sum") > 0, F.col("inter_sum") / F.col("pred_sum")).alias("micro_p"),
        F.when(F.col("true_sum") > 0, F.col("inter_sum") / F.col("true_sum")).alias("micro_r"),
        F.when(
            F.col("pred_sum") + F.col("true_sum") > 0,
            (2 * F.col("inter_sum")) / (F.col("pred_sum") + F.col("true_sum")),
        ).alias("micro_f1"),
        (F.col("n_exact") / F.col("n")).alias("subset_accuracy"),
    )


def rd_estimate(
    df: DataFrame,
    running_col: str,
    outcome_col: str,
    cutoff: int,
    bandwidth: int,
) -> DataFrame:
    """Sharp regression-discontinuity estimate: fit a separate OLS line
    to the outcome on each side of the cutoff within ``bandwidth`` of
    it, and report the jump (right intercept − left intercept, both
    evaluated AT the cutoff) — the causal effect when treatment flips
    deterministically at a threshold.

    Centering the running variable at the cutoff (x′ = x − c) makes the
    effect a plain intercept difference; both fits come from exact
    BIGINT moments in ONE conditional aggregation (no second scan), so
    slopes/intercepts/effect are fixed trees of single divides.
    Returns (n_left, n_right, slope_left, slope_right,
    intercept_left, intercept_right, effect).
    """
    x = (F.col(running_col).cast("long") - cutoff)
    y = F.col(outcome_col).cast("long")
    inb = (x >= -bandwidth) & (x <= bandwidth)
    right = (x >= 0).cast("long")
    sel = df.where(inb).select(x.alias("x"), y.alias("y"), right.alias("r"))
    g = sel.groupBy().agg(
        F.sum(1 - F.col("r")).cast("long").alias("nl"),
        F.sum("r").cast("long").alias("nr"),
        F.sum(F.col("x") * (1 - F.col("r"))).cast("long").alias("sxl"),
        F.sum(F.col("x") * F.col("r")).cast("long").alias("sxr"),
        F.sum(F.col("y") * (1 - F.col("r"))).cast("long").alias("syl"),
        F.sum(F.col("y") * F.col("r")).cast("long").alias("syr"),
        F.sum(F.col("x") * F.col("x") * (1 - F.col("r"))).cast("long").alias("sxxl"),
        F.sum(F.col("x") * F.col("x") * F.col("r")).cast("long").alias("sxxr"),
        F.sum(F.col("x") * F.col("y") * (1 - F.col("r"))).cast("long").alias("sxyl"),
        F.sum(F.col("x") * F.col("y") * F.col("r")).cast("long").alias("sxyr"),
    )
    def fit(n, sx, sy, sxx, sxy):
        den = n * F.col(sxx) - F.col(sx) * F.col(sx)
        slope = F.when(den != 0, (n * F.col(sxy) - F.col(sx) * F.col(sy)) / den)
        intercept = (F.col(sy) - slope * F.col(sx)) / n
        return slope, intercept
    sl, il = fit(F.col("nl"), "sxl", "syl", "sxxl", "sxyl")
    sr, ir = fit(F.col("nr"), "sxr", "syr", "sxxr", "sxyr")
    return g.select(
        F.col("nl").alias("n_left"), F.col("nr").alias("n_right"),
        sl.alias("slope_left"), sr.alias("slope_right"),
        il.alias("intercept_left"), ir.alias("intercept_right"),
        (ir - il).alias("effect"),
    )


def hodges_lehmann(
    df: DataFrame,
    keys: list[str],
    val_col: str,
    max_n: int | None = 500,
) -> DataFrame:
    """Hodges-Lehmann location estimator per key: the median of all
    pairwise Walsh averages (x_i + x_j)/2 over i ≤ j — the robust
    location estimate associated with the Wilcoxon test (~29%
    breakdown, ~95% Gaussian efficiency, far less affected by skew than
    the mean).

    Walsh averages of integers are exact half-integers (one /2 of an
    exact sum), so the pair multiset is bit-identical cross-engine and
    its exact median matches.  The pair join is per-key quadratic —
    ``max_n`` caps series length; run it on pre-aggregated series at
    scale (the theil_sen_full contract).  Returns
    (keys…, n, n_pairs, hl_estimate).
    """
    x = F.col(val_col).cast("long")
    base = df.select(*keys, x.alias("__x__"), F.monotonically_increasing_id().alias("__i__"))
    if max_n is not None:
        w = Window.partitionBy(*keys)
        base = base.withColumn("__n__", F.count(F.lit(1)).over(w)).where(
            F.col("__n__") <= max_n
        ).drop("__n__")
    a = base.select(*keys, F.col("__x__").alias("xa"), F.col("__i__").alias("ia"))
    b = base.select(*keys, F.col("__x__").alias("xb"), F.col("__i__").alias("ib"))
    pairs = a.join(b, on=list(keys)).where(F.col("ia") <= F.col("ib")).select(
        *keys, ((F.col("xa") + F.col("xb")) / 2).alias("walsh")
    )
    meta = base.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n"))
    est = pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.percentile("walsh", F.lit(0.5)).alias("hl_estimate"),
    )
    return meta.join(est, on=list(keys)).select(*keys, "n", "n_pairs", "hl_estimate")


def raking_ipf(
    df: DataFrame,
    row_col: str,
    col_col: str,
    row_targets: dict,
    col_targets: dict,
) -> DataFrame:
    """Survey raking (one full IPF cycle): adjust cell weights so the
    weighted table hits literal ROW targets exactly and COL targets
    after the column pass — the post-stratification workhorse when only
    marginal population totals are known.

        f_r = T_r / n_r              (row factor, one divide)
        m_c = Σ_r n_rc · f_r         (FIXED literal-order sum — the row
                                      domain comes from ``row_targets``,
                                      so the fold is a fixed expression,
                                      never a float aggregation)
        g_c = U_c / m_c              (column factor)
        w_rc = f_r · g_c

    Exactness: counts are BIGINTs; factors and weights are fixed float
    trees over them — engine-identical.  One (row, col) hash agg; the
    cell grid is category-sized and broadcasts.  Returns one row per
    cell: (row, col, n, row_factor, col_factor, weight,
    weighted_mass).
    """
    rows = list(row_targets.items())
    cols = list(col_targets.items())
    cell = df.groupBy(
        F.col(row_col).alias("__r__"), F.col(col_col).alias("__c__")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    rown = cell.groupBy("__r__").agg(F.sum("n").cast("long").alias("__nr__"))
    cellf = cell.join(F.broadcast(rown), on="__r__")
    # row factor as a literal CASE over the target dict
    fexpr = None
    for rv, tr in rows:
        cond = F.col("__r__") == F.lit(rv)
        val = F.lit(int(tr)).cast("double") / F.col("__nr__")
        fexpr = F.when(cond, val) if fexpr is None else fexpr.when(cond, val)
    cellf = cellf.withColumn("row_factor", fexpr)
    # column mass m_c = Σ_r n_rc·f_r in FIXED row order: pivot rows to columns
    piv = cellf.groupBy("__c__").agg(
        *[
            F.coalesce(
                F.min(F.when(F.col("__r__") == F.lit(rv), F.col("n") * F.col("row_factor"))),
                F.lit(0.0),
            ).alias(f"__m{i}__")
            for i, (rv, _) in enumerate(rows)
        ]
    )
    m = None
    for i in range(len(rows)):
        t = F.col(f"__m{i}__")
        m = t if m is None else m + t
    gexpr = None
    for cv, uc in cols:
        cond = F.col("__c__") == F.lit(cv)
        val = F.lit(int(uc)).cast("double") / m
        gexpr = F.when(cond, val) if gexpr is None else gexpr.when(cond, val)
    colf = piv.select("__c__", gexpr.alias("col_factor"))
    out = cellf.join(F.broadcast(colf), on="__c__")
    return out.select(
        F.col("__r__").alias(row_col), F.col("__c__").alias(col_col), "n",
        "row_factor", "col_factor",
        (F.col("row_factor") * F.col("col_factor")).alias("weight"),
        (F.col("n") * F.col("row_factor") * F.col("col_factor")).alias("weighted_mass"),
    )


def mrr_at_k(
    df: DataFrame,
    query_cols: list[str],
    rank_col: str,
    rel_col: str,
    k: int,
) -> DataFrame:
    """Mean Reciprocal Rank @k — the third classic ranking metric beside
    :func:`ndcg_at_k` and :func:`map_at_k`: per query, 1/rank of the
    FIRST relevant result within the top k (0 if none).

    Exact form: with L = lcm(1..k), the per-query score L/first_rank is
    an exact BIGINT, so the cross-query mean is one divide of exact
    sums — no float reciprocals ever aggregate.  Returns the per-query
    relation (query…, first_rel_rank, rr_scaled) plus a 1-row global
    (n_queries, mrr) via a second agg; callers wanting just the global
    can aggregate ``rr_scaled`` themselves.  This function returns the
    PER-QUERY relation with the global columns broadcast onto it.
    """
    import math

    L = math.lcm(*range(1, k + 1))
    rel = F.col(rel_col).cast("long")
    d = df.select(
        *query_cols, F.col(rank_col).cast("long").alias("__rk__"), rel.alias("__rel__")
    )
    per = d.groupBy(*query_cols).agg(
        F.min(
            F.when((F.col("__rel__") > 0) & (F.col("__rk__") <= k), F.col("__rk__"))
        ).alias("first_rel_rank")
    )
    rr_scaled = F.when(
        F.col("first_rel_rank").isNotNull(),
        F.lit(int(L)).cast("long") / F.col("first_rel_rank"),
    ).otherwise(F.lit(0.0))
    per = per.withColumn("rr_scaled", rr_scaled.cast("long"))
    glob = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("rr_scaled").cast("long").alias("rr_sum_scaled"),
    )
    out = per.crossJoin(F.broadcast(glob))
    return out.select(
        *query_cols, "first_rel_rank", "rr_scaled", "n_queries",
        (F.col("rr_sum_scaled") / (F.lit(int(L)) * F.col("n_queries"))).alias("mrr"),
    )


def mcnemar_test(
    df: DataFrame,
    keys: list[str],
    truth_col: str,
    pred_a_col: str,
    pred_b_col: str,
    continuity: bool = True,
) -> DataFrame:
    """McNemar paired test comparing two classifiers on the SAME rows:
    with b = (A right, B wrong) and c = (A wrong, B right) discordant
    counts, χ² = (|b−c|−1)²/(b+c) (continuity-corrected; set
    ``continuity=False`` for the plain (b−c)²/(b+c)).

    b and c are exact integers from one fused conditional aggregate, so
    the statistic is ONE divide — engine-identical, and a paired
    difference can never sit on a float boundary.  Returns
    (keys…, n, b_only_a, c_only_b, chi2).
    """
    ra = F.col(pred_a_col) == F.col(truth_col)
    rb = F.col(pred_b_col) == F.col(truth_col)
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((ra & ~rb).cast("long")).cast("long").alias("b_only_a"),
        F.sum((~ra & rb).cast("long")).cast("long").alias("c_only_b"),
    )
    b, c = F.col("b_only_a"), F.col("c_only_b")
    num = (
        (F.abs(b - c) - 1) * (F.abs(b - c) - 1)
        if continuity
        else (b - c) * (b - c)
    )
    return agg.select(
        *keys, "n", "b_only_a", "c_only_b",
        F.when(b + c > 0, num / (b + c)).alias("chi2"),
    )


def fleiss_kappa(
    df: DataFrame,
    keys: list[str],
    item_col: str,
    category_col: str,
    n_raters: int,
) -> DataFrame:
    """Fleiss' kappa for FIXED-size multi-rater agreement: each item
    carries exactly ``n_raters`` categorical ratings;

        P̄ = (ΣᵢΣⱼ n²ᵢⱼ − N·n) / (N·n·(n−1))      (observed agreement)
        Pₑ = Σⱼ Cⱼ² / (N·n)²                      (chance agreement)
        κ  = (P̄ − Pₑ) / (1 − Pₑ)

    Both P̄ and Pₑ are ONE divide of exact BIGINTs (same denominator
    inside each sum — no varying-denominator rational sums), and κ is
    a fixed float tree over those two exact doubles.  Two hash aggs
    ((item, category) counts → moments).  Returns (keys…, n_items,
    n_raters, p_bar, p_e, kappa).
    """
    cnt = df.groupBy(*keys, item_col, category_col).agg(
        F.count(F.lit(1)).cast("long").alias("__c__")
    )
    per_key = cnt.groupBy(*keys).agg(
        F.count_distinct(F.col(item_col)).cast("long").alias("n_items"),
        F.sum(F.col("__c__") * F.col("__c__")).cast("long").alias("__ss__"),
    )
    cat = cnt.groupBy(*keys, category_col).agg(F.sum("__c__").cast("long").alias("__cj__"))
    catm = cat.groupBy(*keys).agg(
        F.sum(F.col("__cj__") * F.col("__cj__")).cast("long").alias("__cb__")
    )
    m = per_key.join(catm, on=keys)
    n = F.lit(int(n_raters))
    N = F.col("n_items")
    p_bar = (F.col("__ss__") - N * n) / (N * n * (n - 1))
    p_e = F.col("__cb__") / ((N * n) * (N * n))
    return m.select(
        *keys,
        "n_items",
        n.cast("long").alias("n_raters"),
        p_bar.alias("p_bar"),
        p_e.alias("p_e"),
        F.when(p_e < 1.0, (p_bar - p_e) / (F.lit(1.0) - p_e)).alias("kappa"),
    )


def two_prop_z(
    df: DataFrame,
    keys: list[str],
    group_col,
    success_col,
) -> DataFrame:
    """Two-proportion z-test per key (the A/B readout primitive):
    z = (p₁ − p₂) / √(p̄(1−p̄)·(n₁+n₂)/(n₁n₂)) with pooled p̄.

    Every operand is an exact integer ratio from ONE fused conditional
    aggregate, and z is a fixed float tree (two divides, one sqrt) over
    those exact doubles — engine-identical, no float accumulation.
    Returns (keys…, n1, x1, n2, x2, p1, p2, z).
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    s = F.col(success_col) if isinstance(success_col, str) else success_col
    agg = df.groupBy(*keys).agg(
        F.sum(g.cast("long")).cast("long").alias("n1"),
        F.sum((g & s).cast("long")).cast("long").alias("x1"),
        F.sum((~g).cast("long")).cast("long").alias("n2"),
        F.sum((~g & s).cast("long")).cast("long").alias("x2"),
    )
    n1, x1, n2, x2 = F.col("n1"), F.col("x1"), F.col("n2"), F.col("x2")
    p1 = x1 / n1
    p2 = x2 / n2
    p = (x1 + x2) / (n1 + n2)
    v = (p * (F.lit(1.0) - p)) * ((n1 + n2) / (n1 * n2))
    return agg.select(
        *keys, "n1", "x1", "n2", "x2",
        p1.alias("p1"), p2.alias("p2"),
        F.when((n1 > 0) & (n2 > 0) & (x1 + x2 > 0) & (x1 + x2 < n1 + n2),
               (p1 - p2) / F.sqrt(v)).alias("z"),
    )


# Standard normal quantiles for alpha=0.05 (two-sided) and power=0.80,
# shipped as shared string literals so both engines hold identical
# doubles (DuckDB decimal-literal lesson).
Z_ALPHA_05 = 1.959963984540054
Z_BETA_80 = 0.8416212335729143


def sample_size_plan(
    df: DataFrame,
    keys: list[str],
    success_col,
    mdes_pp: list[int],
) -> DataFrame:
    """Experiment sample-size planner per key: from the observed
    baseline rate p₁ = x/n, the per-arm n required to detect each
    absolute lift in ``mdes_pp`` (percentage points) at α=0.05 /
    power 0.80:

        n = (z_α + z_β)² · (p₁(1−p₁) + p₂(1−p₂)) / (p₂ − p₁)²

    p₁ is an exact ratio, p₂ = p₁ + mde/100 a fixed float add, and the
    whole formula a fixed tree — the emitted ``required_n`` is
    floor(n)+1 in BOTH engines (strictly-next-integer: deterministic
    on identical doubles, no ceil boundary case).  The MDE grid
    explodes from a literal array.  Returns (keys…, n_obs, baseline,
    mde_pp, required_n).
    """
    s = F.col(success_col) if isinstance(success_col, str) else success_col
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(s.cast("long")).cast("long").alias("__x__"),
    )
    grid = agg.select(
        *keys, "n_obs", "__x__",
        F.explode(F.array(*[F.lit(int(m)) for m in mdes_pp])).alias("mde_pp"),
    )
    p1 = F.col("__x__") / F.col("n_obs")
    p2 = p1 + F.col("mde_pp") / F.lit(100.0)
    zsum = F.lit(Z_ALPHA_05) + F.lit(Z_BETA_80)
    nreq = (zsum * zsum) * (p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2)) / (
        (p2 - p1) * (p2 - p1)
    )
    return grid.select(
        *keys, "n_obs",
        p1.alias("baseline"),
        F.col("mde_pp").cast("long").alias("mde_pp"),
        F.when(p2 < 1.0, (F.floor(nreq) + 1).cast("long")).alias("required_n"),
    )


def cramers_v(
    df: DataFrame,
    cat_col: str,
    flag_col,
    categories: list[str],
) -> DataFrame:
    """Chi-square test of independence + Cramér's V for a k×2
    contingency table with a FIXED literal category list: per-cell
    (O·N − row·col)² / (N·row·col) terms summed in literal order — a
    fixed expression tree, never a float hash-agg (cells pivot to
    2k conditional sums in ONE aggregate; the dev² square is taken in
    DOUBLE since dev can pass 2^31.5).

        V = √(χ² / (N·min(r−1, c−1)))  =  √(χ²/N) for two columns.

    Returns one row: (n, chi2, dof, cramers_v).
    """
    f = F.col(flag_col) if isinstance(flag_col, str) else flag_col
    aggs = []
    for i, c in enumerate(categories):
        e = F.col(cat_col) == c
        aggs.append(F.sum((e & f).cast("long")).cast("long").alias(f"__x{i}__"))
        aggs.append(F.sum((e & ~f).cast("long")).cast("long").alias(f"__y{i}__"))
    agg = df.agg(*aggs)
    k = len(categories)
    xs = [F.col(f"__x{i}__") for i in range(k)]
    ys = [F.col(f"__y{i}__") for i in range(k)]
    c1 = xs[0]
    for t in xs[1:]:
        c1 = c1 + t
    c2 = ys[0]
    for t in ys[1:]:
        c2 = c2 + t
    n = c1 + c2
    chi2 = None
    for i in range(k):
        ra = xs[i] + ys[i]
        dev1 = (xs[i] * n - ra * c1).cast("double")
        dev2 = (ys[i] * n - ra * c2).cast("double")
        t1 = F.when(ra > 0, (dev1 * dev1) / (n * ra * c1)).otherwise(F.lit(0.0))
        t2 = F.when(ra > 0, (dev2 * dev2) / (n * ra * c2)).otherwise(F.lit(0.0))
        cell = t1 + t2
        chi2 = cell if chi2 is None else chi2 + cell
    return agg.select(
        n.cast("long").alias("n"),
        chi2.alias("chi2"),
        F.lit(k - 1).cast("long").alias("dof"),
        F.sqrt(chi2 / n).alias("cramers_v"),
    )


def weighted_kappa(df: DataFrame, rater_a_col: str, rater_b_col: str) -> DataFrame:
    """Quadratically weighted Cohen's κ for ORDINAL ratings — the
    standard agreement metric when disagreeing by one grade should
    cost less than disagreeing by four:

        κ_w = 1 − (n · Σ_ij w_ij O_ij) / (Σ_ij w_ij r_i c_j),
        w_ij = (i − j)².

    One contingency aggregate gives the observed cells O_ij; marginals
    come from re-aggregating the (tiny) cell relation; the expected
    term is a cross join of the two marginal relations (L² rows,
    broadcast).  Every sum is an exact BIGINT (keep n·Σw·O under 2^63:
    fine for any L ≤ ~50 ordinal scale at billions of rows), κ_w is
    ONE divide.  Returns (n, sum_w_obs, sum_w_exp, kappa_w).
    """
    a, b = F.col(rater_a_col).cast("long"), F.col(rater_b_col).cast("long")
    cont = df.groupBy(a.alias("ca"), b.alias("cb")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wobs = cont.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")) * F.col("cnt"))
        .cast("long")
        .alias("sum_w_obs"),
    )
    rows_ = cont.groupBy("ca").agg(F.sum("cnt").cast("long").alias("row_n"))
    cols_ = cont.groupBy("cb").agg(F.sum("cnt").cast("long").alias("col_n"))
    wexp = (
        rows_.crossJoin(F.broadcast(cols_))
        .agg(
            F.sum(
                (F.col("ca") - F.col("cb"))
                * (F.col("ca") - F.col("cb"))
                * F.col("row_n")
                * F.col("col_n")
            )
            .cast("long")
            .alias("sum_w_exp")
        )
    )
    j = wobs.crossJoin(F.broadcast(wexp))
    return j.select(
        "n", "sum_w_obs", "sum_w_exp",
        F.when(
            F.col("sum_w_exp") != 0,
            1 - (F.col("n") * F.col("sum_w_obs")) / F.col("sum_w_exp"),
        ).alias("kappa_w"),
    )


def ransac_line(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    n_rounds: int = 3,
    threshold: int = 1000,
) -> DataFrame:
    """Deterministic RANSAC line fit on integer coordinates: each round
    draws a 2-point sample by PORTABLE HASH ORDER (md5 of id:round —
    no RNG, replayable in any engine), forms the exact rational model
    through the pair, and counts inliers with the fully cross-
    multiplied residual test

        |y·dx − x·dy − (y1·dx − x1·dy)| ≤ threshold·|dx|

    — every term a BIGINT, so membership can never sit on a float
    boundary.  The second sample point is the hash-first point with
    x ≠ x1 (slope always defined).  Returns one row per round
    (sel_round, x1, y1, x2, y2, n_inliers, is_best); is_best marks the
    consensus model(s).

    Scale shape: per round two TakeOrdered(1) probes + one broadcast
    1-row cross join + one count agg over the corpus — the corpus
    never shuffles; rounds are bounded and ARE the algorithm (the
    fixed-round RANSAC budget)."""
    pts = df.select(
        F.col(id_col).alias("__id__"),
        F.col(x_col).cast("long").alias("__x__"),
        F.col(y_col).cast("long").alias("__y__"),
    ).persist()
    rows = []
    for rnd in range(1, n_rounds + 1):
        h = F.md5(F.concat(F.col("__id__").cast("string"), F.lit(f":{rnd}")))
        p1 = pts.orderBy(h.alias("__h__")).limit(1).collect()[0]
        x1, y1 = int(p1["__x__"]), int(p1["__y__"])
        p2 = (
            pts.where(F.col("__x__") != x1)
            .orderBy(h.alias("__h__"))
            .limit(1)
            .collect()[0]
        )
        x2, y2 = int(p2["__x__"]), int(p2["__y__"])
        dx, dy = x2 - x1, y2 - y1
        c = y1 * dx - x1 * dy
        resid = F.abs(F.col("__y__") * dx - F.col("__x__") * dy - c)
        n_in = pts.agg(
            F.sum(F.when(resid <= threshold * abs(dx), 1).otherwise(0))
            .cast("long")
            .alias("n")
        ).collect()[0]["n"]
        rows.append((rnd, x1, y1, x2, y2, int(n_in)))
    pts.unpersist()
    # rows are already driver-side (one per round): flag the consensus in
    # Python rather than spinning up a global window over a local relation
    best = max(r[5] for r in rows)
    rows = [r + (r[5] == best,) for r in rows]
    return df.sparkSession.createDataFrame(
        rows,
        "sel_round bigint, x1 bigint, y1 bigint, x2 bigint, y2 bigint, "
        "n_inliers bigint, is_best boolean",
    )


def fairness_audit(
    df: DataFrame,
    group_col: str,
    y_true_col: str,
    y_pred_col: str,
    gap_threshold_ppm: int = 100_000,
) -> DataFrame:
    """Group-fairness audit for a binary classifier: per protected
    group the selection rate, TPR and FPR as exact integer ppm
    (count·1e6 DIV base — no float rate can sit on a boundary), plus
    the cross-group max−min gaps (demographic parity on selection
    rate, equalized odds on TPR/FPR) and a pass flag per the ppm
    threshold.  One conditional-agg contingency pass per group; the
    gap columns ride a window over the tiny per-group relation.
    """
    t = F.col(y_true_col).cast("long")
    p = F.col(y_pred_col).cast("long")
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(p).cast("long").alias("n_selected"),
        F.sum(t).cast("long").alias("n_pos"),
        F.sum(t * p).cast("long").alias("tp"),
        F.sum((1 - t) * p).cast("long").alias("fp"),
    )
    rates = g.select(
        "grp", "n", "n_selected", "n_pos",
        F.expr("(n_selected * 1000000) DIV n").alias("sel_ppm"),
        F.expr("CASE WHEN n_pos > 0 THEN (tp * 1000000) DIV n_pos END").alias("tpr_ppm"),
        F.expr("CASE WHEN n - n_pos > 0 THEN (fp * 1000000) DIV (n - n_pos) END").alias("fpr_ppm"),
    )
    wall = Window.partitionBy()
    gap = lambda c: F.max(c).over(wall) - F.min(c).over(wall)  # noqa: E731
    out = rates.select(
        "grp", "n", "n_selected", "n_pos", "sel_ppm", "tpr_ppm", "fpr_ppm",
        gap(F.col("sel_ppm")).alias("parity_gap_ppm"),
        gap(F.col("tpr_ppm")).alias("tpr_gap_ppm"),
        gap(F.col("fpr_ppm")).alias("fpr_gap_ppm"),
    )
    thr = F.lit(int(gap_threshold_ppm)).cast("long")
    return out.withColumn(
        "passes",
        (F.col("parity_gap_ppm") <= thr)
        & (F.col("tpr_gap_ppm") <= thr)
        & (F.col("fpr_gap_ppm") <= thr),
    )


def ps_stratified_ate(
    df: DataFrame,
    bucket_col: str,
    treat_col: str,
    outcome_col: str,
    n_strata: int = 3,
) -> DataFrame:
    """Propensity-score-stratified average treatment effect — the
    workhorse observational-causal estimator alongside DiD/IV/RD:
    covariate buckets get an empirical propensity (treated share in
    exact integer ppm — never a float to bin on), buckets rank into
    ``n_strata`` strata by that ppm (integer-DIV cut under a (ppm,
    bucket) total order), and the ATE is the stratum-size-weighted sum
    of within-stratum mean differences.

    Every mean is ONE divide of exact BIGINTs; the final ATE combines
    the ≤ ``n_strata`` stratum terms as a FIXED-ORDER pivoted
    expression (the Cramér's-V fixed-cell unroll — no float hash-agg
    sum anywhere).  Returns one row: (n_total, ate, and per-stratum
    n_s / diff_s columns).
    """
    t = F.col(treat_col).cast("long")
    y = F.col(outcome_col).cast("long")
    b = df.groupBy(F.col(bucket_col).alias("bkt")).agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum(t).cast("long").alias("nt_b"),
        F.sum(t * y).cast("long").alias("sy1"),
        F.sum((1 - t) * y).cast("long").alias("sy0"),
    )
    ranked = b.select(
        "*", F.expr("(nt_b * 1000000) DIV n_b").alias("ppm")
    ).select(
        "*",
        F.row_number()
        .over(Window.partitionBy().orderBy("ppm", "bkt"))
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nbkt"),
    )
    strata = ranked.select(
        "*", F.expr(f"((rk - 1) * {int(n_strata)}) DIV nbkt").alias("stratum")
    )
    s = strata.groupBy("stratum").agg(
        F.sum("n_b").cast("long").alias("n_s"),
        F.sum("nt_b").cast("long").alias("n1"),
        F.sum(F.col("n_b") - F.col("nt_b")).cast("long").alias("n0"),
        F.sum("sy1").cast("long").alias("s1"),
        F.sum("sy0").cast("long").alias("s0"),
    )
    cells = []
    for k in range(n_strata):
        is_k = F.col("stratum") == k
        cells += [
            F.coalesce(F.max(F.when(is_k, F.col("n_s"))), F.lit(0).cast("long")).alias(f"n_s{k}"),
            F.max(
                F.when(
                    is_k & (F.col("n1") > 0) & (F.col("n0") > 0),
                    F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0"),
                )
            ).alias(f"diff_s{k}"),
        ]
    wide = s.agg(*cells)
    total = " + ".join(f"n_s{k}" for k in range(n_strata))
    ate = " + ".join(
        f"coalesce(n_s{k} * diff_s{k}, CAST(0.0 AS DOUBLE))" for k in range(n_strata)
    )
    return wide.select(
        "*",
        F.expr(f"({total})").alias("n_total"),
        F.expr(f"({ate}) / ({total})").alias("ate"),
    )


def huber_fit(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    k: int = 10,
    n_rounds: int = 2,
) -> DataFrame:
    """Huber-loss robust line fit via bounded IRLS rounds: an exact-
    integer OLS seed, then per round the Huber weights w = min(1,
    k/|resid|) reweight a closed-form WLS whose five moment sums are
    ID-ORDERED LEFT FOLDS over the point set (F.aggregate /
    list_reduce — the only engine-exact way to sum data-dependent
    floats).  Bounded rounds ARE the algorithm (IRLS budget, the
    pagerank contract); run it on a bounded sample (folds materialize
    the point list per group).  Returns one row with the seed and
    per-round (slope, intercept).
    """
    pts = df.select(
        F.col(id_col).alias("__id__"),
        F.col(x_col).cast("long").alias("__x__"),
        F.col(y_col).cast("long").alias("__y__"),
    )
    seed = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x__").cast("long").alias("sx"),
        F.sum("__y__").cast("long").alias("sy"),
        F.sum(F.col("__x__") * F.col("__x__")).cast("long").alias("sxx"),
        F.sum(F.col("__x__") * F.col("__y__")).cast("long").alias("sxy"),
        F.array_sort(F.collect_list(F.struct("__id__", "__x__", "__y__"))).alias("__pts__"),
    )
    a = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    b = (F.col("sy") - a * F.col("sx")) / F.col("n")
    cur = seed.select("n", "__pts__", a.alias("a0"), b.alias("b0"))
    for rnd in range(1, n_rounds + 1):
        pa, pb = F.col(f"a{rnd - 1}"), F.col(f"b{rnd - 1}")

        def _w(s, pa=pa, pb=pb):
            r = F.abs(s.getField("__y__") - (pa * s.getField("__x__") + pb))
            return F.when(r <= k, F.lit(1.0)).otherwise(k / r)

        def _fold(term):
            return F.aggregate(
                F.transform(F.col("__pts__"), term), F.lit(0.0), lambda acc, v: acc + v
            )

        # stage each fold as its own column — inlining them into the
        # slope/intercept formulas would re-run the O(n) folds once per
        # reference (catalyst HOF re-evaluation)
        cur = cur.select(
            "*",
            _fold(lambda s: _w(s)).alias("__sw__"),
            _fold(lambda s: _w(s) * s.getField("__x__")).alias("__swx__"),
            _fold(lambda s: _w(s) * s.getField("__y__")).alias("__swy__"),
            _fold(lambda s: _w(s) * s.getField("__x__") * s.getField("__x__")).alias("__swxx__"),
            _fold(lambda s: _w(s) * s.getField("__x__") * s.getField("__y__")).alias("__swxy__"),
        )
        sw, swx, swy = F.col("__sw__"), F.col("__swx__"), F.col("__swy__")
        swxx, swxy = F.col("__swxx__"), F.col("__swxy__")
        an = (sw * swxy - swx * swy) / (sw * swxx - swx * swx)
        cur = cur.select("*", an.alias(f"a{rnd}"))
        cur = cur.select(
            "*",
            ((swy - F.col(f"a{rnd}") * swx) / sw).alias(f"b{rnd}"),
        ).drop("__sw__", "__swx__", "__swy__", "__swxx__", "__swxy__")
    return cur.drop("__pts__")


def acf_ljung_box(
    df: DataFrame,
    keys: list[str],
    val_col,
    order: list[str],
    max_lag: int = 5,
) -> DataFrame:
    """Autocorrelation function r_1..r_m per series plus the Ljung-Box
    portmanteau statistic Q = n(n+2)·Σ r_k²/(n−k) — the standard
    whiteness test.

    Exactness discipline (the q483 moments pattern): with integer
    inputs, every lag's numerator and the common denominator assemble
    from exact BIGINT sums multiplied through by n (r_k =
    [n²Σx_t·x_{t+k} − n·sx·(Σhead_k+Σtail_k) + (n−k)·sx²] /
    [n·(n·Σx² − sx²)]), so each r_k is ONE divide of two
    correctly-rounded int→double casts — engine-identical.  The lags
    come from lead() windows over the per-key order (partitioned — no
    global window), one aggregation total.  Q is a fixed expression
    tree over the r_k columns.  Keep per-key n²·Σx_t·x_{t+k} under
    2^63 (ANSI ARITHMETIC_OVERFLOW otherwise): the bound scales as
    n³·x², so integer inputs |x| ≤ 100 are safe only up to ~45k rows
    per series (100k rows needs |x| ≤ ~30).  For longer/larger series
    pre-scale or pre-demean the input to double instead."""
    x = F.col("__x__")
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
    d = df.select(*keys, F.col(val_col).cast("long").alias("__x__"), *order)
    for k in range(1, max_lag + 1):
        d = d.withColumn(f"__l{k}__", F.lead("__x__", k).over(w))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(x * x).cast("long").alias("sxx"),
    ]
    for k in range(1, max_lag + 1):
        lk = F.col(f"__l{k}__")
        aggs += [
            F.sum(x * lk).cast("long").alias(f"sxy{k}"),
            F.sum(F.when(lk.isNotNull(), x)).cast("long").alias(f"sh{k}"),
            F.sum(lk).cast("long").alias(f"st{k}"),
        ]
    g = d.groupBy(*keys).agg(*aggs)
    n = F.col("n")
    den = (n * (n * F.col("sxx") - F.col("sx") * F.col("sx"))).cast("double")
    out = g
    for k in range(1, max_lag + 1):
        num = (
            n * n * F.col(f"sxy{k}")
            - n * F.col("sx") * (F.col(f"sh{k}") + F.col(f"st{k}"))
            + (n - k) * F.col("sx") * F.col("sx")
        ).cast("double")
        out = out.withColumn(f"r{k}", num / den)
    q = None
    for k in range(1, max_lag + 1):
        term = F.col(f"r{k}") * F.col(f"r{k}") / (n - k).cast("double")
        q = term if q is None else q + term
    out = out.withColumn("q_stat", (n * (n + 2)).cast("double") * q)
    return out.select(*keys, "n", *[f"r{k}" for k in range(1, max_lag + 1)], "q_stat")


def cooks_distance(
    df: DataFrame,
    keys: list[str],
    x_col,
    y_col,
    id_cols: list[str],
) -> DataFrame:
    """Per-point regression influence diagnostics for y ~ x (simple
    OLS): leverage h_i = 1/n + (x_i−x̄)²/Sxx, residual e_i, and Cook's
    D_i = e_i²·h_i / (p·s²·(1−h_i)²) with p = 2 and s² = SSE/(n−2).

    One exact-BIGINT moment aggregation per key (n, Σx, Σy, Σxx, Σxy,
    Σyy) broadcast back to the rows; every per-row quantity is a fixed
    double expression tree over those integers — engine-identical, no
    float accumulations.  SSE assembles from the same moments
    (Syy − b1·Sxy form, kept in exact integer cross-multiples until the
    final divides)."""
    xi = F.col(x_col).cast("long")
    yi = F.col(y_col).cast("long")
    d = df.select(*keys, *id_cols, xi.alias("__x__"), yi.alias("__y__"))
    m = d.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x__").cast("long").alias("sx"),
        F.sum("__y__").cast("long").alias("sy"),
        F.sum(F.col("__x__") * F.col("__x__")).cast("long").alias("sxx"),
        F.sum(F.col("__x__") * F.col("__y__")).cast("long").alias("sxy"),
        F.sum(F.col("__y__") * F.col("__y__")).cast("long").alias("syy"),
    )
    j = d.join(F.broadcast(m), keys)
    n = F.col("n")
    sxx_c = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")  # n·Sxx
    sxy_c = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    syy_c = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    b1 = sxy_c / sxx_c
    # e_i = y_i − ȳ − b1(x_i − x̄), assembled via n-scaled integers
    dx = (n * F.col("__x__") - F.col("sx")).cast("double")  # n(x_i − x̄)
    dy = (n * F.col("__y__") - F.col("sy")).cast("double")
    e_n = (dy - b1 * dx) / n.cast("double")  # e_i
    h = F.lit(1.0) / n.cast("double") + (dx * dx) / (n.cast("double") * sxx_c)
    # Σe_i² = (Syy_c − b1·Sxy_c)/n  (both _c terms carry one factor n)
    sse = (syy_c - b1 * sxy_c) / n.cast("double")
    s2 = sse / (n - 2).cast("double")
    cook = (e_n * e_n) * h / (F.lit(2.0) * s2 * (F.lit(1.0) - h) * (F.lit(1.0) - h))
    return j.select(
        *keys, *id_cols,
        F.col("__x__").alias("x"), F.col("__y__").alias("y"),
        e_n.alias("residual"), h.alias("leverage"), cook.alias("cooks_d"),
    )


def crps_ensemble(
    df: DataFrame,
    keys: list[str],
    member_cols: list[str],
    obs_col,
) -> DataFrame:
    """Continuous ranked probability score for an m-member ensemble
    forecast against integer observations:  per case
    CRPS = (1/m)Σ|x_j − y| − (1/(2m²))ΣΣ|x_j − x_k|, averaged per
    group.  Exactness: each case's bracket 2m·Σ|x_j−y| − ΣΣ|x_j−x_k| is
    an exact BIGINT (integer members/observations), summed as BIGINT
    across cases; the group mean is ONE divide by (2m²·n) — no float
    accumulation anywhere (the brier_score discipline).  A case with
    any NULL member or observation has a NULL bracket; such cases are
    excluded from BOTH the numerator and n (count(bracket), not
    count(*)), so the mean divides by exactly the rows it summed."""
    m = len(member_cols)
    y = F.col(obs_col).cast("long")
    s1 = None
    for c in member_cols:
        t = F.abs(F.col(c).cast("long") - y)
        s1 = t if s1 is None else s1 + t
    s2 = None
    for a in member_cols:
        for b in member_cols:
            t = F.abs(F.col(a).cast("long") - F.col(b).cast("long"))
            s2 = t if s2 is None else s2 + t
    bracket = (F.lit(2 * m) * s1 - s2).cast("long")
    g = df.groupBy(*keys).agg(
        F.count(bracket).cast("long").alias("n"),
        F.sum(bracket).cast("long").alias("tot"),
    )
    return g.select(
        *keys, "n",
        (F.col("tot").cast("double") / (2 * m * m * F.col("n")).cast("double"))
        .alias("crps"),
    )


def vif3(
    df: DataFrame,
    keys: list[str],
    x1_col,
    x2_col,
    x3_col,
) -> DataFrame:
    """Variance inflation factors for a THREE-regressor design — the
    multicollinearity screen: VIF_i = 1/(1−R_i²) where R_i² regresses
    x_i on the other two; for three variables R_i² has the closed
    correlation-matrix form (r_jk² + r_jl² − 2·r_jk·r_jl·r_kl)/(1−r_kl²)
    so the whole diagnostic is a fixed double tree over the three
    pairwise correlations — which assemble from ONE exact-BIGINT moment
    aggregation (the q483 partial-correlation discipline).  Returns
    (keys…, n, r12, r13, r23, vif1, vif2, vif3)."""
    a = F.col(x1_col).cast("long")
    b = F.col(x2_col).cast("long")
    c = F.col(x3_col).cast("long")
    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(a).cast("long").alias("s1"),
        F.sum(b).cast("long").alias("s2"),
        F.sum(c).cast("long").alias("s3"),
        F.sum(a * a).cast("long").alias("s11"),
        F.sum(b * b).cast("long").alias("s22"),
        F.sum(c * c).cast("long").alias("s33"),
        F.sum(a * b).cast("long").alias("s12"),
        F.sum(a * c).cast("long").alias("s13"),
        F.sum(b * c).cast("long").alias("s23"),
    )
    n = F.col("n")

    def corr(sij, si, sj, sii, sjj):
        num = (n * F.col(sij) - F.col(si) * F.col(sj)).cast("double")
        den = F.sqrt(
            (n * F.col(sii) - F.col(si) * F.col(si)).cast("double")
            * (n * F.col(sjj) - F.col(sj) * F.col(sj)).cast("double")
        )
        return num / den

    g = (
        g.withColumn("r12", corr("s12", "s1", "s2", "s11", "s22"))
        .withColumn("r13", corr("s13", "s1", "s3", "s11", "s33"))
        .withColumn("r23", corr("s23", "s2", "s3", "s22", "s33"))
        # the cross term 2·r12·r13·r23 is the SAME quantity in all three
        # R²s — compute it ONCE in one fixed order. Spelling it per-VIF
        # with different associations invites Spark codegen''s
        # common-subexpression elimination to canonicalize the three
        # commutatively-reordered products as equal and substitute ONE
        # evaluation order for all — bit-diverging from an oracle that
        # evaluates each spelling as written (observed: one near-singular
        # series flipped vif2''s last 3 digits at sf0.001).
        .withColumn(
            "cross",
            F.lit(2.0) * F.col("r12") * F.col("r13") * F.col("r23"),
        )
    )

    def r2_of(rij, rik, rjk):
        # R² of x_i on (x_j, x_k); shared symmetric cross term
        return (
            F.col(rij) * F.col(rij) + F.col(rik) * F.col(rik) - F.col("cross")
        ) / (F.lit(1.0) - F.col(rjk) * F.col(rjk))

    return g.select(
        *keys, "n", "r12", "r13", "r23",
        (F.lit(1.0) / (F.lit(1.0) - r2_of("r12", "r13", "r23"))).alias("vif1"),
        (F.lit(1.0) / (F.lit(1.0) - r2_of("r12", "r23", "r13"))).alias("vif2"),
        (F.lit(1.0) / (F.lit(1.0) - r2_of("r13", "r23", "r12"))).alias("vif3"),
    )
