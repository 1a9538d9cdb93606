"""Binning: cut / qcut / quantile-bucket (SURVEY §2.8).

Reference: /root/reference/riptable/rt_bin.py — cut (:412) fixed-width or
explicit-edge binning, qcut (:155) quantile binning, label generation
(:290 _format_labels). Spark-first: ``width_bucket`` for fixed/explicit
edges (pure codegen); qcut computes edges with one exact-percentile agg
(collected — it is #quantiles scalars, not data) then reuses cut.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cut(col: Column, bins: int | list[float], lo: float | None = None, hi: float | None = None) -> Column:
    """Bin values; returns 1-based bin index like rt_bin.py:412 (bin 0 =
    out-of-range/invalid, matching the reference's filtered-bin-0 model).

    Interval convention is the REFERENCE'S (= pandas ``right=True``,
    rt_bin.py:540 doctest: cut([1,7,5,4,6,3], 3) puts 5 in '3.0->5.0'):
    bins are RIGHT-closed, (e_i, e_{i+1}], with the first bin also
    including its left edge, [e_0, e_1].

    With ``bins:int`` the caller supplies lo/hi (or pre-aggregates them);
    with explicit edges a chained CASE is emitted — still codegen.
    """
    if isinstance(bins, int):
        if lo is None or hi is None:
            raise ValueError("cut with int bins requires lo/hi bounds")
        # right-closed via width_bucket on the NEGATED axis: left-closed
        # buckets of -x over [-hi, -lo) are right-closed buckets of x
        # over (lo, hi]; x == lo (bucket bins+1 on the flipped axis) is
        # the first bin's included left edge.
        wb = F.width_bucket(-col, F.lit(-float(hi)), F.lit(-float(lo)), F.lit(bins))
        b = F.lit(bins) + 1 - wb
        return (
            F.when(col.isNull(), F.lit(0))
            .when(col == F.lit(float(lo)), F.lit(1))
            .when((b >= F.lit(1)) & (b <= F.lit(bins)), b)
            .otherwise(F.lit(0))
        )
    edges = [float(b) for b in bins]
    out = F.lit(0)
    for i in range(len(edges) - 1):
        lo_e, hi_e = edges[i], edges[i + 1]
        first = i == 0
        cond = ((col >= F.lit(lo_e)) if first else (col > F.lit(lo_e))) & (col <= F.lit(hi_e))
        out = F.when(cond, F.lit(i + 1)).otherwise(out)
    return out


def qcut(df: DataFrame, colname: str, q: int) -> DataFrame:
    """rt_bin.py:155 — quantile binning. One percentile aggregation
    (q+1 scalars to the driver), then a codegen CASE; no per-row Python."""
    probs = [i / q for i in range(q + 1)]
    # skewed data collapses percentile edges; dedupe so tied quantiles
    # merge into one bin (pandas duplicates='drop') instead of routing
    # every tied value into the last matching bin with empty bins before
    edges = sorted(dict.fromkeys(quantile_edges(df, colname, probs)))
    if len(edges) == 1:  # constant column → one all-inclusive bin
        edges = edges * 2
    return df.withColumn(f"{colname}_bin", cut(F.col(colname), edges))


def quantile_edges(df: DataFrame, colname: str, probs: list[float]) -> list[float]:
    row = df.agg(F.percentile(F.col(colname), F.array(*[F.lit(p) for p in probs])).alias("e")).collect()[0]
    return list(row["e"])


def _round_frac(x: float, precision: int) -> float:
    """rt_bin.py:265 _round_frac: round the fractional part only (whole
    numbers keep `precision` decimals; pure fractions extend to the
    first significant digit)."""
    import math

    if not math.isfinite(x) or x == 0:
        return x
    frac, whole = math.modf(x)
    if whole == 0:
        digits = -int(math.floor(math.log10(abs(frac)))) - 1 + precision
    else:
        digits = precision
    return float(round(x, digits))


def cut_labels(edges: list[float], precision: int = 3, clipped: bool = False) -> list[str]:
    """rt_bin.py:290 _format_labels: 'lo->hi' display labels per bin,
    with the reference's adaptive precision (raise until the rounded
    edges are all distinct). ``clipped=True`` prepends the reference's
    'Clipped' bin label (qcut's bin-1 display slot)."""
    prec = precision
    for prec in range(precision, 20):
        lv = [_round_frac(float(b), prec) for b in edges]
        if len(set(lv)) == len(edges):
            break
    breaks = [_round_frac(float(b), prec) for b in edges]
    labels = ["Clipped"] if clipped else []
    labels += [f"{breaks[i - 1]}->{breaks[i]}" for i in range(1, len(breaks))]
    return labels


def cut_label_expr(code: Column, edges: list[float], precision: int = 3) -> Column:
    """Map a cut() bin code to its 'lo->hi' label (literal map — pure
    codegen); bin 0 → NULL (Filtered)."""
    labels = cut_labels(edges, precision)
    pairs: list[Column] = []
    for i, lab in enumerate(labels):
        pairs.append(F.lit(i + 1))
        pairs.append(F.lit(lab))
    return F.element_at(F.create_map(*pairs), code)
