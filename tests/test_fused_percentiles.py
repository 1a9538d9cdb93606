"""groupby.percentiles — k exact quantiles of one input from ONE shared
percentile buffer. Every caller must return exactly (==, no tolerance)
what the per-quantile form ``percentile(c, q_i)`` returned, and its
executed plan must carry one percentile aggregate per input column.

The per-quantile form is rebuilt by swapping ``groupby.percentiles``
for a split twin, so each check runs the caller's own code both ways.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from riptable_spark.functions import stats as st
from riptable_spark.operators import groupby as gb
from riptable_spark.operators import profile as pr
from riptable_spark.plans import inspect as pi


def _split(col, qs, names, flt=None):
    """The per-quantile form the callers used before the fusion: one
    percentile aggregate (one value map) per quantile."""
    c = gb._maybe_filter(col, flt)
    return [F.percentile(c, F.lit(float(q))).alias(n) for q, n in zip(qs, names)]


@pytest.fixture(scope="module")
def data(spark):
    """Seeded high-cardinality doubles with ~10% NULLs in five groups,
    plus group 5 (all NULL) and group 6 (a single row)."""
    rng = np.random.default_rng(20261017)
    n = 4000
    v = rng.normal(0.0, 1e3, n)
    v[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"id": np.arange(n), "g": rng.integers(0, 5, n), "v": v})
    pdf = pd.concat(
        [
            pdf,
            pd.DataFrame({"id": np.arange(n, n + 25), "g": 5, "v": np.nan}),
            pd.DataFrame({"id": [n + 25], "g": [6], "v": [123.456]}),
        ],
        ignore_index=True,
    )
    rows = [(int(i), int(g), None if np.isnan(x) else float(x)) for i, g, x in pdf.itertuples(index=False)]
    return spark.createDataFrame(rows, "id bigint, g bigint, v double").cache()


def _both(monkeypatch, build):
    """(fused result rows, split result rows, fused DataFrame, split DataFrame)."""
    fused = build()
    with monkeypatch.context() as m:
        m.setattr(gb, "percentiles", _split)
        split = build()
    return sorted(fused.collect()), sorted(split.collect()), fused, split


def _percentiles_per_aggregate(df) -> list[int]:
    """Number of percentile aggregate functions in each aggregate node of
    the executed plan that has any."""
    counts = []
    for line in pi.simple_plan(df).splitlines():
        if "Aggregate(" in line:
            k = len(re.findall(r"percentile\(", line))
            if k:
                counts.append(k)
    return counts


def _check(monkeypatch, build):
    got, want, fused, split = _both(monkeypatch, build)
    assert got == want
    assert len(got) > 0
    per_agg = _percentiles_per_aggregate(fused)
    assert per_agg and all(k == 1 for k in per_agg), per_agg
    assert not [w for w in pi.lint(fused) if w.startswith("split-percentile")]
    assert any(w.startswith("split-percentile") for w in pi.lint(split))
    return got


def test_statx_fused_equals_split(spark, data, monkeypatch):
    for sub in [data, data.where("g = 5"), data.where("g = 6")]:
        got = _check(monkeypatch, lambda: st.statx(sub, "v"))
        assert len(got) == 1
    (allnull,) = st.statx(data.where("g = 5"), "v").collect()
    assert allnull.p01 is None and allnull.p99 is None
    (single,) = st.statx(data.where("g = 6"), "v").collect()
    assert single.p01 == single.p99 == 123.456


def test_groupby_describe_fused_equals_split(spark, data, monkeypatch):
    got = _check(monkeypatch, lambda: gb.describe(data, ["g"], "v"))
    assert {r.g for r in got} == set(range(7))
    by_g = {r.g: r for r in got}
    assert by_g[5].p10 is None and by_g[5].p90 is None
    assert by_g[6].p10 == by_g[6].p90 == 123.456


def test_trimbr_fused_equals_split(spark, data, monkeypatch):
    _check(monkeypatch, lambda: data.groupBy("g").agg(*gb.trimbr_exprs(F.col("v"))))
    got, want, _, _ = _both(monkeypatch, lambda: gb.trimbr(data, ["g"], "v"))
    assert got == want


def test_winsorize_fused_equals_split(spark, data, monkeypatch):
    got = _check(monkeypatch, lambda: st.winsorize(data, "v", 0.05, 0.95))
    assert len(got) == data.count()


def test_bootstrap_ci_fused_equals_split(spark, data, monkeypatch):
    ints = data.where("v IS NOT NULL").select("id", F.round("v").cast("long").alias("x"))
    (row,) = _check(monkeypatch, lambda: st.bootstrap_ci(ints, "x", n_replicas=40, id_cols=["id"]))
    assert row.ci_lo <= row.mean <= row.ci_hi


def test_iqr_outliers_fused_equals_split(spark, data, monkeypatch):
    ints = data.select("g", F.round("v").cast("long").alias("x"))
    got = _check(monkeypatch, lambda: pr.iqr_outliers(ints, ["g"], "x"))
    assert {r.g for r in got} == set(range(7))


def test_percentiles_with_filter(spark, data, monkeypatch):
    flt = F.col("v") > 0
    _check(
        monkeypatch,
        lambda: data.groupBy("g").agg(*gb.percentiles(F.col("v"), [0.25, 0.5, 0.75], ["a", "b", "c"], flt)),
    )


def test_percentiles_rejects_mismatched_names(spark):
    with pytest.raises(ValueError):
        gb.percentiles(F.col("v"), [0.1, 0.9], ["only_one"])
