"""Dataset façade: riptable's user API surface over a pyspark DataFrame.

Reference: Dataset (/root/reference/riptable/rt_dataset.py:155) — ordered
dict of equal-length columns with filter/groupby/merge/sort/reshape
methods; GroupBy (rt_groupby.py:70); Categorical (rt_categorical.py:1284).

Design stance (SURVEY §7): *wrap, don't port*. Every method compiles to
a declarative DataFrame plan; the wrapper adds riptable's names,
invalid-handling defaults, and the reusable-grouping (Categorical)
pattern. Row order is explicit: order-dependent methods take an
``order`` column (or use the stamped ``__rowid__``).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import nullsafe
from .operators import accum as _accum
from .operators import apply as _apply
from .operators import groupby as _gb
from .operators import merge as _merge
from .operators import reshape as _reshape
from .operators import window as _win
from .sources import io as _io

ROWID = "__rowid__"


class Dataset:
    """Columnar table façade (rt_dataset.py:155). Wraps an immutable
    DataFrame; mutating-style APIs (``ds['x'] = expr``) return/replace the
    underlying plan, preserving riptable's ergonomics without breaking
    Spark's immutability."""

    def __init__(self, df: DataFrame):
        self._df = df

    # ---------------------------------------------------- construction
    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str, rowid: bool = False) -> "Dataset":
        df = spark.read.parquet(path)
        return cls(_io.with_rowid(df) if rowid else df)

    @classmethod
    def load_table(cls, spark: SparkSession, sf_dir: str, name: str) -> "Dataset":
        return cls(_io.load_table(spark, sf_dir, name))

    @classmethod
    def from_pandas(cls, spark: SparkSession, pdf) -> "Dataset":
        """rt_dataset.py:3207 from_pandas."""
        return cls(spark.createDataFrame(pdf))

    @classmethod
    def from_arrays(cls, spark: SparkSession, data: dict) -> "Dataset":
        """Dataset({'col': array, ...}) ctor shape (rt_dataset.py:407)."""
        import pandas as pd

        return cls(spark.createDataFrame(pd.DataFrame(data)))

    # ----------------------------------------------------- dict protocol
    @property
    def df(self) -> DataFrame:
        return self._df

    def keys(self) -> list[str]:
        return list(self._df.columns)

    def __contains__(self, name: str) -> bool:
        return name in self._df.columns

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        if name in self._df.columns:
            return F.col(name)
        raise AttributeError(name)

    def __getitem__(self, item):
        """Column select (str/list), boolean-mask filter, or the two-axis
        ``ds[rows, cols]`` form (rt_dataset.py:1378-1470,
        rt_struct.py:752 _extract_indexing).

        Two-axis: ``rows`` is a boolean Column mask, ``:``, a positional
        slice/int, or a list of positional ints (positional forms need a
        ``__rowid__`` column — sources.io.with_rowid — because Spark rows
        carry no implicit order); ``cols`` is a name, an int position, a
        positional slice, or a list of names/positions/booleans.
        Duplicate columns raise IndexError like the reference."""
        if isinstance(item, tuple):
            if len(item) != 2:
                raise IndexError("Can only index as ds[r, c], ds[r, :], ds[:, c] or ds[c].")
            row_arg, col_arg = item
            cols = self._resolve_colspec(col_arg)
            df = self._apply_rowspec(row_arg)
            return Dataset(df.select(*cols))
        if isinstance(item, str):
            return F.col(item)
        if isinstance(item, Column):
            return Dataset(self._df.where(item))
        if isinstance(item, Iterable):
            return Dataset(self._df.select(*self._resolve_colspec(list(item))))
        if isinstance(item, (int, slice)):
            return Dataset(self._apply_rowspec(item))
        raise TypeError(f"unsupported index type {type(item)}")

    def _resolve_colspec(self, col_arg) -> list[str]:
        names = self._df.columns
        if col_arg is None:
            raise TypeError("Cannot index cols with None.")
        if isinstance(col_arg, str):
            return [col_arg]
        if isinstance(col_arg, int):
            return [names[col_arg]]
        if isinstance(col_arg, slice):
            return names if col_arg == slice(None) else names[col_arg]
        if isinstance(col_arg, (list, tuple)):
            col_arg = list(col_arg)
            if not col_arg:
                raise IndexError("Error in column slice; empty list.")
            if isinstance(col_arg[0], bool):
                if len(col_arg) != len(names):
                    raise IndexError(
                        f"boolean column mask length {len(col_arg)} != ncols {len(names)}"
                    )
                out = [n for n, keep in zip(names, col_arg) if keep]
            elif isinstance(col_arg[0], int):
                out = [names[i] for i in col_arg]
            else:
                out = [str(c) for c in col_arg]
            if len(set(out)) < len(out):
                raise IndexError("Cannot index cols with duplicates.")
            return out
        raise TypeError(f"unsupported column index type {type(col_arg)}")

    def _apply_rowspec(self, row_arg) -> DataFrame:
        df = self._df
        if row_arg is None:
            raise TypeError("Cannot index rows with None.")
        if isinstance(row_arg, Column):
            return df.where(row_arg)
        if isinstance(row_arg, slice) and row_arg == slice(None):
            return df
        # positional forms need an explicit physical order
        if "__rowid__" not in df.columns:
            raise ValueError(
                "positional row indexing needs a __rowid__ column "
                "(sources.io.with_rowid) — Spark rows have no implicit order"
            )
        rid = F.col("__rowid__")
        if isinstance(row_arg, int):
            if row_arg < 0:
                raise IndexError("negative row indices are not supported (unknown length)")
            return df.where(rid == row_arg)
        if isinstance(row_arg, slice):
            start, stop, step = row_arg.start or 0, row_arg.stop, row_arg.step or 1
            if start < 0 or (stop is not None and stop < 0) or step <= 0:
                raise IndexError("negative/zero slice components are not supported")
            cond = rid >= start
            if stop is not None:
                cond = cond & (rid < stop)
            if step != 1:
                cond = cond & ((rid - start) % step == 0)
            return df.where(cond)
        if isinstance(row_arg, (list, tuple)):
            if row_arg and isinstance(row_arg[0], bool):
                raise TypeError(
                    "boolean-list row masks are not supported on distributed rows; "
                    "use a boolean Column mask"
                )
            return df.where(rid.isin([int(i) for i in row_arg]))
        raise TypeError(f"unsupported row index type {type(row_arg)}")

    def __setitem__(self, name: str, value) -> None:
        col = value if isinstance(value, Column) else F.lit(value)
        self._df = self._df.withColumn(name, col)

    def __len__(self) -> int:
        return self._df.count()

    def __repr__(self) -> str:
        return f"Dataset[{', '.join(self._df.columns)}]"

    @property
    def shape(self) -> tuple[int, int]:
        return (self._df.count(), len(self._df.columns))

    # ----------------------------------------------------------- rows
    def filter(self, mask: Column) -> "Dataset":
        """rt_dataset.py:861."""
        return Dataset(self._df.where(mask))

    def head(self, n: int = 20) -> "Dataset":
        return Dataset(self._df.limit(n))

    def tail(self, n: int, order: str) -> "Dataset":
        """Last n rows by ``order`` — orderBy+limit compiles to
        TakeOrderedAndProject (per-partition top-n, tiny merge), not a
        single-partition window."""
        return Dataset(self._df.orderBy(F.col(order).desc()).limit(n))

    def sample(self, k: int, seed: int = 42) -> "Dataset":
        """rt_dataset.py:5978."""
        return Dataset(_reshape.sample_exact(self._df, k, seed))

    def sort_copy(self, by, ascending=True) -> "Dataset":
        """rt_dataset.py:4323 (sort_inplace/:4229 differs only in Python
        mutability; Spark plans are immutable so one method serves both)."""
        by = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(by) if isinstance(ascending, bool) else list(ascending)
        cols = [F.col(c).asc() if a else F.col(c).desc() for c, a in zip(by, asc)]
        return Dataset(self._df.orderBy(*cols))

    def drop_duplicates(self, subset: list[str], order, keep="first") -> "Dataset":
        return Dataset(_win.drop_duplicates(self._df, subset, order, keep))

    def trim(self, predicate: Column) -> "Dataset":
        """rt_dataset.py:7787 — keep rows passing the predicate."""
        return Dataset(self._df.where(predicate))

    # -------------------------------------------------------- columns
    def col_remove(self, *names: str) -> "Dataset":
        return Dataset(self._df.drop(*names))

    def col_rename(self, old: str, new: str) -> "Dataset":
        return Dataset(self._df.withColumnRenamed(old, new))

    def fillna(self, value, columns: list[str] | None = None) -> "Dataset":
        return Dataset(nullsafe.replacena(self._df, value, columns))

    def isna_mask(self, colname: str) -> Column:
        return nullsafe.isna(F.col(colname))

    def one_hot_encode(self, colname: str, values=None) -> "Dataset":
        return Dataset(_reshape.one_hot_encode(self._df, colname, values))

    # -------------------------------------------- ordered column ops
    # NOTE: the ungrouped forms reproduce riptable's whole-array
    # semantics, which are inherently a single global sequence — the
    # window is deliberately unpartitioned. At cluster scale pass group
    # keys (operators.window with partitionBy) or pre-stamp __rowid__
    # (sources.io.with_rowid) and shift per rowid-range instead.
    def shift(self, colname: str, n: int, order, out_col: str | None = None) -> "Dataset":
        """rt_fastarray.py:4046 — ungrouped shift in explicit order."""
        w = Window.orderBy(order if isinstance(order, Column) else F.col(order))
        return Dataset(self._df.withColumn(out_col or f"{colname}_shift", _win.shift(F.col(colname), n, w)))

    def diff(self, colname: str, n: int = 1, order=None, out_col: str | None = None) -> "Dataset":
        """rt_fastarray.py:4251. ``order`` is required — Spark has no
        physical row order to fall back on (SURVEY §1.2)."""
        if order is None:
            raise ValueError("diff requires an explicit order column")
        w = Window.orderBy(order if isinstance(order, Column) else F.col(order))
        return Dataset(self._df.withColumn(out_col or f"{colname}_diff", _win.diff(F.col(colname), n, w)))

    def fill_forward(self, colname: str, order, keys: list[str] | None = None) -> "Dataset":
        """rt_fastarraynumba.py:149 — last non-null carried forward."""
        ocol = order if isinstance(order, Column) else F.col(order)
        w = (Window.partitionBy(*keys) if keys else Window.partitionBy()).orderBy(ocol).rowsBetween(
            Window.unboundedPreceding, 0
        )
        return Dataset(self._df.withColumn(colname, F.last(F.col(colname), ignorenulls=True).over(w)))

    def cut(self, colname: str, bins, lo: float | None = None, hi: float | None = None, out_col: str | None = None) -> "Dataset":
        """rt_bin.py:412. Integer ``bins`` with no lo/hi pre-aggregates
        min/max (one 2-scalar agg), matching the reference's default."""
        from .functions import binning

        if isinstance(bins, int) and (lo is None or hi is None):
            row = self._df.agg(F.min(colname).alias("lo"), F.max(colname).alias("hi")).collect()[0]
            lo = float(row["lo"]) if lo is None else lo
            hi = float(row["hi"]) if hi is None else hi
        return Dataset(
            self._df.withColumn(out_col or f"{colname}_bin", binning.cut(F.col(colname), bins, lo, hi))
        )

    def qcut(self, colname: str, q: int) -> "Dataset":
        """rt_bin.py:155."""
        from .functions import binning

        return Dataset(binning.qcut(self._df, colname, q))

    def nunique(self, colname: str) -> int:
        """rt_fastarray.py:3934."""
        return self._df.select(colname).distinct().count()

    # -------------------------------------------------------- groupby
    def gb(self, keys) -> "GroupBy":
        """rt_dataset.py:6383 (sorted-key display is an orderBy at
        collect time, not an execution property)."""
        return GroupBy(self._df, [keys] if isinstance(keys, str) else list(keys))

    groupby = gb
    gbu = gb  # unsorted-key variant: identical execution on Spark

    def cat(self, keys) -> "Categorical":
        """rt_dataset.py:6082 — factorize once, aggregate many times."""
        return Categorical(self._df, [keys] if isinstance(keys, str) else list(keys))

    def accum2(self, row_key: str, col_key: str, agg_fn, valcol, pivot_values=None) -> "Dataset":
        """rt_dataset.py:6228."""
        return Dataset(_accum.accum2(self._df, row_key, col_key, agg_fn, valcol, pivot_values))

    # ---------------------------------------------------------- joins
    def merge2(self, right: "Dataset | DataFrame", **kw) -> "Dataset":
        r = right._df if isinstance(right, Dataset) else right
        return Dataset(_merge.merge2(self._df, r, **kw))

    def merge_lookup(self, right: "Dataset | DataFrame", **kw) -> "Dataset":
        r = right._df if isinstance(right, Dataset) else right
        return Dataset(_merge.merge_lookup(self._df, r, **kw))

    def merge_asof(self, right: "Dataset | DataFrame", **kw) -> "Dataset":
        r = right._df if isinstance(right, Dataset) else right
        return Dataset(_merge.merge_asof(self._df, r, **kw))

    def isin(self, other: "Dataset | DataFrame", on) -> "Dataset":
        return Dataset(_merge.semi_join(self._df, other._df if isinstance(other, Dataset) else other, on))

    # -------------------------------------------------------- reshape
    def melt(self, id_vars, value_vars, var_name="variable", value_name="value") -> "Dataset":
        return Dataset(_reshape.melt(self._df, id_vars, value_vars, var_name, value_name))

    def pivot(self, labels: str, columns: str, values: str) -> "Dataset":
        return Dataset(_reshape.pivot_strict(self._df, labels, columns, values))

    @staticmethod
    def concat_rows(dsets: list["Dataset"]) -> "Dataset":
        """rt_dataset.py:6867 hstack/concat_rows."""
        return Dataset(_reshape.concat_rows([d._df for d in dsets]))

    @staticmethod
    def concat_columns(dsets: list["Dataset"], rowid: str = ROWID) -> "Dataset":
        return Dataset(_reshape.concat_columns([d._df for d in dsets], rowid))

    # ------------------------------------------------------- UDF hooks
    def apply_rows(self, fn, schema) -> "Dataset":
        """rt_dataset.py:7292 — mapInPandas over Arrow batches."""
        return Dataset(self._df.mapInPandas(fn, schema=schema))

    # ----------------------------------------------------------- sinks
    def save(self, path: str, **kw) -> None:
        _io.save_dataset(self._df, path, **kw)

    def to_pandas(self):
        """rt_dataset.py:3139 to_pandas."""
        return self._df.toPandas()

    def to_arrow(self):
        """rt_dataset.py:3309 to_arrow — Spark's Arrow batches straight
        into a pyarrow Table: a nullable bigint stays int64 (no pandas
        float64 detour) and no pandas index metadata is attached."""
        return self._df.toArrow()

    def describe(self, colname: str | None = None) -> "Dataset":
        """rt_dataset.py:6705 describe: with a column name, the statx
        row for that column; with no argument, the reference's
        ALL-numeric-columns form — a 'Stats' label column plus one
        column per numeric input, rows = Count/Valid/Nans/Mean/Std/Min/
        P10/P25/P50/P75/P90/Max/MeanM. Each column's stat family is one
        grouped-describe pass; the 13×n_cols scalars assemble on the
        driver (bounded, like qcut's edge collect)."""
        from .functions import stats as _stats

        if colname is not None:
            return Dataset(_stats.statx(self._df, colname))
        from .operators import groupby as _gbops

        numeric = [
            c for c, t in self._df.dtypes
            if t.startswith(("tinyint", "smallint", "int", "bigint", "float", "double", "decimal"))
        ]
        stats_order = [
            ("Count", "count"), ("Valid", "valid"), ("Nans", "nans"), ("Mean", "mean"),
            ("Std", "std"), ("Min", "min"), ("P10", "p10"), ("P25", "p25"), ("P50", "p50"),
            ("P75", "p75"), ("P90", "p90"), ("Max", "max"), ("MeanM", "meanm"),
        ]
        cols_stats = {}
        base = self._df.withColumn("__k__", F.lit(1))
        for c in numeric:
            row = _gbops.describe(base, ["__k__"], c).first()
            cols_stats[c] = [None if row[f] is None else float(row[f]) for _, f in stats_order]
        spark = self._df.sparkSession
        data = [
            tuple([label] + [cols_stats[c][i] for c in numeric])
            for i, (label, _) in enumerate(stats_order)
        ]
        schema = "Stats string" + "".join(f", `{c}` double" for c in numeric)
        return Dataset(spark.createDataFrame(data, schema))

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)

    # ------------------------------------------- round-2 named operators
    def gbrows(self, funcs: list[str], id_cols: list[str], columns: list[str] | None = None) -> "Dataset":
        """rt_dataset.py:6394 gbrows — row-wise groupby (horizontal
        reduction across numeric columns)."""
        from .operators import groupby as _gbops

        return Dataset(_gbops.gbrows(self._df, funcs, id_cols, columns))

    def lexsort_rank(self, keys: list[str], out_col: str = "lexsort_rank") -> "Dataset":
        """np.lexsort-convention rank (last key primary), scale-safe."""
        from .operators import window as _win

        return Dataset(_win.lexsort_rank(self._df, keys, out_col))

    def sample_deterministic(self, k: int, key_cols: list[str]) -> "Dataset":
        from .operators import reshape as _reshape

        return Dataset(_reshape.sample_deterministic(self._df, k, key_cols))

    def fa_apply(self, fn, in_cols: list[str], out_col: str = "out", out_type: str = "double", vectorized: bool = True) -> "Dataset":
        """FastArray.apply/apply_numba — elementwise Arrow-batch UDF."""
        from .operators import apply as _apply

        return Dataset(_apply.fa_apply(self._df, fn, in_cols, out_col, out_type, vectorized))

    def searchsorted_against(self, value, bounds: "Dataset | DataFrame", bound_col: str, side: str = "left", out_col: str = "idx") -> "Dataset":
        from .functions import math as _math

        b = bounds.df if isinstance(bounds, Dataset) else bounds
        return Dataset(_math.searchsorted_against(self._df, value, b, bound_col, side, out_col))

    def cat_agg(self, values, categories: list, aggs: dict, showfilter: bool = False, filter=None) -> "Dataset":
        """Dictionary-restricted Categorical aggregation with bin-0
        discipline (operators/categorical.py)."""
        from .operators import categorical as _cat

        return Dataset(_cat.cat_agg(self._df, values, categories, aggs, showfilter, filter))

    def mbget(self, indices: "Dataset | DataFrame", idx_col: str, cols: list[str]) -> "Dataset":
        """Fancy-gather by position (operators/positional.mbget); this
        Dataset must carry __rowid__ (read_parquet(rowid=True) or
        with_rowid)."""
        from .operators import positional as _pos

        i = indices.df if isinstance(indices, Dataset) else indices
        return Dataset(_pos.mbget(self._df, i, idx_col, cols))

    def alignmk(self, right: "Dataset | DataFrame", on: str, by=None, direction: str = "backward", allow_exact_matches: bool = True) -> "Dataset":
        """Asof fancy-index (operators/positional.alignmk); ``right``
        must carry __rowid__."""
        from .operators import positional as _pos

        r = right.df if isinstance(right, Dataset) else right
        return Dataset(_pos.alignmk(self._df, r, on, by, direction, allow_exact_matches))

    def hash_split(self, id_col: str, weights: dict[str, float]) -> "Dataset":
        """Deterministic train/val/test split (operators/pipeline)."""
        from .operators import pipeline as _pl

        return Dataset(_pl.hash_split(self._df, id_col, weights))

    def stratified_sample(self, strata_col: str, fractions: dict[str, float], id_col: str) -> "Dataset":
        """Deterministic per-stratum mix sampling (operators/pipeline)."""
        from .operators import pipeline as _pl

        return Dataset(_pl.stratified_sample(self._df, strata_col, fractions, id_col))

    def decontaminate(self, benchmark: "Dataset | DataFrame", text_col: str = "text", id_col: str = "doc_id", n: int = 3, min_hits: int = 1) -> "Dataset":
        """Benchmark n-gram decontamination (operators/pipeline)."""
        from .operators import pipeline as _pl

        b = benchmark.df if isinstance(benchmark, Dataset) else benchmark
        return Dataset(_pl.decontaminate(self._df, b, text_col, id_col, n, min_hits))

    def pack_sequences(self, group_cols: list[str], order_col: str, token_col, budget: int) -> "Dataset":
        """Contiguous token-budget packing (operators/pipeline)."""
        from .operators import pipeline as _pl

        return Dataset(_pl.pack_sequences(self._df, group_cols, order_col, token_col, budget))

    def repetition_stats(self, text_col: str = "text", id_col: str = "doc_id") -> "Dataset":
        """Within-document repetition metrics (operators/pipeline)."""
        from .operators import pipeline as _pl

        return Dataset(_pl.repetition_stats(self._df, text_col, id_col))


class GroupBy:
    """GroupByOps façade (rt_groupby.py:70 / rt_groupbyops.py:34). Each
    reduce returns a Dataset keyed by the group columns. ``filter=``
    fuses a mask into the aggregation (bin-0 trick)."""

    def __init__(self, df: DataFrame, keys: list[str]):
        self._df = df
        self._keys = keys

    def _agg1(self, expr: Column, name: str) -> Dataset:
        return Dataset(self._df.groupBy(*self._keys).agg(expr.alias(name)))

    def count(self, filter: Column | None = None) -> Dataset:
        return self._agg1(_gb.count(filter), "Count")

    def sum(self, col, filter=None, strict: bool = False) -> Dataset:
        c = F.col(col) if isinstance(col, str) else col
        e = _gb.strict(F.sum, c, filter) if strict else _gb.nansum(c, filter)
        return self._agg1(e, "Sum")

    nansum = sum

    def mean(self, col, filter=None) -> Dataset:
        c = F.col(col) if isinstance(col, str) else col
        return self._agg1(_gb.nanmean(c, filter), "Mean")

    nanmean = mean

    def min(self, col, filter=None) -> Dataset:
        return self._agg1(_gb.nanmin(F.col(col), filter), "Min")

    def max(self, col, filter=None) -> Dataset:
        return self._agg1(_gb.nanmax(F.col(col), filter), "Max")

    def var(self, col, filter=None) -> Dataset:
        return self._agg1(_gb.nanvar(F.col(col), filter), "Var")

    def std(self, col, filter=None) -> Dataset:
        return self._agg1(_gb.nanstd(F.col(col), filter), "Std")

    def median(self, col, filter=None) -> Dataset:
        return self._agg1(_gb.median(F.col(col), filter), "Median")

    def mode(self, col, filter=None) -> Dataset:
        return self._agg1(_gb.mode(F.col(col), filter), "Mode")

    def quantile(self, col, q, filter=None) -> Dataset:
        return self._agg1(_gb.quantile(F.col(col), q, filter), "Quantile")

    def nanpercentile(self, col, q, filter=None) -> Dataset:
        """rt_groupbyops.py:1938 — grouped percentile excluding missing
        values, q on the 0-100 scale (quantile's q is 0-1)."""
        return self._agg1(_gb.nanpercentile(F.col(col), q, filter), "NanPercentile")

    def transform(self, col, fn: str = "mean", filter=None, out_col: str | None = None) -> Dataset:
        """rt_groupbyops transform=True: apply the named reduce but
        broadcast the result back to every row (output shape == input
        shape) — a partition-window aggregate, no join back."""
        builder = getattr(_gb, fn, None) or getattr(_gb, "nan" + fn)
        expr = builder(F.col(col), filter)
        return Dataset(_gb.transform(self._df, self._keys, expr, out_col or f"{col}_{fn}"))

    def sem(self, col, filter=None) -> Dataset:
        return self._agg1(_gb.sem(F.col(col), filter), "Sem")

    def count_uniques(self, col, filter=None) -> Dataset:
        return self._agg1(_gb.count_uniques(F.col(col), filter), "CountUniques")

    def first(self, col, order) -> Dataset:
        return self._agg1(_gb.first(F.col(col), F.col(order)), "First")

    def last(self, col, order) -> Dataset:
        return self._agg1(_gb.last(F.col(col), F.col(order)), "Last")

    def ohlc(self, col, order) -> Dataset:
        return Dataset(self._df.groupBy(*self._keys).agg(*_gb.ohlc(F.col(col), F.col(order))))

    def trimbr(self, col, lo=0.1, hi=0.9) -> Dataset:
        return Dataset(_gb.trimbr(self._df, self._keys, col, lo, hi))

    def describe(self, col) -> Dataset:
        return Dataset(_gb.describe(self._df, self._keys, col))

    def agg(self, spec: dict, filter=None) -> Dataset:
        """agg({col: [fn,...]}) (rt_groupbyops.py:890)."""
        return Dataset(_gb.agg_dict(self._df, self._keys, spec, filter))

    def null(self) -> Dataset:
        return Dataset(_gb.null_result(self._df, self._keys))

    def apply_reduce(self, col, fn, out_col="out", out_type="double") -> Dataset:
        return Dataset(_apply.apply_reduce(self._df, self._keys, col, fn, out_col, out_type))

    def apply_nonreduce(self, col, fn, out_col="out", out_type="double", order_col=None) -> Dataset:
        return Dataset(
            _apply.apply_nonreduce(self._df, self._keys, col, fn, out_col, out_type, order_col)
        )

    def apply(self, fn, schema) -> Dataset:
        return Dataset(_apply.apply(self._df, self._keys, fn, schema))

    # ordered ops over an explicit order column
    def shift(self, col, n: int, order) -> Dataset:
        w = _win.group_window(self._keys, order)
        return Dataset(self._df.withColumn(f"{col}_shift", _win.shift(F.col(col), n, w)))

    def cumsum(self, col, order) -> Dataset:
        w = _win.group_window(self._keys, order)
        return Dataset(self._df.withColumn(f"{col}_cumsum", _win.cumsum(F.col(col), w)))

    def rolling_mean(self, col, order, window: int = 3) -> Dataset:
        w = _win.group_window(self._keys, order)
        return Dataset(self._df.withColumn(f"{col}_rolling_mean", _win.rolling_mean(F.col(col), w, window)))

    def move_argmin(self, col, order, window: int = 3) -> Dataset:
        w = _win.group_window(self._keys, order)
        c = F.col(col) if isinstance(col, str) else col
        return Dataset(self._df.select(*self._keys, _win.move_argmin(c, w, window).alias("move_argmin")))

    def move_argmax(self, col, order, window: int = 3) -> Dataset:
        w = _win.group_window(self._keys, order)
        c = F.col(col) if isinstance(col, str) else col
        return Dataset(self._df.select(*self._keys, _win.move_argmax(c, w, window).alias("move_argmax")))

    def move_rank(self, col, order, window: int = 3) -> Dataset:
        w = _win.group_window(self._keys, order)
        c = F.col(col) if isinstance(col, str) else col
        return Dataset(self._df.select(*self._keys, _win.move_rank(c, w, window).alias("move_rank")))

    def ema_decay(self, col: str, timecol: str, rate: float, order_col=None, method: str = "auto") -> Dataset:
        from .operators import ema as _ema

        return Dataset(_ema.ema_decay(self._df, self._keys, col, timecol, rate, order_col=order_col, method=method))

    def ema_normal(self, col: str, timecol: str, rate: float, order_col=None, method: str = "auto") -> Dataset:
        from .operators import ema as _ema

        return Dataset(_ema.ema_normal(self._df, self._keys, col, timecol, rate, order_col=order_col, method=method))

    def ema_weighted(self, col: str, decay_rate: float, order_col, method: str = "auto") -> Dataset:
        from .operators import ema as _ema

        return Dataset(_ema.ema_weighted(self._df, self._keys, col, decay_rate, order_col, method=method))

    def head(self, n: int, order) -> Dataset:
        return Dataset(_win.head_per_group(self._df, self._keys, order, n))

    def tail(self, n: int, order) -> Dataset:
        return Dataset(_win.tail_per_group(self._df, self._keys, order, n))

    def nth(self, n: int, order) -> Dataset:
        return Dataset(_win.nth_per_group(self._df, self._keys, order, n))


class Categorical(GroupBy):
    """Reusable grouping (rt_categorical.py:1284): riptable factorizes the
    keys once and reuses the Grouping across many aggregations. The Spark
    analogue of "factorize once" is caching the keyed relation: the
    DataFrame is persisted (project it with ``columns=`` on wide tables)
    so repeated aggregations skip the scan, and AQE reuses the shuffle
    where plans allow.

    On a cluster the durable form is a bucketed table
    (``writeTo(...).bucketBy(n, keys)``) — co-locating all later groupbys
    and joins on the keys with zero extra shuffles.
    """

    def __init__(self, df: DataFrame, keys: list[str], persist: bool = True, columns: list[str] | None = None):
        """``columns`` projects the persisted relation to keys + the value
        columns you will aggregate — pass it on wide tables so the cache
        holds only what the reuse needs (default: the full frame, so any
        column remains aggregatable)."""
        if columns is not None:
            df = df.select(*dict.fromkeys([*keys, *columns]))
        super().__init__(df, keys)
        self._persisted = False
        if persist:
            self._df = df.persist()
            self._persisted = True

    @property
    def category_values(self) -> Dataset:
        """The uniques table (category dictionary)."""
        return Dataset(self._df.select(*self._keys).distinct())

    def ncategories(self) -> int:
        return self.category_values.df.count()

    def codes(self, order_by: list[str] | None = None) -> Dataset:
        """Dense 0-based codes per row (rt_categorical: _fa codes). The
        code map is a broadcast join of the uniques table — scale-safe for
        any realistic category cardinality."""
        keys = self._keys
        uniq = self._df.select(*keys).distinct()
        w = Window.orderBy(*[F.col(k) for k in (order_by or keys)])
        keymap = uniq.withColumn("__code__", F.row_number().over(w) - 1)
        return Dataset(self._df.join(F.broadcast(keymap), on=keys, how="left"))

    def to_bucketed(self, table_name: str, n_buckets: int = 32) -> None:
        """Durable factorization: write the keyed relation bucketed by the
        category keys (rt_categorical 'grouping reuse' at cluster scale —
        later groupbys/joins on the keys are shuffle-free)."""
        from .sources.io import save_bucketed

        save_bucketed(self._df, table_name, self._keys, n_buckets)

    def unpersist(self) -> None:
        if self._persisted:
            self._df.unpersist()
            self._persisted = False


class Multiset:
    """Struct of same-length Datasets (rt_multiset.py:20) — the container
    GroupBy.agg(dict) returns in the reference when several functions run
    per column. Here: named Datasets sharing group keys, with ``cascade``
    (rt_multiset.py:745) applying a function across all members and
    ``flatten`` joining them into one wide Dataset on the keys."""

    def __init__(self, members: dict[str, "Dataset"], keys: list[str]):
        self._members = dict(members)
        self._keys = list(keys)

    def __getitem__(self, name: str) -> "Dataset":
        return self._members[name]

    def keys(self) -> list[str]:
        return list(self._members)

    def cascade(self, fn) -> "Multiset":
        """Apply ``fn(Dataset) -> Dataset`` to every member."""
        return Multiset({k: fn(v) for k, v in self._members.items()}, self._keys)

    def flatten(self, suffix_with_name: bool = True) -> "Dataset":
        """Join all members on the group keys into one wide Dataset."""
        out = None
        for name, ds in self._members.items():
            df = ds.df
            if suffix_with_name:
                for c in df.columns:
                    if c not in self._keys:
                        df = df.withColumnRenamed(c, f"{c}_{name}")
            out = df if out is None else out.join(df, on=self._keys, how="outer")
        return Dataset(out)


# rt_pgroupby.py PGroupBy: the reference's GroupBy variant that fans the
# per-group computation across a PDataset's partitions. Spark's GroupBy IS
# partition-parallel (hash exchange + per-partition hash agg), so the
# parallel variant is the same class.
PGroupBy = GroupBy
