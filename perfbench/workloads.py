"""The benchmark's workloads, written as a client of riptable_spark: the tick
and corpus batch jobs (together `batch_pipelines`) and the interactive session.

Each workload generates its inputs from the seed, runs the program's
public functions on them and checks every result against ground truth
computed with numpy/pandas (see gen.py). A wrong result or an exception
is a failed sample; it never aborts the run.

Untraced, a job is written as a user would write it: lazy plans, with
the intermediate result that several outputs read persisted once.
Traced, every public call gets a plan span and, when it returns a
DataFrame, an ``.exec`` span that materializes it with
``localCheckpoint``, so each operator's executor work is attributed to
it alone. That barrier is part of the tracing overhead the run reports.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pandas as pd

import gen


@dataclass
class Sample:
    """One timed unit: a pipeline run, or one interactive call."""

    latency_s: float
    rows: int  # input rows the unit processed
    ok: bool
    recall: float | None = None  # share of ground-truth items reproduced; None if ungraded
    kind: str = ""
    error: str = ""


class Calls:
    """Runs public calls; with a tracer, each gets a span."""

    def __init__(self, tracer=None):
        self.tracer = tracer

    def plan(self, name: str, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span(name):
            return fn()

    def act(self, name: str, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span(name + ".exec"):
            return fn()

    def step(self, name: str, fn):
        """A DataFrame-returning call; traced, its result is materialized."""
        df = self.plan(name, fn)
        if self.tracer is not None:
            df = self.act(name, lambda: df.localCheckpoint(eager=True))
        return df


def _timed(calls: Calls, kind: str, rows: int, fn, graded: bool = True) -> Sample:
    """Times ``fn``, which returns (ok, recall). A graded sample always
    carries a recall; when ``fn`` gives None the check is all or nothing,
    so it follows ok. An ungraded sample (a pass/fail check only) carries
    None and is left out of the recall metric."""
    if calls.tracer is not None:
        calls.tracer.rep += 1
    t0 = time.perf_counter()
    try:
        ok, recall = fn()
        if graded and recall is None:
            recall = float(ok)
        return Sample(time.perf_counter() - t0, rows, ok, recall if graded else None, kind,
                      "" if ok else "output check failed")
    except Exception:  # a failing call is a failed sample, not a failed run
        return Sample(time.perf_counter() - t0, rows, False, 0.0 if graded else None, kind,
                      traceback.format_exc(limit=3))


def _close(a, b, rtol: float) -> bool:
    a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
    return a.shape == b.shape and bool(np.all((np.isnan(a) & np.isnan(b)) | np.isclose(a, b, rtol=rtol, atol=0.0)))


# ------------------------------------------------------------ tick_pipeline
class TickPipeline:
    """Batch job on riptable's home domain: trades enriched with the
    prevailing quote, windowed and decayed features, per-symbol reduce
    set and a symbol x hour cross-tab, written back out.

    Why: riptable's home domain, with as-of join, ordered windows and
    the Arrow ema scan, and ``sources.io`` used to write. At the shipped
    size one run is about 17 Spark jobs of 1-4 tasks; summed executor
    CPU time is about two thirds of the wall time and driver planning
    about a quarter (README.md, Measured shares)."""

    name = "tick_pipeline"
    N_TRADES, N_QUOTES = 30_000, 120_000

    def generate(self, rng, root: str) -> None:
        self.dir = os.path.join(root, "ticks")
        self.out = os.path.join(root, "out", "enriched")
        self.truth = gen.tick_inputs(rng, self.dir, self.N_TRADES, self.N_QUOTES)
        self.bytes_in = sum(os.path.getsize(os.path.join(self.dir, f)) for f in os.listdir(self.dir))

    def block(self, spark, calls: Calls) -> list[Sample]:
        # the oracle check is pass/fail: every checked row must match
        return [_timed(calls, self.name, self.N_TRADES, lambda: self._pipeline(spark, calls), graded=False)]

    def layer_counts(self) -> dict[str, float]:
        out = sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(self.out)
                  for f in fs if f.endswith(".parquet"))
        return {"sources.io.bytes_out_per_byte_in": out / self.bytes_in}

    def _pipeline(self, spark, calls):
        from pyspark.sql import functions as F

        from riptable_spark.operators import accum, ema, merge, window
        from riptable_spark.operators import groupby as gb
        from riptable_spark.sources import io

        traced = calls.tracer is not None
        trades = calls.plan("sources.io.load_table", lambda: io.load_table(spark, self.dir, "trades"))
        quotes = calls.plan("sources.io.load_table", lambda: io.load_table(spark, self.dir, "quotes"))
        j = calls.step("operators.merge.merge_asof",
                       lambda: merge.merge_asof(trades, quotes, on="ts", by="sym", direction="backward"))

        def windows():
            w = window.group_window(["sym"], "ts")
            return (j.withColumn("cum_size", window.cumsum(F.col("size"), w))
                    .withColumn("roll_px", window.rolling_mean(F.col("price"), w, gen.ROLL_WINDOW))
                    .withColumn("tsec", F.col("ts").cast("double")))

        e = calls.step("operators.window", windows)
        e = calls.step("operators.ema.ema_decay",
                       lambda: ema.ema_decay(e, ["sym"], "size", "tsec", gen.EMA_RATE, out_col="ema_size"))
        if not traced:
            e = e.persist()
        try:
            calls.plan("sources.io.save_dataset", lambda: io.save_dataset(e.drop("tsec"), self.out))
            red_df = calls.plan("operators.groupby", lambda: e.groupBy("sym").agg(
                gb.nansum(F.col("size")).alias("Sum"), gb.nanmean(F.col("price")).alias("Mean"),
                gb.median(F.col("price")).alias("Median"), *gb.ohlc(F.col("price"), F.col("ts"))))
            red = calls.act("operators.groupby", red_df.toPandas)
            acc_df = calls.plan("operators.accum.accum2", lambda: accum.accum2(
                e.withColumn("hour", F.hour("ts")), "sym", "hour", F.sum, "size"))
            acc = calls.act("operators.accum.accum2", acc_df.toPandas)
        finally:
            if not traced:
                e.unpersist()
        return self._check(red, acc)

    def _check(self, red: pd.DataFrame, acc: pd.DataFrame):
        import pyarrow.dataset as ds

        truth = self.truth
        out = ds.dataset(self.out, format="parquet")
        if out.count_rows() != self.N_TRADES:
            return False, None
        got = out.to_table(filter=ds.field("sym").isin(truth.syms)).to_pandas()
        got["ts"] = got["ts"].astype("datetime64[us]").astype(np.int64)
        got = got.sort_values(["sym", "ts"]).reset_index(drop=True)
        want = truth.enriched
        if len(got) != len(want) or not (got["ts"].to_numpy() == want["ts"].to_numpy()).all():
            return False, None
        row_ok = np.ones(len(want), bool)
        for col, rtol in (("bid", 0.0), ("ask", 0.0), ("cum_size", 0.0), ("roll_px", 1e-9), ("ema_size", 1e-6)):
            a, b = got[col].to_numpy(np.float64), want[col].to_numpy(np.float64)
            row_ok &= (np.isnan(a) & np.isnan(b)) | np.isclose(a, b, rtol=rtol, atol=0.0)

        red = red[red["sym"].isin(truth.syms)].sort_values("sym").reset_index(drop=True)
        wred = truth.reduce.sort_values("sym").reset_index(drop=True)
        red_ok = len(red) == len(wred) and all(
            _close(red[c], wred[c], 1e-9) for c in ("Sum", "Mean", "Median", "open", "high", "low", "close"))
        acc = acc[acc["sym"].isin(truth.syms)].set_index("sym")
        acc_ok = len(acc) == len(truth.syms) and all(
            acc.at[r.sym, str(r.hour)] == r.size for r in truth.accum.itertuples())
        return bool(row_ok.all() and red_ok and acc_ok), None


# ------------------------------------------------------------- corpus_dedup
class CorpusDedup:
    """Batch job on the LLM-data pipeline: exact dedup, MinHash-LSH
    near-duplicate candidates, duplicate clusters, then exact top-k
    similarity search for a few queries over embeddings.

    Why: it stresses string explode/hash and array higher-order-function
    evaluation, with no ordered windows or as-of joins. Sized so no
    single step takes more than about half the run; at that size one run
    is about 16 Spark jobs, summed executor CPU time is under half the
    wall time and driver planning under a quarter (README.md, Measured
    shares)."""

    name = "corpus_dedup"
    N_BASE, N_VECTORS, N_QUERIES, K = 1_000, 1_000, 12, 10
    LSH = dict(num_perm=64, bands=16, shingle_n=3)
    MIN_RECALL = 0.9

    def generate(self, rng, root: str) -> None:
        self.dir = os.path.join(root, "corpus")
        self.truth = gen.corpus_inputs(rng, self.dir, self.N_BASE, self.N_VECTORS, self.N_QUERIES, self.K)
        self.true_per_candidate: list[float] = []

    def block(self, spark, calls: Calls) -> list[Sample]:
        return [_timed(calls, self.name, self.truth.n_docs, lambda: self._pipeline(spark, calls))]

    def layer_counts(self) -> dict[str, float]:
        return {
            "operators.dedup.minhash_lsh_pairs.true_pairs_per_candidate":
                float(np.median(self.true_per_candidate)) if self.true_per_candidate else 0.0,
            "operators.similarity.brute_force_topk.pairs_scored": float(self.N_VECTORS * self.N_QUERIES),
        }

    def _pipeline(self, spark, calls):
        from riptable_spark.operators import dedup, similarity
        from riptable_spark.sources import io

        traced = calls.tracer is not None
        docs = calls.plan("sources.io.load_table", lambda: io.load_table(spark, self.dir, "documents"))
        ex = calls.step("operators.dedup.dedup_exact", lambda: dedup.dedup_exact(docs, "text", "doc_id"))
        persisted = []
        if not traced:
            ex = ex.persist()
            persisted.append(ex)
        try:
            pairs = calls.step("operators.dedup.minhash_lsh_pairs",
                               lambda: dedup.minhash_lsh_pairs(ex, "text", "doc_id", **self.LSH))
            if not traced:
                pairs = pairs.persist()
                persisted.append(pairs)
            kept = {r[0] for r in calls.act("benchmark.collect", ex.select("doc_id").collect)}
            got_pairs = [(r[0], r[1]) for r in calls.act("benchmark.collect", pairs.collect)]
            comp_df = calls.plan("operators.dedup.connected_components",
                                 lambda: dedup.connected_components(pairs))
            comp = calls.act("operators.dedup.connected_components", comp_df.collect)
        finally:
            for df in persisted:
                df.unpersist()
        vecs = calls.plan("sources.io.load_table", lambda: io.load_table(spark, self.dir, "embeddings"))
        qs = calls.plan("sources.io.load_table", lambda: io.load_table(spark, self.dir, "queries"))
        topk_df = calls.plan("operators.similarity.brute_force_topk",
                             lambda: similarity.brute_force_topk(vecs, qs, k=self.K))
        topk = calls.act("operators.similarity.brute_force_topk", topk_df.collect)
        return self._check(kept, got_pairs, comp, topk)

    def _check(self, kept, pairs, comp, topk):
        truth = self.truth
        found = set(pairs)
        recall = len(truth.near_pairs & found) / max(1, len(truth.near_pairs))
        self.true_per_candidate.append(len(truth.near_pairs & found) / max(1, len(found)))
        ok = kept == truth.exact_kept and recall >= self.MIN_RECALL
        ok &= all(a < b and a in kept and b in kept for a, b in found) and len(found) == len(pairs)
        # components: min node id of each union-find cluster of the pairs
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in found:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        ok &= sorted((r["node"], r["component"]) for r in comp) == sorted((n, find(n)) for n in list(parent))
        by_q: dict[int, list] = {}
        for r in topk:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["score"]))
        for q, want in truth.topk.items():
            got = sorted(by_q.get(q, []))
            if [g[1] for g in got] != want:
                # only a near-tie at equal score may reorder neighbours
                if len(got) != len(want) or not _close([g[2] for g in got], truth.topk_scores[q], 1e-9):
                    ok = False
        return bool(ok), recall


# ------------------------------------------------------ interactive_session
class InteractiveSession:
    """riptable's eager user experience: one client in a closed loop runs a
    seeded mix of small Dataset/GroupBy calls, each materialized with
    ``to_pandas()``, one after another.

    Why: each call does little work (about 2 jobs of 1 task), so for the
    typical call session planning, job scheduling, the ``load_table`` plan
    cache and the Arrow fetch outweigh executor work; the heavy shuffles of
    the batch workloads play no part. ``describe``, the slowest call, is
    mostly executor work (README.md, Measured shares).

    The mix is dealt in decks of 20 calls with fixed counts per kind and a
    seeded order and arguments, so every seed runs the same proportions."""

    name = "interactive_session"
    touch_table = "events"
    block_seconds = 3.5  # calibration: --seconds 10 measures 3 decks (README.md, Measurement)
    N_ROWS, N_ARRAY_ROWS = 100_000, 10_000
    # describe is the slowest kind; at 2 in 20 op_p95_ms falls inside its
    # latencies rather than on the edge between it and the next kind
    DECK = {"gb_sum": 3, "gb_mean": 2, "gb_median": 2, "filter_head": 3, "sort_copy_head": 2,
            "merge_lookup": 2, "nunique": 2, "describe": 2, "from_arrays": 2}

    def generate(self, rng, root: str) -> None:
        self.rng = rng
        self.dir = os.path.join(root, "session")
        self.truth = gen.session_inputs(rng, self.dir, self.N_ROWS)
        # traced decks read hard links to the same files under another
        # path, so their first load of each table misses the program's
        # plan cache as the untraced decks' first load did
        self.traced_dir = os.path.join(root, "session_traced")
        os.makedirs(self.traced_dir)
        for f in os.listdir(self.dir):
            os.link(os.path.join(self.dir, f), os.path.join(self.traced_dir, f))
        # priming runs on separate tiny tables, so the first measured load
        # of each real table still misses the program's plan cache
        self.warm_dir = self.touch_dir = os.path.join(root, "session_warm")
        self.warm_truth = gen.session_inputs(rng, self.warm_dir, 2_000)
        self.loaded: set[tuple[int, str, str]] = set()

    def warmup(self, spark) -> list[Sample]:
        return self._deck(spark, Calls(), self.warm_dir, self.warm_truth)

    def block(self, spark, calls: Calls) -> list[Sample]:
        return self._deck(spark, calls, self.dir if calls.tracer is None else self.traced_dir, self.truth)

    def layer_counts(self) -> dict[str, float]:
        return {}

    def _deck(self, spark, calls, src, truth: gen.SessionTruth) -> list[Sample]:
        # (kind, variant): kinds with two argument choices alternate them
        # within a deck, so every seed runs the same mix; the order and the
        # numeric arguments come from the seed
        deck = [(k, i % 2) for k, n in self.DECK.items() for i in range(n)]
        out = []
        for j in self.rng.permutation(len(deck)):
            kind, variant = deck[j]
            arg = float(self.rng.uniform(0.0, 1.0))
            rows = self.N_ARRAY_ROWS if kind == "from_arrays" else len(truth.events)
            out.append(_timed(calls, kind, rows, lambda: self._call(spark, calls, src, truth, kind, variant, arg)))
        return out

    def _load(self, spark, calls, src, name):
        from riptable_spark.dataset import Dataset

        key = (id(spark), src, name)
        span = "sources.io.load_table_hit" if key in self.loaded else "sources.io.load_table_miss"
        self.loaded.add(key)
        return calls.plan(span, lambda: Dataset.load_table(spark, src, name))

    def _call(self, spark, calls, src, truth: gen.SessionTruth, kind: str, variant: int, arg: float):
        from pyspark.sql import functions as F

        from riptable_spark.dataset import Dataset

        ev = truth.events

        def fetch(ds):
            return calls.act("dataset", ds.to_pandas)

        if kind == "from_arrays":
            a = np.arange(self.N_ARRAY_ROWS, dtype=np.int64) * (1 + int(arg * 10))
            b = a % 7
            res = fetch(calls.plan("dataset", lambda: Dataset.from_arrays(spark, {"a": a, "b": b}).gb("b").sum("a")))
            want = pd.Series(a).groupby(b).sum()
            return dict(zip(res["b"], res["Sum"])) == want.to_dict(), None
        ds = self._load(spark, calls, src, "events")
        if kind in ("gb_sum", "gb_mean", "gb_median"):
            key = ("k", "g")[variant]
            fn = kind[3:]
            res = fetch(calls.plan("dataset", lambda: getattr(ds.gb(key), fn)("v")))
            want = getattr(ev.groupby(key)["v"], fn)()
            got = res.set_index(key)[fn.capitalize()].reindex(want.index)
            return _close(got, want, 1e-9), None
        if kind == "filter_head":
            thr = float(np.quantile(ev["v"], 0.5 + 0.49 * arg))
            res = fetch(calls.plan("dataset", lambda: ds.filter(F.col("v") > thr).head(50)))
            n = int((ev["v"] > thr).sum())
            return len(res) == min(50, n) and bool((res["v"] > thr).all()), None
        if kind == "sort_copy_head":
            col = ("v", "q")[variant]
            res = fetch(calls.plan("dataset", lambda: ds.sort_copy([col, "ts"]).head(20)))
            want = ev.sort_values([col, "ts"], kind="mergesort")[col].head(20)
            return _close(res[col], want, 0.0), None
        if kind == "merge_lookup":
            dim = self._load(spark, calls, src, "dim")
            res = fetch(calls.plan("dataset", lambda: ds.merge_lookup(dim, on="k").gb("region").sum("v")))
            want = ev.merge(truth.dim, on="k").groupby("region")["v"].sum()
            return _close(res.set_index("region")["Sum"].reindex(want.index), want, 1e-9), None
        if kind == "nunique":
            col = ("g", "k")[variant]
            got = calls.act("dataset", lambda: ds.nunique(col))
            return got == ev[col].nunique(), None
        if kind == "describe":
            res = fetch(calls.plan("dataset", lambda: ds.describe("v")))
            v = ev["v"]
            want = [len(v), v.mean(), v.min(), v.max(), v.quantile(0.5), v.quantile(0.9)]
            got = [res.at[0, c] for c in ("count", "mean", "min", "max", "p50", "p90")]
            return _close(got, want, 1e-9), None
        raise ValueError(f"unknown call kind {kind}")


class BatchPipelines:
    """Both batch jobs, one after the other in each block: the tick
    pipeline, then the corpus pipeline. Each job run is one sample.

    Why: together they run every batch operator layer as a pipeline of
    many small Spark jobs, where summed executor CPU time is about half
    the wall time and driver planning and job scheduling most of the rest. The
    two jobs share one workload because each run pays a fixed JVM start
    and warm-up that leaves room for only two workloads in the time the
    benchmark may take."""

    name = "batch_pipelines"
    touch_table = "trades"
    block_seconds = 4.7  # calibration: --seconds 10 measures 2 blocks (README.md, Measurement)

    def __init__(self):
        self.jobs = (TickPipeline(), CorpusDedup())

    def generate(self, rng, root: str) -> None:
        for job in self.jobs:
            job.generate(rng, root)
        self.touch_dir = self.jobs[0].dir

    def warmup(self, spark) -> list[Sample]:
        """One untimed block on the real inputs: the first run of each
        job at full size still pays JIT and code generation."""
        return self.block(spark, Calls())

    def block(self, spark, calls: Calls) -> list[Sample]:
        return [s for job in self.jobs for s in job.block(spark, calls)]

    def layer_counts(self) -> dict[str, float]:
        return {k: v for job in self.jobs for k, v in job.layer_counts().items()}


def touch(spark, wl) -> None:
    """The light warm-up query of every set-up: read a few rows of the
    workload's first table through the program's loader."""
    from riptable_spark.sources import io

    io.load_table(spark, wl.touch_dir, wl.touch_table).limit(100).toPandas()


WORKLOADS = {w.name: w for w in (BatchPipelines, InteractiveSession)}
