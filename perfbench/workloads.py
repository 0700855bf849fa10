"""The benchmark's workloads.

Each workload is a closed loop with one client: a fixed *session* of
operations runs again and again, and each operation waits for the previous
one to finish. Every call into the program goes through ``Ctx.span`` so a
traced run can attribute time to the layer that was called. Operations
return their outputs; the correctness checks in ``check`` run after the
timed loop.

Why each workload exists, and which layer it loads, is in NOTES.md.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import pipelinedp_spark as pdp
from pipelinedp_spark import analysis
from pipelinedp_spark import contribution_bounders as bounders
from pipelinedp_spark.aggregate_params import PartitionSelectionStrategy

from perfbench import inputs as gen
from perfbench import trace


@dataclass
class OpResult:
    kind: str
    rows_in: int
    output: object = None
    # (accountant kind, accountant, requested specs, epsilon, delta)
    spend: Optional[tuple] = None
    extra: dict = field(default_factory=dict)


class Ctx:
    """What an operation needs: the session, the loaded tables, the span
    recorder and, in traced runs, per-op SQL metrics."""

    def __init__(self, spark, rec: trace.Recorder, inputs: gen.Inputs,
                 work_dir: str):
        self.spark = spark
        self.rec = rec
        self.inputs = inputs
        self.warehouse = os.path.join(work_dir, "warehouse")
        self.tables: Dict[str, DataFrame] = {}
        self.python: Dict[str, dict] = {}
        self.op_id: Optional[str] = None
        self._duck = None

    def span(self, name: str):
        return self.rec.span(name)

    def duck(self):
        """DuckDB connection with every input table as a view: the
        independent oracle for the zero-noise replays."""
        if self._duck is None:
            import duckdb
            self._duck = duckdb.connect()
            for name, path in self.inputs.tables.items():
                self._duck.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}')")
        return self._duck

    def close(self):
        if self._duck is not None:
            self._duck.close()
            self._duck = None


def tracked(accountant):
    """Record every budget request the engine makes on ``accountant``."""
    specs = []
    request = accountant.request_budget

    def request_budget(*args, **kwargs):
        spec = request(*args, **kwargs)
        specs.append(spec)
        return spec

    accountant.request_budget = request_budget
    return accountant, specs


def collect(ctx: Ctx, df: DataFrame) -> pd.DataFrame:
    """Plan (forcing the executed plan first, so planning is timed on its
    own), then run the action."""
    with ctx.span("spark.plan"):
        df._jdf.queryExecution().executedPlan()
    with ctx.span("spark.execute"):
        out = df.toPandas()
    if ctx.rec.enabled:
        with ctx.span("trace.sql_metrics"):
            ctx.python[ctx.op_id] = trace.python_metrics(df)
    return out


def release(ctx: Ctx, aggregate: Callable[[], pdp.DPResult],
            accountant) -> pd.DataFrame:
    with ctx.span("dp_engine.aggregate"):
        result = aggregate()
    with ctx.span("accounting.compute_budgets"):
        accountant.compute_budgets()
    with ctx.span("dp_engine.finalize"):
        df = result.dataframe()
    return collect(ctx, df)


# ---------------------------------------------------------------------------
# Checks shared by the workloads
# ---------------------------------------------------------------------------

def spend_error(spend) -> Optional[str]:
    """The budget the accountant hands out must equal the one requested."""
    kind, acc, specs, eps, delta = spend
    if not specs:
        return "no budget requested"
    if kind == "naive":
        got_eps = sum(s.eps * s.count for s in specs)
        got_delta = sum(s.delta * s.count for s in specs if s.uses_delta)
        want_delta = delta if any(s.uses_delta for s in specs) else 0.0
        if not math.isclose(got_eps, eps, rel_tol=1e-9):
            return f"naive spend eps {got_eps} != {eps}"
        if not math.isclose(got_delta, want_delta, rel_tol=1e-9,
                            abs_tol=1e-15):
            return f"naive spend delta {got_delta} != {want_delta}"
    elif kind == "pld":
        composed = acc.composed_epsilon()
        if not (composed <= eps * 1.001 and composed >= eps * 0.98):
            return f"PLD composed eps {composed} vs budget {eps}"
    elif kind == "rdp":
        # Half of delta funds the mechanisms, half the RDP conversion;
        # every mechanism gets at least its naive epsilon share.
        got_delta = sum(s.delta * s.count for s in specs if s.uses_delta)
        if any(s.uses_delta for s in specs) and not math.isclose(
                got_delta, delta / 2, rel_tol=1e-9):
            return f"RDP mechanism delta {got_delta} != {delta / 2}"
        weight = sum(s.weight * s.count for s in specs)
        for s in specs:
            if s.eps < eps * s.weight / weight * (1 - 1e-9):
                return f"RDP eps {s.eps} below naive share"
    return None


def frame_error(out: pd.DataFrame, key: str, expected_keys=None,
                allowed_keys=None) -> Optional[str]:
    metrics = [c for c in out.columns if c != key]
    if out[metrics].isna().any().any() or not np.isfinite(
            out[metrics].to_numpy(dtype=float)).all():
        return "non-finite released value"
    keys = set(out[key].tolist())
    if len(keys) != len(out):
        return "duplicate partition key"
    if expected_keys is not None and keys != set(expected_keys):
        return f"released {len(keys)} keys, expected {len(expected_keys)}"
    if allowed_keys is not None and not keys <= set(allowed_keys):
        return "released a key absent from the input"
    return None


def compare(got: pd.DataFrame, want: pd.DataFrame, key: str,
            cols: Dict[str, float]) -> Optional[str]:
    """``got`` equals ``want`` on every key, each column within its
    relative tolerance."""
    if set(got[key]) != set(want[key]):
        return (f"key sets differ ({len(got)} vs {len(want)}): "
                f"{sorted(set(got[key]) ^ set(want[key]))[:5]}")
    m = got.merge(want, on=key, suffixes=("", "_want"))
    for col, tol in cols.items():
        a = m[col].to_numpy(dtype=float)
        b = m[f"{col}_want"].to_numpy(dtype=float)
        if not np.allclose(a, b, rtol=tol, atol=tol):
            i = int(np.argmax(np.abs(a - b)))
            return f"{col} differs: {a[i]} vs {b[i]}"
    return None


def probe_bounder(df: DataFrame, rows: int, pid: str, pk: str, value: str,
                  l0: int, linf: int) -> dict:
    """Run ``bound_cross_and_per_partition`` alone on an op's input and
    check the L0/Linf invariants on its output in the same job: one
    (pid, partition) row per output row, so a per-pid count over it is
    the number of partitions the pid kept."""
    n = "__n__"
    bounded = bounders.bound_cross_and_per_partition(
        df.select(pid, pk, value), pid, [pk],
        [F.count(F.lit(1)).alias(n), F.sum(value).alias("__s__")],
        l0, linf, row_sampling_needed=True)
    t0 = time.perf_counter()
    got = (bounded.groupBy(pid)
           .agg(F.count(F.lit(1)).alias("l0"), F.max(n).alias("linf"),
                F.sum(n).alias("kept"))
           .agg(F.max("l0").alias("l0"), F.max("linf").alias("linf"),
                F.sum("kept").alias("kept"))
           .collect()[0])
    seconds = time.perf_counter() - t0
    err = None
    if got["linf"] > linf:
        err = f"Linf invariant broken: {got['linf']} > {linf}"
    elif got["l0"] > l0:
        err = f"L0 invariant broken: {got['l0']} > {l0}"
    return {"seconds": seconds, "kept_ratio": got["kept"] / rows,
            "error": err}


class Workload:
    """Defaults shared by the workloads. ``session`` is the fixed list of
    operation kinds one client repeats. ``check`` sets ``probes`` (one
    ``probe_bounder`` result per probed release shape)."""

    session: List[str] = []
    probes: Dict[str, dict] = {}
    # op id -> (bytes, files) a store op added to the warehouse; traced
    # sessions of store_lifecycle only.
    store_io: Dict[str, tuple] = {}

    def reset(self, ctx: Ctx) -> None:
        """Forget state left by the warm-up (and drop what it wrote)."""

    def selection_counts(self, results: List[OpResult]):
        """(partitions released, candidate partitions) over the releases;
        a public-partition release counts its public keys as candidates."""
        released = candidates = 0
        for r in results:
            if "candidates" in r.extra:
                released += len(r.output)
                candidates += r.extra["candidates"]
        return released, candidates

    def bounder_metrics(self) -> dict:
        p = list(self.probes.values())
        return {"s": float(np.median([x["seconds"] for x in p])),
                "kept": float(np.mean([x["kept_ratio"] for x in p]))}


# ---------------------------------------------------------------------------
# release_large: wide groups (bounding-heavy) and narrow groups
# (noise/selection-heavy) in one closed loop
# ---------------------------------------------------------------------------

class ReleaseLarge(Workload):
    """Releases over two tables of opposite shape.

    * ``bound_window`` / ``bound_oversize``: COUNT, SUM and VARIANCE over
      a skewed table with a few hot ids, binding L0/Linf caps, ~100
      public partitions. The small Linf cap takes the window-sample path,
      the cap at ``OVERSIZE_SPLIT_MIN_CAP`` the aggregate-first path.
    * ``wide_geometric`` / ``wide_gaussian``: COUNT and SUM with private
      partition selection over many ~4-row partitions, secure noise and
      ``output_noise_stddev``; truncated-geometric vs Gaussian
      thresholding.
    """

    name = "release_large"
    session = ["bound_window", "wide_geometric", "bound_oversize",
               "wide_gaussian"]
    L0 = 8
    SMALL_LINF = 2
    BOUND_EPS = 3.0
    WIDE_EPS = 15.0
    WIDE_DELTA = 1e-4
    PUBLIC = list(range(gen.BOUND_PUBLIC))
    BOUND_METRICS = [pdp.Metrics.COUNT, pdp.Metrics.SUM,
                     pdp.Metrics.VARIANCE]
    VMAX = 50.0

    def load(self, ctx: Ctx) -> None:
        for t in ("events", "visits"):
            ctx.tables[t] = ctx.spark.read.parquet(ctx.inputs.tables[t])
        self.wide_candidates = len(np.unique(pq.read_table(
            ctx.inputs.tables["visits"], columns=["pk"])["pk"]))

    def linf(self, kind: str) -> int:
        return (self.SMALL_LINF if kind == "bound_window"
                else bounders.OVERSIZE_SPLIT_MIN_CAP)

    def bound_params(self, l0, linf) -> pdp.AggregateParams:
        return pdp.AggregateParams(
            metrics=self.BOUND_METRICS, max_partitions_contributed=l0,
            max_contributions_per_partition=linf, min_value=0.0,
            max_value=self.VMAX)

    def wide_params(self, kind: str) -> pdp.AggregateParams:
        gauss = kind == "wide_gaussian"
        return pdp.AggregateParams(
            metrics=[pdp.Metrics.COUNT, pdp.Metrics.SUM],
            max_partitions_contributed=1, max_contributions_per_partition=1,
            min_value=0.0, max_value=10.0, output_noise_stddev=True,
            noise_kind=(pdp.NoiseKind.GAUSSIAN if gauss
                        else pdp.NoiseKind.LAPLACE),
            partition_selection_strategy=(
                PartitionSelectionStrategy.GAUSSIAN_THRESHOLDING if gauss
                else PartitionSelectionStrategy.TRUNCATED_GEOMETRIC))

    def run_op(self, ctx: Ctx, kind: str) -> OpResult:
        ex = pdp.DataFrameExtractors("pid", "pk", "value")
        if kind.startswith("bound"):
            acc, specs = tracked(pdp.NaiveBudgetAccountant(self.BOUND_EPS))
            engine = pdp.DPEngine(acc)
            params = self.bound_params(self.L0, self.linf(kind))
            out = release(ctx, lambda: engine.aggregate(
                ctx.tables["events"], params, ex, self.PUBLIC), acc)
            return OpResult(kind, ctx.inputs.rows["events"], out,
                            ("naive", acc, specs, self.BOUND_EPS, 0.0),
                            {"candidates": len(self.PUBLIC)})
        acc, specs = tracked(pdp.NaiveBudgetAccountant(self.WIDE_EPS,
                                                       self.WIDE_DELTA))
        engine = pdp.DPEngine(acc)
        params = self.wide_params(kind)
        out = release(ctx, lambda: engine.aggregate(
            ctx.tables["visits"], params, ex), acc)
        return OpResult(kind, ctx.inputs.rows["visits"], out,
                        ("naive", acc, specs, self.WIDE_EPS,
                         self.WIDE_DELTA),
                        {"candidates": self.wide_candidates})

    # -- checks ------------------------------------------------------------

    def _zero_noise(self, ctx, table, params, public=None) -> pd.DataFrame:
        acc = pdp.NaiveBudgetAccountant(
            self.WIDE_EPS if public is None else self.BOUND_EPS,
            self.WIDE_DELTA if public is None else 0.0)
        engine = pdp.DPEngine(acc, noise_mode="zero")
        res = engine.aggregate(ctx.tables[table], params,
                               pdp.DataFrameExtractors("pid", "pk", "value"),
                               public)
        acc.compute_budgets()
        return res.dataframe().toPandas()

    def check(self, ctx: Ctx, results: List[OpResult]) -> Dict[int, str]:
        duck = ctx.duck()
        errors: Dict[int, str] = {}
        family: Dict[str, Optional[str]] = {}

        # Bound family: a zero-noise replay with non-binding caps equals
        # DuckDB's plain clipped aggregate.
        caps = duck.execute(
            "SELECT max(c) FROM (SELECT count(*) c FROM events "
            "GROUP BY pid, pk)").fetchone()[0]
        zero = self._zero_noise(ctx, "events",
                                self.bound_params(gen.BOUND_PARTITIONS,
                                                  int(caps)), self.PUBLIC)
        want = duck.execute(
            f"SELECT pk, count(*)::DOUBLE AS count, "
            f"sum(least(greatest(value, 0), {self.VMAX})) AS sum, "
            f"var_pop(least(greatest(value, 0), {self.VMAX})) AS variance "
            f"FROM events WHERE pk < {gen.BOUND_PUBLIC} GROUP BY pk").df()
        err = compare(zero, want, "pk",
                      {"count": 1e-9, "sum": 1e-9, "variance": 1e-6})
        probes = {}
        for kind in ("bound_window", "bound_oversize"):
            probes[kind] = probe_bounder(
                ctx.tables["events"], ctx.inputs.rows["events"], "pid", "pk",
                "value", self.L0, self.linf(kind))
            family[kind] = err or probes[kind]["error"]

        # Wide family: exact per-partition aggregates (the caps never bind
        # by construction); the zero-noise replay keeps exactly the
        # partitions at or above one privacy-id count.
        exact = duck.execute(
            "SELECT pk, count(*)::DOUBLE AS count, "
            "sum(least(greatest(value, 0), 10.0)) AS sum "
            "FROM visits GROUP BY pk").df()
        zero = self._zero_noise(ctx, "visits",
                                self.wide_params("wide_geometric"))
        err = compare(zero, exact[exact.pk.isin(zero.pk)], "pk",
                      {"count": 1e-9, "sum": 1e-9})
        if err is None and len(zero):
            cut = zero["count"].min()
            if (exact["count"] >= cut).sum() != len(zero):
                err = "zero-noise selection is not a count threshold"
        family["wide_geometric"] = family["wide_gaussian"] = err
        self.probes = probes

        for i, r in enumerate(results):
            err = family[r.kind] or spend_error(r.spend)
            if err is None and r.kind.startswith("bound"):
                err = frame_error(r.output, "pk", expected_keys=self.PUBLIC) \
                    or self._cap_error(duck, r)
            elif err is None:
                err = frame_error(r.output, "pk",
                                  allowed_keys=exact["pk"]) or \
                    self._noise_error(r.output, exact)
            if err:
                errors[i] = f"{r.kind}: {err}"
        return errors

    def _cap_error(self, duck, r: OpResult) -> Optional[str]:
        """A bounded COUNT never exceeds what the Linf cap lets through,
        beyond 20 Laplace scales of noise (the VARIANCE mechanism gives a
        third of its epsilon to the count)."""
        linf = self.linf(r.kind)
        upper = duck.execute(
            f"SELECT pk, sum(least(c, {linf}))::DOUBLE AS upper FROM "
            f"(SELECT pid, pk, count(*) c FROM events GROUP BY ALL) "
            f"GROUP BY pk").df()
        m = r.output.merge(upper, on="pk", how="left").fillna(0.0)
        scale = self.L0 * linf / (self.BOUND_EPS / 3)
        if (m["count"] > m["upper"] + 20 * scale).any():
            return "released COUNT exceeds the Linf-capped total"
        return None

    @staticmethod
    def _noise_error(out: pd.DataFrame, exact: pd.DataFrame
                     ) -> Optional[str]:
        """Empirical noise std (noisy - exact) must agree with the released
        ``*_noise_stddev`` within 10% (the sample std of n >= 1000 draws
        has a relative standard error near 1/sqrt(n) for these tails)."""
        m = out.merge(exact, on="pk", suffixes=("", "_exact"))
        if len(m) < 1000:
            return f"only {len(m)} partitions released"
        for col in ("count", "sum"):
            d = (m[col] - m[f"{col}_exact"]).to_numpy()
            std = float(m[f"{col}_noise_stddev"].iloc[0])
            if abs(d.std() - std) > 0.1 * std:
                return f"{col} noise std {d.std():.4g} vs released {std:.4g}"
            if abs(d.mean()) > 5 * std / math.sqrt(len(d)):
                return f"{col} noise mean {d.mean():.4g} is biased"
        return None


# ---------------------------------------------------------------------------
# analyst_session: many small releases, all APIs and accountants
# ---------------------------------------------------------------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "MAIL", "RAIL", "SHIP", "TRUCK"]
# Every value each partition key can take in the generated tables.
CANDIDATES = {
    "o_orderpriority": PRIORITIES, "l_shipmode": SHIPMODES,
    "o_month": list(range(1, 13))}
EPS, DELTA = 1.0, 1e-6


class AnalystSession(Workload):
    """One analyst session over orders/lineitem (privacy unit: customer):
    dataset histograms, parameter tuning and a utility analysis, then
    small secure releases through ``QueryBuilder`` and ``make_private``
    with the naive, PLD and RDP accountants."""

    session = ["histograms", "tune", "utility", "qb_count_mean",
               "mp_sum_rdp", "mp_variance_pld", "mp_percentile_naive"]

    def load(self, ctx: Ctx) -> None:
        for t in ("orders", "lineitem"):
            ctx.tables[t] = ctx.spark.read.parquet(ctx.inputs.tables[t])
        self.hist = None

    def _ex(self):
        return pdp.DataFrameExtractors("o_custkey", "o_orderpriority",
                                       "o_totalprice")

    # (table, pid, partition key, value, l0, linf, lo, hi)
    RELEASES = {
        "qb_count_mean": ("orders", "o_custkey", "o_orderpriority",
                          "o_totalprice", 3, 5, 0.0, 5000.0),
        "mp_sum_rdp": ("orders", "o_custkey", "o_month", "o_totalprice",
                       6, 4, 0.0, 3000.0),
        "mp_variance_pld": ("lineitem", "l_custkey", "l_shipmode",
                            "l_quantity", 5, 20, 0.0, 50.0),
        "mp_percentile_naive": ("lineitem", "l_custkey", "l_shipmode",
                                "l_quantity", 5, 20, 0.0, 50.0),
    }

    def run_op(self, ctx: Ctx, kind: str) -> OpResult:
        o, li = ctx.tables["orders"], ctx.tables["lineitem"]
        rows = ctx.inputs.rows
        if kind == "histograms":
            with ctx.span("analysis.histograms"):
                self.hist = analysis.compute_dataset_histograms(o, self._ex())
            return OpResult(kind, rows["orders"], self.hist)
        if kind == "tune":
            params = pdp.AggregateParams(
                metrics=[pdp.Metrics.COUNT], max_partitions_contributed=1,
                max_contributions_per_partition=1)
            with ctx.span("analysis.tune"):
                res = analysis.tune(o, params, self._ex(), EPS, DELTA,
                                    public_partitions=PRIORITIES,
                                    histograms=self.hist)
            return OpResult(kind, rows["orders"], res)
        if kind == "utility":
            params = pdp.AggregateParams(
                metrics=[pdp.Metrics.COUNT, pdp.Metrics.SUM],
                max_partitions_contributed=1,
                max_contributions_per_partition=1,
                min_sum_per_partition=0.0, max_sum_per_partition=5000.0)
            conf = analysis.MultiParameterConfiguration(
                [1, 2, 4], [1, 3, 6], [0.0, 0.0, 0.0],
                [2000.0, 5000.0, 10000.0])
            with ctx.span("analysis.utility"):
                res = analysis.UtilityAnalysisEngine(EPS, DELTA).analyze(
                    o, params, self._ex(), conf)
            return OpResult(kind, rows["orders"], res, extra={"n": 3})

        table, pid, pk, value, l0, linf, lo, hi = self.RELEASES[kind]
        df = o if table == "orders" else li
        n = rows[table]
        if kind == "qb_count_mean":
            with ctx.span("dp_engine.aggregate"):
                q = (pdp.QueryBuilder(df, pid)
                     .groupby(pk, l0, linf, public_keys=PRIORITIES)
                     .count().privacy_id_count().mean(value, lo, hi)
                     .build_query())
                out_df = q.run_query(pdp.Budget(EPS, DELTA))
            return OpResult(kind, n, collect(ctx, out_df),
                            extra={"candidates": len(PRIORITIES)})
        acc_kind, acc_cls = {
            "mp_sum_rdp": ("rdp", pdp.RDPBudgetAccountant),
            "mp_variance_pld": ("pld", pdp.PLDBudgetAccountant),
            "mp_percentile_naive": ("naive", pdp.NaiveBudgetAccountant),
        }[kind]
        acc, specs = tracked(acc_cls(EPS, DELTA))
        private = pdp.make_private(df, acc, pid)
        common = dict(partition_key=pk, max_partitions_contributed=l0,
                      max_contributions_per_partition=linf)
        if kind == "mp_sum_rdp":
            call = lambda: private.sum(pdp.SumParams(  # noqa: E731
                value_column=value, min_value=lo, max_value=hi,
                noise_kind=pdp.NoiseKind.GAUSSIAN, **common))
        elif kind == "mp_variance_pld":
            call = lambda: private.variance(pdp.VarianceParams(  # noqa: E731
                value_column=value, min_value=lo, max_value=hi,
                noise_kind=pdp.NoiseKind.GAUSSIAN, public_partitions=SHIPMODES,
                **common))
        else:
            call = lambda: private.percentile(  # noqa: E731
                pdp.PercentileParams(value_column=value,
                                     percentiles=[50.0, 90.0], min_value=lo,
                                     max_value=hi,
                                     public_partitions=SHIPMODES, **common))
        out = release(ctx, call, acc)
        return OpResult(kind, n, out, (acc_kind, acc, specs, EPS, DELTA),
                        {"candidates": len(CANDIDATES[pk])})

    # -- checks ------------------------------------------------------------

    def _replay(self, ctx: Ctx, kind: str) -> Optional[str]:
        """Zero-noise replay with non-binding caps against DuckDB."""
        table, pid, pk, value, _l0, _linf, lo, hi = self.RELEASES[kind]
        duck = ctx.duck()
        l0, linf = duck.execute(
            f"SELECT max(np), max(mc) FROM (SELECT {pid}, "
            f"count(DISTINCT {pk}) np, max(c) mc FROM (SELECT {pid}, {pk}, "
            f"count(*) c FROM {table} GROUP BY ALL) GROUP BY {pid})"
        ).fetchone()
        keys = {"qb_count_mean": PRIORITIES, "mp_variance_pld": SHIPMODES,
                "mp_percentile_naive": SHIPMODES}.get(kind)
        metrics = {
            "qb_count_mean": [pdp.Metrics.COUNT, pdp.Metrics.PRIVACY_ID_COUNT,
                              pdp.Metrics.MEAN],
            "mp_sum_rdp": [pdp.Metrics.SUM],
            "mp_variance_pld": [pdp.Metrics.VARIANCE],
            "mp_percentile_naive": [pdp.Metrics.PERCENTILE(50.0)],
        }[kind]
        acc = pdp.NaiveBudgetAccountant(EPS, DELTA)
        engine = pdp.DPEngine(acc, noise_mode="zero")
        params = pdp.AggregateParams(
            metrics=metrics, max_partitions_contributed=int(l0),
            max_contributions_per_partition=int(linf), min_value=lo,
            max_value=hi)
        res = engine.aggregate(ctx.tables[table], params,
                               pdp.DataFrameExtractors(pid, pk, value), keys)
        acc.compute_budgets()
        got = res.dataframe().toPandas()
        v = f"least(greatest({value}, {lo}), {hi})"
        sel = {
            "qb_count_mean": (f"count(*)::DOUBLE AS count, count(DISTINCT "
                              f"{pid})::DOUBLE AS privacy_id_count, "
                              f"avg({v}) AS mean"),
            "mp_sum_rdp": f"sum({v}) AS sum",
            "mp_variance_pld": f"var_pop({v}) AS variance",
            "mp_percentile_naive": (f"quantile_cont({v}, 0.5) AS "
                                    f"percentile_50"),
        }[kind]
        want = duck.execute(f"SELECT {pk}, {sel} FROM {table} "
                            f"GROUP BY {pk}").df()
        if keys is None:
            # Private selection keeps a subset; compare on what was kept.
            want = want[want[pk].isin(got[pk])]
            if len(got) == 0:
                return "zero-noise replay released nothing"
        tol = {c: 1e-6 for c in got.columns if c != pk}
        if kind == "mp_percentile_naive":
            # Histogram percentiles are exact to one bin width.
            got["percentile_50"] = got["percentile_50"].round(0)
            want["percentile_50"] = want["percentile_50"].round(0)
            tol = {"percentile_50": 2 * (hi - lo) / 256}
        return compare(got, want, pk, tol)

    def check(self, ctx: Ctx, results: List[OpResult]) -> Dict[int, str]:
        duck = ctx.duck()
        errors: Dict[int, str] = {}
        replay = {k: self._replay(ctx, k) for k in self.RELEASES}
        n_ids = duck.execute(
            "SELECT count(DISTINCT o_custkey) FROM orders").fetchone()[0]
        self.probes = {"lineitem": probe_bounder(
            ctx.tables["lineitem"], ctx.inputs.rows["lineitem"], "l_custkey",
            "l_shipmode", "l_quantity", 5, 20)}
        probe_err = self.probes["lineitem"]["error"]
        for i, r in enumerate(results):
            err = None
            if r.kind == "histograms":
                if r.output.l0_contributions_histogram.total_count != n_ids:
                    err = "L0 histogram does not count every privacy id"
            elif r.kind == "tune":
                if not (r.output.recommended_max_partitions_contributed >= 1
                        and math.isfinite(r.output.recommended_rmse)):
                    err = "tuning returned no usable bound"
            elif r.kind == "utility":
                if len(r.output) != r.extra["n"] or any(
                        not math.isfinite(e.rmse) or e.rmse < 0
                        for rep in r.output for e in rep.metric_errors):
                    err = "utility report incomplete"
            else:
                _t, _pid, pk, *_ = self.RELEASES[r.kind]
                public = {"qb_count_mean": PRIORITIES,
                          "mp_variance_pld": SHIPMODES,
                          "mp_percentile_naive": SHIPMODES}.get(r.kind)
                err = probe_err or replay[r.kind] or (
                    spend_error(r.spend) if r.spend else None) or \
                    frame_error(r.output, pk, expected_keys=public,
                                allowed_keys=CANDIDATES[pk])
            if err:
                errors[i] = f"{r.kind}: {err}"
        return errors


# ---------------------------------------------------------------------------
# store_lifecycle: persisted near-dup and ANN stores, writes beside reads
# ---------------------------------------------------------------------------

class StoreLifecycle(Workload):
    """Near-dup (MinHash) and ANN (IVF-PQ) store lifecycles: build on a
    reference slice, ingest a batch through the idempotent foreachBatch
    body, replay it, take down a few reference ids, then probe."""

    session = ["nd_build", "nd_ingest", "nd_replay", "nd_takedown",
               "nd_probe", "ann_build", "ann_ingest", "ann_replay",
               "ann_takedown", "ann_probe"]
    REF = gen.STORE_DOCS // 2
    THRESHOLD = 0.7

    def load(self, ctx: Ctx) -> None:
        from pipelinedp_spark.operators import similarity
        for t in ("documents", "embeddings"):
            ctx.tables[t] = ctx.spark.read.parquet(ctx.inputs.tables[t])
        emb = ctx.tables["embeddings"]
        x = similarity.sample_corpus_matrix(emb, "vec_id", "embedding",
                                            10_000)
        self.centroids = similarity.train_ivf_centroids(x, 4, 7)
        self.codebooks = similarity.train_pq_codebooks(x, 4, 16, 7)
        self.slices = self._slices(ctx)
        self.round = 0
        self.stores: List[dict] = []
        self.store_io = {}

    def reset(self, ctx: Ctx) -> None:
        for name in [t.name for t in ctx.spark.catalog.listTables()]:
            if name.startswith("bench_"):
                ctx.spark.sql(f"DROP TABLE IF EXISTS {name}")
        self.stores = []

    def _store_op(self, ctx: Ctx, name: str, fn):
        """Run one store call under its span; in traced runs also count
        the bytes and files it adds under the warehouse directory."""
        if not ctx.rec.enabled:
            with ctx.span(name):
                return fn()
        before = _dir_stats(ctx.warehouse)
        with ctx.span(name):
            out = fn()
        with ctx.span("trace.fs_walk"):
            after = _dir_stats(ctx.warehouse)
        new = {p: sz for p, sz in after.items() if before.get(p) != sz}
        self.store_io[ctx.op_id] = (sum(new.values()), len(new))
        return out

    def _slices(self, ctx):
        d = ctx.tables["documents"].select("doc_id", "text")
        e = ctx.tables["embeddings"]
        return {
            "nd_ref": d.filter(F.col("doc_id") < self.REF),
            "nd_batch": d.filter(F.col("doc_id") >= self.REF),
            "ann_ref": e.filter(F.col("vec_id") < self.REF),
            "ann_batch": e.filter(F.col("vec_id") >= self.REF),
            "nd_removed": d.filter((F.col("doc_id") < self.REF)
                                   & (F.col("doc_id") % 10 == 0)),
            "ann_removed": e.filter((F.col("vec_id") < self.REF)
                                    & (F.col("vec_id") % 10 == 0)),
            "nd_probe": d.filter(F.col("doc_id") < 60),
            "ann_probe": (e.filter(F.col("vec_id") % 60 == 1)
                          .select(F.col("vec_id").alias("query_id"),
                                  F.col("embedding").alias("query_vec"))),
        }

    def run_op(self, ctx: Ctx, kind: str) -> OpResult:
        from pipelinedp_spark.operators import dedup, similarity
        from pipelinedp_spark.streaming import dp_streaming as stream
        if kind == "nd_build":
            self.round += 1
            self.cur = {"nd": f"bench_nd_{self.round}",
                        "ann": f"bench_ann_{self.round}", "sink": []}
            self.stores.append(self.cur)
        docs = gen.STORE_DOCS
        s = self.slices
        nd, ann = self.cur["nd"], self.cur["ann"]
        step = {"build": "store.build", "ingest": "store.ingest",
                "replay": "store.replay", "takedown": "store.takedown",
                "probe": "store.probe"}.get(kind.split("_", 1)[-1])
        if kind == "nd_build":
            self._store_op(ctx, step, lambda: dedup.build_minhash_store(
                s["nd_ref"], nd, num_buckets=4))
            return OpResult(kind, self.REF)
        if kind in ("nd_ingest", "nd_replay"):
            sink = self.cur["sink"]
            applied = self._store_op(
                ctx, step, lambda: stream.ingest_near_dup_batch_idempotent(
                    s["nd_batch"], nd, 1, jaccard_threshold=self.THRESHOLD,
                    sink=lambda surv: sink.append(
                        surv.select("doc_id").toPandas())))
            return OpResult(kind, docs - self.REF, applied)
        if kind == "nd_takedown":
            self._store_op(ctx, step, lambda: dedup.remove_from_minhash_store(
                s["nd_removed"], nd))
            return OpResult(kind, self.REF // 10)
        if kind == "nd_probe":
            with ctx.span(step):
                out = collect(ctx, dedup.incremental_near_dup(
                    s["nd_probe"], nd, jaccard_threshold=self.THRESHOLD))
            return OpResult(kind, 60, out)
        if kind == "ann_build":
            self._store_op(ctx, step, lambda: similarity.build_ann_index(
                s["ann_ref"], ann, num_cells=4, m=4, ksub=16,
                centroids=self.centroids, codebooks=self.codebooks))
            return OpResult(kind, self.REF)
        if kind in ("ann_ingest", "ann_replay"):
            applied = self._store_op(
                ctx, step, lambda: stream.ingest_ann_batch_idempotent(
                    s["ann_batch"], ann, 1))
            return OpResult(kind, docs - self.REF, applied)
        if kind == "ann_takedown":
            self._store_op(ctx, step, lambda: similarity.remove_from_ann_index(
                s["ann_removed"], ann))
            return OpResult(kind, self.REF // 10)
        with ctx.span(step):
            out = collect(ctx, similarity.ann_search_from_index(
                s["ann_probe"], ann, k=5, nprobe=2))
        return OpResult(kind, 10, out)

    # -- checks ------------------------------------------------------------

    def _rows(self, ctx, table, cols) -> set:
        return set(map(tuple, ctx.spark.table(table).select(*cols)
                       .toPandas().astype(str).itertuples(index=False)))

    def _check_store(self, ctx: Ctx, st: dict) -> Optional[str]:
        """Contents after ingest, replay and takedown must equal a store
        built from scratch on the surviving documents/vectors."""
        from pipelinedp_spark.operators import dedup, similarity
        s = self.slices
        removed = set(s["nd_removed"].toPandas()["doc_id"])
        if len(st["sink"]) != 1:
            return "replayed near-dup batch reached the sink again"
        survivors = (set(range(self.REF))
                     | set(st["sink"][0]["doc_id"])) - removed
        fresh = st["nd"] + "_fresh"
        docs = ctx.tables["documents"].select("doc_id", "text")
        dedup.build_minhash_store(
            docs.filter(F.col("doc_id").isin(sorted(survivors))), fresh,
            num_buckets=4)
        tomb = {int(r[0]) for r in self._rows(ctx, f"{st['nd']}_tombstones",
                                             ["id"])}
        if tomb != removed:
            return "near-dup tombstones differ from the removed ids"
        for suffix, cols in (("_bands", ["id", "bh"]),
                             ("_shingles", ["id", "shingles"])):
            live = {r for r in self._rows(ctx, st["nd"] + suffix, cols)
                    if int(r[0]) not in removed}
            if live != self._rows(ctx, fresh + suffix, cols):
                return f"near-dup store {suffix} differs from a rebuild"
        ann_removed = set(s["ann_removed"].toPandas()["vec_id"])
        emb = ctx.tables["embeddings"]
        fresh_ann = st["ann"] + "_fresh"
        similarity.build_ann_index(
            emb.filter(~F.col("vec_id").isin(sorted(ann_removed))),
            fresh_ann, num_cells=4, m=4, ksub=16, centroids=self.centroids,
            codebooks=self.codebooks)
        cols = ["id", "cell", "codes"]
        live = {r for r in self._rows(ctx, st["ann"] + "_codes", cols)
                if int(r[0]) not in ann_removed}
        if live != self._rows(ctx, fresh_ann + "_codes", cols):
            return "ANN codes differ from a rebuild"
        return None

    def check(self, ctx: Ctx, results: List[OpResult]) -> Dict[int, str]:
        per_round: Dict[int, Optional[str]] = {}
        for n, st in enumerate(self.stores):
            per_round[n] = self._check_store(ctx, st)
        errors: Dict[int, str] = {}
        rnd = -1
        for i, r in enumerate(results):
            if r.kind == "nd_build":
                rnd += 1
            err = per_round.get(rnd)
            if err is None:
                if r.kind in ("nd_ingest", "ann_ingest") and \
                        r.output is not True:
                    err = "fresh batch was skipped"
                elif r.kind in ("nd_replay", "ann_replay") and \
                        r.output is not False:
                    err = "replayed batch was applied twice"
            if err:
                errors[i] = f"{r.kind}: {err}"
        return errors



def _dir_stats(path: str) -> Dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class AnalystStore(Workload):
    """One session of small operations: the analyst part (analysis pass
    and small releases) followed by the store part (both store
    lifecycles). Per-operation fixed costs dominate both; together they
    cover every layer ``release_large`` leaves idle."""

    name = "analyst_store"

    def __init__(self):
        self.analyst = AnalystSession()
        self.store = StoreLifecycle()
        self.session = self.analyst.session + self.store.session

    def load(self, ctx: Ctx) -> None:
        self.analyst.load(ctx)
        self.store.load(ctx)
        self.store_io = self.store.store_io

    def reset(self, ctx: Ctx) -> None:
        self.store.reset(ctx)

    def _part(self, kind: str) -> Workload:
        return self.analyst if kind in self.analyst.session else self.store

    def run_op(self, ctx: Ctx, kind: str) -> OpResult:
        return self._part(kind).run_op(ctx, kind)

    def check(self, ctx: Ctx, results: List[OpResult]) -> Dict[int, str]:
        errors: Dict[int, str] = {}
        for part in (self.analyst, self.store):
            idx = [i for i, r in enumerate(results)
                   if self._part(r.kind) is part]
            errs = part.check(ctx, [results[i] for i in idx])
            errors.update({idx[j]: e for j, e in errs.items()})
        self.probes = self.analyst.probes
        return errors


WORKLOADS = {w.name: w for w in (ReleaseLarge, AnalystStore)}
