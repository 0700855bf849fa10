"""Statistical end-to-end tests of the SECURE noise paths.

The oracle gate only exercises noise_mode='zero'; these tests run the real
OS-entropy noise and check distributional properties, mirroring the
reference's e2e strategy (reference: tests/dp_engine_test.py:1161-1227 —
high-epsilon near-exact outputs; selection cardinality bounds).

Each statistical bound below holds with overwhelming probability (failure
probability < 1e-9 unless noted), so the tests are not flaky in practice.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

import pipelinedp_spark as pds
from pipelinedp_spark.aggregate_params import (NoiseKind,
                                               PartitionSelectionStrategy,
                                               SelectPartitionsParams)


def _groups_df(spark, n_groups=5, users_per_group=40, rows_per_user=2):
    """users_per_group distinct users per group, each with rows_per_user
    rows of value 1.0; user ids are disjoint across groups (L0 = 1)."""
    n = n_groups * users_per_group * rows_per_user
    return spark.range(n).select(
        (F.col("id") % (n_groups * users_per_group)).alias("uid"),
        ((F.col("id") % (n_groups * users_per_group)) % F.lit(n_groups))
        .alias("grp"),
        F.lit(1.0).alias("v"))


def _run_agg(spark, df, metrics, eps, delta, noise_kind=NoiseKind.LAPLACE,
             public=None, **params_kw):
    acct = pds.NaiveBudgetAccountant(eps, delta)
    engine = pds.DPEngine(acct, noise_mode="secure")
    params = pds.AggregateParams(
        metrics=metrics,
        max_partitions_contributed=params_kw.pop("l0", 1),
        max_contributions_per_partition=params_kw.pop("linf", 2),
        noise_kind=noise_kind,
        **params_kw)
    res = engine.aggregate(df, params,
                           pds.DataFrameExtractors("uid", "grp", "v"),
                           public_partitions=public)
    acct.compute_budgets()
    return res.dataframe()


def test_high_eps_count_sum_near_exact(spark):
    """eps=2000 -> Laplace scale 2*2/1000 per metric; |noise| > 0.5 has
    probability e^{-125}. Exact: count 80, sum 80 per group."""
    df = _groups_df(spark)
    out = _run_agg(spark, df, [pds.Metrics.COUNT, pds.Metrics.SUM],
                   eps=2000.0, delta=0.0, public=[0, 1, 2, 3, 4],
                   min_value=0.0, max_value=1.0)
    rows = out.collect()
    assert len(rows) == 5
    for r in rows:
        assert abs(r["count"] - 80.0) < 0.5
        assert abs(r["sum"] - 80.0) < 0.5


def test_high_eps_gaussian_mean_near_exact(spark):
    df = _groups_df(spark)
    out = _run_agg(spark, df, [pds.Metrics.MEAN], eps=5000.0, delta=1e-4,
                   noise_kind=NoiseKind.GAUSSIAN, public=[0, 1, 2, 3, 4],
                   min_value=0.0, max_value=1.0)
    for r in out.collect():
        assert abs(r["mean"] - 1.0) < 0.05


def test_secure_count_noise_is_actually_random(spark):
    """Two secure runs of the same moderate-eps query must differ (the
    probability of two identical continuous Laplace draws is 0), and both
    must stay within ~40 scale units of truth (P[fail] < 2e-17 per run)."""
    df = _groups_df(spark)
    a = {r["grp"]: r["count"] for r in
         _run_agg(spark, df, [pds.Metrics.COUNT], eps=1.0, delta=0.0,
                  public=[0, 1, 2, 3, 4]).collect()}
    b = {r["grp"]: r["count"] for r in
         _run_agg(spark, df, [pds.Metrics.COUNT], eps=1.0, delta=0.0,
                  public=[0, 1, 2, 3, 4]).collect()}
    assert a != b
    scale = 2.0 / 1.0  # l0=1, linf=2, eps=1
    for vals in (a, b):
        for grp, c in vals.items():
            assert abs(c - 80.0) < 40 * scale


def test_laplace_thresholding_selection_cardinality(spark):
    """40-user partitions clear the threshold (~8.3 at eps=3, delta=1e-6)
    except with probability < 1e-9; 1-user partitions survive with
    probability ~delta. 5 dense + 200 sparse partitions."""
    dense = spark.range(200).select(
        (F.col("id") % 200).alias("uid"), (F.col("id") % 5).alias("grp"))
    sparse = spark.range(200).select(
        (F.col("id") + 1000).alias("uid"), (F.col("id") + 1000).alias("grp"))
    df = dense.unionByName(sparse).withColumn("v", F.lit(1.0))

    acct = pds.NaiveBudgetAccountant(3.0, 1e-6)
    engine = pds.DPEngine(acct, noise_mode="secure")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.COUNT],
        max_partitions_contributed=1,
        max_contributions_per_partition=1,
        partition_selection_strategy=(
            PartitionSelectionStrategy.LAPLACE_THRESHOLDING))
    res = engine.aggregate(df, params,
                           pds.DataFrameExtractors("uid", "grp", "v"))
    acct.compute_budgets()
    kept = {r["grp"] for r in res.dataframe().collect()}
    assert {0, 1, 2, 3, 4} <= kept
    # all 200 sparse singletons surviving-at-once is impossible; allow a
    # generous margin (each survives w.p. ~1e-6).
    assert len(kept) <= 5 + 3


def test_truncated_geometric_selection_cardinality(spark):
    """select_partitions with the truncated-geometric mechanism: dense
    partitions kept, singleton partitions dropped (w.h.p.)."""
    dense = spark.range(300).select(
        (F.col("id") % 300).alias("uid"), (F.col("id") % 3).alias("grp"))
    sparse = spark.range(100).select(
        (F.col("id") + 5000).alias("uid"), (F.col("id") + 5000).alias("grp"))
    df = dense.unionByName(sparse)

    acct = pds.NaiveBudgetAccountant(3.0, 1e-6)
    engine = pds.DPEngine(acct, noise_mode="secure")
    res = engine.select_partitions(
        df, SelectPartitionsParams(max_partitions_contributed=1),
        pds.DataFrameExtractors("uid", "grp", None))
    acct.compute_budgets()
    kept = {r["grp"] for r in res.dataframe().collect()}
    assert {0, 1, 2} <= kept
    assert len(kept) <= 3 + 3


def test_post_aggregation_thresholding_secure(spark):
    """Reference test_run_e2e_post_aggregation_thresholding: many
    partitions x 3 users at eps=10, delta=1e-10. At our calibration the
    threshold is ~3.37 (b=0.1), so each partition survives w.p.
    0.5*exp(-3.7) ~ 1.2%: of 2000 partitions, between 5 and 300 survive
    except with probability < 1e-7, and every released pid count must
    clear the threshold."""
    n_parts = 2000
    rows = spark.range(n_parts * 3).select(
        F.col("id").alias("uid"), (F.col("id") % n_parts).alias("grp"),
        F.lit(0.0).alias("v"))
    acct = pds.NaiveBudgetAccountant(10.0, 1e-10)
    engine = pds.DPEngine(acct, noise_mode="secure")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.PRIVACY_ID_COUNT],
        noise_kind=NoiseKind.LAPLACE,
        max_partitions_contributed=1,
        max_contributions_per_partition=1,
        post_aggregation_thresholding=True)
    res = engine.aggregate(rows, params,
                           pds.DataFrameExtractors("uid", "grp", "v"))
    acct.compute_budgets()
    out = res.dataframe().collect()
    assert 5 < len(out) < 300
    # released noisy pid counts must all clear the threshold (~3.37).
    for r in out:
        assert r["privacy_id_count"] > 3.0


def test_laplace_noise_empirical_scale(spark):
    """The secure count noise must actually have the calibrated scale:
    across 60 independent partitions at eps=0.5 (scale b=4), the sample
    std of (count - truth) must be within [0.5, 1.6] x (b*sqrt(2)).
    With n=60 iid Laplace draws this bound fails w.p. < 1e-6."""
    n_parts = 60
    df = spark.range(n_parts * 20).select(
        F.col("id").alias("uid"), (F.col("id") % n_parts).alias("grp"),
        F.lit(1.0).alias("v"))
    out = _run_agg(spark, df, [pds.Metrics.COUNT], eps=0.5, delta=0.0,
                   l0=1, linf=1, public=list(range(n_parts)))
    errs = np.array([r["count"] - 20.0 for r in out.collect()])
    b = 1.0 / 0.5  # l1 sensitivity 1 at l0=1, linf=1
    true_std = b * math.sqrt(2.0)
    assert len(errs) == n_parts
    assert 0.5 * true_std < errs.std() < 1.6 * true_std
    # noise must be centered: |mean| < 5 * std/sqrt(n)
    assert abs(errs.mean()) < 5 * true_std / math.sqrt(n_parts)


def test_high_eps_variance_percentile_near_exact(spark):
    """Secure-noise variance and percentile at huge epsilon: values
    alternate 0.0 / 1.0 within each group, so true variance is 0.25 and
    the median of the bounded domain is in {0, 1}. At eps=20000 every
    mechanism's noise is far below the tolerance with overwhelming
    probability."""
    n_groups, users, rows = 3, 40, 2
    n = n_groups * users * rows
    df = spark.range(n).select(
        (F.col("id") % (n_groups * users)).alias("uid"),
        ((F.col("id") % (n_groups * users)) % F.lit(n_groups)).alias("grp"),
        (F.col("id") % 2).cast("double").alias("v"))
    out = _run_agg(spark, df,
                   [pds.Metrics.VARIANCE, pds.Metrics.PERCENTILE(50)],
                   eps=20000.0, delta=0.0, public=[0, 1, 2],
                   min_value=0.0, max_value=1.0)
    rows_ = out.collect()
    assert len(rows_) == 3
    for r in rows_:
        assert abs(r["variance"] - 0.25) < 0.05
        assert -0.05 <= r["percentile_50"] <= 1.05


def test_noise_calibration_under_truncated_geometric_selection(spark):
    """Selection and metric noise are drawn in one projection; the draws
    must stay independent and correctly scaled. COUNT+SUM over 5000
    partitions of 12 users each (every partition kept w.p. > 0.9999 at
    the selection's eps=2, delta=1e-6): for each metric the empirical std
    of (noisy - exact) is within 10% of the released `*_noise_stddev`
    (the relative standard error of a Laplace sample std is
    0.5 * sqrt(5 / n): 0.016 at the expected n ~ 5000, so a 10% miss is
    over 6 standard errors), and the mean error is within 5 standard
    errors of 0."""
    n_parts, users = 5000, 12
    df = spark.range(n_parts * users).select(
        F.col("id").alias("uid"), (F.col("id") % n_parts).alias("grp"),
        F.lit(1.0).alias("v"))
    out = _run_agg(spark, df, [pds.Metrics.COUNT, pds.Metrics.SUM],
                   eps=6.0, delta=1e-6, l0=1, linf=1, min_value=0.0,
                   max_value=2.0, output_noise_stddev=True,
                   partition_selection_strategy=(
                       PartitionSelectionStrategy.TRUNCATED_GEOMETRIC))
    rows = out.collect()
    assert len(rows) >= 1000
    for name in ("count", "sum"):
        errs = np.array([r[name] - float(users) for r in rows])
        std = rows[0][f"{name}_noise_stddev"]
        assert {r[f"{name}_noise_stddev"] for r in rows} == {std}
        assert abs(errs.std() / std - 1.0) < 0.10, (name, errs.std(), std)
        assert abs(errs.mean()) < 5 * std / math.sqrt(len(errs))
