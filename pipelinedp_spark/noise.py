"""Noise column generators.

DP noise must be fresh and unseeded; Spark's ``F.rand()``/``F.randn()`` are
seeded per-partition and replay on task retry, so secure noise is drawn in
Arrow-batched pandas UDFs from ``numpy.random.default_rng()`` (OS entropy per
batch). A zero-noise source provides the deterministic mode used by tests and
the DuckDB oracle (mirrors how the reference mocks ``add_noise``; reference:
tests/combiners_test.py:266).

Noise is applied AFTER aggregation (one row per partition key), but it is
not free: every Arrow Python evaluation node keeps its own Python worker
per task and pays worker start-up, Arrow serialization and memory. Hence
the rule every release follows: ONE noise projection per release. The
selection decision, every metric draw and every intermediate a formula
reads are drawn together in a single ``select`` (one ``ArrowEvalPython``
node), and rows are filtered only AFTER the draw, on the materialized
columns the release reads. A draw is evaluated exactly once (the UDFs are
nondeterministic, so Catalyst neither duplicates nor pushes predicates
through them); candidates that selection drops also draw noise, which is
independent of the kept rows' draws and thrown away. New samplers must
keep this one-pass shape (pinned by
``tests/test_plan_shapes.py::test_one_python_noise_pass_per_release``).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType


class NoiseSource:
    """Interface: produce noise Columns / selection Columns."""

    def laplace(self, scale: float) -> Column:
        raise NotImplementedError

    def gaussian(self, sigma: float) -> Column:
        raise NotImplementedError

    def add_noise(self, col: Column, kind: str, scale: float) -> Column:
        if scale == 0:
            return col
        noise = self.laplace(scale) if kind == "laplace" else \
            self.gaussian(scale)
        return col + noise

    def geometric_keep(self, count_col: Column, probs: np.ndarray,
                       pre_threshold: Optional[int]) -> Column:
        """Boolean keep decision for truncated-geometric partition selection,
        given the exact privacy-id count column and precomputed keep
        probabilities p[n] (index clamps at the top: p[-1] == 1.0)."""
        raise NotImplementedError


class SecureNoiseSource(NoiseSource):
    """Production noise: OS-entropy numpy RNG inside vectorized pandas UDFs."""

    def laplace(self, scale: float) -> Column:
        @F.pandas_udf(DoubleType())
        def _noise(v: pd.Series) -> pd.Series:
            rng = np.random.default_rng()
            return pd.Series(rng.laplace(0.0, scale, size=len(v)))

        # Nondeterministic so Catalyst never duplicates the draw (e.g. by
        # pushing a threshold predicate through the projection) or collapses
        # two draws into one — either would break the DP guarantee by
        # decoupling the released value from the thresholded value.
        return _noise.asNondeterministic()(F.lit(0.0))

    def gaussian(self, sigma: float) -> Column:
        @F.pandas_udf(DoubleType())
        def _noise(v: pd.Series) -> pd.Series:
            rng = np.random.default_rng()
            return pd.Series(rng.normal(0.0, sigma, size=len(v)))

        return _noise.asNondeterministic()(F.lit(0.0))

    def geometric_keep(self, count_col: Column, probs: np.ndarray,
                       pre_threshold: Optional[int]) -> Column:
        pre = pre_threshold or 1
        probs_arr = probs  # closure-captured; small (reaches 1.0 quickly)

        @F.pandas_udf(BooleanType())
        def _keep(n: pd.Series) -> pd.Series:
            rng = np.random.default_rng()
            # pre-thresholding: partitions below pre_threshold never kept;
            # DP probability applies to (n - pre + 1).
            eff = (n.to_numpy(dtype=np.int64) - (pre - 1))
            idx = np.clip(eff, 0, len(probs_arr) - 1)
            p = probs_arr[idx]
            p = np.where(eff <= 0, 0.0, p)
            u = rng.random(len(n))
            return pd.Series(u < p)

        return _keep.asNondeterministic()(count_col)


class ZeroNoiseSource(NoiseSource):
    """Deterministic mode: zero noise; geometric selection keeps iff
    p[n] >= 0.5."""

    def laplace(self, scale: float) -> Column:
        return F.lit(0.0)

    def gaussian(self, sigma: float) -> Column:
        return F.lit(0.0)

    def geometric_keep(self, count_col: Column, probs: np.ndarray,
                       pre_threshold: Optional[int]) -> Column:
        pre = pre_threshold or 1
        # First n whose keep-probability reaches 0.5 — deterministic cutover.
        above = np.nonzero(probs >= 0.5)[0]
        cutoff = int(above[0]) if len(above) else len(probs)
        return count_col >= F.lit(cutoff + (pre - 1))


def create_noise_source(mode: str = "secure") -> NoiseSource:
    if mode == "secure":
        return SecureNoiseSource()
    if mode == "zero":
        return ZeroNoiseSource()
    raise ValueError(f"unknown noise mode: {mode}")
