"""Contribution bounding as window-sampled DataFrame stages.

The reference has five bounder classes (reference:
pipeline_dp/contribution_bounders.py:63-247). Here they are three
functions:

- ``bound_cross_and_per_partition``, the one partial-aggregate bounder.
  Its caps are optional, and the reference's strategies are its modes:
  both caps (SamplingCrossAndPerPartition), no row sampling because a
  per-partition sum clip bounds Linf (SamplingCrossPartition),
  ``l0=None`` (LinfSampler) and both caps ``None`` (NoOpSampler).
- ``bound_per_privacy_id``: the total-contributions (max_contributions)
  bounder (SamplingPerPrivacyId).
- ``bound_rows``: the row-output bounder for callers that need the
  surviving rows rather than partials (percentile histograms, vector
  sums, custom combiners, partition selection).

Every sample is bounded window sampling —
``row_number() OVER (PARTITION BY keys ORDER BY rand()) <= cap`` — which
never materializes per-key state, keeps uniform-without-replacement
semantics, and lets AQE handle skew. The partial bounders return one row
per (privacy_id, partition_key) carrying partial-aggregate columns; the
caller finishes with a groupBy(partition_key) merge, so Catalyst plans
map-side partial aggregation for both stages.

Plan shape (cross-and-per-partition case, aggregate-first):
  shuffle 1: groupBy(pid, pk) partial aggregation + group count — the
             ONLY pass over raw rows when no group exceeds Linf: a
             sort-free, map-side-combined aggregation
  (resample branch, oversize groups only: semi-join their raw rows
   back — AQE broadcasts the key set, or eliminates the branch outright
   when it is empty — then row_number-window-sample and re-aggregate)
  shuffle 2: window over (pid)      [L0 sample]
  (caller)  shuffle 3: groupBy(pk) final merge
The aggregate-first split (_agg_with_oversize_resample) exists because
the plain Linf window sorts the whole corpus even when no group exceeds
the cap — the common generous-cap regime for MEAN/VARIANCE/PERCENTILE,
where that sort dominated the pipeline and kept nothing out.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_RN = "__rn__"


def _sample_order(order_cols: Optional[Sequence[Column]]) -> List[Column]:
    # Deterministic ordering is a test hook; production uses rand() for
    # uniform-without-replacement sampling per key.
    return list(order_cols) if order_cols else [F.rand()]


def _limit_per_key(df: DataFrame, keys: Sequence[str], cap: int,
                   order_cols: Optional[Sequence[Column]]) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*_sample_order(order_cols))
    return (df.withColumn(_RN, F.row_number().over(w))
            .filter(F.col(_RN) <= cap).drop(_RN))


_GC = "__gcount__"

# Caps at or above this use the aggregate-first oversize-resample plan;
# smaller caps keep the plain window. Rationale (measured, 30M rows /
# 430-row groups, fresh sessions): with a generous cap the plain window
# sorts the whole corpus for nothing (7.1s vs 1.9s aggregate-first —
# map-side combine replaces the sort), but when a SMALL cap binds on
# every group the aggregate-first plan does the old work PLUS a full
# hash pass (10.9s vs 3.4s). Small caps (1-100, the typical binding DP
# setting) mean sampling nearly always bites -> plain window optimal;
# large caps mean groups rarely exceed it -> aggregate-first optimal,
# and in the worst case (every group over a >=1000 cap) pass1's output
# is >=1000x smaller than its input, bounding the extra cost at one
# cheap hash pass.
OVERSIZE_SPLIT_MIN_CAP = 1000


def _oversize_key_cond(keys: Sequence[str], ok_cols: Sequence[str]
                       ) -> Column:
    """Null-safe equi-join condition so null-valued keys group exactly
    as a window's PARTITION BY would."""
    cond = None
    for k, a in zip(keys, ok_cols):
        c = F.col(k).eqNullSafe(F.col(a))
        cond = c if cond is None else cond & c
    return cond


def _oversize_keys(counted: DataFrame, keys: Sequence[str], cap: int
                   ) -> DataFrame:
    """Distinct key tuples whose group count exceeds the cap, renamed
    ``__ok{i}__`` for unambiguous joins back against the raw input."""
    ok_cols = [f"__ok{i}__" for i in range(len(keys))]
    return (counted.filter(F.col(_GC) > cap)
            .select(*[F.col(k).alias(a) for k, a in zip(keys, ok_cols)]))


def _agg_with_oversize_resample(df: DataFrame, keys: Sequence[str],
                                cap: int, partial_aggs: List[Column],
                                order_cols: Optional[Sequence[Column]]
                                ) -> DataFrame:
    """Per-key partial aggregation with row sampling applied ONLY to
    groups that exceed the cap — the aggregate-first formulation of
    ``row_number() OVER (PARTITION BY keys ORDER BY rand()) <= cap``.

    The plain window sorts the ENTIRE input even when no group exceeds
    the cap — the regime every generous-cap MEAN/VARIANCE pipeline is
    in, where that corpus-wide sort is the pipeline's most expensive
    stage and keeps nothing out. Instead, aggregate ALL partials per
    key in one sort-free map-side-combined pass (the shuffle the
    pipeline needs anyway) alongside the group count; groups at or
    under the cap are final as-is. Only oversize groups re-sample: a
    semi-join pulls their raw rows back (AQE broadcasts the key set
    when small, and when it is EMPTY — the common generous-cap case —
    replaces the whole resample branch with an empty relation, so the
    window sort never runs at all). Output is distribution-identical
    to sampling every group (and exactly equal under deterministic
    order_cols): an under-cap group's sample is the whole group.
    """
    pass1 = df.groupBy(*keys).agg(*partial_aggs,
                                  F.count(F.lit(1)).alias(_GC))
    ok = pass1.filter(F.col(_GC) <= cap).drop(_GC)
    over = _oversize_keys(pass1, keys, cap)
    ok_cols = [f"__ok{i}__" for i in range(len(keys))]
    big = df.join(over, on=_oversize_key_cond(keys, ok_cols),
                  how="left_semi")
    resampled = (_limit_per_key(big, keys, cap, order_cols)
                 .groupBy(*keys).agg(*partial_aggs))
    return ok.unionByName(resampled)


def _resample_oversize_rows(df: DataFrame, counts: DataFrame,
                            keys: Sequence[str], cap: int,
                            order_cols: Optional[Sequence[Column]]
                            ) -> DataFrame:
    """Rows of groups at or under the cap pass through a broadcast
    anti-join; only rows of the groups ``counts`` marks oversize
    window-sample."""
    over = _oversize_keys(counts, keys, cap)
    cond = _oversize_key_cond(keys, [f"__ok{i}__" for i in range(len(keys))])
    ok = df.join(over, on=cond, how="left_anti")
    big = df.join(over, on=cond, how="left_semi")
    return ok.unionByName(_limit_per_key(big, keys, cap, order_cols))


def _group_counts(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(_GC))


def limit_rows_per_key(df: DataFrame, keys: Sequence[str], cap: int,
                       order_cols: Optional[Sequence[Column]]
                       ) -> DataFrame:
    """Row-output cap: keep <= cap rows per key, window-sorting ONLY
    oversize groups when the cap is generous (>= OVERSIZE_SPLIT_MIN_CAP).

    The aggregate-first formulation needs partials, but the sort can
    still be confined to groups that exceed the cap: one map-side-
    combined count pass, then under-cap groups pass through while only
    oversize rows window-sample. Binding-regime caps keep the plain
    window (same threshold rationale as the partial-agg bounders).
    """
    if cap < OVERSIZE_SPLIT_MIN_CAP:
        return _limit_per_key(df, keys, cap, order_cols)
    return _resample_oversize_rows(df, _group_counts(df, keys), keys, cap,
                                   order_cols)


def bound_cross_and_per_partition(
        df: DataFrame,
        pid_col: str,
        pk_cols: Sequence[str],
        partial_aggs: List[Column],
        l0: Optional[int],
        linf: Optional[int],
        row_sampling_needed: bool = True,
        order_cols: Optional[Sequence[Column]] = None) -> DataFrame:
    """L0 + Linf bounding (reference: contribution_bounders.py:63-247).

    ``linf=None`` skips the Linf row sample and ``l0=None`` the L0 key
    sample; with both ``None`` this is a plain per-(pid, pk) aggregation.
    ``row_sampling_needed=False`` is the count-only fast path: when no
    partial aggregate depends on WHICH rows survive (COUNT is
    ``least(count, linf)`` regardless of the sample; a per-partition sum
    clip bounds the partial itself), the Linf window sort is skipped and
    the caller caps inside ``partial_aggs``.
    """
    keys = [pid_col, *pk_cols]
    if row_sampling_needed and linf is not None:
        if linf >= OVERSIZE_SPLIT_MIN_CAP:
            per_pid_pk = _agg_with_oversize_resample(
                df, keys, linf, partial_aggs, order_cols)
        else:
            per_pid_pk = (_limit_per_key(df, keys, linf, order_cols)
                          .groupBy(*keys).agg(*partial_aggs))
    else:
        per_pid_pk = df.groupBy(*keys).agg(*partial_aggs)
    if l0 is not None:
        per_pid_pk = _limit_per_key(per_pid_pk, [pid_col], l0, order_cols)
    return per_pid_pk


def bound_per_privacy_id(
        df: DataFrame,
        pid_col: str,
        pk_cols: Sequence[str],
        partial_aggs: List[Column],
        max_contributions: int,
        order_cols: Optional[Sequence[Column]] = None) -> DataFrame:
    """Total-contributions (L1-style) bounding
    (reference: contribution_bounders.py:115-157): keep <= max_contributions
    rows per privacy id across ALL partitions, then aggregate per (pid, pk).
    """
    gkeys = [pid_col, *pk_cols]
    if max_contributions < OVERSIZE_SPLIT_MIN_CAP:
        # Binding-cap regime: plain window (see OVERSIZE_SPLIT_MIN_CAP).
        sampled = _limit_per_key(df, [pid_col], max_contributions,
                                 order_cols)
        return sampled.groupBy(*gkeys).agg(*partial_aggs)
    # Aggregate-first, resample-oversize-only (see
    # _agg_with_oversize_resample), two-level because the cap key (pid)
    # is coarser than the partial-agg key (pid, pk): per-(pid, pk)
    # partials + counts in one pass, per-pid totals from those partials
    # (tiny), and only over-cap privacy ids re-sample from raw rows.
    pass1 = df.groupBy(*gkeys).agg(*partial_aggs,
                                   F.count(F.lit(1)).alias(_GC))
    totals = pass1.groupBy(pid_col).agg(F.sum(_GC).alias(_GC))
    over = _oversize_keys(totals, [pid_col], max_contributions)
    ok = (pass1.join(over, on=_oversize_key_cond([pid_col], ["__ok0__"]),
                     how="left_anti").drop(_GC))
    big = df.join(over, on=_oversize_key_cond([pid_col], ["__ok0__"]),
                  how="left_semi")
    resampled = (_limit_per_key(big, [pid_col], max_contributions,
                                order_cols)
                 .groupBy(*gkeys).agg(*partial_aggs))
    return ok.unionByName(resampled)


def bound_rows(df: DataFrame,
               pid_col: str,
               pk_cols: Sequence[str],
               l0: Optional[int] = None,
               linf: Optional[int] = None,
               total: Optional[int] = None,
               order_cols: Optional[Sequence[Column]] = None
               ) -> Tuple[DataFrame, DataFrame]:
    """Row-output bounding: the per-privacy-id total cap ``total`` (the
    max_contributions mode), or the Linf row cap followed by the L0 key
    sample; a cap left ``None`` is not applied. Returns ``(rows, keys)``:
    the surviving rows and their distinct (pid, *pk) key frame.

    With a generous Linf cap (>= OVERSIZE_SPLIT_MIN_CAP) ONE
    map-side-combined per-(pid, pk) count pass drives both steps: the
    Linf sample sorts only oversize groups, and the L0 key sample draws
    from the count frame instead of a distinct() over raw rows. The L0
    sample is kept by an equality semi-join, so rows whose pid or
    partition key is null do not survive it.
    """
    keys = [pid_col, *pk_cols]
    if total is not None:
        rows = limit_rows_per_key(df, [pid_col], total, order_cols)
        return rows, rows.select(*keys).distinct()
    counts = None
    rows = df
    if linf is not None and linf >= OVERSIZE_SPLIT_MIN_CAP:
        counts = _group_counts(df, keys)
        rows = _resample_oversize_rows(df, counts, keys, linf, order_cols)
    elif linf is not None:
        rows = _limit_per_key(df, keys, linf, order_cols)
    if l0 is None:
        return rows, rows.select(*keys).distinct()
    candidates = (counts.select(*keys) if counts is not None
                  else rows.select(*keys).distinct())
    sampled = _limit_per_key(candidates, [pid_col], l0, order_cols)
    return rows.join(sampled, on=keys, how="left_semi"), sampled
