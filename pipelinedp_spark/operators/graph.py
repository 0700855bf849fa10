"""Connected components over near-dup pair graphs.

Turns pairwise near-duplicate edges (dedup.*_pairs outputs) into cluster
assignments: every document gets the minimum doc id reachable through the
edge graph — the canonical "keep one representative per duplicate
cluster" step of a training-data pipeline.

Two execution paths, picked by the measured edge count (the edges are
checkpointed once either way, so the upstream pair generation never
runs twice):

- **Driver fast path** (edge count <= ``maxDriverEdges``): a pair graph
  is a tiny proxy for the corpus it came from (per optimization guide
  §8: decide on small rows). At the default 4M-edge gate the collected
  arrays are ~64 MB — the same order as the tombstone broadcast gate —
  and a vectorized numpy min-label/pointer-jumping loop labels them in
  milliseconds, replacing 3-8 distributed rounds of ~2 jobs each. The
  result comes back broadcast-hinted, up to ``BROADCAST_MAX_NODES``
  nodes, so the caller's join doesn't shuffle the corpus.
- **Distributed loop** (everything bigger, the 100 TB regime):
  iterative min-label propagation with a FRONTIER: after round 1 only
  labels that changed in the previous round are joined across the
  edges (information flows only when a label drops), plus a
  pointer-jumping step per round that halves remaining chain lengths.
  The loop stops when no label changes; rounds needed ~ graph diameter,
  `max_iter` bounds the worst case. The edge table is checkpointed
  HASH-PARTITIONED on the join side (`v`) and the label table on
  `node`, so each round's frontier join and label update run with ZERO
  exchange on the big sides — per round only three frontier/label-sized
  exchanges remain (the neighbor min-aggregation, the pointer-jump
  probe, and the re-key of the new label table). All state lives in
  DataFrames — the driver holds only the per-round changed-count
  scalar — and each round's checkpoint blocks are unpersisted as soon
  as the next round's are materialized.

Thread-safety note: the distributed loop tunes the session-global
``spark.sql.shuffle.partitions`` (and disables AQE — the loop sizes its
own exchanges, and adaptive re-planning would re-number the partitions
the zero-exchange joins rely on) for its own ~2 jobs per round and
restores both in ``finally``; a concurrent query issued on the SAME
SparkSession from another thread during the loop would run with the
graph-sized setting. Use a dedicated session for concurrent workloads
(per-query scoping is not available for this conf on Spark 4).

No reference counterpart (net-new per project north star; the classic
alternatives are the large-star/small-star MapReduce formulation —
Kiveris et al., "Connected Components in MapReduce and Beyond" — which
converges in fewer rounds but with heavier rounds; min-label is the right
trade at near-dup cluster diameters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_INT_TYPES = ("tinyint", "smallint", "int", "bigint")
# Largest driver-labelled node table that comes back broadcast-hinted: 2 x
# the default 4M-edge `maxDriverEdges` gate (a graph's node count is at
# most twice its edge count). Fixed, so raising the gate cannot silently
# raise the broadcast size.
BROADCAST_MAX_NODES = 8_000_000


def _numpy_components(us, vs):
    """Vectorized min-label + pointer-jumping over edge arrays: returns
    (node_ids, component_ids) where component is the minimum node id in
    the node's connected component. np.unique sorts, so the minimum
    dense index IS the minimum node id."""
    import numpy as np
    nodes, inv = np.unique(np.concatenate((us, vs)), return_inverse=True)
    ui, vi = inv[:us.size], inv[us.size:]
    lbl = np.arange(nodes.size, dtype=np.int64)
    while True:
        before = lbl
        lbl = lbl.copy()
        # one min-label pass over the edges, both directions
        np.minimum.at(lbl, ui, lbl[vi])
        np.minimum.at(lbl, vi, lbl[ui])
        # collapse pointer chains fully between edge passes (each
        # lbl[lbl] halves chain lengths; O(log n) cheap array passes)
        while True:
            nxt = np.minimum(lbl, lbl[lbl])
            if np.array_equal(nxt, lbl):
                break
            lbl = nxt
        if np.array_equal(before, lbl):
            break
    return nodes, nodes[lbl]


def connected_components(edges: DataFrame,
                         src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """(node, component) for every node appearing in `edges`; component is
    the minimum node id in the connected component. Deterministic."""
    spark = edges.sparkSession
    # Checkpoint the edges ONCE, at the session's own parallelism/AQE
    # settings: the upstream pair generation (simhash/minhash joins) is
    # corpus-scale work and must not run under the graph-sized confs
    # below (a prior revision materialized it at 8 shuffle partitions —
    # the measured anti-scaling of dedup_clusters at high core counts).
    ed = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")) \
        .localCheckpoint()
    n_edges = ed.count()

    dtypes = dict(ed.dtypes)
    max_driver = int(spark.conf.get(
        "spark.pipelinedp.graph.maxDriverEdges", "4000000"))
    if (n_edges <= max_driver
            and dtypes["u"] == "bigint" and dtypes["v"] == "bigint"):
        # Driver fast path: metadata-scale graph (gate math in module
        # docstring). Exact same result as the loop: min reachable id.
        out = _components_on_driver(spark, ed, n_edges)
        if out is not None:
            return out

    # localCheckpoint (not just persist) every round: iterative self-joins
    # otherwise grow the logical plan exponentially — the planner, not the
    # data, becomes the bottleneck (observed driver OOM on plan strings).
    from pipelinedp_spark.plans import scoped_conf
    # Size the per-round exchanges to the edge count: a pair graph is far
    # smaller than the corpus it came from, and at the session default
    # (sized for the big tables) fixed task-launch overhead dominates the
    # ~2 jobs per round. AQE is disabled INSIDE the loop only: the
    # zero-exchange joins below rely on both sides staying hash-
    # partitioned to exactly `target` partitions, which adaptive
    # partition coalescing would re-number; the loop's exchanges are
    # already frontier-sized by construction.
    target = int(min(max(n_edges // 2_000_000 + 1, 1), 2000))
    parts = "spark.sql.shuffle.partitions"
    with scoped_conf(spark, **{parts: str(target),
                               "spark.sql.adaptive.enabled": "false"}):
        # Edge table partitioned by the frontier-join side (v): every
        # round's prop join reuses this partitioning with zero exchange.
        # dropDuplicates reuses the repartition exchange (hash(v) also
        # clusters (u, v)), so the setup pays ONE shuffle of the edges.
        both = (ed.unionByName(ed.select(F.col("v").alias("u"),
                                         F.col("u").alias("v")))
                .repartition(target, "v")
                .dropDuplicates(["u", "v"])
                .localCheckpoint())
        ed.unpersist()

        # Initial labels: min over direct neighbors (and self). groupBy
        # lands hash(u, target); the alias to `node` preserves it, so the
        # checkpointed label table is co-partitioned with every later
        # node-keyed join.
        labels = (both.groupBy("u")
                  .agg(F.least(F.min("v"), F.col("u")).alias("lbl"))
                  .select(F.col("u").alias("node"), "lbl")
                  .localCheckpoint())

        frontier = labels  # round 1: every node is fresh
        prev = None
        for _ in range(max_iter):
            # candidate label per node: min over FRESH neighbor labels
            # only — neighbors whose label didn't change last round
            # already contributed in the round they last dropped
            # (least() is monotone). both is hash(v), fresh is
            # hash(node)→hash(fn): zero-exchange join; the only shuffle
            # is the neighbor-min aggregation, frontier-sized.
            # shuffle_hash hints throughout the loop: a sort-merge join
            # would re-SORT the checkpointed edge/label tables every
            # round; hash-building the frontier/prop side streams them
            # unsorted (guide §3.1 — pick the strategy deliberately).
            prop = (both.join(frontier.select(F.col("node").alias("fn"),
                                              F.col("lbl").alias("flbl"))
                              .hint("shuffle_hash"),
                              both.v == F.col("fn"))
                    .groupBy("u").agg(F.min("flbl").alias("nlbl")))
            # label update + changed flag in the SAME join (labels is
            # hash(node), prop is hash(u): zero exchange) — no separate
            # old-vs-new join: least() is monotone, so the final label
            # differs from the old one iff either the prop or the jump
            # step dropped it.
            new = (labels.join(prop.hint("shuffle_hash"),
                               labels.node == prop.u, "left")
                   .select(F.col("node"),
                           F.least(F.col("lbl"),
                                   F.coalesce(F.col("nlbl"), F.col("lbl")))
                           .alias("lbl"),
                           (F.col("nlbl") < F.col("lbl")).alias("chg0")))
            # pointer jumping: follow the label's own label, halving the
            # remaining chain length. The parent side is the label table
            # re-keyed by alias (node→plbl), which PRESERVES its hash
            # partitioning — only the probe side exchanges.
            parent = labels.select(F.col("node").alias("plbl"),
                                   F.col("lbl").alias("plbl2"))
            stepped = (new.join(parent.hint("shuffle_hash"),
                                new.lbl == F.col("plbl"), "left")
                       .select(F.col("node"),
                               F.least(F.col("lbl"),
                                       F.coalesce(F.col("plbl2"),
                                                  F.col("lbl")))
                               .alias("lbl"),
                               (F.coalesce(F.col("chg0"), F.lit(False))
                                | (F.col("plbl2") < F.col("lbl")))
                               .alias("chg")))
            # Single checkpoint carries labels AND the changed flag,
            # re-keyed to hash(node) for the next round; the count and
            # the next frontier read the materialized rows.
            joined = stepped.repartition(target, "node").localCheckpoint()
            if prev is not None:
                prev.unpersist()   # blocks of round r-1 are now unused
            prev, labels = joined, joined.select("node", "lbl")
            changed = joined.filter(F.col("chg")).count()
            frontier = joined.filter(F.col("chg")).select("node", "lbl")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                f"rounds (graph diameter exceeds max_iter; raise max_iter)")
    both.unpersist()
    return labels.select(F.col("node"), F.col("lbl").alias("component"))


def _components_on_driver(spark, ed: DataFrame, n_edges: int):
    """Collect the (checkpointed, metadata-scale) edge list, label it
    with the vectorized numpy loop, and return the (node, component)
    frame — broadcast-hinted when it has at most ``BROADCAST_MAX_NODES``
    nodes, so the caller's join back to the corpus does not shuffle it.
    None on any failure (caller falls back to the distributed loop)."""
    try:
        import numpy as np
        import pandas as pd
        if n_edges == 0:
            pdf = pd.DataFrame({"node": pd.Series(dtype="int64"),
                                "component": pd.Series(dtype="int64")})
        else:
            try:
                tbl = ed.toArrow()
                us = tbl.column("u").to_numpy(zero_copy_only=False)
                vs = tbl.column("v").to_numpy(zero_copy_only=False)
            except Exception:
                rows = ed.collect()
                us = np.fromiter((r[0] for r in rows), dtype=np.int64,
                                 count=len(rows))
                vs = np.fromiter((r[1] for r in rows), dtype=np.int64,
                                 count=len(rows))
            nodes, comp = _numpy_components(
                us.astype(np.int64, copy=False),
                vs.astype(np.int64, copy=False))
            pdf = pd.DataFrame({"node": nodes, "component": comp})
        out = spark.createDataFrame(pdf, "node bigint, component bigint")
        # only now is the checkpoint safe to drop — a failure above must
        # leave it alive for the distributed fallback
        ed.unpersist()
        # broadcasting a label table within the cap keeps the corpus side
        # of near_dup_clusters' join exchange-free
        return F.broadcast(out) if len(pdf) <= BROADCAST_MAX_NODES else out
    except Exception:
        return None


def near_dup_clusters(docs: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id",
                      src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """(id, cluster_id) for EVERY document: members of a near-dup
    component share its minimum doc id; untouched docs are their own
    cluster. The keep-set is `cluster_id == id`."""
    comp = connected_components(pairs, src, dst)
    return (docs.select(F.col(id_col))
            .join(comp, docs[id_col] == comp.node, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("component"), F.col(id_col))
                    .alias("cluster_id")))


def keep_best_representative(docs: DataFrame, clusters: DataFrame,
                             quality_col: str,
                             id_col: str = "doc_id") -> DataFrame:
    """Pick each near-dup cluster's surviving document by QUALITY
    instead of min-id (production dedup keeps the best copy — longest,
    highest quality score — not the lowest id): given (id, cluster_id)
    from `near_dup_clusters` and a numeric quality column on ``docs``,
    returns (id_col, cluster_id, is_kept) with exactly one kept row per
    cluster (argmax quality, ties to the smallest id).

    One shuffle on cluster_id for the argmax (a single max(struct)
    aggregation — map-side combinable, no window, so a corpus-hot
    cluster never serializes onto one task) and one join back.
    """
    labeled = clusters.join(
        docs.select(F.col(id_col), F.col(quality_col)), id_col)
    best = labeled.groupBy("cluster_id").agg(
        F.max(F.struct(F.col(quality_col).alias("q"),
                       (-F.col(id_col)).alias("nid"))).alias("__b__"))
    return (labeled.join(best, "cluster_id")
            .select(id_col, "cluster_id",
                    (F.col(id_col) == -F.col("__b__.nid"))
                    .alias("is_kept")))
