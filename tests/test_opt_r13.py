"""Round-13 optimization contracts.

1. `graph.connected_components` now has two paths — the size-gated
   driver fast path (vectorized numpy min-label) and the reworked
   distributed frontier loop (co-partitioned checkpoints, fused
   changed-flag). Both must produce the identical min-id labeling, on
   cluster-ish graphs AND on long chains (the pointer-jumping
   convergence bound the loop's max_iter relies on).
2. `sessionize_scalable` guards its boundary-stitch collect with the
   documented cap (the collect is <= 2 rows/partition by construction;
   the cap makes the bound loud instead of assumed).
"""

import pytest
from pyspark.sql import functions as F

from pipelinedp_spark.operators import graph


def _cc(spark, edges, **conf):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        out = {(r["node"], r["component"])
               for r in graph.connected_components(df).collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


GRAPHS = [
    # two triangles + a bridge + an isolated edge
    [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10),
     (100, 101)],
    # star
    [(5, 1), (5, 2), (5, 3), (5, 4)],
    # duplicate + reversed edges
    [(1, 2), (2, 1), (1, 2), (7, 8)],
    # self-loop only
    [(4, 4)],
]


def test_cc_driver_labels_broadcast_only_under_cap(spark, monkeypatch):
    """The driver path's label frame is broadcast-hinted only up to the
    fixed `BROADCAST_MAX_NODES`, whatever `maxDriverEdges` says."""
    df = spark.createDataFrame(GRAPHS[0], "id_a long, id_b long")

    def hinted():
        out = graph.connected_components(df)
        return "broadcast" in out._jdf.queryExecution().logical() \
            .toString().lower()

    assert hinted()
    monkeypatch.setattr(graph, "BROADCAST_MAX_NODES", 1)
    assert not hinted()


@pytest.mark.parametrize("edges", GRAPHS)
def test_cc_driver_and_distributed_paths_agree(spark, edges):
    fast = _cc(spark, edges)
    dist = _cc(spark, edges,
               **{"spark.pipelinedp.graph.maxDriverEdges": "0"})
    assert fast == dist
    # labels are component minima
    comp_members: dict = {}
    for n, c in fast:
        comp_members.setdefault(c, []).append(n)
    for c, members in comp_members.items():
        assert c == min(members)


def test_cc_distributed_long_chain_converges(spark):
    """A 300-node path graph has diameter 299: plain propagation would
    blow max_iter=25, so this pins that the reworked loop kept pointer
    jumping's logarithmic collapse."""
    edges = [(i, i + 1) for i in range(300)]
    dist = _cc(spark, edges,
               **{"spark.pipelinedp.graph.maxDriverEdges": "0"})
    assert dist == {(i, 0) for i in range(301)}


def test_cc_empty_edges_both_paths(spark):
    assert _cc(spark, [],) == set()
    assert _cc(spark, [],
               **{"spark.pipelinedp.graph.maxDriverEdges": "0"}) == set()


def test_sessionize_scalable_boundary_cap_guard(spark):
    from pipelinedp_spark.operators.sessions import sessionize_scalable
    df = spark.range(100).select(
        (F.col("id") % 5).alias("uid"), F.col("id").alias("ts"))
    spark.conf.set("spark.pipelinedp.sessions.maxBoundaryRows", "7")
    try:
        with pytest.raises(ValueError, match="maxBoundaryRows"):
            sessionize_scalable(df, "ts", "uid", gap=10, num_partitions=4)
        # within the cap still works
        out = sessionize_scalable(df, "ts", "uid", gap=10,
                                  num_partitions=3)
        assert out.count() == 100
    finally:
        spark.conf.unset("spark.pipelinedp.sessions.maxBoundaryRows")


# 3. The phash store family's `hashed=` profile path (one decode+hash
#    pass per lifecycle query, the `minhash_profile` pattern) must be
#    bit-identical to the from-images path — including null-phash rows
#    (undecodable payloads) and duplicate ids.

def _phash_imgs(spark, n=24):
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    def gen(it):
        i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        for pdf in it:
            vals = pdf["doc_id"].astype("int64")
            payloads = []
            for d in vals:
                if int(d) % 11 == 10:       # undecodable → null phash
                    payloads.append(b"not an image")
                    continue
                g = int(d) % 6
                px = ((13 * ((i * (g + 3) + j) % 23) + g * 29)
                      % 200).astype(np.uint8)
                payloads.append(MM.encode_bmp(px))
            yield pd.DataFrame({"doc_id": vals, "image": payloads})

    base = spark.range(n).select(F.col("id").alias("doc_id"))
    dup = spark.range(1).select((F.lit(3)).alias("doc_id"))  # dup id 3
    return (base.unionByName(dup)
            .mapInPandas(gen, "doc_id long, image binary")
            .localCheckpoint())


def _table_rows(spark, name, cols):
    return sorted(map(tuple, spark.table(name).select(*cols).collect()))


def test_phash_store_hashed_profile_equals_from_images(spark):
    from pipelinedp_spark.operators import multimodal as MM

    imgs = _phash_imgs(spark)
    hp = (MM.image_phash(imgs).select("doc_id", "phash")
          .localCheckpoint())
    rm_imgs = imgs.filter(F.col("doc_id") % 6 == 2)
    rm_hp = hp.filter(F.col("doc_id") % 6 == 2)
    batch_imgs = imgs.select((F.col("doc_id") + 500).alias("doc_id"),
                             "image")
    batch_hp = hp.select((F.col("doc_id") + 500).alias("doc_id"),
                         "phash")
    try:
        MM.build_phash_store(imgs, "r13hp_a", max_hamming=1,
                             num_blocks=2, num_buckets=2)
        MM.build_phash_store(hp, "r13hp_b", max_hamming=1,
                             num_blocks=2, num_buckets=2, hashed=hp)
        for suffix, cols in (("_blocks", ["ph", "bk"]),
                             ("_members", ["ph", "id"]),
                             ("_meta", ["max_hamming", "num_blocks",
                                        "num_buckets"])):
            assert (_table_rows(spark, f"r13hp_a{suffix}", cols)
                    == _table_rows(spark, f"r13hp_b{suffix}", cols)), suffix

        MM.remove_from_phash_store(rm_imgs, "r13hp_a")
        MM.remove_from_phash_store(rm_hp, "r13hp_b", hashed=rm_hp)
        for suffix, cols in (("_removed_ids", ["id", "ph"]),
                             ("_tombstones", ["ph"])):
            assert (_table_rows(spark, f"r13hp_a{suffix}", cols)
                    == _table_rows(spark, f"r13hp_b{suffix}", cols)), suffix

        out_a = sorted(map(tuple,
                           MM.incremental_phash_dedup(batch_imgs, "r13hp_a")
                           .collect()))
        out_b = sorted(map(tuple,
                           MM.incremental_phash_dedup(batch_hp, "r13hp_b",
                                                      hashed=batch_hp)
                           .collect()))
        assert out_a == out_b
        # null-phash rows pass through (undecodable payloads exist)
        assert any(r[1] is None and r[2] is False for r in out_a)
        # and the takedown actually changed some verdicts vs a no-removal
        # store would — the removed families stop flagging
        assert any(r[2] for r in out_a) and not all(r[2] for r in out_a)
    finally:
        for s in ("r13hp_a", "r13hp_b"):
            for t in ("_blocks", "_members", "_meta", "_tombstones",
                      "_removed_ids"):
                spark.sql(f"DROP TABLE IF EXISTS {s}{t}")


# 4. The minhash store family's `profile=` path (one signature pass per
#    lifecycle query / micro-batch) must be bit-identical to the
#    from-text path — including when the profile is a SUPERSET of the
#    rows being written/probed (the capped-bucket query hands one
#    whole-corpus profile to two build slices plus the batch).

def _mh_docs(spark, n=30):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa", "lam", "mu"]
    rows = []
    for d in range(n):
        # odd (batch) docs with d % 4 == 1 are near-dups of even doc
        # d-1 (build slice %4==0): same text, one-word tail change.
        # Every base text carries a unique token so no two source docs
        # collide into an over-cap bucket.
        src = d - 1 if (d % 4 == 1) else d
        base = (" ".join(words[(src * 7 + j * 3) % 12]
                         for j in range(16)) + f" u{src}")
        if d % 4 == 1:
            base = base + " omega"
        rows.append((d, base))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_store_profile_equals_from_text(spark):
    from pipelinedp_spark.operators import dedup

    docs = _mh_docs(spark)
    prof = dedup.minhash_profile(docs, k=4).localCheckpoint()
    build1 = docs.filter(F.col("doc_id") % 4 == 0)
    build2 = docs.filter(F.col("doc_id") % 4 == 2)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    try:
        dedup.build_minhash_store(build1, "r13mp_a", k=4,
                                  max_bucket_size=2, num_buckets=2)
        dedup.build_minhash_store(build2, "r13mp_a", k=4,
                                  max_bucket_size=2, mode="append")
        dedup.build_minhash_store(build1, "r13mp_b", k=4,
                                  max_bucket_size=2, num_buckets=2,
                                  profile=prof)
        dedup.build_minhash_store(build2, "r13mp_b", k=4,
                                  max_bucket_size=2, mode="append",
                                  profile=prof)
        for suffix, cols in (("_bands", ["id", "bh"]),
                             ("_shingles", ["id", "shingles"]),
                             ("_meta", ["k", "num_hashes",
                                        "rows_per_band",
                                        "max_bucket_size"])):
            assert (_table_rows(spark, f"r13mp_a{suffix}", cols)
                    == _table_rows(spark, f"r13mp_b{suffix}", cols)), suffix

        out_a = sorted(map(tuple,
                           dedup.incremental_near_dup(
                               batch, "r13mp_a",
                               jaccard_threshold=0.6).collect()))
        out_b = sorted(map(tuple,
                           dedup.incremental_near_dup(
                               batch, "r13mp_b", jaccard_threshold=0.6,
                               profile=prof).collect()))
        assert out_a == out_b
        # the store must actually flag something AND pass something
        # through, or the equality above is vacuous
        assert 0 < len(out_a) < batch.count()
    finally:
        for s in ("r13mp_a", "r13mp_b"):
            for t in ("_bands", "_shingles", "_meta", "_tombstones",
                      "_ingest_log"):
                spark.sql(f"DROP TABLE IF EXISTS {s}{t}")
