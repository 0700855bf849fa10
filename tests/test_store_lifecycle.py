"""Store-lifecycle contracts checked once per `store.StoreKind`.

Crash-before-log-write convergence: a crash between a guarded ingest
micro-batch's apply and its ingest-log write — injected at the real
boundary by failing the log write — must leave every kind recoverable
by simply RE-RUNNING the batch (what Structured Streaming does: the
checkpoint never committed). The re-run rolls the provenance-stamped
half-applied rows back and applies fresh, so the store ends equal to a
build-once store over the same content, a further replay is a no-op,
and serving answers match the build-once store's.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from pipelinedp_spark import store


def _crash_on(monkeypatch, table: str):
    """Fault injection at the real boundary: the next write of `table`
    raises, emulating a process death at exactly that write. Both
    write paths are armed — the Spark ``saveAsTable`` AND the
    pyarrow parquet fast path an existing file-backed ingest log
    takes (`store._append_log_row`)."""
    orig = DataFrameWriter.saveAsTable

    def boom(self, name, *a, **k):
        if name == table:
            raise RuntimeError(f"injected crash at {name}")
        return orig(self, name, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", boom)

    orig_append = store._append_log_row

    def boom_append(spark, log_table, *a, **k):
        if log_table == table:
            raise RuntimeError(f"injected crash at {log_table}")
        return orig_append(spark, log_table, *a, **k)

    monkeypatch.setattr(store, "_append_log_row", boom_append)


def _drop_store(spark, kind, name):
    for suffix in (*kind.suffixes, "_tombstones", "_removed_ids",
                   "_ingest_log"):
        store.drop_store_table(spark, name + suffix)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _contents(spark, kind, name):
    """Every stamped table's rows (stamps dropped) plus the meta row.
    BM25 df segments compare as per-term sums: an append adds a
    segment where a build-once index holds one row per term."""
    out = {}
    for t in kind.tables:
        store.refresh_table(spark, name + t.suffix)
        df = spark.table(name + t.suffix).drop(store.PROV_RUN,
                                               store.PROV_BATCH)
        if t.suffix == "_terms":
            df = df.groupBy("term").agg(F.sum("df").alias("df"))
        out[t.suffix] = _rows(df.select(*sorted(df.columns)))
    out["_meta"] = store.read_meta(spark, name).asDict()
    return out


TEXT_A = [(0, "the quick brown fox jumps over the lazy dog again"),
          (1, "a completely different document about spark plans")]
TEXT_B = [(2, "parquet footers record row group statistics for pruning"),
          (3, "bucketed tables avoid shuffles on the store side of joins")]


def _text(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _text_probe(spark):
    return _text(spark, [(10 + i, t) for i, t in TEXT_A + TEXT_B]
                 + [(20, "an unrelated probe sentence with no match")])


def _images(spark, ids):
    import numpy as np
    import pandas as pd

    from pipelinedp_spark.operators import multimodal as MM

    def gen(it):
        i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        for pdf in it:
            d = pdf["doc_id"].astype("int64")
            payloads = [MM.encode_bmp(
                ((13 * ((i * (int(x) + 3) + j) % 23) + int(x) * 29)
                 % 200).astype(np.uint8)) for x in d]
            yield pd.DataFrame({"doc_id": d, "image": payloads})

    return (spark.createDataFrame([(int(x),) for x in ids], "doc_id long")
            .mapInPandas(gen, "doc_id long, image binary")
            .localCheckpoint())


class _Exact:
    # the anti-join kinds deliver each batch's survivors to a sink; a
    # re-run that skipped the rollback would see the crashed attempt's
    # own rows and deliver nothing
    sink = True

    def data(self, spark):
        return _text(spark, TEXT_A), _text(spark, TEXT_B)

    def build(self, df, name):
        from pipelinedp_spark.operators.dedup import build_exact_store
        build_exact_store(df, name, num_buckets=2)

    def ingest(self, df, name, b, sink=None):
        from pipelinedp_spark.streaming.dp_streaming import (
            ingest_exact_batch_idempotent)
        return ingest_exact_batch_idempotent(df, name, b, sink=sink,
                                             run_id="ck")

    def serve(self, spark, name):
        from pipelinedp_spark.operators.dedup import (
            incremental_exact_dedup)
        return _rows(incremental_exact_dedup(_text_probe(spark), name)
                     .select("doc_id"))


class _MinHash(_Exact):
    def build(self, df, name):
        from pipelinedp_spark.operators.dedup import build_minhash_store
        build_minhash_store(df, name, num_buckets=2)

    def ingest(self, df, name, b, sink=None):
        from pipelinedp_spark.streaming.dp_streaming import (
            ingest_near_dup_batch_idempotent)
        return ingest_near_dup_batch_idempotent(
            df, name, b, jaccard_threshold=0.7, sink=sink, run_id="ck")

    def serve(self, spark, name):
        from pipelinedp_spark.operators.dedup import incremental_near_dup
        return _rows(incremental_near_dup(
            _text_probe(spark), name, jaccard_threshold=0.7)
            .select("doc_id"))


class _Span(_Exact):
    sink = False

    def build(self, df, name):
        from pipelinedp_spark.operators.dedup import build_span_store
        build_span_store(df, name, min_len=24, num_buckets=2)

    def ingest(self, df, name, b, sink=None):
        from pipelinedp_spark.streaming.dp_streaming import (
            ingest_span_batch_idempotent)
        return ingest_span_batch_idempotent(df, name, b, run_id="ck")

    def serve(self, spark, name):
        from pipelinedp_spark.operators.dedup import (
            incremental_decontaminate_spans)
        return _rows(incremental_decontaminate_spans(
            _text_probe(spark), name))


class _PHash:
    sink = False

    def data(self, spark):
        return _images(spark, range(4)), _images(spark, range(4, 8))

    def build(self, df, name):
        from pipelinedp_spark.operators.multimodal import (
            build_phash_store)
        build_phash_store(df, name, max_hamming=2, num_buckets=2)

    def ingest(self, df, name, b, sink=None):
        from pipelinedp_spark.streaming.dp_streaming import (
            ingest_phash_batch_idempotent)
        return ingest_phash_batch_idempotent(df, name, b, run_id="ck")

    def serve(self, spark, name):
        from pipelinedp_spark.operators.multimodal import (
            incremental_phash_dedup)
        probe = _images(spark, range(12)).select(
            (F.col("doc_id") + 100).alias("doc_id"), "image")
        return _rows(incremental_phash_dedup(probe, name))


def _vectors(spark, lo, hi):
    import numpy as np
    rng = np.random.default_rng(11)
    x = rng.normal(size=(160, 16))
    return spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(lo, hi)],
        "vec_id long, embedding array<double>")


class _Ann:
    sink = False

    def data(self, spark):
        return _vectors(spark, 0, 120), _vectors(spark, 120, 160)

    def models(self, spark):
        from pipelinedp_spark.operators import similarity as S
        if not hasattr(self, "_models"):
            x = S.sample_corpus_matrix(_vectors(spark, 0, 160), "vec_id",
                                       "embedding", 500)
            self._models = (S.train_ivf_centroids(x, 4, 7),
                            S.train_pq_codebooks(x, 4, 16, 7))
        return self._models

    def build(self, df, name):
        from pipelinedp_spark.operators.similarity import build_ann_index
        cts, cb = self.models(df.sparkSession)
        build_ann_index(df, name, num_cells=4, m=4, ksub=16,
                        centroids=cts, codebooks=cb)

    def ingest(self, df, name, b, sink=None):
        from pipelinedp_spark.streaming.dp_streaming import (
            ingest_ann_batch_idempotent)
        return ingest_ann_batch_idempotent(df, name, b, run_id="ck")

    def serve(self, spark, name):
        from pipelinedp_spark.operators.similarity import (
            ann_search_from_index)
        q = (_vectors(spark, 0, 160).filter(F.col("vec_id") % 20 == 3)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("query_vec")))
        return _rows(ann_search_from_index(q, name, k=5, nprobe=2))


class _BM25(_Exact):
    sink = False

    def build(self, df, name):
        from pipelinedp_spark.operators.retrieval import build_bm25_index
        build_bm25_index(df, name, num_buckets=2)

    def ingest(self, df, name, b, sink=None):
        from pipelinedp_spark.streaming.dp_streaming import (
            append_bm25_batch_idempotent)
        return append_bm25_batch_idempotent(df, name, b, run_id="ck")

    def serve(self, spark, name):
        from pipelinedp_spark.operators.retrieval import (
            bm25_topk_from_index)
        q = spark.createDataFrame(
            [(0, "spark plans"), (1, "store side joins shuffles")],
            "query_id long, query_text string")
        return _rows(bm25_topk_from_index(q, name, k=5))


LIFECYCLES = {"exact": _Exact(), "minhash": _MinHash(), "span": _Span(),
              "phash": _PHash(), "ann": _Ann(), "bm25": _BM25()}


@pytest.mark.parametrize("kind_name", sorted(store.KINDS))
def test_crash_before_log_write_converges(spark, monkeypatch, kind_name):
    kind, life = store.KINDS[kind_name], LIFECYCLES[kind_name]
    name, ref = f"lc_{kind_name}", f"lc_{kind_name}_ref"
    _drop_store(spark, kind, name)
    _drop_store(spark, kind, ref)
    a, b = life.data(spark)
    life.build(a.unionByName(b), ref)
    life.build(a, name)
    outs = []
    sink = ((lambda df: outs.append(_rows(df.select("doc_id"))))
            if life.sink else None)
    _crash_on(monkeypatch, f"{name}_ingest_log")
    with pytest.raises(RuntimeError, match="injected crash"):
        life.ingest(b, name, 0, sink)
    monkeypatch.undo()
    # the crashed attempt's rows ARE in the store, unconfirmed
    first = name + kind.tables[0].suffix
    store.refresh_table(spark, first)
    assert spark.table(first).filter(
        F.col(store.PROV_BATCH) == 0).count() > 0
    # Structured Streaming replays the uncommitted batch on resume; the
    # sink sees the batch's survivors again (at-least-once for the sink,
    # exactly-once for the store)
    assert life.ingest(b, name, 0, sink)
    if life.sink:
        assert len(outs) == 2 and outs[0] == outs[1] and outs[0]
    want = _contents(spark, kind, ref)
    assert _contents(spark, kind, name) == want
    # a further replay is a pure no-op
    assert not life.ingest(b, name, 0, sink)
    assert len(outs) == (2 if life.sink else 0)
    assert _contents(spark, kind, name) == want
    assert life.serve(spark, name) == life.serve(spark, ref)
    _drop_store(spark, kind, name)
    _drop_store(spark, kind, ref)
