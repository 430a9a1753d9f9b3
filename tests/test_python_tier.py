"""Python-tier similarity kernels (IVF ANN recall, NULL-vector
tolerance, deterministic k-means) and the nanos-cursor pushdown plan."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from dlt_salesforce_iceberg_rest_demo_spark.operators import similarity
from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import (
    load_table,
    load_table_incremental,
)

from .conftest import SF_DIR


def test_ivf_recall_at_5(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    bf = {
        (r.query_id, r.corpus_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    ivf = {
        (r.query_id, r.corpus_id)
        for r in similarity.ivf_topk(emb, q, k=5, n_centroids=16, n_probe=8).collect()
    }
    assert len(bf & ivf) / len(bf) >= 0.85  # measured 0.93


def test_ann_and_ivf_tolerate_null_vectors(spark):
    """NULL / wrong-length embeddings degrade gracefully (excluded), not
    crash the Python worker."""
    from pyspark.sql import Row, types as T

    emb = load_table(spark, SF_DIR, "embeddings")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    bad = spark.createDataFrame(
        [
            Row(vec_id=90001, embedding=None, label=0),
            Row(vec_id=90002, embedding=[1.0, 2.0], label=0),  # wrong dim
        ],
        schema=schema,
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(bad)
    q = emb.filter(F.col("vec_id") < 3)
    ann = similarity.ann_lsh_topk(corpus, q, k=5, n_planes=8, n_tables=4)
    ivf = similarity.ivf_topk(corpus, q, k=5, n_centroids=8, n_probe=4)
    ann_ids = {r.corpus_id for r in ann.collect()}
    ivf_ids = {r.corpus_id for r in ivf.collect()}
    assert not ann_ids & {90001, 90002}
    assert not ivf_ids & {90001, 90002}


def test_kmeans_deterministic(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    c1 = similarity.kmeans_fit(emb, n_centroids=4, iters=1)
    c2 = similarity.kmeans_fit(emb, n_centroids=4, iters=1)
    assert c1 == c2


def test_nanos_cursor_pushdown_plan_and_result(spark):
    inc = load_table_incremental(spark, SF_DIR, "events", "ts", "2024-01-20 00:00:00")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        inc.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts," in plan  # raw int64 column
    # identical result set to the filter-after-convert path
    plain = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("ts") > F.lit("2024-01-20 00:00:00").cast("timestamp"))
    )
    assert sorted(r.event_id for r in inc.collect()) == sorted(
        r.event_id for r in plain.collect()
    )
