"""Arrow-vectorized Python UDF surface: ``applyInPandas`` grouped-map
and scalar ``pandas_udf``.

The reference's defining feature is "arbitrary program as operator" at
the map and reduce positions (SURVEY.md §2.1 F3/F7, reference
mapreduce/worker/__main__.py:144-168). ``operators/mapreduce.py`` keeps
the literal byte-level subprocess contract; this module is the
*idiomatic* Spark form of the same extension point:

- ``applyInPandas`` = the reduce contract (a whole group in, arbitrary
  rows out), with Arrow batch transfer instead of text pipes —
  ~10-100x less serialization overhead than row-at-a-time Python;
- scalar ``@pandas_udf`` = a vectorized map-position operator.

Both are the sanctioned slow path: everything else in this repo stays
JVM-side, and these exist to prove the plumbing for logic Spark
builtins genuinely cannot express.

Scale posture: grouped-map shuffles once on the grouping key
(high-cardinality o_custkey shards evenly); the scalar UDF is a
narrow transformation (no shuffle, one Python worker per partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query


@query(
    "q_grouped_zscore",
    oracle="""
    WITH c AS (
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    g AS (
        SELECT o_custkey, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS s1,
               CAST(SUM(cents * cents) AS BIGINT) AS s2
        FROM c GROUP BY o_custkey
    )
    SELECT c.o_orderkey, c.o_custkey,
           round((CAST(c.cents AS DOUBLE) - CAST(g.s1 AS DOUBLE) / g.n)
                 / sqrt((CAST(g.s2 AS DOUBLE)
                         - CAST(g.s1 AS DOUBLE) * CAST(g.s1 AS DOUBLE) / g.n)
                        / (g.n - 1)), 4) + 0.0 AS z
    FROM c JOIN g USING (o_custkey)
    WHERE g.n > 1
    """,
)
def q_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer z-score of order price via ``applyInPandas``.

    The grouped-map UDF receives each customer's orders as one pandas
    DataFrame (Arrow-batched) and emits arbitrary rows — the idiomatic
    analog of the reference's per-group executable reduce (F7).
    Single-order customers are dropped inside the UDF (sample stddev
    undefined) so no NaN/NULL asymmetry reaches the cross-engine hash.

    Float discipline (the house rule — this was the one query relying
    on pandas' mean/std agreeing with the oracle's windowed
    AVG/STDDEV_SAMP, two different associations): statistics are EXACT
    integer-cents sufficient sums (order-free under any pandas/Arrow
    batch order), and the z formula is evaluated element-wise over
    those integers in the SAME operation order as the oracle text —
    identical doubles, rounded JVM-side (Spark HALF_UP == DuckDB
    ties-away).
    """

    def zscore(pdf):
        import numpy as np

        cents = (pdf["o_totalprice"] * 100).round().astype("int64")
        w = pdf.assign(cents=cents, c2=cents * cents)
        g = w.groupby("o_custkey")
        n = g["cents"].transform("count").astype("float64")
        s1 = g["cents"].transform("sum").astype("float64")
        s2 = g["c2"].transform("sum").astype("float64")
        z = (cents.astype("float64") - s1 / n) / np.sqrt(
            (s2 - s1 * s1 / n) / (n - 1.0)
        )
        out = pdf[["o_orderkey", "o_custkey"]].assign(z=z)
        return out[n > 1]

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # Mini-batched grouped map: shuffling on the raw customer key would
    # hand the Python worker one tiny pandas frame per customer, and
    # per-group overhead would dominate (measured 19s -> 3s at sf0.1).
    # Bucketing customers into a bounded number of coarse groups keeps
    # Arrow batches large while pandas groupby.transform still computes
    # per-customer statistics vectorized inside each batch. Every order
    # of a customer lands in the same bucket, so results are identical.
    buckets = spark.sparkContext.defaultParallelism * 4
    raw = (
        orders.withColumn("bucket", F.pmod("o_custkey", F.lit(buckets)))
        .groupBy("bucket")
        .applyInPandas(zscore, schema="o_orderkey long, o_custkey long, z double")
    )
    # "+ 0.0" normalizes IEEE negative zero (round can yield -0.0 and
    # the engines disagree on its string form — bites first at sf0.1).
    return raw.withColumn("z", F.round("z", 4) + F.lit(0.0))


@query(
    "q_embedding_norm",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings
    """,
)
def q_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm of each embedding via a scalar Arrow ``@pandas_udf``.

    One Python worker per partition, whole Arrow batches in and out —
    the vectorized map-position UDF. (The JVM-side equivalent lives in
    functions/similarity.py via ``F.aggregate``; this variant exists to
    exercise the pandas_udf path.) Floats are widened to float64 before
    squaring on both sides; the result is rounded to 6 decimals so
    summation-order ulps (numpy pairwise vs DuckDB sequential) cannot
    reach the hash.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def l2(col):
        import numpy as np
        import pandas as pd

        return pd.Series(
            [float(np.sqrt(np.sum(np.asarray(v, dtype=np.float64) ** 2))) for v in col]
        )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.select("vec_id", F.round(l2("embedding"), 6).alias("l2_norm"))


@query(
    "q_udtf_chunk",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_id,
           CAST(least(32, len(toks) - i * 32) AS INTEGER) AS chunk_len,
           toks[i * 32 + 1] AS first_token
    FROM toks,
         unnest(range(0, CAST(ceil(len(toks) / 32.0) AS BIGINT))) AS r(i)
    """,
)
def q_udtf_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking via a Python UDTF (1 -> N rows).

    The reference's whole query language is "arbitrary executable as
    UDTF" (stdin lines -> stdout lines, SURVEY §2.3); ``run_job``
    keeps that literal contract, and this is the idiomatic
    table-function form: a ``@udtf`` class whose ``eval`` yields one
    row per 32-token chunk — the standard corpus-prep step that splits
    documents into model-context-sized pieces.

    Scale posture: the UDTF is a narrow 1->N flatMap — no shuffle; the
    Python boundary is the documented cost (chunking is genuinely
    imperative: ragged slicing + per-chunk metadata). Zero-token
    documents yield no rows on both engines.
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="doc_id bigint, chunk_id int, chunk_len int, first_token string",
        useArrow=True,
    )
    class ChunkDoc:
        def eval(self, doc_id, toks):  # noqa: D102 — UDTF contract
            for i in range(0, len(toks), 32):
                chunk = toks[i : i + 32]
                yield doc_id, i // 32, len(chunk), chunk[0]

    spark.udtf.register("chunk_doc", ChunkDoc)
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import tokens_col

    view = "docs_toks_udtf"
    docs.select("doc_id", tokens_col(F.lower(F.col("text"))).alias("toks")).createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT c.* FROM {view}, LATERAL chunk_doc(doc_id, toks) c"
    )
