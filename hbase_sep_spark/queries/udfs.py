"""§2.12 UDF / UDAF / UDTF surface.

UDFs are the engine's escape hatch, not its hot path (SURVEY §4):
every query here exists to prove the extension points work, with the
Arrow-vectorized forms (pandas_udf / applyInPandas) as the only
sanctioned pattern for bulk data — the row-at-a-time Python UDF is
deliberately confined to a tiny dimension table.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf, udf, udtf

from hbase_sep_spark.io import fanout, t
from hbase_sep_spark.operators import vectors as V
from hbase_sep_spark.registry import register

SECTION = "2.12"

_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _ALPHA.upper()
_ROT13 = _ALPHA[13:] + _ALPHA[:13]


@register(
    "udf_python_scalar",
    oracle=f"""
    SELECT s_suppkey,
           s_name,
           translate(s_name, '{_UPPER}{_ALPHA}', '{_ROT13}{_ROT13}') AS name_rot13
    FROM supplier
    """,
    section=SECTION,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python scalar UDF (deterministic rot13 cipher) —
    kept on the supplier dim (≤1k rows) on purpose; the oracle
    re-expresses it as SQL translate(). The case fold is ASCII-only
    (one combined A-Z/a-z → rot13 table, no str.lower()): Python's
    full-Unicode lower() diverges from DuckDB's simple mapping the
    same way Spark's lower() does (round-10 unicode-enum sweep —
    'İzmir' probed the gap), and translate is codepoint-wise-identical
    on both sides."""
    table = str.maketrans(_UPPER + _ALPHA, _ROT13 + _ROT13)

    @udf(returnType="string", useArrow=False)
    def rot13(s: str) -> str:
        return s.translate(table)

    s = t(spark, sf_dir, "supplier")
    return s.select("s_suppkey", "s_name", rot13("s_name").alias("name_rot13"))


@register(
    "udf_pandas_vectorized",
    oracle="""
    SELECT o_orderkey,
           round(1.0 / (1.0 + exp(-(o_totalprice / 100000.0))), 6) AS price_sigmoid
    FROM orders
    """,
    section=SECTION,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas UDF: vectorized numpy sigmoid over the
    full orders table (the sanctioned Python fast path — one Arrow
    batch transfer per partition, ~100× the scalar UDF). exp() is
    libm-dependent → rounded to 6 dp on both sides."""

    @pandas_udf("double")
    def sigmoid(x: pd.Series) -> pd.Series:
        import numpy as np

        return 1.0 / (1.0 + np.exp(-(x / 100000.0)))

    # The fixture is one parquet row group → one scan task → ONE
    # Python worker fed serially; the repartition fans the Arrow
    # boundary out across workers (0.19 → 0.14 s at sf0.1). A
    # production multi-split input parallelizes at the scan and
    # wouldn't need it — same mitigation as agg_median_percentile's
    # salted repartition. The fan-out COUNT is derived from the data
    # (round 13): one partition per 150k rows up to the session's
    # cores, so a 100× feed is not pinned to 8 Python workers on 32
    # cores (footer-only count; the batch analog of the streaming
    # sep_events.feed_batch_size rule). The floor is 8 (the sf0.1
    # optimum on 32 cores) capped at the cores: 8 tasks on 4 cores
    # are two waves of Python tasks (nine-run medians at sf0.01 on 4
    # cores: fan 8 0.29 s, fan 4 0.14 s).
    cores = spark.sparkContext.defaultParallelism
    fan = max(min(8, cores), fanout(sf_dir, "orders", 150_000, cores))
    o = t(spark, sf_dir, "orders").repartition(fan)
    return o.select("o_orderkey", F.round(sigmoid("o_totalprice"), 6).alias("price_sigmoid"))


@register(
    "udaf_pandas_group",
    oracle="""
    SELECT c_mktsegment,
           CASE WHEN ns >= 0 THEN  ((2 * ns + nk) // (2 * nk))
                ELSE             -((2 * (-ns) + nk) // (2 * nk))
           END / 10000.0 AS trimmed_mean_bal,
           n_custs
    FROM (
        SELECT c_mktsegment,
               100 * CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
                     FILTER (WHERE c_acctbal >= q10 AND c_acctbal <= q90) AS BIGINT) AS ns,
               CAST(count(*) FILTER (WHERE c_acctbal >= q10 AND c_acctbal <= q90) AS BIGINT) AS nk,
               count(*) AS n_custs
        FROM (
            SELECT c_mktsegment, c_acctbal,
                   quantile_cont(c_acctbal, 0.1) OVER (PARTITION BY c_mktsegment) AS q10,
                   quantile_cont(c_acctbal, 0.9) OVER (PARTITION BY c_mktsegment) AS q90
            FROM customer
        )
        GROUP BY c_mktsegment
    )
    """,
    section=SECTION,
)
def udaf_pandas_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregate via applyInPandas: 10%-trimmed mean of
    account balance per market segment. numpy's linear-interpolation
    quantile == SQL quantile_cont, so the oracle reproduces the exact
    trim boundaries.

    The trimmed mean itself is computed in exact integer CENTS
    (c_acctbal is 2-dp money — envelope pinned by
    tests/test_fixture_assumptions.py), with the same
    half-away-from-zero 4-dp integer division on both sides (the
    _iavg4 idiom): a float `kept.mean()` changed with SCAN ORDER
    (round-9 layout sweep — the fp sum's low bits depend on arrival
    order, and round(., 4) sat on the boundary), where the integer
    sum is order-independent at any layout."""

    def trimmed_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        vals = pdf["c_acctbal"].to_numpy()
        q10, q90 = np.quantile(vals, 0.1), np.quantile(vals, 0.9)
        kept = (vals >= q10) & (vals <= q90)
        # Exact cents: 2-dp values are within half an ulp of their
        # scaled integer, so rint() recovers them exactly — the same
        # number DuckDB's CAST(... AS DECIMAL(18,2)) * 100 produces.
        cents = np.rint(vals * 100).astype(np.int64)
        s = int(cents[kept].sum())
        d = int(kept.sum())  # >= 1: the quantile envelope is nonempty
        n4 = 100 * s  # numerator in 1e-4 units: (s / (100 d)) * 1e4
        q4 = (2 * abs(n4) + d) // (2 * d)
        mean4 = (q4 if n4 >= 0 else -q4) / 10000.0
        return pd.DataFrame(
            {
                "c_mktsegment": [pdf["c_mktsegment"].iloc[0]],
                "trimmed_mean_bal": [mean4],
                "n_custs": [len(vals)],
            }
        )

    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").applyInPandas(
        trimmed_mean,
        schema="c_mktsegment string, trimmed_mean_bal double, n_custs long",
    )


@register(
    "udtf_python",
    oracle="""
    SELECT r_name,
           CAST(unnest(range(0, r_regionkey + 1)) AS INT) AS seq,
           CAST(r_regionkey AS INT) AS src_key
    FROM region
    """,
    section=SECTION,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 @udtf): one input row → (key+1) output
    rows, consumed via LATERAL join — the oracle is a plain unnest."""

    @udtf(returnType="r_name string, seq int, src_key int")
    class ExpandRegion:
        def eval(self, name: str, key: int):
            for i in range(key + 1):
                yield (name, i, key)

    spark.udtf.register("expand_region", ExpandRegion)
    t(spark, sf_dir, "region").createOrReplaceTempView("region_udtf_v")
    return spark.sql(
        """
        SELECT u.r_name, u.seq, u.src_key
        FROM region_udtf_v r,
             LATERAL expand_region(r.r_name, r.r_regionkey) u
        """
    )


@register(
    "udf_pandas_vector_score",
    oracle=f"""
    SELECT vec_id,
           round(1.0 / (1.0 + exp(-(
               list_sum(list_transform(range(1, 65),
                   i -> CAST(embedding[i] AS DOUBLE) * (CAST((i - 1) * 37 % 101 AS DOUBLE) / 101.0 - 0.5)))
           ))), 6) AS score
    FROM embeddings
    WHERE {V.valid_sql('embedding', require_nonzero=False)}
    """,
    section=SECTION,
)
def udf_pandas_vector_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scoring shape: a pandas UDF taking the embedding ARRAY
    column through Arrow, dotting it with a fixed weight vector and
    squashing — the batch-inference calling convention (vector in,
    scalar out, numpy inside). Weights are derived arithmetically so
    the oracle can reproduce them exactly. Scan applies the
    V.is_valid gate without the nonzero requirement (the score is a
    dot, no division) — a NULL or ragged array crashes np.stack in
    the worker, the batch-inference failure mode a validation gate
    exists to prevent (round-7 hostile-embeddings sweep)."""
    import numpy as np

    # Round-14: worker fan-out via the shared embeddings derivation
    # (the corpus file is a single row group — the scan otherwise
    # feeds ONE Python worker; floored off at every graded SF), and
    # the batch is stacked directly (the cells arrive as numpy
    # arrays) instead of re-wrapping each row in a Python lambda.
    # 0.88 → 0.29 s solo at sf10; values bit-identical (same float64
    # cast, same matmul).
    from hbase_sep_spark.queries.llm_ops import _emb_fanout

    weights = np.array([((i * 37) % 101) / 101.0 - 0.5 for i in range(64)], dtype=np.float64)

    @pandas_udf("double")
    def score(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="float64")
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        z = mat @ weights
        return pd.Series(1.0 / (1.0 + np.exp(-z)))

    e = t(spark, sf_dir, "embeddings").filter(
        V.is_valid("embedding", require_nonzero=False)
    ).select("vec_id", "embedding")
    if _emb_fanout(spark, sf_dir) >= 2:
        e = e.repartition(_emb_fanout(spark, sf_dir))
    return e.select("vec_id", F.round(score("embedding"), 6).alias("score"))
