"""Exactness and plan-size gates for the vector keys and projections.

`operators/vectors.lsh_tables` / `lsh_multiprobe_tables` build every
table's bucket as one higher-order expression, and
`llm_ops._project_jvm` writes vec_pca_project's small-corpus
projection as one SQL string. Both replaced one Column per plane or
per term. The unrolled forms are kept here as the reference: keys,
plans and query rows must match them exactly.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from hbase_sep_spark.io import t
from hbase_sep_spark.operators import vectors as V
from hbase_sep_spark.queries import llm_ops
from hbase_sep_spark.registry import load_all
from tests.conftest import SF_ORACLE, SF_UNIT

REGISTRY = load_all()


def _ref_bucket(a, n_planes, seed):
    """The unrolled bucket: one aggregate(zip_with(...)) per plane."""
    a = F.col(a) if isinstance(a, str) else a

    def plane_component(i, j):
        h = F.xxhash64(i, F.lit(j), F.lit(seed))
        return (h % 1000000).cast("double") / 500000.0 - 1.0

    def projection_sign(j):
        proj = F.aggregate(
            F.zip_with(
                a,
                F.sequence(F.lit(0), F.size(a) - 1),
                lambda x, i: x.cast("double") * plane_component(i, j),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))

    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        bucket = bucket * 2 + projection_sign(j)
    return bucket


def _ref_tables(a, n_tables=8, n_planes=4, seed=42):
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                _ref_bucket(a, n_planes, seed + 1000 * t).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )


def _ref_multiprobe(a, n_tables=8, n_planes=4, seed=42):
    entries = []
    for t in range(n_tables):
        b = _ref_bucket(a, n_planes, seed + 1000 * t)
        entries.append(F.struct(F.lit(t).alias("table"), b.alias("bucket")))
        for p in range(n_planes):
            entries.append(
                F.struct(F.lit(t).alias("table"), b.bitwiseXOR(F.lit(1 << p)).alias("bucket"))
            )
    return F.array(*entries)


def _ref_project_jvm(e, mean, comps):
    """The 128-term Column chain vec_pca_project used to build."""

    def proj(comp):
        return sum(
            (F.element_at("embedding", i + 1).cast("double") - F.lit(float(mean[i])))
            * F.lit(float(comp[i]))
            for i in range(len(mean))
        )

    return e.select(
        "vec_id",
        "label",
        F.round(proj(comps[0]), 4).alias("pc1"),
        F.round(proj(comps[1]), 4).alias("pc2"),
    )


def _use_reference(monkeypatch):
    monkeypatch.setattr(V, "lsh_tables", _ref_tables)
    monkeypatch.setattr(V, "lsh_multiprobe_tables", _ref_multiprobe)
    monkeypatch.setattr(llm_ops, "_project_jvm", _ref_project_jvm)


def _optimized(df) -> str:
    """The optimized plan with expression ids and lambda variable
    suffixes stripped."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"(lambda [a-z]+)_\d+", r"\1", re.sub(r"#\d+", "", plan))


@pytest.mark.parametrize("src", ["sf0.01", "embedding"])
def test_lsh_keys_match_unrolled_reference(spark, mutated, src):
    """Every row, hostile ones included (NULL, empty, ragged, NaN/Inf,
    NULL-component and zero vectors in the `embedding` class): the
    same key arrays, element order included."""
    sf = SF_ORACLE if src == "sf0.01" else mutated("embedding")
    e = t(spark, sf, "embeddings")
    cols = {
        "tables": (V.lsh_tables("embedding"), _ref_tables("embedding")),
        "probes": (V.lsh_multiprobe_tables("embedding"), _ref_multiprobe("embedding")),
        "bucket16": (V.lsh_bucket("embedding"), _ref_bucket("embedding", 16, 42)),
    }
    rows = e.select(
        "vec_id",
        *[c.alias(f"{k}_new") for k, (c, _) in cols.items()],
        *[c.alias(f"{k}_ref") for k, (_, c) in cols.items()],
    ).collect()
    assert len(rows) >= 50
    for k in cols:
        diff = [r["vec_id"] for r in rows if r[f"{k}_new"] != r[f"{k}_ref"]]
        assert not diff, (k, diff[:5])
    assert len(rows[0]["probes_new"]) == 8 * 5


def test_lsh_keys_over_a_column_named_like_a_lambda_variable(spark):
    """The keys are SQL text with lambdas around the column reference:
    a column named t, b or j must not be shadowed by them."""
    names = ("v", "t", "b", "j")
    df = spark.createDataFrame([([1.0, -2.0, 0.5],)], ["v"]).selectExpr(*[f"v AS {c}" for c in names])
    want = df.select(_ref_multiprobe("v")).first()[0]
    assert all(df.select(V.lsh_multiprobe_tables(c)).first()[0] == want for c in names)


@pytest.mark.parametrize("sf", [SF_UNIT, SF_ORACLE], ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize(
    "name", ["simsearch_lsh_bucketed", "simsearch_quantized_rerank", "vec_pca_project"]
)
def test_vector_queries_match_reference_rows(spark, monkeypatch, name, sf):
    build = REGISTRY[name].raw
    got = sorted(map(repr, build(spark, sf).collect()))
    _use_reference(monkeypatch)
    want = sorted(map(repr, build(spark, sf).collect()))
    assert got and got == want


def test_pca_projection_sql_is_the_column_chain_plan(spark, monkeypatch):
    """The SQL string must optimize to the Column chain's expression
    tree (same codegen, same summation order), not merely to equal
    rows on one fixture."""
    build = REGISTRY["vec_pca_project"].raw
    plan = _optimized(build(spark, SF_UNIT))
    _use_reference(monkeypatch)
    assert plan.count("element_at(embedding") == 128
    assert plan == _optimized(build(spark, SF_UNIT))


def test_lsh_plan_holds_one_projection_per_side(spark):
    """simsearch_lsh_bucketed used to plan one projection per plane per
    table: 32 xxhash64 calls on the build side and 160 on the probe
    side (each flip rebuilt its bucket), a ~1.2 MB task binary
    broadcast on every run. The keys are now one expression per side."""
    df = REGISTRY["simsearch_lsh_bucketed"].raw(spark, SF_UNIT)
    assert _optimized(df).count("xxhash64(") <= 2


def test_pca_blas_path_keeps_labels_exact(spark, tmp_path):
    """At 50k vectors vec_pca_project projects through Python workers.
    The ids and labels must come back exactly: a label beyond 2^53
    does not survive a trip through DOUBLE, and NULL labels stay NULL."""
    n = 50_000
    emb = np.random.default_rng(7).standard_normal((n, 64)).astype("float32")
    labels = [2**53 + 1 if i == 1 else None if i % 997 == 3 else i % 10 for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.ListArray.from_arrays(
                    pa.array(np.arange(0, 64 * n + 1, 64), pa.int32()), pa.array(emb.ravel())
                ),
                "label": pa.array(labels, pa.int64()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    assert llm_ops._pca_fanout(spark, str(tmp_path)) >= 1  # the BLAS path
    df = REGISTRY["vec_pca_project"].raw(spark, str(tmp_path))
    assert dict(df.dtypes)["label"] == "bigint"
    assert {r["vec_id"]: r["label"] for r in df.collect()} == dict(enumerate(labels))
