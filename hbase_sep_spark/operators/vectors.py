"""Vector operators over `array<float>` embedding columns.

All arithmetic casts float→double BEFORE multiplying so results are
bitwise-reproducible against any double-precision engine (float32
accumulation is not portable). Everything is a Catalyst expression —
higher-order functions run inside codegen, no UDFs.

Scale posture: brute-force cosine is O(N) per probe and is the
correctness baseline; the scale path is LSH bucketing (random
hyperplane signs) which turns top-k into an equi-join on bucket id —
see lsh_bucket() and llm_ops.simsearch_knn_join's docstring.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

_INF = float("inf")


def _nonfinite(x: Column) -> Column:
    return F.isnan(x) | (F.abs(x) == F.lit(_INF))


def finite_only(a) -> Column:
    """The array filtered to finite components (NULL array → NULL)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.filter(a, lambda x: ~_nonfinite(x))


def is_valid(a, dim: int = 64, require_nonzero: bool = True) -> Column:
    """Embedding validity gate — apply at the scan before ANY
    geometry (round-7 hostile-embeddings sweep). A real 100 TB
    embedding feed carries NULL rows, truncated/empty arrays, and
    NaN/Inf components from upstream model crashes; under ANSI a
    zero-norm vector turns every cosine into DIVIDE_BY_ZERO, and a
    ragged array crashes element_at / np.stack. Valid = non-null,
    exactly `dim` components, all non-NULL and finite, and (where
    the operator needs a direction) at least one nonzero component —
    float32 inputs can't underflow a float64 square to zero, so
    nonzero ⇒ norm > 0 exactly. Pure codegen predicate (size + two
    exists), pushed into the scan stage by Catalyst. SQL mirror:
    valid_sql().

    The NULL-ELEMENT conjunct is explicit and load-bearing on both
    sides (round-7 review finding): without it, Spark's `exists`
    over [1.0, NULL, ...] returns NULL (three-valued logic — the
    filter silently drops the row) while DuckDB's list_filter drops
    the NULL-predicate element and KEEPS the row — a kept-vs-dropped
    divergence on exactly the upstream-crash class this gate
    exists for. `x.isNull()` evaluates first in the exists lambda,
    so the predicate is TRUE (never NULL) on a NULL element."""
    a = F.col(a) if isinstance(a, str) else a
    ok = (
        a.isNotNull()
        & (F.size(a) == dim)
        & ~F.exists(a, lambda x: x.isNull() | _nonfinite(x))
    )
    if require_nonzero:
        ok = ok & F.exists(a, lambda x: x != 0.0)
    return ok


def valid_sql(col: str, dim: int = 64, require_nonzero: bool = True) -> str:
    """DuckDB mirror of is_valid() for query oracles. NaN-safe by
    construction: the finite conjunct rejects NaN/Inf rows before
    any comparison could hit DuckDB's total-order NaN semantics
    (NaN > 0 is TRUE there, IEEE-false in Spark). The explicit
    IS NULL conjunct mirrors is_valid's NULL-element rejection —
    list_filter drops NULL-predicate elements, so the isfinite
    conjunct alone would silently PASS a [1.0, NULL, ...] row that
    Spark drops."""
    parts = [
        f"{col} IS NOT NULL",
        f"len({col}) = {dim}",
        f"len(list_filter({col}, x -> x IS NULL)) = 0",
        f"len(list_filter({col}, x -> NOT isfinite(x))) = 0",
    ]
    if require_nonzero:
        parts.append(f"len(list_filter({col}, x -> x <> 0)) > 0")
    return "(" + " AND ".join(parts) + ")"


def dot(a, b) -> Column:
    """Σ a_i·b_i as a left fold in element order (portable)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def unit_normalize(a, ndigits: int = 4) -> Column:
    """Element-wise x/‖v‖, rounded for engine portability."""
    a = F.col(a) if isinstance(a, str) else a
    norm = l2_norm(a)
    return F.transform(a, lambda x: F.round(x.cast("double") / norm, ndigits) + F.lit(0.0))


def _bucket_sql(col: str, n_planes: int, seed: str) -> str:
    """SQL for the sign pattern of n_planes pseudo-random projections
    of array column `col`, packed into a long: one fold over the plane
    index j, so the plane count adds no expression nodes. Plane j's
    component i is xxhash64(i, j, seed) mapped to [-1, 1); each
    projection is a left-to-right sum from 0.0. The lambda variables
    whose scope holds `col` end in `_`, so a column named b, j or t
    is not shadowed."""
    a = f"`{col}`"
    component = f"(CAST(xxhash64(i, j_, {seed}) % 1000000 AS DOUBLE) / 500000.0D - 1.0D)"
    proj = (
        f"aggregate(zip_with({a}, sequence(0, size({a}) - 1), (x, i) -> CAST(x AS DOUBLE) * "
        f"{component}), 0.0D, (acc, x) -> acc + x)"
    )
    sign = f"CASE WHEN {proj} >= 0 THEN 1 ELSE 0 END"
    return f"aggregate(sequence(0, {n_planes - 1}), 0L, (b_, j_) -> b_ * 2 + {sign})"


def _tables_sql(col: str, n_tables: int, n_planes: int, seed: int) -> str:
    bucket = _bucket_sql(col, n_planes, f"{seed} + 1000 * t_")
    return f"transform(sequence(0, {n_tables - 1}), t_ -> named_struct('table', t_, 'bucket', {bucket}))"


def lsh_bucket(col: str, n_planes: int = 16, seed: int = 42) -> Column:
    """Random-hyperplane LSH bucket id of array column `col`: sign
    pattern of n_planes pseudo-random projections, packed into a long.
    Deterministic in (seed, n_planes). Vectors in the same bucket are
    cosine-close with high probability — the 100 TB path for kNN
    joins (equi-join on bucket id instead of a cross join).

    The 'random' plane p_j component i is derived from xxhash64(i, j,
    seed) mapped to [-1, 1) — no driver-side randomness, fully
    plan-deterministic. The keys are SQL strings: one expression,
    parsed in one JVM call, whatever the plane count.
    """
    return F.expr(_bucket_sql(col, n_planes, str(seed)))


def lsh_tables(col: str, n_tables: int = 8, n_planes: int = 4, seed: int = 42) -> Column:
    """Multi-table LSH: array of (table, bucket) structs, one bucket
    per independent hash table (table t's planes seeded
    seed + 1000·t).

    One k-plane table alone has near-zero recall on weakly-clustered
    vectors (P(collide) = p^k with p barely above 1/2); L independent
    tables lift it to 1-(1-p^k)^L — the standard LSH construction.
    Explode this array and equi-join on (table, bucket): candidates =
    union over tables, still never all-pairs. The tables are one
    transform over the table index, so the plan holds one projection
    expression whatever the table and plane counts."""
    return F.expr(_tables_sql(col, n_tables, n_planes, seed))


def lsh_multiprobe_tables(col: str, n_tables: int = 8, n_planes: int = 4, seed: int = 42) -> Column:
    """PROBE-side multi-probe LSH keys: for each table, the exact
    bucket plus every Hamming-distance-1 neighbor (one plane's sign
    flipped, planes in order). A query vector near a plane boundary
    mostly misses its true neighbors' bucket by exactly one sign —
    probing the flipped buckets recovers those at (1 + n_planes)×
    probe keys and ZERO index-side cost (the indexed corpus still
    stores one bucket per table). Each table's bucket is computed
    once and XORed with 0 (the exact key) and each plane's bit.
    Standard multi-probe LSH; recall gate in tests/test_ann.py.
    """
    flips = ", ".join(str(m) for m in [0] + [1 << p for p in range(n_planes)])
    probe = "named_struct('table', k.table, 'bucket', k.bucket ^ m)"
    tables = _tables_sql(col, n_tables, n_planes, seed)
    return F.expr(f"flatten(transform({tables}, k -> transform(array({flips}), m -> {probe})))")
