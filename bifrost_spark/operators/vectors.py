"""Embedding-vector operators: deterministic cosine, brute-force top-k,
sign-random-projection LSH (ANN scale path).

Determinism: float components widen exactly to double; per-term products are
IEEE-exact; each term is rounded once to DECIMAL(22,18) (identically in both
engines) and the SUM over those decimals is exact, so the fold order (Spark's
higher-order ``aggregate`` vs DuckDB's UNNEST aggregation) cannot change the
result.  sqrt/division on the exact sums are single IEEE ops → cosine is
bit-identical across engines and partitionings.

DECIMAL(22,18) is chosen so Spark's decimal-addition type promotion
((22,18)+(22,18) → (23,18)) never clamps the scale — the explicit cast back
to (22,18) inside the fold is value-exact for |sum| < 10^4, which bounds all
dot/norm sums over unit-ish 64-dim embeddings.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(22,18)"
SQL_DEC = "DECIMAL(22,18)"  # oracle-side twin


def _dec_fold_sum(terms: Column) -> Column:
    """Exact sum of an array<double> via decimal accumulation → double."""
    return F.aggregate(
        terms,
        F.lit(0).cast(_DEC),
        lambda acc, x: (acc + x.cast(_DEC)).cast(_DEC),
    ).cast("double")


def dot(a: Column, b: Column) -> Column:
    """Deterministic dot product of two array<float>/array<double> columns."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _dec_fold_sum(prods)


def norm2(a: Column) -> Column:
    """Deterministic squared L2 norm."""
    return _dec_fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    """Deterministic cosine similarity."""
    return dot(a, b) / (F.sqrt(norm2(a)) * F.sqrt(norm2(b)))


def dot_fast(a: Column, b: Column) -> Column:
    """Double-accumulation dot product — the cheap prefilter path.

    ~10× faster than the decimal fold (no per-term decimal round-trips).
    Within one row the array fold order is fixed, so the value is still
    deterministic across partitionings; it differs from the exact decimal
    dot by at most ~dim ulps (< 1e-12 relative for 64-dim unit-ish vectors).
    Use with a threshold margin, then rescore survivors with ``cosine``.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2_fast(a: Column) -> Column:
    """Double-accumulation squared L2 norm (prefilter twin of ``norm2``)."""
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def scale_by(vec: Column, divisor: Column, round_dp: int | None = None) -> Column:
    """Element-wise ``vec / divisor`` with the divisor evaluated ONCE per row.

    NEVER write ``F.transform(vec, lambda x: x / divisor_expr)`` when the
    divisor is a computed expression (a norm fold, an aggregate, even a
    projected alias of one): Catalyst's CollapseProject inlines the alias
    into the lambda BODY, where higher-order functions re-evaluate it per
    ELEMENT — the O(d)-per-row normalization silently becomes O(d²)
    (measured: 11 s instead of <1 s on 2000 rows × 64 dims at sf0.1,
    because the interpreted decimal/double fold ran 64× per row).

    Zipping against ``array_repeat(divisor, size(vec))`` pins the divisor
    in zip_with's ARGUMENT position — arguments are evaluated once per row,
    only the lambda body runs per element — so the shape stays O(d)/row no
    matter where CollapseProject moves it.  Same defense class as the
    Generate-filter recompute: make the expensive expression structurally
    un-inlinable instead of hoping the optimizer keeps the projection.
    """
    per_elem = (
        (lambda x, n: F.round(x.cast("double") / n, round_dp))
        if round_dp is not None
        else (lambda x, n: x.cast("double") / n)
    )
    return F.zip_with(
        vec, F.array_repeat(divisor.cast("double"), F.size(vec)), per_elem
    )


def sql_literal(value) -> str:
    """The one spelling of a Python value as a plan literal: a SQL string
    that ``F.expr`` parses in ONE py4j round-trip, or that splices into a
    larger parsed expression.  ``F.array(*[F.lit(v) for v in row])`` costs
    one round-trip per element — the IVF-PQ codebook tables spent ~13 s of
    pure plan construction (48k gateway calls) that way.

    Floats become shortest-repr ``D`` literals (Double.parseDouble
    round-trips repr() bit-exactly, exponents and -0.0 included) and a
    non-finite value raises; ints keep ``F.lit``'s INT-or-BIGINT-by-
    magnitude type; lists and tuples become ``array(…)``, dicts ``map(…)``.
    """
    if isinstance(value, (list, tuple)):
        return "array(" + ",".join(sql_literal(v) for v in value) + ")"
    if isinstance(value, dict):
        pairs = (sql_literal(x) for kv in value.items() for x in kv)
        return "map(" + ",".join(pairs) + ")"
    if isinstance(value, int):
        return str(value)
    f = float(value)
    if not math.isfinite(f):
        raise ValueError(f"non-finite literal {value!r} in plan constant")
    return f"{f!r}D"


def sql_dot_fast(a: str, b: str) -> str:
    """SQL-string twin of :func:`dot_fast` — identical expression tree
    (the CASTs and the 0.0D seed match the Column spelling), for use
    inside single-parse composite expressions."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE)"
        f" * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def sql_struct_table(
    rows: list[list[float]], id_field: str, vec_field: str
) -> str:
    """array<struct<id_field int, vec_field array<double>>> literal — the
    (id, centroid) lookup table shape consumed by transform-based argmin
    scans — as a SQL string (see :func:`sql_literal`)."""
    return (
        "array("
        + ",".join(
            f"named_struct('{id_field}', {i}, '{vec_field}', {sql_literal(r)})"
            for i, r in enumerate(rows)
        )
        + ")"
    )


def local_frame(spark, rows, schema) -> DataFrame:
    """The one spelling of a driver-built frame: ``rows`` (tuples or Rows)
    under ``schema`` (a DDL string or a StructType), shipped to the JVM as
    one Arrow table.  A list-backed ``createDataFrame`` unpickles its rows
    in Python-worker tasks (one per partition) every time the frame runs;
    the Arrow-backed frame runs JVM-only (50 rows: 33 ms against 238 ms).

    A ``timestamp`` (session-local) field anywhere in ``schema`` raises
    ``ValueError``: Arrow would read a naive ``datetime`` as UTC where a
    list-backed ``createDataFrame`` reads it as local time, so the frame
    would shift silently.  ``timestamp_ntz`` and ``date`` are unaffected."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructType,
        TimestampType,
        _parse_datatype_string,
    )

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)

    def local_tz(t) -> bool:
        if isinstance(t, StructType):
            return any(local_tz(f.dataType) for f in t.fields)
        if isinstance(t, ArrayType):
            return local_tz(t.elementType)
        if isinstance(t, MapType):
            return local_tz(t.keyType) or local_tz(t.valueType)
        return isinstance(t, TimestampType)

    if local_tz(struct):
        raise ValueError(
            f"local_frame refuses session-local timestamp fields: {struct.simpleString()}"
        )
    arrow = to_arrow_schema(struct)
    cols = [
        pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), struct)


def cosine_pair_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    margin: float = 1e-6,
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """All-pairs cosine candidates ≥ threshold−margin via numpy matmul.

    The corpus is broadcast once (ids + row-normalized float64 matrix — the
    same "fits-in-broadcast" gate as a broadcast hash join's build side) and
    each Arrow batch of the scan is matrix-multiplied against it — BLAS does
    |batch|×|corpus| dot products per call, ~100× faster than per-pair
    expression folds.  Emits (id_a, id_b) with id_a < id_b, exactly once.

    Above the broadcast gate this operator refuses (raises) — the 100 TB
    path is LSH bucketing (srp_bucket / lsh_candidate_pairs), where the
    same numpy scoring runs per bucket.
    """
    import numpy as np

    rows = df.select(id_col, vec_col).limit(max_broadcast_rows + 1).collect()
    if len(rows) > max_broadcast_rows:
        raise ValueError(
            f"corpus exceeds broadcast gate {max_broadcast_rows}; "
            "use the LSH-bucketed path for all-pairs at this scale"
        )
    if not rows:  # empty corpus: a 0-row np.array is 1-D and axis=1 breaks
        return local_frame(df.sparkSession, [], "id_a long, id_b long")
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    bc = df.sparkSession.sparkContext.broadcast((ids, mat))

    def gen(batches):
        import pandas as pd

        b_ids, b_mat = bc.value
        for pdf in batches:
            if pdf.empty:  # np.stack needs at least one array
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            sims = v @ b_mat.T  # |batch| × |corpus|
            my_ids = pdf[id_col].to_numpy().astype(np.int64)
            ii, jj = np.nonzero(sims >= threshold - margin)
            a, b = my_ids[ii], b_ids[jj]
            keep = a < b
            yield pd.DataFrame({"id_a": a[keep], "id_b": b[keep]})

    return df.select(id_col, vec_col).mapInPandas(gen, schema="id_a long, id_b long")


def _srp_signs(seed: int, bit: int, dim: int) -> list[float]:
    """Deterministic ±1 sign vector for one projection bit.

    Derived from sha256(seed, bit, i) driver-side — plan-time constants, so
    executors never hash: the projection is a plain literal-array dot product
    (zero broadcast state, reproducible on any cluster)."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.sha256(f"{seed}:{bit}:{i}".encode()).digest()
        out.append(1.0 if h[0] & 1 else -1.0)
    return out


def srp_bucket(vec: str, dim: int, n_bits: int = 16, seed: int = 42) -> str:
    """Sign-random-projection LSH bucket id (bigint) of the vector column
    named ``vec``, as a SQL string.

    bucket bit b = sign(vec · signs_b) where signs_b is a deterministic ±1
    literal array (see ``_srp_signs``).  Per row: n_bits double-fold dot
    products over the vector — no per-row hashing at all.

    The n_bits × dim sign matrix is one :func:`sql_literal` and the
    per-bit terms come from an index-aware transform over it, so callers
    splice the whole bucket into one parsed expression (the Column
    spelling cost ~250 py4j round-trips of plan construction per bucket).
    Bucket value: Σ (1 << b) over positive projections.
    """
    signs = sql_literal([_srp_signs(seed, bit, dim) for bit in range(n_bits)])
    return (
        f"aggregate(transform({signs}, (s, i) -> CASE WHEN"
        f" {sql_dot_fast(vec, 's')} > 0 THEN shiftleft(1L, i) ELSE 0L END),"
        f" 0L, (acc, x) -> acc + x)"
    )
