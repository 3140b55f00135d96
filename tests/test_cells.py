"""operators/cells.py: the coarse-quantizer assignment dispatcher.

Pins VERDICT r2 item 3: plan node count stays O(1) in k above the
literal cap (no centroid-literal blowup at production k), and the two
spellings agree exactly — including nprobe rankings and tie-breaks.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from bifrost_spark.operators import cells


def _vec_df(spark, n=40, dim=8, seed=5):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(v)],
        "vec_id long, unit array<double>",
    )
    return df, v


def _centers(k, dim=8, seed=9):
    rng = np.random.default_rng(seed)
    c = rng.normal(size=(k, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return [[float(x) for x in row] for row in c], c


def test_plan_size_is_o1_in_k_above_literal_cap(spark):
    """k=256 must NOT embed 256 centroid arrays as plan literals: its plan
    text is bounded and smaller than the k=64 literal-path plan."""
    df, _ = _vec_df(spark)
    lit_k = cells.LITERAL_K_MAX
    plan_literal = df.select(
        cells.assign_cell("unit", _centers(lit_k)[0]).alias("cell")
    )._jdf.queryExecution().optimizedPlan().toString()
    plan_pandas = df.select(
        cells.assign_cell("unit", _centers(256)[0]).alias("cell")
    )._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan_pandas) < len(plan_literal)
    assert len(plan_pandas) < 5_000, len(plan_pandas)
    # and k=4096 costs the same plan as k=256
    plan_big = df.select(
        cells.assign_cell("unit", _centers(4096)[0]).alias("cell")
    )._jdf.queryExecution().optimizedPlan().toString()
    assert abs(len(plan_big) - len(plan_pandas)) < 100


@pytest.mark.parametrize("nprobe", [1, 5])
def test_paths_agree_with_numpy_ground_truth(spark, nprobe):
    """Literal (k=16) and pandas (k=70) paths both match a float64 numpy
    argsort of the dot products."""
    df, v = _vec_df(spark)
    for k in (16, 70):
        centers_list, c = _centers(k)
        got = {
            r.vec_id: list(r.cells)
            for r in df.select(
                "vec_id",
                cells.rank_cells("unit", centers_list, nprobe).alias("cells"),
            ).collect()
        }
        scores = v @ c.T
        for i in range(len(v)):
            want = list(np.argsort(-scores[i], kind="stable")[:nprobe])
            assert got[i] == want, (k, i, got[i], want)


def test_tie_break_prefers_lower_cell_id(spark):
    """Duplicate centroids produce exact score ties; both paths must rank
    the LOWER cell id first."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, unit array<double>"
    )
    dup = [0.6, 0.8]
    for k, pad_seed in ((4, 1), (cells.LITERAL_K_MAX + 6, 2)):
        rng = np.random.default_rng(pad_seed)
        pad = rng.normal(size=(k - 2, 2))
        pad /= np.linalg.norm(pad, axis=1, keepdims=True) * 2  # strictly worse
        centers = [dup, dup] + [[float(x) for x in r] for r in pad]
        row = df.select(
            cells.rank_cells("unit", centers, 2).alias("cells")
        ).collect()[0]
        assert list(row.cells)[:2] == [0, 1], (k, row.cells)


def test_semdedup_k_derivation():
    from bifrost_spark.queries.llm_dedup import (
        SEMDEDUP_K_MAX,
        SEMDEDUP_K_MIN,
        semdedup_k,
    )

    assert semdedup_k(0) == SEMDEDUP_K_MIN
    assert semdedup_k(400) == 16  # the clustered-corpus gate's k_true
    assert semdedup_k(500) == 20
    assert semdedup_k(10**9) == SEMDEDUP_K_MAX
    assert semdedup_k(5000) == 200  # sf0.1 → pandas assignment path


def test_kmeans_fit_deterministic_and_order_robust():
    """Same sample -> identical centers bit-for-bit; and the best-of-4
    greedy-++ fit must land in the same inertia basin regardless of row
    order (the sample arrives in xxhash64 order, which is arbitrary)."""
    import numpy as np

    from bifrost_spark.operators.cells import kmeans_fit

    rng = np.random.default_rng(5)
    true_centers = rng.normal(size=(8, 16))
    X = np.repeat(true_centers, 50, axis=0) + 0.05 * rng.normal(size=(400, 16))

    c1 = kmeans_fit(X, 8, seed=13)
    c2 = kmeans_fit(X, 8, seed=13)
    assert c1 == c2, "kmeans_fit is not deterministic"

    def inertia(C):
        C = np.asarray(C)
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return float(d.min(1).sum())

    perm = np.random.default_rng(6).permutation(len(X))
    c3 = kmeans_fit(X[perm], 8, seed=13)
    i1, i3 = inertia(c1), inertia(c3)
    assert abs(i1 - i3) / i1 < 0.05, f"order-sensitive fit: {i1} vs {i3}"


def test_kmeans_fit_handles_k_ge_n_and_duplicates():
    """k >= n_points must not crash or emit NaN centers (empty-cluster
    reseeding path), including when the sample has exact duplicates."""
    import numpy as np

    from bifrost_spark.operators.cells import kmeans_fit

    X = np.array([[0.0, 0.0], [0.0, 0.0], [1.0, 1.0]])
    C = np.asarray(kmeans_fit(X, 5, seed=1))
    assert C.shape[0] == 3  # clamped to n
    assert np.isfinite(C).all()


def test_train_kmeans_partition_invariant(spark):
    """The xxhash64-ordered sample is content-derived, so training must
    return identical centers under any input partitioning — the property
    that makes retries/cluster-resizes reproducible."""
    from pyspark.sql import functions as F

    from bifrost_spark.operators.cells import train_kmeans
    from bifrost_spark.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    c1 = train_kmeans(e.repartition(3), "v", "vec_id", 4, seed=2)
    c2 = train_kmeans(e.repartition(17, "vec_id"), "v", "vec_id", 4, seed=2)
    assert c1 == c2


def test_opq_rotation_is_orthogonal():
    rng = np.random.default_rng(3)
    X = rng.normal(size=(400, 16))
    R = np.asarray(cells.opq_fit(X, m_sub=4, k_pq=8, seed=1, iters=4))
    assert np.allclose(R @ R.T, np.eye(16), atol=1e-8)


def test_opq_reduces_pq_mse_on_correlated_data():
    """The property OPQ exists for: on data whose variance structure is
    misaligned with the subspace grid (anisotropic latent scales mixed by
    a random rotation — the realistic embedding case), the learned
    rotation must cut PQ reconstruction error vs identity."""
    rng = np.random.default_rng(7)
    n, d, m_sub, k_pq = 600, 32, 4, 8
    scales = 1.0 / (1.0 + np.arange(d))  # strongly anisotropic spectrum
    latent = rng.normal(size=(n, d)) * scales
    Q, _ = np.linalg.qr(rng.normal(size=(d, d)))
    X = latent @ Q  # correlation now crosses every subspace boundary
    mse_id = cells.pq_mse(X, m_sub, k_pq, seed=2)
    R = cells.opq_fit(X, m_sub, k_pq, seed=2, iters=8)
    mse_opq = cells.pq_mse(X, m_sub, k_pq, seed=2, R=np.asarray(R))
    assert mse_opq < 0.9 * mse_id, f"OPQ {mse_opq:.5f} vs identity {mse_id:.5f}"


def test_opq_fit_deterministic():
    rng = np.random.default_rng(11)
    X = rng.normal(size=(300, 16))
    r1 = cells.opq_fit(X, m_sub=4, k_pq=8, seed=5, iters=3)
    r2 = cells.opq_fit(X.copy(), m_sub=4, k_pq=8, seed=5, iters=3)
    assert r1 == r2


def test_rotate_vectors_matches_numpy(spark):
    df, V = _vec_df(spark, n=30, dim=8)
    rng = np.random.default_rng(13)
    Q, _ = np.linalg.qr(rng.normal(size=(8, 8)))
    R = [[float(x) for x in row] for row in Q]
    rows = df.select("vec_id", cells.rotate_vectors(R)(F.col("unit")).alias("r")).collect()
    got = np.vstack([r["r"] for r in sorted(rows, key=lambda r: r["vec_id"])])
    assert np.allclose(got, V @ Q, atol=1e-12)


def test_lit_builders_round_trip_bit_exactly(spark):
    """sql_literal / sql_struct_table build plan literals as ONE parsed SQL
    expression (the per-element F.lit spelling cost one py4j round-trip
    per float — ~13 s of plan construction for the IVF-PQ codebooks,
    round 5).  The parse must be BIT-exact for arbitrary doubles: repr()
    is shortest-exact and Double.parseDouble round-trips it, including
    exponents and -0.0.  Ints keep F.lit's type: INT while they fit, so a
    2**62 element widens the array to BIGINT."""
    import struct as _struct

    from bifrost_spark.operators.vectors import sql_literal, sql_struct_table

    vals = [0.1, -1.5e-18, 2.3456789012345678e30, 7.123456789012345e-05,
            -0.0, 1.0, -3.141592653589793]
    df = spark.range(1).select(
        F.expr(sql_literal(vals)).alias("v"),
        F.expr(sql_literal([vals, vals[::-1]])).alias("m"),
        F.expr(sql_struct_table([vals], "cell", "c")).alias("t"),
        F.expr(sql_literal([0, -7, 2**62])).alias("b"),
        F.expr(sql_literal(7)).alias("i"),
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "array<double>",
        "array<array<double>>",
        "array<struct<cell:int,c:array<double>>>",
        "array<bigint>",
        "int",
    ]
    row = df.collect()[0]
    bits = lambda x: _struct.pack(">d", x)
    assert [bits(a) for a in row["v"]] == [bits(v) for v in vals]
    assert [bits(a) for a in row["m"][1]] == [bits(v) for v in vals[::-1]]
    assert row["t"][0]["cell"] == 0
    assert [bits(a) for a in row["t"][0]["c"]] == [bits(v) for v in vals]
    assert list(row["b"]) == [0, -7, 2**62]
    assert row["i"] == 7


def test_lit_builders_reject_non_finite():
    from bifrost_spark.operators.vectors import sql_literal, sql_struct_table

    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError):
            sql_literal([1.0, bad])
        with pytest.raises(ValueError):
            sql_struct_table([[1.0, bad]], "cell", "c")


def test_local_frame_matches_list_backed_frame(spark):
    """local_frame gives the rows and the schema a list-backed
    createDataFrame gives; a session-local timestamp field (which Arrow
    would read as UTC, createDataFrame as local time) is refused."""
    import datetime as dt

    from bifrost_spark.operators.vectors import local_frame

    schema = "k bigint, x double, s string, v array<double>, d date, t timestamp_ntz"
    rows = [
        (1, -0.0, "a", [1.5, 2.0], dt.date(2024, 2, 29), dt.datetime(2024, 1, 1, 12, 30)),
        (2, None, None, [], None, None),
    ]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    for bad in ("t timestamp", "r struct<t: timestamp>", "a array<timestamp>"):
        with pytest.raises(ValueError, match="timestamp"):
            local_frame(spark, [(None,)], bad)


def _build_simhash64(spark):
    from bifrost_spark.operators.dedup import simhash64

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    return lambda: simhash64(docs, "text", "doc_id")


def _build_srp_bucket(spark):
    from bifrost_spark.operators.vectors import srp_bucket

    return lambda: F.expr(srp_bucket("embedding", 64, n_bits=16, seed=1000))


@pytest.mark.parametrize(
    "build, budget",
    [(_build_simhash64, 1000), (_build_srp_bucket, 25)],
    ids=["simhash64", "srp_bucket"],
)
def test_kernel_build_py4j_budget(spark, monkeypatch, build, budget):
    """Building a literal-heavy kernel is a handful of parsed expressions,
    not one py4j command per literal or per Column node (the Column
    spelling sent 9,621 commands per simhash64 and 249 per srp_bucket).
    Object releases ("m" commands, sent whenever Python's GC runs) are not
    counted."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting_send(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    kernel = build(spark)
    monkeypatch.setattr(client, "send_command", counting_send)
    kernel()
    monkeypatch.undo()
    assert len(sent) < budget
