"""Triple-entry verification, tranche 12: set / graph / edit-distance
operators.

These operators' oracles are independent SQL spellings, but engine and
oracle still share one human's reading of the DEFINITION (which pairs
count as duplicates, which triangles exist, what "coverage" means) — the
same blind spot the statistics tranches closed.  Each test here
recomputes the operator from first principles in plain Python: explicit
Levenshtein dynamic programming, brute-force Jaccard over all pairs,
direct triangle enumeration on adjacency sets, interval-union coverage,
numpy cosine argmax, numpy medians and means.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from bifrost_spark import registry
from conftest import SF_DIR

TOL = 1e-6


@pytest.fixture(scope="module")
def docs() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def lineitem() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="module")
def part() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/part.parquet")


@pytest.fixture(scope="module")
def embeddings() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/embeddings.parquet")


# ---------------------------------------------------------------------------
# q_fuzzy_join — explicit Levenshtein dynamic programming
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fuzzy_join_matches_python_edit_distance(spark, part):
    """Brute force over ALL same-brand pairs — independently proves the
    (brand, length-band) blocking key is LOSSLESS for distance <= 3."""
    want = set()
    for _, grp in part.groupby("p_brand"):
        rows = sorted(zip(grp.p_partkey, grp.p_name))
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                d = _lev(rows[i][1], rows[j][1])
                if d <= 3:
                    want.add((rows[i][0], rows[j][0], d))
    got = {
        (r["key_a"], r["key_b"], r["dist"])
        for r in registry.queries()["q_fuzzy_join"](spark, SF_DIR).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# q_jaccard_ppjoin — brute-force Jaccard over all document pairs
# ---------------------------------------------------------------------------


def test_jaccard_ppjoin_matches_bruteforce_pairs(spark, docs):
    """All-pairs 3-gram Jaccard — independently proves prefix filtering
    drops NO qualifying pair (the pigeonhole the plan relies on)."""
    shingles = {}
    for did, text in zip(docs.doc_id, docs.text):
        if text is None:
            continue
        w = [t for t in text.lower().split(" ") if t != ""]
        if len(w) >= 3:
            shingles[did] = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
    ids = sorted(shingles)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(shingles[a] & shingles[b])
            union = len(shingles[a] | shingles[b])
            if 2 * inter >= union:  # J >= 1/2 in exact integers
                want[(a, b)] = (inter, round(inter / union, 9))
    rows = registry.queries()["q_jaccard_ppjoin"](spark, SF_DIR).collect()
    got = {(r["id_a"], r["id_b"]): (r["n_common"], r["jacc"]) for r in rows}
    assert set(got) == set(want)
    for k, (nc, j) in want.items():
        assert got[k][0] == nc
        assert abs(got[k][1] - j) < TOL


# ---------------------------------------------------------------------------
# q_triangle_count — direct enumeration on adjacency sets
# ---------------------------------------------------------------------------


@pytest.fixture(params=["driver", "distributed"])
def triangle_regime(request, monkeypatch):
    """q_triangle_count's two regimes: the default edge gate keeps the test
    graphs on the driver; a gate of 0 forces the distributed plan."""
    if request.param == "distributed":
        from bifrost_spark.queries import scale_ops

        monkeypatch.setattr(scale_ops, "_TRI_DRIVER_EDGES", 0)
    return request.param


def test_triangle_count_matches_direct_enumeration(spark, lineitem, triangle_regime):
    pairs: Counter = Counter()
    for _, grp in lineitem.groupby("l_orderkey"):
        ps = sorted(set(grp.l_partkey))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pairs[(ps[i], ps[j])] += 1
    # co-support edge: the pair co-occurs in >= 2 distinct orders... but
    # the engine counts (orderkey, a, b) incidence rows, not distinct
    # orders — mirror it: count every co-occurrence row
    pairs = Counter()
    for _, grp in lineitem.groupby("l_orderkey"):
        ps = sorted(grp.l_partkey)
        seen = set()
        for i in range(len(ps)):
            for j in range(len(ps)):
                a, b = ps[i], ps[j]
                if a < b:
                    pairs[(a, b)] += 1
    edges = {e for e, c in pairs.items() if c >= 2}
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri_per_node: Counter = Counter()
    nodes = sorted(adj)
    for a in nodes:
        for b in adj[a]:
            if b <= a:
                continue
            for c in adj[a] & adj[b]:
                if c > b:
                    for v in (a, b, c):
                        tri_per_node[v] += 1
    rows = registry.queries()["q_triangle_count"](spark, SF_DIR).collect()
    assert {r["node"]: r["n_triangles"] for r in rows} == dict(tri_per_node)


def test_triangle_count_without_triangles(spark, tmp_path, triangle_regime):
    """A path graph 1-2-3 (each edge supported by two orders) closes no
    triangle: no rows, and the same schema in both regimes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    orders = [1, 1, 2, 2, 3, 3, 4, 4]
    parts = [1, 2, 1, 2, 2, 3, 2, 3]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(orders, pa.int64()),
                "l_partkey": pa.array(parts, pa.int64()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    df = registry.queries()["q_triangle_count"](spark, str(tmp_path))
    assert df.collect() == []
    assert df.schema.simpleString() == "struct<node:bigint,n_triangles:bigint>"


# ---------------------------------------------------------------------------
# q_dup_fraction — interval-union coverage of duplicated 8-gram positions
# ---------------------------------------------------------------------------


def test_dup_fraction_matches_interval_union(spark, docs):
    k = 8
    words = {}
    for did, text in zip(docs.doc_id, docs.text):
        if text is not None:
            words[did] = [t for t in text.split(" ") if t != ""]
    owners: dict = {}
    for did, w in words.items():
        for i in range(len(w) - k + 1):
            owners.setdefault(" ".join(w[i : i + k]), set()).add(did)
    dup_grams = {g for g, s in owners.items() if len(s) > 1}
    want = {}
    for did, w in words.items():
        ivs = [
            (i + 1, i + k)
            for i in range(len(w) - k + 1)
            if " ".join(w[i : i + k]) in dup_grams
        ]
        cov = 0
        if ivs:
            cs, ce = ivs[0]
            for s, e in ivs[1:]:
                if s <= ce + 1:
                    ce = max(ce, e)
                else:
                    cov += ce - cs + 1
                    cs, ce = s, e
            cov += ce - cs + 1
        n_words = len(w)
        want[did] = (
            n_words,
            cov,
            0.0 if n_words == 0 else round(cov / n_words, 9),
        )
    rows = registry.queries()["q_dup_fraction"](spark, SF_DIR).collect()
    got = {
        r["doc_id"]: (r["n_words"], r["dup_tokens"], r["dup_frac"]) for r in rows
    }
    assert len(got) == len(want)
    for did, (nw, cov, frac) in want.items():
        assert got[did][0] == nw
        assert got[did][1] == cov
        assert abs(got[did][2] - frac) < TOL


# ---------------------------------------------------------------------------
# q_knn_eval — numpy cosine argmax confusion matrix
# ---------------------------------------------------------------------------


def test_knn_eval_matches_numpy_argmax(spark, embeddings):
    e = embeddings
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in e.itertuples()}
    vecs = {k: v for k, v in vecs.items() if np.linalg.norm(v) > 0}
    labels = dict(zip(e.vec_id, e.label))
    train = sorted(k for k in vecs if k < 400)
    test = sorted(k for k in vecs if k >= 400)
    conf: Counter = Counter()
    tm = np.stack([vecs[k] / np.linalg.norm(vecs[k]) for k in train])
    for t in test:
        q = vecs[t] / np.linalg.norm(vecs[t])
        sims = tm @ q
        # best by (cos DESC, neighbor_id ASC): argmax on stable order
        best = max(range(len(train)), key=lambda i: (sims[i], -train[i]))
        conf[(labels[t], labels[train[best]])] += 1
    rows = registry.queries()["q_knn_eval"](spark, SF_DIR).collect()
    got = {(r["true_label"], r["pred_label"]): r["n"] for r in rows}
    assert got == dict(conf)


# ---------------------------------------------------------------------------
# q_median — numpy exact median + discrete p90
# ---------------------------------------------------------------------------


def test_median_matches_numpy(spark, lineitem):
    rows = registry.queries()["q_median"](spark, SF_DIR).collect()
    got = {r["l_returnflag"]: (r["med_qty"], r["p90_qty"]) for r in rows}
    for flag, grp in lineitem.groupby("l_returnflag"):
        x = np.sort(grp.l_quantity.to_numpy(dtype=float))
        med = float(np.median(x))
        # percentile_disc(0.9): smallest value at cumulative share >= 0.9
        p90 = float(x[math.ceil(0.9 * len(x)) - 1])
        assert abs(got[flag][0] - med) < TOL
        assert got[flag][1] == p90


# ---------------------------------------------------------------------------
# q_centroid_drift — numpy per-label means and L2 shift
# ---------------------------------------------------------------------------


def test_centroid_drift_matches_numpy_means(spark, embeddings):
    e = embeddings[embeddings.label.notna()]
    ref = e[e.vec_id % 4 != 0]
    cur = e[e.vec_id % 4 == 0]

    def centroids(frame):
        out = {}
        for lab, grp in frame.groupby("label"):
            vs = [np.asarray(v, dtype=np.float64) for v in grp.embedding if v is not None]
            if vs:
                out[lab] = (len(vs), np.round(np.stack(vs).mean(axis=0), 9))
        return out

    cr, cc = centroids(ref), centroids(cur)
    rows = registry.queries()["q_centroid_drift"](spark, SF_DIR).collect()
    assert {r["label"] for r in rows} == set(cr) & set(cc)
    for r in rows:
        n_r, vr = cr[r["label"]]
        n_c, vc = cc[r["label"]]
        assert (r["n_ref"], r["n_cur"]) == (n_r, n_c)
        want = math.sqrt(float(np.sum(np.round((vc - vr) ** 2, 12))))
        assert abs(r["drift"] - want) < 1e-5
