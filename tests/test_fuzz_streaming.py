"""Stream↔batch differential fuzzing for the ingest-curation flow.

The crafted-corpus tests in test_streaming_curate.py prove the flow on
ONE corpus; here hypothesis generates adversarial ingest batches —
duplicate-heavy pools, contaminated rows, junk/empty/NULL text, tied
timestamps — and requires the STREAMING survivor set to equal the BATCH
spelling of the same stages (dedup on content hash → broadcast-anti
decontamination → Gopher gate) on every one.

The batch side reuses the flow's own predicate and the same stage
composition, so this is a differential over the STREAMING mechanics
(watermark state, dropDuplicatesWithinWatermark, sink commit), not a
re-spelled gate.  Scope: one micro-batch per example (single input file);
cross-batch watermark eviction legitimately diverges from batch dedup and
is covered by the state-bound tests in test_streaming_curate.py.

Keeper identity under duplicate content is NOT part of the contract
(both batch and streaming dedup keep an arbitrary row per key), so the
compared survivor set is the CONTENT (hash) set, which is deterministic.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bifrost_spark.streaming.curate import (
    gopher_keep_predicate,
    start_curated_ingest,
)

# Text pool: two gate-passing docs, a contaminated doc (also gate-passing,
# so only decontamination can drop it), a short junk doc, a stopword-free
# doc (fails stopword-kinds), an empty string, and NULL.
# r12: adversarial fuzz / audit suite — excluded from the default
# (driver-window) run via pytest.ini; run with -m "" or -m slow.
pytestmark = pytest.mark.slow

GOOD = (
    "the quick brown fox jumps over a lazy dog and runs to the hills in "
    "the morning light with a steady pace and a clear goal in mind today"
)
GOOD2 = (
    "a good document is made of many plain words and the right mix of "
    "stopwords to show that it is real text written in a natural way"
)
CONTAMINATED = (
    "this text is secretly a benchmark item and must never reach the "
    "training corpus because the eval would be contaminated by it today"
)
SHORT = "too short to keep"
NO_STOPWORDS = " ".join(["lorem", "ipsum", "dolor", "sit", "amet"] * 5)

TEXT_POOL = (GOOD, GOOD2, CONTAMINATED, SHORT, NO_STOPWORDS, "", None)

corpus_strategy = st.lists(
    st.tuples(
        st.sampled_from(TEXT_POOL),
        # seconds offset; tiny domain → tied event times are common
        st.sampled_from((0, 30, 3600)),
    ),
    min_size=0,
    max_size=12,
)


def _write_corpus(spark, path: str, rows, n_files: int = 1) -> None:
    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(rows)),
            "text": [t for t, _ in rows],
            "ts": [base + pd.Timedelta(seconds=s) for _, s in rows],
        }
    )
    df = spark.createDataFrame(
        pdf.astype({"doc_id": "int64"}),
        schema="doc_id long, text string, ts timestamp",
    )
    if n_files <= 1:
        # ONE file → one micro-batch: stream == batch exactly
        df.coalesce(1).write.parquet(path)
        return
    # sequential files in arrival order → one micro-batch each (the file
    # source processes files in mtime order with maxFilesPerTrigger=1)
    import time

    chunk = max(1, -(-len(rows) // n_files))
    for i in range(0, max(len(rows), 1), chunk):
        (
            df.filter(
                (F.col("doc_id") >= i) & (F.col("doc_id") < i + chunk)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )
        time.sleep(0.05)  # parquet file-source discovery is mtime-based


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,  # stable example set; drop to re-hunt
    suppress_health_check=list(HealthCheck),
)
@given(rows=corpus_strategy)
@example(rows=[])  # empty ingest batch
@example(rows=[(None, 0), (None, 30)])  # all-NULL text (hashless rows)
@example(  # duplicates of every pool class + a contaminated row, tied ts
    rows=[(GOOD, 0), (GOOD, 0), (CONTAMINATED, 0), (CONTAMINATED, 30),
          (SHORT, 0), ("", 0), (None, 0), (GOOD2, 3600), (GOOD2, 3600)]
)
def test_stream_batch_curation_equivalence(spark, tmp_path_factory, rows):
    tmp = str(tmp_path_factory.mktemp("fuzzcur"))
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    _write_corpus(spark, src, rows)
    contaminated = spark.createDataFrame(
        pd.DataFrame({"text": [CONTAMINATED]})
    ).select(F.md5("text").alias("content_hash"))

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    q = start_curated_ingest(stream, contaminated, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        got = spark.read.parquet(out)
        stream_hashes = sorted(
            r["content_hash"] or "" for r in got.select("content_hash").collect()
        )
        stream_rows = got.count()
    except Exception:  # zero-batch run: sink dir never created
        stream_hashes, stream_rows = [], 0

    # Batch spelling of the same stages, same predicate object
    batch = (
        spark.read.schema("doc_id long, text string, ts timestamp")
        .parquet(src)
        .withColumn("content_hash", F.md5("text"))
        .dropDuplicates(["content_hash"])
        .join(F.broadcast(contaminated), "content_hash", "left_anti")
        .filter(gopher_keep_predicate())
    )
    batch_hashes = sorted(
        r["content_hash"] or "" for r in batch.select("content_hash").collect()
    )

    assert stream_hashes == batch_hashes, (
        f"stream {stream_hashes} != batch {batch_hashes} on {rows!r}"
    )
    # one surviving row per surviving content hash — the dedup contract
    assert stream_rows == len(batch_hashes)


@settings(
    max_examples=4,
    deadline=None,
    derandomize=True,  # stable example set; drop to re-hunt
    suppress_health_check=list(HealthCheck),
)
@given(rows=corpus_strategy, n_files=st.integers(2, 4))
@example(  # a duplicate arriving in a LATER batch: only cross-batch
    # dedup state can drop it (the single-batch test never exercises it)
    rows=[(GOOD, 0), (GOOD2, 30), (GOOD, 3600), (CONTAMINATED, 3600),
          (GOOD2, 3600)],
    n_files=3,
)
def test_stream_batch_curation_equivalence_across_batches(
    spark, tmp_path_factory, rows, n_files
):
    """Same differential, but the corpus arrives as several micro-batches
    (one file each): duplicates straddling batch boundaries must be
    dropped by the WATERMARK STATE, not batch-local dedup.  The pool's ts
    spread (≤1 h) stays inside the 2 h watermark, so every cross-batch
    duplicate is within the horizon and the batch spelling remains the
    exact oracle."""
    tmp = str(tmp_path_factory.mktemp("fuzzcurm"))
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    _write_corpus(spark, src, rows, n_files=n_files)
    contaminated = spark.createDataFrame(
        pd.DataFrame({"text": [CONTAMINATED]})
    ).select(F.md5("text").alias("content_hash"))

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_curated_ingest(
        stream, contaminated, out, ckpt, watermark="2 hours"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        got = spark.read.parquet(out)
        stream_hashes = sorted(
            r["content_hash"] or ""
            for r in got.select("content_hash").collect()
        )
        stream_rows = got.count()
    except Exception:  # zero-batch run: sink dir never created
        stream_hashes, stream_rows = [], 0

    batch = (
        spark.read.schema("doc_id long, text string, ts timestamp")
        .parquet(src)
        .withColumn("content_hash", F.md5("text"))
        .dropDuplicates(["content_hash"])
        .join(F.broadcast(contaminated), "content_hash", "left_anti")
        .filter(gopher_keep_predicate())
    )
    batch_hashes = sorted(
        r["content_hash"] or ""
        for r in batch.select("content_hash").collect()
    )
    assert stream_hashes == batch_hashes, (rows, n_files)
    assert stream_rows == len(batch_hashes)


# ---------------------------------------------------------------------------
# Streaming fuzzy-dedup (MinHash admission) vs its own batch probe: the
# per-doc verdict depends only on (doc, static index), so the union of
# per-micro-batch probes must equal one batch probe of the whole ingest —
# regardless of file/batch boundaries, NULL/empty text (no fuzzy
# identity → admitted), exact dups of index docs (est = 1.0), and
# near-dup edits.  This differentials the STREAMING mechanics
# (foreachBatch, per-batch signature build, batch_id-partitioned sink),
# not a re-spelled estimator.
# ---------------------------------------------------------------------------

NEAR_GOOD = GOOD.replace("quick brown", "slow red").replace("lazy", "sleepy")

INGEST_POOL = (GOOD, NEAR_GOOD, GOOD2, SHORT, "", None)

ingest_strategy = st.lists(
    st.sampled_from(INGEST_POOL), min_size=0, max_size=10
)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,  # stable example set; drop to re-hunt
    suppress_health_check=list(HealthCheck),
)
@given(texts=ingest_strategy, n_files=st.integers(1, 3))
@example(texts=[], n_files=1)  # empty ingest
@example(texts=[None, "", None], n_files=1)  # content-free only: all admitted
@example(  # exact dup, near-dup edit, clean doc, junk — across 2 batches
    texts=[GOOD, NEAR_GOOD, GOOD2, SHORT, None, GOOD], n_files=2
)
def test_stream_fuzzy_dedup_matches_batch_probe(
    spark, tmp_path_factory, texts, n_files
):
    from bifrost_spark.streaming.fuzzy_dedup import (
        build_signature_index,
        probe_batch,
        start_fuzzy_dedup,
    )

    tmp = str(tmp_path_factory.mktemp("fuzzfd"))
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    rows = [(t, 0) for t in texts]
    _write_corpus(spark, src, rows, n_files=n_files)

    # standing index: the two clean docs + a decoy
    index_docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1000, 1001, 1002],
                      "text": [GOOD, GOOD2, NO_STOPWORDS]})
    )
    index = build_signature_index(index_docs).localCheckpoint(eager=True)

    schema = "doc_id long, text string, ts timestamp"
    q = start_fuzzy_dedup(
        spark.readStream.schema(schema).parquet(src), index, out, ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        got = {
            (r["doc_id"], r["dup_of"], r["est_jaccard"])
            for r in spark.read.parquet(out)
            .select("doc_id", "dup_of", "est_jaccard")
            .collect()
        }
    except Exception:  # zero-batch run: sink dir never created
        got = set()

    batch = probe_batch(
        spark.read.schema(schema).parquet(src), index
    )
    want = {
        (r["doc_id"], r["dup_of"], r["est_jaccard"])
        for r in batch.select("doc_id", "dup_of", "est_jaccard").collect()
    }
    assert got == want, (texts, n_files, got ^ want)
    # content-free docs must be ADMITTED (NULL verdict), never flagged
    for doc_id, dup_of, _ in got:
        if texts[doc_id] in ("", None):
            assert dup_of is None, (doc_id, texts[doc_id])


# ---------------------------------------------------------------------------
# Keyed-upsert sink vs the last-per-key model: a generated CDC update
# sequence, cut into arbitrary micro-batches, must leave the state view
# equal to argmax per key by (version, tiebreak) — regardless of where
# the batch boundaries fall, how often a key repeats within one batch,
# or whether versions regress (late-arriving old updates must lose).
# ---------------------------------------------------------------------------

updates_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),  # key (small domain → heavy per-key churn)
        st.sampled_from(("a", "b", "c")),  # payload (also the tiebreak)
        st.integers(0, 5),  # version: ties AND regressions are common
    ),
    min_size=0,
    max_size=20,
)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,  # stable example set; drop to re-hunt
    suppress_health_check=list(HealthCheck),
)
@given(updates=updates_strategy, batch_size=st.integers(1, 4))
@example(updates=[], batch_size=1)  # no updates: empty state view
@example(  # same key+version, different payloads (pure tiebreak), then a
    # REGRESSING version arriving in a later batch (must lose)
    updates=[(0, "a", 5), (0, "b", 5), (0, "c", 1)], batch_size=1
)
def test_upsert_state_matches_last_per_key_model(
    spark, tmp_path_factory, updates, batch_size
):
    from bifrost_spark.streaming.upsert import read_state, start_keyed_upsert

    tmp = str(tmp_path_factory.mktemp("fuzzup"))
    src = os.path.join(tmp, "in")
    schema = "key long, payload string, version long"
    batches = [
        updates[i : i + batch_size]
        for i in range(0, len(updates), batch_size)
    ] or [[]]
    for rows in batches:
        df = spark.createDataFrame(rows, schema) if rows else (
            spark.createDataFrame([], schema)
        )
        df.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_keyed_upsert(
        stream,
        os.path.join(tmp, "state"),
        os.path.join(tmp, "ckpt"),
        key_cols=["key"],
        ts_col="version",
        tiebreak_cols=["payload"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        state = read_state(
            spark, os.path.join(tmp, "state"), ["key"], "version", ["payload"]
        )
        got = {(r.key, r.payload, r.version) for r in state.collect()}
    except Exception:  # zero-update run: state dir never created
        got = set()

    want = {}
    for k, p, v in updates:
        if k not in want or (v, p) > (want[k][1], want[k][0]):
            want[k] = (p, v)
    assert got == {(k, p, v) for k, (p, v) in want.items()}, (
        updates, batch_size
    )


# ---------------------------------------------------------------------------
# Drift monitor vs a from-scratch PSI model.  The monitor has no DuckDB
# surface (its batch twin q_psi_drift is pinned to the fixture's cohort
# split), so the differential is an independent numpy spelling of the
# documented definition: both-end-clamped fixed-width bins over NON-NULL
# values, add-half smoothing, 12-dp-rounded addends, 9-dp total.
# Adversarial axes: negative values (edge-bin clamp), NULLs (excluded),
# values past the top bin, empty reference or live side.
# ---------------------------------------------------------------------------

_BIN_W, _NBINS = 50.0, 10

values_strategy = st.lists(
    st.one_of(st.none(), st.integers(-300, 800)),  # scaled ×1 → spans bins
    min_size=0,
    max_size=30,
)


def _model_psi(ref_vals, live_vals):
    import math

    def hist(vs):
        counts = [0] * _NBINS
        for v in vs:
            if v is None:
                continue
            b = min(max(int(math.floor(v / _BIN_W)), 0), _NBINS - 1)
            counts[b] += 1
        return counts, sum(counts)

    rc, rn = hist(ref_vals)
    lc, ln_ = hist(live_vals)
    psi = 0.0
    for b in range(_NBINS):
        pa = (2.0 * rc[b] + 1) / (2.0 * rn + _NBINS)
        pb = (2.0 * lc[b] + 1) / (2.0 * ln_ + _NBINS)
        psi += round((pb - pa) * math.log(pb / pa), 12)
    return ln_, round(psi, 9)


# ---------------------------------------------------------------------------
# Baldr archive write→read round-trip on GENERATED message sets: arbitrary
# binary payloads (empty records, NULs, gzip magic bytes, newlines),
# ragged partition populations, single-record objects, an empty stream.
# The fixture round-trips in test_baldr.py prove ONE distribution; the
# reference's consumers would feed the archiver arbitrary Kafka bytes.
# ---------------------------------------------------------------------------

messages_strategy = st.lists(
    st.tuples(
        st.sampled_from(("view", "click")),  # topic
        st.integers(0, 2),  # partition
        st.binary(min_size=0, max_size=64),  # payload (raw Kafka value)
    ),
    min_size=0,
    max_size=25,
)


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,  # stable example set; drop to re-hunt
    suppress_health_check=list(HealthCheck),
)
@given(msgs=messages_strategy)
@example(msgs=[])  # empty stream: an empty archive day must not crash
@example(  # adversarial payloads: empty record, gzip magic, NULs, newline
    msgs=[("view", 0, b""), ("view", 0, b"\x1f\x8b\x08"),
          ("click", 2, b"\x00" * 9), ("click", 2, b"a\nb")]
)
def test_baldr_archive_roundtrip_on_generated_messages(
    spark, tmp_path_factory, msgs
):
    import pandas as pd

    from bifrost_spark.sources.baldr import (
        read_baldr_archive,
        write_baldr_archive,
    )

    root = str(tmp_path_factory.mktemp("fuzzbaldr") / "arch")
    # dense per-(topic, partition) offsets in list order — the Kafka log
    seen: dict = {}
    rows = []
    for topic, part, payload in msgs:
        off = seen.get((topic, part), 0)
        seen[(topic, part)] = off + 1
        rows.append((topic, part, off, payload))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["topic", "partition", "offset", "value"]),
        schema="topic string, partition int, offset long, value binary",
    )
    manifest = write_baldr_archive(df, root)
    assert sum(r.n_records for r in manifest) == len(rows)
    if not rows:
        return  # nothing written; reader has no objects to list
    back = read_baldr_archive(spark, root)
    got = {
        (r.topic, r.partition, r.offset, bytes(r.value))
        for r in back.collect()
    }
    assert got == {(t, p, o, bytes(v)) for t, p, o, v in rows}


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,  # stable example set; drop to re-hunt
    suppress_health_check=list(HealthCheck),
)
@given(ref_vals=values_strategy, live_vals=values_strategy)
@example(ref_vals=[], live_vals=[0])  # empty reference (pure-floor probs)
@example(ref_vals=[0], live_vals=[])  # empty live batch → n_rows 0
@example(ref_vals=[None, None], live_vals=[None, 100])  # NULL-heavy feed
@example(  # negatives + past-the-top values: both-end clamp on both sides
    ref_vals=[-300, -1, 0, 499, 500, 799], live_vals=[-300, 800, 25]
)
def test_drift_monitor_matches_model(spark, ref_vals, live_vals):
    import pandas as pd

    from bifrost_spark.streaming.drift_monitor import batch_psi, fit_reference

    def frame(vs):
        return spark.createDataFrame(
            pd.DataFrame({"value": [None if v is None else float(v) for v in vs]}),
            schema="value double",
        )

    ref = fit_reference(frame(ref_vals), "value", _BIN_W, _NBINS)
    got = batch_psi(frame(live_vals), "value", ref).first()
    want_n, want_psi = _model_psi(ref_vals, live_vals)
    assert got["n_rows"] == want_n, (ref_vals, live_vals)
    # one 9-dp rounding step of slack for libm-vs-JVM log ulp divergence
    assert abs(got["psi"] - want_psi) <= 2e-9, (ref_vals, live_vals, got)
