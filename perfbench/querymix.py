"""The query-mix workload: registered query ids run as bench.py's op (call
the query function, then write the result to the ``noop`` sink, one clock
over both), one pass over the ids in a seed-permuted order.

The ids pair a construction-heavy query (py4j expression build and Spark
jobs launched eagerly while the plan is built) with execution-heavy ones
(joins, aggregations and shuffles that run in the write), so that a build
optimisation and an execution optimisation both move ``pass_s`` and the
traced run tells them apart.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

# Build-heavy: three eager localCheckpoint jobs run while the plan is built.
BUILD_HEAVY = ("q_triangle_count",)
# Execution-heavy: construction is a small share of their time.
EXEC_HEAVY = ("q_negative_sampling", "q_agg_hash", "q_tpch04", "q_join_skew_salted")
IDS = BUILD_HEAVY + EXEC_HEAVY
# Fixture scale factor (fixtures.py).  At 0.01 per-query fixed costs
# dominated and passes kept speeding up for fifteen passes of a process;
# at 0.03 they are flat after two warm-up passes.  The row counts in
# expected_rows.json are the DuckDB oracles' counts at this scale.
SCALE = 0.03

_HERE = os.path.dirname(os.path.abspath(__file__))


def pass_order(seed: int, pass_no: int) -> list[str]:
    order = list(IDS)
    random.Random(seed * 1000 + pass_no).shuffle(order)
    return order


def expected_rows() -> dict[str, int]:
    with open(os.path.join(_HERE, "expected_rows.json")) as fh:
        return json.load(fh)[f"sf{SCALE:g}"]


class _Collected:
    """Hands already-collected rows to the oracle harness's ``compare``."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 (DataFrame API)
        return self._pdf


def check_pass(spark, sf_dir: str, qs: dict, oracles: dict, order: list[str]) -> dict[str, tuple]:
    """The untimed warm-up pass: run each id, collect its rows, and check
    the row count against the recorded one and, for ids with an oracle,
    the rows against DuckDB through the tests' oracle harness.  Returns
    (seconds to build and collect, problems) per id."""
    sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
    from oracle_harness import compare, duckdb_connection

    expected = expected_rows()
    con = duckdb_connection(sf_dir)
    out: dict[str, tuple] = {}
    try:
        for qid in order:
            t0 = time.perf_counter()
            secs = 0.0
            try:
                pdf = qs[qid](spark, sf_dir).toPandas()
                secs = time.perf_counter() - t0
                probs = []
                if len(pdf) != expected.get(qid):
                    probs.append(f"{len(pdf)} rows, {expected.get(qid)} recorded")
                if qid in oracles:
                    probs += compare(_Collected(pdf), con.execute(oracles[qid]).fetchdf())
            except Exception as exc:  # a failed id is counted, the run goes on
                probs = [f"{type(exc).__name__}: {exc}"]
            out[qid] = (secs, probs)
    finally:
        con.close()
    return out
