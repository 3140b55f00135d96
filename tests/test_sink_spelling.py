"""One spelling per device, checked on the parsed source (no Spark): the
replay-idempotent batch_id sink protocol and the Hadoop FileSystem
lookup live only in ``bifrost_spark/streaming/_sink.py``, and FileSystem
renames only in the compaction core ``bifrost_spark/streaming/compact.py``.
Outside them, no module may

* call ``getFileSystem`` (use ``_sink.hadoop_fs``);
* call ``write_batch_partition`` (use ``_sink.start_batch_sink``);
* hand ``foreachBatch`` a callback that writes a batch_id-partitioned
  sink itself (directly or through a function of the same module);
* call ``.rename(`` (commit staged output through ``compact._swap``).

Only ``_sink.py`` reads a monitor's batch_id-partitioned output.  A
monitor module (one that calls ``start_batch_sink``) may not read files
itself (``.read``), nor aggregate (``agg``, ``groupBy``, ``rollup``,
``cube``) over the one partition ``_sink.newest_prior_partition`` hands
it: that partition's rows already carry the cumulative state.

The timing loop has one spelling too: ``bench.py``'s ``warm`` and
``time_ids``.  No module under ``bifrost_spark/`` or ``tools/`` may write
to the ``noop`` sink; the sweep and the scale audit time ids by calling
bench's loop.

Plan literals have one spelling: the SQL strings of
``bifrost_spark/operators/vectors.py`` (``sql_literal``,
``sql_struct_table``), parsed once by ``F.expr`` or spliced into a larger
parsed expression.  Outside vectors.py no ``F.array`` / ``F.create_map``
call may take a starred comprehension of ``F.lit`` (one py4j round-trip
per element), and no module may name the retired Column wrappers
``lit_vector``, ``lit_bigint_vector``, ``lit_matrix``, ``lit_struct_table``
or their string helpers ``sql_matrix`` and ``_sql_double``.

Driver-built frames have one spelling too: ``vectors.local_frame`` (rows
plus a DDL schema, shipped as one Arrow table).  No other code under
``bifrost_spark/`` may call ``createDataFrame(``: a list-backed frame runs
Python-worker tasks every time it executes.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "bifrost_spark"
SINK = PKG / "streaming" / "_sink.py"
CORE = PKG / "streaming" / "compact.py"
SINK_CALLS = {"write_batch_partition"}
PRIOR_READ = "newest_prior_partition"
AGGREGATES = {"agg", "groupBy", "groupby", "rollup", "cube"}
VECTORS = PKG / "operators" / "vectors.py"
LITERAL_TABLES = {"array", "create_map"}
RETIRED_LITERALS = re.compile(
    r"\b(lit_vector|lit_bigint_vector|lit_matrix|lit_struct_table|sql_matrix|_sql_double)\b"
)


def _name(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _calls(node: ast.AST) -> list[ast.Call]:
    return [n for n in ast.walk(node) if isinstance(n, ast.Call)]


def _root(node: ast.AST) -> str | None:
    """The name a method chain such as ``prior.orderBy(...).limit(1)``
    starts from."""
    while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
        node = node.func if isinstance(node, ast.Call) else node.value
    return getattr(node, "id", None)


def _writes_batch_sink(node: ast.AST, defs: dict, seen: set) -> bool:
    for call in _calls(node):
        name = _name(call)
        if name in SINK_CALLS:
            return True
        if name == "partitionBy" and any(
            isinstance(a, ast.Constant) and a.value == "batch_id" for a in call.args
        ):
            return True
        if name in defs and name not in seen:
            seen.add(name)
            if any(_writes_batch_sink(d, defs, seen) for d in defs[name]):
                return True
    return False


def test_sink_and_hadoop_fs_have_one_spelling():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == SINK:
            continue
        tree = ast.parse(path.read_text(), str(path))
        defs: dict[str, list[ast.AST]] = {}
        for n in ast.walk(tree):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(n.name, []).append(n)
        where = path.relative_to(PKG)
        for call in _calls(tree):
            name = _name(call)
            if (
                name == "getFileSystem"
                or name in SINK_CALLS
                or (name == "rename" and isinstance(call.func, ast.Attribute) and path != CORE)
            ):
                offenders.append(f"{where}:{call.lineno} calls {name}")
            elif name == "foreachBatch" and call.args:
                cb = call.args[0]
                targets = defs.get(cb.id, []) if isinstance(cb, ast.Name) else [cb]
                if any(_writes_batch_sink(t, defs, set()) for t in targets):
                    offenders.append(
                        f"{where}:{call.lineno} foreachBatch writes a batch_id sink"
                    )
    assert offenders == []


def test_only_the_sink_reads_monitor_output():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        calls = _calls(tree)
        if path == SINK or not any(_name(c) == "start_batch_sink" for c in calls):
            continue
        where = path.relative_to(PKG)
        prior = {PRIOR_READ} | {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign) and _root(n.value) == PRIOR_READ
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and n.attr == "read":
                offenders.append(f"{where}:{n.lineno} reads files itself")
        for call in calls:
            if _name(call) in AGGREGATES and _root(call.func) in prior:
                offenders.append(f"{where}:{call.lineno} aggregates over prior output")
    assert offenders == []


def test_timing_loop_has_one_spelling():
    offenders = []
    for path in sorted([*PKG.rglob("*.py"), *(ROOT / "tools").rglob("*.py")]):
        for call in _calls(ast.parse(path.read_text(), str(path))):
            values = [*call.args, *(k.value for k in call.keywords)]
            if any(isinstance(v, ast.Constant) and v.value == "noop" for v in values):
                offenders.append(f"{path.relative_to(ROOT)}:{call.lineno} writes to the noop sink")
    assert offenders == []


def _lit_comprehension(arg: ast.AST) -> bool:
    """``*[F.lit(x) ... for x in xs]`` (or a generator of the same)."""
    return (
        isinstance(arg, ast.Starred)
        and isinstance(arg.value, (ast.ListComp, ast.GeneratorExp))
        and any(_name(c) == "lit" for c in _calls(arg.value.elt))
    )


def test_plan_literals_have_one_spelling():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        where = path.relative_to(PKG)
        offenders += [f"{where} names {n}" for n in RETIRED_LITERALS.findall(text)]
        if path == VECTORS:
            continue
        for call in _calls(ast.parse(text, str(path))):
            if _name(call) in LITERAL_TABLES and any(map(_lit_comprehension, call.args)):
                offenders.append(f"{where}:{call.lineno} builds a per-element F.lit table")
    assert offenders == []


def test_driver_built_frames_have_one_spelling():
    tree = ast.parse(VECTORS.read_text(), str(VECTORS))
    helper = next(
        n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    allowed = {id(c) for c in _calls(helper)}
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        calls = _calls(tree) if path == VECTORS else _calls(ast.parse(path.read_text(), str(path)))
        offenders += [
            f"{path.relative_to(PKG)}:{c.lineno} calls createDataFrame"
            for c in calls
            if _name(c) == "createDataFrame" and id(c) not in allowed
        ]
    assert offenders == []
