"""One spelling per device, checked on the parsed source (no Spark): the
replay-idempotent batch_id sink protocol and the Hadoop FileSystem
lookup live only in ``bifrost_spark/streaming/_sink.py``, and FileSystem
renames only in the compaction core ``bifrost_spark/streaming/compact.py``.
Outside them, no module may

* call ``getFileSystem`` (use ``_sink.hadoop_fs``);
* call ``write_batch_partition`` or ``output_exists`` (use
  ``_sink.start_batch_sink`` / ``_sink.prior_partitions``);
* hand ``foreachBatch`` a callback that writes a batch_id-partitioned
  sink itself (directly or through a function of the same module);
* call ``.rename(`` (commit staged output through ``compact._swap``).

The timing loop has one spelling too: ``bench.py``'s ``warm`` and
``time_ids``.  No module under ``bifrost_spark/`` or ``tools/`` may write
to the ``noop`` sink; the sweep and the scale audit time ids by calling
bench's loop.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "bifrost_spark"
SINK = PKG / "streaming" / "_sink.py"
CORE = PKG / "streaming" / "compact.py"
SINK_CALLS = {"write_batch_partition", "output_exists"}


def _name(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _calls(node: ast.AST) -> list[ast.Call]:
    return [n for n in ast.walk(node) if isinstance(n, ast.Call)]


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


def test_timing_loop_has_one_spelling():
    offenders = []
    for path in sorted([*PKG.rglob("*.py"), *(ROOT / "tools").rglob("*.py")]):
        for call in _calls(ast.parse(path.read_text(), str(path))):
            values = [*call.args, *(k.value for k in call.keywords)]
            if any(isinstance(v, ast.Constant) and v.value == "noop" for v in values):
                offenders.append(f"{path.relative_to(ROOT)}:{call.lineno} writes to the noop sink")
    assert offenders == []
