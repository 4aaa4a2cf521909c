"""Each epoch-apply step has one copy.

A source scan (no Spark session): under ``nvimagecodec_spark/`` only
``streaming.engine.drive_stream`` may start a streaming query
(``.writeStream``), and ``operators/merge.py`` may persist a batch and
append delta files in one place each, the batch preparation that
``merge_into`` and ``merge_into_delta`` share. A second stream loop or a
second preparation is a copy that drifts: a fix to one misses the other.
"""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "nvimagecodec_spark"


def _write_stream_sites(path: pathlib.Path) -> list[str]:
    """``.writeStream`` uses outside a function named ``drive_stream``."""
    sites = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name if func is None else func
        if isinstance(node, ast.Attribute) and node.attr == "writeStream" and func != "drive_stream":
            sites.append(f"{path.relative_to(PACKAGE)}:{node.lineno} .writeStream")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(path.read_text(), str(path)), None)
    return sites


def _method_calls(path: pathlib.Path, name: str) -> list[int]:
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    )


def test_one_stream_driver():
    forks = [
        site for path in sorted(PACKAGE.rglob("*.py")) for site in _write_stream_sites(path)
    ]
    assert not forks, f"streaming query started outside drive_stream: {forks}"


def test_one_batch_preparation_in_merge():
    merge = PACKAGE / "operators" / "merge.py"
    forks = {
        name: lines
        for name in ("persist", "append_deltas")
        if len(lines := _method_calls(merge, name)) > 1
    }
    assert not forks, f"merge.py repeats batch-preparation steps (line numbers): {forks}"
