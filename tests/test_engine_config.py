"""EngineConfig carries no dead knobs: the package reads every field.

A source scan (no Spark session): a field counts as read when some module
under ``nvimagecodec_spark/`` loads ``config.<name>`` or
``self.config.<name>``.
"""

import ast
import dataclasses
import pathlib

from nvimagecodec_spark.config import EngineConfig

PKG = pathlib.Path(__file__).resolve().parent.parent / "nvimagecodec_spark"


def _is_config(node: ast.expr) -> bool:
    if isinstance(node, ast.Name):
        return node.id == "config"
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "config"
        and isinstance(node.value, ast.Name)
        and node.value.id == "self"
    )


def _config_reads() -> set[str]:
    read = set()
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Load)
                and _is_config(node.value)
            ):
                read.add(node.attr)
    return read


def test_every_engine_config_field_is_read():
    unread = {f.name for f in dataclasses.fields(EngineConfig)} - _config_reads()
    assert not unread, f"EngineConfig fields the package never reads: {sorted(unread)}"
