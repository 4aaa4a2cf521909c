"""The derived-table sync cursor lives in one module.

A source scan (no Spark session): under ``nvimagecodec_spark/`` only
``lakehouse/incremental.py`` may pick the bootstrap snapshot with
``.history()[0]`` or raise "older than last synced". Every view, index and
replica gets both rules from ``incremental.pending_changes``; a second copy
is how the copies drifted apart (an alias a catalog duck-typed on, a
bootstrap that read the wrong schema).
"""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "nvimagecodec_spark"
HOME = PACKAGE / "lakehouse" / "incremental.py"


def _cursor_sites(path: pathlib.Path) -> list[str]:
    sites = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Subscript)
            and isinstance(node.value, ast.Call)
            and isinstance(node.value.func, ast.Attribute)
            and node.value.func.attr == "history"
            and isinstance(node.slice, ast.Constant)
            and node.slice.value == 0
        ):
            sites.append(f"{path.relative_to(PACKAGE)}:{node.lineno} .history()[0]")
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "older than last synced" in node.value
        ):
            sites.append(f"{path.relative_to(PACKAGE)}:{node.lineno} older-than error")
    return sites


def test_sync_cursor_has_one_home():
    forks = [
        site
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != HOME
        for site in _cursor_sites(path)
    ]
    assert not forks, f"sync cursor re-implemented outside incremental.py: {forks}"
    assert len(_cursor_sites(HOME)) == 2, "incremental.py no longer holds the cursor"
