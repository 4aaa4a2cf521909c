"""The optimistic-commit protocol lives in one module.

A source scan (no Spark session): under ``nvimagecodec_spark/lakehouse/``
only ``commit.py`` may create a file with ``os.O_EXCL`` or run a
``for attempt in range(...)`` retry loop. Table, branch and catalog
metadata writes all go through ``commit.VersionedFileStore``; a second copy
of the loop is how a retry ends up committing a stale, precomputed value.
"""

import ast
import pathlib

LAKEHOUSE = (
    pathlib.Path(__file__).resolve().parent.parent / "nvimagecodec_spark" / "lakehouse"
)


def _protocol_sites(path: pathlib.Path) -> list[str]:
    sites = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute) and node.attr == "O_EXCL":
            sites.append(f"{path.name}:{node.lineno} O_EXCL")
        if (
            isinstance(node, ast.For)
            and isinstance(node.target, ast.Name)
            and node.target.id == "attempt"
            and isinstance(node.iter, ast.Call)
            and isinstance(node.iter.func, ast.Name)
            and node.iter.func.id == "range"
        ):
            sites.append(f"{path.name}:{node.lineno} retry loop")
    return sites


def test_commit_protocol_has_one_home():
    forks = [
        site
        for path in sorted(LAKEHOUSE.glob("*.py"))
        if path.name != "commit.py"
        for site in _protocol_sites(path)
    ]
    assert not forks, f"commit protocol re-implemented outside commit.py: {forks}"
    assert _protocol_sites(LAKEHOUSE / "commit.py"), "commit.py no longer holds the protocol"
