"""No-Spark guard: engine code never reaches into private JVM handles
(`_jsparkSession`, `_jdf`, `_jvm`, `_jsc`), which tie it to a
classic-mode session and to Spark internals that change between releases."""

from __future__ import annotations

import re
from pathlib import Path

import building2osm_spark

PRIVATE_HANDLE = re.compile(r"\b(_jsparkSession|_jdf|_jvm|_jsc)\b")

# modules that may still name a handle, each with its reason: the Hadoop
# FileSystem has no public PySpark API (the reach lives in _fs_path and
# _spec_read)
ALLOWED = {"sources/bucketed.py"}


def _offenders() -> dict[str, list[str]]:
    out = {}
    root = Path(building2osm_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        hits = [
            f"{i}: {line.strip()}"
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if PRIVATE_HANDLE.search(line)
        ]
        if hits:
            out[path.relative_to(root).as_posix()] = hits
    return out


def test_operators_name_no_private_jvm_handle():
    found = _offenders()
    new = {name: hits for name, hits in found.items() if name not in ALLOWED}
    assert not new, f"engine modules naming private JVM handles: {new}"
    # an allow-list entry whose module no longer names a handle goes too
    assert ALLOWED <= set(found), f"stale allow-list entries: {ALLOWED - set(found)}"
