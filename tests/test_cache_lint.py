"""Every cache in the library and the query registry goes through
``ocr_system_spark.persist``, so each one has an owner that releases it.
A text scan: no Spark needed."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# localCheckpoint stays allowed: it truncates lineage, it is not a cache
_CACHE_CALL = re.compile(r"\.cache\(|\.persist\(|\.unpersist\(|StorageLevel")


def test_library_caches_only_through_persist():
    files = [REPO / "__spark_entry__.py",
             *sorted((REPO / "registry").rglob("*.py")),
             *sorted((REPO / "ocr_system_spark").rglob("*.py"))]
    hits = [f"{f.relative_to(REPO)}:{i}: {line.strip()}"
            for f in files if f != REPO / "ocr_system_spark" / "persist.py"
            for i, line in enumerate(f.read_text().splitlines(), 1)
            if _CACHE_CALL.search(line)]
    assert not hits, "\n".join(hits)
