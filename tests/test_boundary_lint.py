"""Every Python boundary in the library and the query registry is a
``mapInArrow``; only the stateful streaming API (``applyInPandasWithState``)
hands its groups over as pandas. A text scan plus one import check: no
Spark needed."""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

FILES = [REPO / "__spark_entry__.py",
         *sorted((REPO / "registry").rglob("*.py")),
         *sorted((REPO / "ocr_system_spark").rglob("*.py"))]

_PANDAS_BOUNDARY = re.compile(r"mapInPandas|pandas_udf|applyInPandas\(")
_MODULE_PANDAS = re.compile(r"^(import pandas|from pandas)\b")
# its frames are the input the benchmark and the fixture tools consume
_PANDAS_SOURCE = REPO / "ocr_system_spark" / "sources" / "pages.py"


def _hits(pattern, files):
    return [f"{f.relative_to(REPO)}:{i}: {line.strip()}"
            for f in files
            for i, line in enumerate(f.read_text().splitlines(), 1)
            if pattern.search(line)]


def test_no_pandas_boundary():
    hits = _hits(_PANDAS_BOUNDARY, FILES)
    assert not hits, "\n".join(hits)


def test_pandas_imported_at_module_level_only_by_pages():
    hits = _hits(_MODULE_PANDAS, [f for f in FILES if f != _PANDAS_SOURCE])
    assert not hits, "\n".join(hits)


def test_engine_imports_do_not_load_pandas():
    probe = ("import sys, __spark_entry__, ocr_system_spark.plans.pipeline; "
             "print('pandas' in sys.modules)")
    out = subprocess.run([sys.executable, "-c", probe], cwd=str(REPO),
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip() == "False"
