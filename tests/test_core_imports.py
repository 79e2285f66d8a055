"""The ingestion core imports nothing outside itself.

The core is the ingestion path: readers, CDC split, PII, joins,
SCD merge, table store, pipeline, metadata decode, observability and the
streaming output/offset/listener surface. Importing it must not load the
curation catalog (dedup families, similarity, retrieval, bpe, pq, ...).
The import runs in a fresh interpreter so modules loaded by other tests
do not leak into the check.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

PKG = "metadata_ingestion_framework_spark"

CORE = [
    "operators.cdc",
    "operators.joins",
    "operators.merge",
    "operators.sql_merge",
    "plans.tablestore",
    "plans.pipeline",
    "plans.metadata",
    "observability",
    "sources.readers",
    "streaming.output",
    "streaming.offsets",
    "streaming.listener",
    "streaming.write_config",
]

ALLOWED = {PKG} | {f"{PKG}.{m}" for m in CORE + [
    "session",
    "functions",
    "functions.pii",
    "functions.hashing",
    "operators",
    "plans",
    "sources",
    "streaming",
]}


def test_core_loads_only_core_modules():
    code = (
        "import importlib, json, sys\n"
        f"for m in {CORE!r}:\n"
        f"    importlib.import_module({PKG!r} + '.' + m)\n"
        f"print(json.dumps(sorted(m for m in sys.modules if m == {PKG!r}"
        f" or m.startswith({PKG!r} + '.'))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True, text=True, check=True,
    )
    loaded = set(json.loads(out.stdout.strip().splitlines()[-1]))
    assert loaded - ALLOWED == set()
