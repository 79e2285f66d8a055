"""Every dedup store in ``operators/incremental.py`` ingests through one
lifecycle, ``_IngestLifecycle``: it alone checks the run ledger, records a
run, emits the ingest facts and guards the store config. A source scan
(the ``tests/test_distinct_values.py`` precedent) fails on any other class
of the module that does one of these itself."""

from __future__ import annotations

import ast
from pathlib import Path

import metadata_ingestion_framework_spark.operators.incremental as incremental

LIFECYCLE = "_IngestLifecycle"
CALLS = {"ingested_runs", "_record_run", "_emit_ingest_facts", "_check_store_config"}


def _lifecycle_calls(tree: ast.AST) -> dict[str, list[int]]:
    """Class name -> lines of its calls to a lifecycle-owned function or
    method (``f(...)`` or ``<obj>.f(...)``)."""
    found: dict[str, list[int]] = {}
    for cls in ast.walk(tree):
        if not isinstance(cls, ast.ClassDef):
            continue
        for node in ast.walk(cls):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name in CALLS:
                found.setdefault(cls.name, []).append(node.lineno)
    return {name: sorted(lines) for name, lines in found.items()}


def test_scan_finds_the_pattern():
    src = (
        "class A:\n"
        "    def f(self):\n"
        "        if r in self.ingested_runs():\n"
        "            return\n"
        "        self._record_run(r)\n"
        "        _emit_ingest_facts(self, r, 1, {}, {})\n"
        "        _check_store_config(root, {})\n"
        "        self.ingested(r)\n"
        "def g():\n"
        "    _check_store_config(root, {})\n"
    )
    assert _lifecycle_calls(ast.parse(src)) == {"A": [3, 5, 6, 7]}


def test_only_the_lifecycle_runs_the_ledger_and_facts():
    """The base makes each of the four calls once; no store repeats one."""
    found = _lifecycle_calls(ast.parse(Path(incremental.__file__).read_text()))
    assert len(found.pop(LIFECYCLE, [])) == len(CALLS)
    assert found == {}


def test_every_dedup_store_is_a_lifecycle():
    for cls in (
        incremental.MinhashSignatureStore,
        incremental.EmbeddingDedupStore,
        incremental.ImageHashStore,
        incremental.AudioHashStore,
        incremental.ParagraphHashStore,
        incremental.CrossModalPairStore,
    ):
        assert issubclass(cls, incremental._IngestLifecycle), cls
