"""Pins of the driver catalog exported by ``__spark_entry__``.

The digest covers everything the driver and the tools read from the catalog:
the gate's ``queries()`` key order, its ``oracle_sql()`` items in order, every
``all_oracle_sql()`` string by name, and the function behind every
``all_queries()`` entry.  Any move of catalog code must keep it unchanged.

The catalog is declarative: each family module under
``ipl_dagster_pipeline_spark/catalog/`` binds every name once and imports only
at its top, and the entry file merges the family tables exactly once.
"""

from __future__ import annotations

import ast
import hashlib
import json
from collections import Counter
from pathlib import Path

import pytest

import __spark_entry__ as em

ROOT = Path(__file__).resolve().parents[1]
CATALOG_FILES = [
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "ipl_dagster_pipeline_spark" / "catalog").glob("*.py")),
]

CATALOG_DIGEST = "67e87b417b6e3bdcccde81ab4c75eb009b53af02541943bbbb03d334f863bd78"


def catalog_canonical_json() -> str:
    return json.dumps(
        {
            "queries": list(em.queries()),
            "oracle_sql": [[k, v] for k, v in em.oracle_sql().items()],
            "all_oracle_sql": em.all_oracle_sql(),
            "all_queries": {k: fn.__name__ for k, fn in em.all_queries().items()},
        },
        sort_keys=True,
        ensure_ascii=False,
    )


def test_catalog_digest():
    assert len(em.all_queries()) == 133
    digest = hashlib.sha256(catalog_canonical_json().encode()).hexdigest()
    assert digest == CATALOG_DIGEST


def _bound_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return [(alias.asname or alias.name).split(".")[0] for alias in node.names]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


@pytest.mark.parametrize("path", CATALOG_FILES, ids=lambda p: p.name)
def test_catalog_module_is_declarative(path):
    """Stands in for a linter's F811 and import-position rules: no module-level
    name is bound twice, and every import precedes the first other statement."""
    body = ast.parse(path.read_text()).body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # module docstring
    counts = Counter(name for node in body for name in _bound_names(node))
    assert sorted(name for name, n in counts.items() if n > 1) == []
    is_import = [isinstance(node, (ast.Import, ast.ImportFrom)) for node in body]
    first_code = is_import.index(False) if False in is_import else len(body)
    late = [node.lineno for node, imp in zip(body[first_code:], is_import[first_code:]) if imp]
    assert late == [], f"imports after the first statement at lines {late}"


def test_merge_rejects_duplicate_names():
    def q(spark, sf_dir):
        return None

    merged = em._merge({"b": (q, None)}, {"a": (q, "SELECT 1")})
    assert list(merged) == ["b", "a"]
    with pytest.raises(ValueError, match="'dup'"):
        em._merge({"dup": (q, "SELECT 1")}, {"a": (q, None), "dup": (q, None)})
