"""Reachability guard: every top-level function and class in the package
must be reachable from a production root, or be allowlisted here with
its reason to stay.

Production roots are the package's module-level code (registry
assignments, decorators, default values), ``tools/``, ``perfbench/``,
``bench.py`` and ``__spark_entry__.py``. The walk is by name: a
definition is reached when a reached piece of code mentions its name as
a ``Name``, an ``Attribute``, an import alias or an identifier string
constant (``getattr``/registry keys), and then everything its body
mentions is reached in turn. Matching by bare name over-approximates
reachability (two definitions sharing a name both count as reached),
so a failure here is always real: nothing outside ``tests/`` can reach
the definition. Allowlisted definitions count as roots too, so the
helpers they call need no entry of their own.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "etl_end_to_end_airflow_bigquery_spark"
ROOT_FILES = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
ROOT_DIRS = [ROOT / "tools", ROOT / "perfbench"]

# "<module path under the package>.<name>" -> why it stays without a
# production caller. One line per name.
ALLOWED = {
    # the reference's own tasks, re-expressed (README surface rows)
    "catalog.ensure_database": "reference DDL: the BigQuery dataset create",
    "catalog.drop_database": "reference DDL: dataset teardown, the create's inverse",
    "catalog.create_table_if_not_exists": "reference DDL: CREATE TABLE IF NOT EXISTS (README S6)",
    "sources.files.read_csv": "reference re-expression: schema-enforced CSV load with quarantine",
    "sources.files.read_jsonl": "reference re-expression: schema-enforced JSONL load with quarantine",
    "sources.quarantine.observed_parse": "reference re-expression: load-job validation with an observed reject count",
    "sources.rest_datasource.FxRestDataSource": "reference re-expression: the DAG's REST fetch as a Spark data source (and its readers)",
    "streaming.ingest.write_ticks": "reference re-expression: the DAG's tick load as a streaming sink",
    # operators kept on purpose
    "streaming.state_reader.state_metadata": "operator surface: reads a streaming query's state store metadata",
    "streaming.stateful.sessionize_stateful": "operator surface: the arbitrary-stateful sessionizer (applyInPandasWithState)",
    "operators.similarity.add_to_ivfpq_index": "serving path: incremental adds against stored quantizers, on build's encode",
    "plans.queries_ext._bpe_apply_merge": "reference: the JVM-side BPE fold the Arrow kernel tests compare against",
}


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _mentions(nodes) -> set[str]:
    """Identifiers a piece of code mentions: names, attribute names,
    import aliases and identifier-shaped string constants."""
    out: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
                if n.asname:
                    out.add(n.asname)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if n.value.isidentifier():
                    out.add(n.value)
    return out


def _import_time(node) -> list:
    """The parts of a top-level definition that run at import time:
    decorators and default values (annotations are lazy here)."""
    parts = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        parts += node.bases + [k.value for k in node.keywords]
    else:
        parts += node.args.defaults + [d for d in node.args.kw_defaults if d]
    return parts


def _scan(allowed=()):
    """(definitions by qualname, the qualnames reached from the
    production roots plus the bodies of ``allowed``)."""
    defs: dict[str, tuple[str, ast.AST]] = {}  # qualname -> (name, node)
    roots: list = []
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for node in _parse(path).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs[f"{mod}.{node.name}"] = (node.name, node)
                roots += _import_time(node)
            else:
                roots.append(node)
    for path in ROOT_FILES + [p for d in ROOT_DIRS for p in sorted(d.rglob("*.py"))]:
        roots.append(_parse(path))

    by_name: dict[str, list[str]] = {}
    for q, (name, _) in defs.items():
        by_name.setdefault(name, []).append(q)
    reached: set[str] = set()
    seen: set[str] = set()
    todo = list(_mentions(roots + [defs[q][1] for q in allowed if q in defs]))
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for q in by_name.get(name, ()):
            reached.add(q)
            todo += _mentions([defs[q][1]])
    return defs, reached


def test_every_package_definition_has_a_production_path():
    defs, reached = _scan(ALLOWED)
    test_refs = _mentions(_parse(p) for p in sorted((ROOT / "tests").rglob("*.py")))
    unreached = sorted(q for q in defs if q not in reached and q not in ALLOWED)
    test_only = [q for q in unreached if defs[q][0] in test_refs]
    dead = [q for q in unreached if defs[q][0] not in test_refs]
    assert not test_only, (
        "package definitions only tests/ reach (delete them, or allowlist "
        f"with a reason): {test_only}"
    )
    assert not dead, f"package definitions nothing reaches: {dead}"


def test_allowlist_is_current_and_reasoned():
    defs, reached = _scan()
    for q, reason in ALLOWED.items():
        assert reason.strip(), f"{q}: allowlist entry without a reason"
        assert q in defs, f"{q}: allowlisted but not defined (stale entry)"
        assert q not in reached, (
            f"{q}: allowlisted but production reaches it (stale entry)"
        )
