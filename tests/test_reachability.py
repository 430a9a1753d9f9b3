"""No product code that only tests call: every top-level function and
class in the package must be reachable from a declared root.

The walk is static (AST) and name-based. A def's edges are the names
and attribute names its body (decorators and defaults included, type
annotations not) refers to; a name reaches every top-level def of that
name in any package module. That over-approximates reachability, so a
def this test reports is referred to by nothing a user can run.

Roots:

- every query registered with ``@register`` (the driver contract);
- the package's module-level code other than imports and ``__all__``
  (for example ``check_tables``' ``__main__`` block);
- every name in ``__spark_entry__.py``, ``bench.py``, ``scripts/`` and
  ``perfbench/``;
- the ELT entry point, :data:`ENTRY_POINTS`;
- :data:`ALLOWED`, defs that users reach by a route the walk cannot
  see, each with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

import dlt_salesforce_iceberg_rest_demo_spark as pkg

PKG = Path(pkg.__file__).resolve().parent
REPO = PKG.parent

ENTRY_FILES = (
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "scripts").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
)

ENTRY_POINTS = {
    "pipeline.py::SalesforcePipeline": "the reference's load(): extract, normalize, write, advance",
}

ALLOWED = {
    "sources/salesforce.py::Transport": (
        "the protocol SalesforcePipeline and read_object take; named only "
        "in type annotations"
    ),
    "sources/salesforce.py::SimpleSalesforceTransport": (
        "a Transport: users build one and pass it to SalesforcePipeline, "
        "which only calls the Transport protocol"
    ),
    "sources/salesforce.py::MockTransport": (
        "a Transport: the offline mock org users pass to SalesforcePipeline"
    ),
    "sources/salesforce.py::SalesforceAuth": (
        "the credentials users build for SimpleSalesforceTransport"
    ),
    "sources/datasource.py::SalesforceDataSource": (
        "a Python Data Source: users register it with "
        "spark.dataSource.register; Spark calls its readers"
    ),
    "orchestration.py::build_airflow_dag": (
        "an orchestrator builder: Airflow imports it from a DAG file"
    ),
    "orchestration.py::build_dagster_assets": (
        "an orchestrator builder: Dagster imports it from a definitions file"
    ),
    "operators/similarity.py::pq_fit": (
        "PQ codebook training on its own; kept while PQ training is reworked "
        "(ROADMAP item 3)"
    ),
}

DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class _Refs(ast.NodeVisitor):
    """Names and attribute names under a node, type annotations skipped."""

    def __init__(self) -> None:
        self.names: set[str] = set()

    def visit_Name(self, node: ast.Name) -> None:
        self.names.add(node.id)

    def visit_Attribute(self, node: ast.Attribute) -> None:
        self.names.add(node.attr)
        self.generic_visit(node)

    def visit_arg(self, node: ast.arg) -> None:
        pass  # a parameter's only child is its annotation

    def visit_AnnAssign(self, node: ast.AnnAssign) -> None:
        for child in (node.target, node.value):
            if child is not None:
                self.visit(child)

    def _visit_def(self, node) -> None:
        for field, value in ast.iter_fields(node):
            if field == "returns":
                continue
            for child in value if isinstance(value, list) else [value]:
                if isinstance(child, ast.AST):
                    self.visit(child)

    visit_FunctionDef = visit_AsyncFunctionDef = _visit_def


def refs(node: ast.AST) -> set[str]:
    visitor = _Refs()
    visitor.visit(node)
    return visitor.names


def _registered(node: ast.AST) -> bool:
    for deco in getattr(node, "decorator_list", ()):
        fn = deco.func if isinstance(deco, ast.Call) else deco
        if getattr(fn, "id", getattr(fn, "attr", None)) == "register":
            return True
    return False


def package_defs() -> tuple[dict[str, ast.AST], set[str], set[str]]:
    """``{"<module path>::<name>": node}`` for every top-level def, the
    keys of the registered queries, and the names module-level code
    refers to."""
    defs: dict[str, ast.AST] = {}
    registered: set[str] = set()
    module_refs: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        module = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, DEF_TYPES):
                key = f"{module}::{node.name}"
                defs[key] = node
                if _registered(node):
                    registered.add(key)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            elif isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in node.targets
            ):
                continue
            else:
                module_refs |= refs(node)
    return defs, registered, module_refs


def reachable(defs: dict[str, ast.AST], root_keys: set[str], root_names: set[str]) -> set[str]:
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.split("::")[1], []).append(key)
    seen: set[str] = set()
    todo = list(root_keys) + [k for n in root_names for k in by_name.get(n, ())]
    while todo:
        key = todo.pop()
        if key in seen:
            continue
        seen.add(key)
        for name in refs(defs[key]):
            todo.extend(by_name.get(name, ()))
    return seen


def _roots() -> tuple[dict[str, ast.AST], set[str], set[str]]:
    defs, registered, module_refs = package_defs()
    entry_refs = set().union(*(refs(ast.parse(p.read_text(), str(p))) for p in ENTRY_FILES))
    return defs, registered | set(ENTRY_POINTS), module_refs | entry_refs


def _span(node: ast.AST) -> int:
    return node.end_lineno - node.lineno + 1


def test_every_package_def_is_reachable():
    defs, root_keys, root_names = _roots()
    assert len(root_keys) > 250, "the registry decorators were not found"
    seen = reachable(defs, root_keys | set(ALLOWED), root_names)
    unreached = [f"{k} ({_span(defs[k])} lines)" for k in sorted(defs) if k not in seen]
    assert unreached == [], "reached only by tests, or by nothing:\n" + "\n".join(unreached)


def test_allow_list_is_current():
    """Each allowed def exists, has a reason, and is needed: the roots
    alone do not reach it."""
    defs, root_keys, root_names = _roots()
    assert set(ENTRY_POINTS) <= set(defs)
    assert set(ALLOWED) <= set(defs), set(ALLOWED) - set(defs)
    assert all(reason.strip() for reason in ALLOWED.values())
    seen = reachable(defs, root_keys, root_names)
    assert sorted(set(ALLOWED) & seen) == []
