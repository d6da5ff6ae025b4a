"""Reachability guard: every top-level definition in the package must be
reached by something other than a test — no JVM.

The scan parses the package, ``dags/``, ``tools/``, ``bench.py``,
``__spark_entry__.py`` and ``perfbench/``. A reference is a ``Name`` in
Load context, an ``Attribute``, an import alias, or a string constant
shaped like an identifier (``getattr`` targets, ``required_spans``).
Every top-level function, class and module constant of the package must
then satisfy one of:

- some scanned file references its name;
- it is ``@register``-decorated (a registry query, reached through
  ``queries()``);
- it is in ``TEST_ONLY_KEEP``, with the reason it stays.

Like ``test_engine.ALLOWED_CACHE_CALLS``, the allow-list must match
exactly: a listed name that gains a caller, or is deleted, fails too.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "bootcamp_stackacademy_datalake_minio_airflow_spark"
SCANNED = (
    PKG,
    ROOT / "dags",
    ROOT / "tools",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
)

#: Definitions only tests reach, kept on purpose (name -> reason).
#: Add a name here only when the README names its capability or a test
#: uses it as the reference for a kept path; otherwise delete it.
TEST_ONLY_KEEP = {
    "rollback_snapshot": "README: snapshot rollback",
    "train_embedding_classifier": "README: MLlib production variant",
    "score_embeddings": "README: MLlib production variant",
    "ivf_index": "README: MLlib production variant (IVF index)",
    "ivf_topk": "README: MLlib production variant (IVF probe)",
    "decontaminate": "README: benchmark decontamination",
    "zorder_write": "README: Morton-curve clustered writes",
    "cms_build": "test reference for cms_build_weighted",
    "cosine_all_pairs_matmul": "test reference for cosine_all_pairs_blocked",
    "stream_bronze_to_silver": "README: streaming layout",
    "stream_upsert_apply": "README: streaming layout",
    "stream_dedup_exact": "README: streaming layout",
    "stream_enrich_static": "README: streaming layout",
    "stream_attribution": "README: streaming layout",
    "sessionize_stream": "README: streaming layout",
    "stream_rate_monitor": "README: streaming layout",
    "stream_psi_monitor": "README: streaming layout",
    "stream_funnel_monitor": "README: streaming layout",
}


def _files():
    for base in SCANNED:
        if base.is_file():
            yield base
        else:
            yield from sorted(base.rglob("*.py"))


def _references(tree: ast.AST) -> set[str]:
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                refs.add(node.value)
    return refs


def _registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        f = d.func if isinstance(d, ast.Call) else d
        if (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) == "register":
            return True
    return False


def _definitions(tree: ast.Module):
    """(name, node) for each top-level function, class and constant."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node


def test_only_tests_reach_nothing_but_the_kept_list():
    refs: set[str] = set()
    defs: dict[str, str] = {}
    for path in _files():
        tree = ast.parse(path.read_text(), filename=str(path))
        refs |= _references(tree)
        if PKG in path.parents:
            for name, node in _definitions(tree):
                if not _registered(node):
                    defs[name] = f"{path.relative_to(ROOT).as_posix()}:{node.lineno}"
    test_only = {name: where for name, where in defs.items() if name not in refs}
    unlisted = sorted(f"{name} ({where})" for name, where in test_only.items()
                      if name not in TEST_ONLY_KEEP)
    assert not unlisted, (
        "package definitions that nothing outside tests/ reaches — delete "
        f"them, or add them to TEST_ONLY_KEEP with a reason: {unlisted}"
    )
    stale = sorted(set(TEST_ONLY_KEEP) - set(test_only))
    assert not stale, (
        "TEST_ONLY_KEEP names that are gone or now have a caller — drop "
        f"them from the list: {stale}"
    )
