"""Reachability guard: every top-level definition and every bool flag in
the package must be used by something other than a test — no JVM.

The scan parses the package, ``dags/``, ``tools/``, ``bench.py``,
``__spark_entry__.py`` and ``perfbench/``. A reference is a ``Name`` in
Load context, an ``Attribute``, an import alias, or a string constant
shaped like an identifier (``getattr`` targets, ``required_spans``).

References count only from where they run. Every reference in a
non-package file counts. In a package module, module-level code counts
(an ``if __name__ == "__main__"`` block, a loop that registers
queries), but import statements and ``__all__`` entries do not: a
re-export is not a use. A reference inside a top-level definition
counts only once that definition is itself reached, so reach is the
transitive closure from those roots, from every ``@register`` query
(reached through ``queries()``) and from ``TEST_ONLY_KEEP``. Every
top-level function, class and module constant of the package must be
reached or be in ``TEST_ONLY_KEEP``, with the reason it stays.

Flags: for every bool-literal-defaulted parameter of a top-level
package function outside ``TEST_ONLY_KEEP``, the calls outside
``tests/`` (matched by name, like definitions) must run both values —
one call that omits it or passes the default, and one that passes the
other literal or any non-literal — or the parameter is in
``FLAG_KEEP``, with the reason it stays.

Like ``test_engine.ALLOWED_CACHE_CALLS``, both allow-lists must match
exactly: a listed entry that gains a caller, or is deleted, fails too.
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
    "events_stream_tumbling": "README: batch+stream window twins",
}

#: Bool flags whose non-default value only tests pass, kept on purpose
#: ("function.param" -> reason). Add one only for an input contract a
#: test must feed, a safety or privacy opt-in, or a deployment setting;
#: otherwise delete the parameter and keep the value callers pass.
FLAG_KEEP = {
    "triangle_counts.edges_canonical": "input contract: raw edge lists get canonicalized",
    "triangle_counts.edges_distinct": "input contract: duplicate edges get collapsed",
    "kmv_sketches.assume_distinct": "input contract: non-distinct (group, value) input is deduped",
    "dp_noisy_counts.include_true": "privacy: the default release omits the exact count",
    "upsert_parquet.validate_immutable_partitions": "opt-in safety check the docstring names",
    "extract_features.strict": "README: the loud stub",
    "s3a_conf.path_style": "deployment setting",
}


def _files():
    for base in SCANNED:
        if base.is_file():
            yield base
        else:
            yield from sorted(base.rglob("*.py"))


def _references(node: ast.AST, imports: bool = True) -> set[str]:
    refs = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            refs.add(n.id)
        elif isinstance(n, ast.Attribute):
            refs.add(n.attr)
        elif isinstance(n, ast.alias) and imports:
            refs.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                refs.add(n.value)
    return refs


def _registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        f = d.func if isinstance(d, ast.Call) else d
        if (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) == "register":
            return True
    return False


def _defined_names(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines; [] for module-level code."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
                and not n.id.startswith("__")]
    return []


def _is_reexport(node: ast.stmt) -> bool:
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return True
    targets = node.targets if isinstance(node, ast.Assign) else []
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _scan():
    """(definitions, roots, calls): the package's top-level definitions
    (name -> [(where, node)]), the names reached from outside any
    definition, and every call outside tests/."""
    defs: dict[str, list] = {}
    roots: set[str] = set()
    calls: list[ast.Call] = []
    for path in _files():
        tree = ast.parse(path.read_text(), filename=str(path))
        calls += [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
        if PKG not in path.parents:
            roots |= _references(tree)
            continue
        where = path.relative_to(ROOT).as_posix()
        for node in tree.body:
            names = _defined_names(node)
            if _registered(node):
                roots |= _references(node, imports=False)
            elif names:
                for name in names:
                    defs.setdefault(name, []).append((f"{where}:{node.lineno}", node))
            elif not _is_reexport(node):
                roots |= _references(node, imports=False)
    return defs, roots, calls


def _closure(roots: set[str], defs: dict[str, list]) -> set[str]:
    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo.extend(_references(node, imports=False) - reached)
    return reached


def test_only_tests_reach_nothing_but_the_kept_list():
    defs, roots, _ = _scan()
    reached = _closure(roots | set(TEST_ONLY_KEEP), defs)
    unlisted = sorted(f"{name} ({where})" for name, sites in defs.items()
                      if name not in reached for where, _ in sites)
    assert not unlisted, (
        "package definitions that nothing outside tests/ reaches — delete "
        f"them, or add them to TEST_ONLY_KEEP with a reason: {unlisted}"
    )
    production = _closure(roots, defs)
    stale = sorted(name for name in TEST_ONLY_KEEP
                   if name not in defs or name in production)
    assert not stale, (
        "TEST_ONLY_KEEP names that are gone or now have a caller — drop "
        f"them from the list: {stale}"
    )


def _bool_flags(fn: ast.FunctionDef):
    """(param, positional index or None, default) per bool-literal default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    for param, d in pairs:
        if isinstance(d, ast.Constant) and isinstance(d.value, bool):
            index = positional.index(param) if param in positional else None
            yield param.arg, index, d.value


def _runs(call: ast.Call, param: str, index: int | None, default: bool) -> set[bool]:
    """The values a call can run for a parameter. Omitted runs the
    default and a literal runs itself; any other expression runs both,
    because the caller picks at run time. A ``*`` or ``**`` splat does
    not name the parameter, so it counts as omitted."""
    value = next((kw.value for kw in call.keywords if kw.arg == param), None)
    if value is None and index is not None and index < len(call.args):
        if not any(isinstance(a, ast.Starred) for a in call.args[:index + 1]):
            value = call.args[index]
    if value is None:
        return {default}
    if isinstance(value, ast.Constant) and isinstance(value.value, bool):
        return {value.value}
    return {True, False}


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def test_every_flag_has_a_caller_for_each_value():
    defs, _, calls = _scan()
    by_name: dict[str, list[ast.Call]] = {}
    for call in calls:
        by_name.setdefault(_called_name(call), []).append(call)
    one_valued = {}
    for name, sites in defs.items():
        if name in TEST_ONLY_KEEP:
            continue
        for where, fn in sites:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for param, index, default in _bool_flags(fn):
                seen = set()
                for call in by_name.get(name, ()):
                    seen |= _runs(call, param, index, default)
                if seen != {True, False}:
                    one_valued[f"{name}.{param}"] = where
    unlisted = sorted(f"{flag} ({where})" for flag, where in one_valued.items()
                      if flag not in FLAG_KEEP)
    assert not unlisted, (
        "bool flags whose other value nothing outside tests/ passes — delete "
        f"them and keep the value callers use, or add them to FLAG_KEEP with "
        f"a reason: {unlisted}"
    )
    stale = sorted(set(FLAG_KEEP) - set(one_valued))
    assert not stale, (
        "FLAG_KEEP entries that are gone or now run both values — drop them "
        f"from the list: {stale}"
    )
