"""Spark-free guard: every top-level def in ``t_res_spark/`` has a caller.

A def counts as used when its name appears (as a name, an attribute or an
imported name) anywhere in the package, ``__spark_entry__.py``,
``perfbench/``, ``tools/`` or ``bench*.py``, outside its own body. Tests do
not count: a def that only its own test calls is a second copy of a
decision that lives elsewhere, or a feature nothing runs. Decorated defs
(UDFs, fixtures, routes) are reached through their decorator and are
skipped. ``KEEP`` lists the test-only defs that stay on purpose.

A second sweep keeps the engine off the test-data generator: only
``oracle.py`` may import ``datagen``.
"""
import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "t_res_spark"

KEEP = {
    "resolve_oracle": "independent pure-Python oracle for resolve()",
    "brute_force_topk": "independent exact oracle for the ANN top-k paths",
    "ivf_train_centroids": "the only producer of ivf_topk's centroids",
    "with_turn_context": "reference feature P8: lag/lead turn context",
    "read_hf_json": "reference feature S10: HF dataset load + limit",
    "merge_splits": "reference feature J8: experiment split-column merge",
    "read_annotation_lines": "WebAnno/HIPE ingest: ordered lines for the S8/S9 parsers",
    "zfill_code": "reference feature F10: str.zfill publication codes",
    "normalize_vocab_token": "reference feature F13: vocab token normalisation",
    "pem_clamp": "reference feature F7: clamped p(e|m)",
    "log_prior": "reference feature F8: log prior",
}


def _sources():
    yield from sorted(PKG.rglob("*.py"))
    yield REPO / "__spark_entry__.py"
    for sub in ("perfbench", "tools"):
        yield from sorted((REPO / sub).rglob("*.py"))
    yield from sorted(REPO.glob("bench*.py"))


def _top_level_defs():
    """(name, rel path) of each undecorated top-level function."""
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            is_def = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            if is_def and not node.decorator_list:
                yield node.name, path.relative_to(REPO).as_posix()


def _references():
    """Names referenced in the scanned sources, each outside the top-level
    def of the same name (a recursive call is not a caller)."""
    refs = set()

    def visit(node, owner):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
        else:
            name = None
        if name is not None and name != owner:
            refs.add(name)
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    for path in _sources():
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            owner = node.name if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
            visit(node, owner)
    return refs


def test_every_top_level_def_has_a_caller():
    refs = _references()
    dead = sorted(
        f"{rel}:{name}"
        for name, rel in _top_level_defs()
        if name not in refs and name not in KEEP
    )
    assert not dead, (
        "defs with no caller outside tests/ "
        "(delete them, or add to KEEP with a reason): " + ", ".join(dead)
    )


def test_keep_list_is_not_stale():
    """Every KEEP name is still defined and still has no caller; a def
    that gained one leaves the list."""
    defined = {name for name, _ in _top_level_defs()}
    assert not set(KEEP) - defined, sorted(set(KEEP) - defined)
    called = set(KEEP) & _references()
    assert not called, sorted(called)


def test_engine_does_not_import_datagen():
    """No module under ``t_res_spark/`` but ``datagen.py`` itself and the
    pure-Python ``oracle.py`` imports ``datagen``: what the engine shares
    with the fixture generator (the embedding encoder, the block-key
    mirror) lives in ``functions/``."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in ("datagen.py", "oracle.py"):
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            else:
                continue
            if any(n.rsplit(".", 1)[-1] == "datagen" for n in names):
                hits.append(f"{rel}:{node.lineno}")
    assert not hits, "engine modules importing datagen: " + ", ".join(hits)
