"""Every top-level definition in ``file_d_spark/functions/`` must be
reached from code that runs: the library itself, ``bench.py``,
``__spark_entry__.py`` or ``fdbench/*.py``.  The operators there are
this port's own extensions (file.d has no text or corpus analytics),
so one that only its own tests call is dead weight.  Spark-free."""

import ast
import collections
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]

# Kept although no runtime path names them: name -> why.
EXEMPT = {
    "banded_cosine_pairs": "dbscan pairs_fn that SCALE.md's 100 TB argument rests on",
    "rh_signature": "the signature step of banded_cosine_pairs",
    "_apply_merge": "reference merge of the BPE differential test",
    "clear_hot_memo": "test reset for skew._HOT_MEMO, whose fate is open",
}


def _definitions(tree):
    return [
        node
        for node in tree.body
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
    ]


def _references(tree):
    """Counts of the names a tree references through Name, Attribute
    or import nodes.  Docstrings are string constants, so they never
    count."""
    seen = collections.Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            seen[node.id] += 1
        elif isinstance(node, ast.Attribute):
            seen[node.attr] += 1
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            seen.update(a.name.rsplit(".", 1)[-1] for a in node.names)
    return seen


def _runtime_sources():
    yield from (REPO / "file_d_spark").rglob("*.py")
    yield REPO / "bench.py"
    yield REPO / "__spark_entry__.py"
    yield from (REPO / "fdbench").glob("*.py")


def test_every_function_definition_is_reached():
    funcs = REPO / "file_d_spark" / "functions"
    parsed = {p: ast.parse(p.read_text()) for p in _runtime_sources()}
    refs = {p: _references(tree) for p, tree in parsed.items()}
    unreached = []
    for path in sorted(funcs.glob("*.py")):
        for node in _definitions(parsed[path]):
            name = node.name
            if name in EXEMPT:
                continue
            # a definition's own body (recursion) does not reach it
            outside = refs[path][name] - _references(node)[name]
            if outside <= 0 and not any(
                refs[p][name] for p in refs if p != path
            ):
                unreached.append(f"{path.stem}.{name}")
    assert not unreached, f"reached only by tests (or nothing): {unreached}"


def test_exemptions_still_exist():
    """An exemption for a definition that is gone hides nothing and
    should go too."""
    funcs = REPO / "file_d_spark" / "functions"
    defined = {
        node.name
        for path in funcs.glob("*.py")
        for node in _definitions(ast.parse(path.read_text()))
    }
    assert set(EXEMPT) <= defined, set(EXEMPT) - defined
