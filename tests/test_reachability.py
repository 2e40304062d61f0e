"""Every top-level definition in ``file_d_spark/`` must be reached from
code that runs: the library itself, ``bench.py``,
``__spark_entry__.py`` or ``fdbench/*.py``.  One that only its own
tests call is dead weight.  Decorated definitions count as reached
(``@register`` and ``@query`` reach them through the registries), and
so do dunders (the interpreter calls them).  Spark-free."""

import ast
import collections
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
LIB = REPO / "file_d_spark"

# Kept although no runtime path names them: name -> why.
EXEMPT = {
    "banded_cosine_pairs": "dbscan pairs_fn that SCALE.md's 100 TB argument rests on",
    "rh_signature": "the signature step of banded_cosine_pairs",
    "_apply_merge": "reference merge of the BPE differential test",
    "join_selector": "inverse of parse_selector, the round-trip property's other half",
    "render_offsets": "inverse of parse_offsets, writes the reference's offsets-file format",
    "register_views": "user entry point: every testdata table as a spark.sql temp view",
    "HttpIngestServer": "the user starts it to feed an http input's spool_dir",
    "SocketIngestServer": "the user starts it to feed a socket input's spool_dir",
    "journalctl_pump": "the user starts it to feed a journalctl input's spool_dir",
    "dmesg_pump": "the user starts it to feed a dmesg input's spool_dir",
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
    yield from LIB.rglob("*.py")
    yield REPO / "bench.py"
    yield REPO / "__spark_entry__.py"
    yield from (REPO / "fdbench").glob("*.py")


def _reached_implicitly(node):
    name = node.name
    return bool(node.decorator_list) or (
        name.startswith("__") and name.endswith("__")
    )


def test_every_function_definition_is_reached():
    parsed = {p: ast.parse(p.read_text()) for p in _runtime_sources()}
    refs = {p: _references(tree) for p, tree in parsed.items()}
    unreached = []
    for path in sorted(LIB.rglob("*.py")):
        for node in _definitions(parsed[path]):
            name = node.name
            if name in EXEMPT or _reached_implicitly(node):
                continue
            # a definition's own body (recursion) does not reach it
            outside = refs[path][name] - _references(node)[name]
            if outside <= 0 and not any(
                refs[p][name] for p in refs if p != path
            ):
                unreached.append(
                    f"{path.relative_to(LIB).with_suffix('')}.{name}"
                )
    assert not unreached, f"reached only by tests (or nothing): {unreached}"


def test_exemptions_still_exist():
    """An exemption for a definition that is gone hides nothing and
    should go too."""
    defined = {
        node.name
        for path in LIB.rglob("*.py")
        for node in _definitions(ast.parse(path.read_text()))
    }
    assert set(EXEMPT) <= defined, set(EXEMPT) - defined
