"""Property-based tests (hypothesis) for the pure-Python compile layer:
selector parsing, substitution template splitting, duration parsing."""

from hypothesis import given, settings
from hypothesis import strategies as st

from file_d_spark.fields import join_selector, parse_selector
from file_d_spark.substitution import parse_template, _Ref

part = st.text(
    alphabet=st.characters(blacklist_characters="\\", blacklist_categories=("Cs",)),
    min_size=1,
    max_size=8,
)


@given(st.lists(part, min_size=1, max_size=5))
@settings(max_examples=200)
def test_selector_roundtrip(parts):
    assert parse_selector(join_selector(parts)) == parts


@given(
    st.text(
        alphabet=st.characters(blacklist_characters="$\\{}|", blacklist_categories=("Cs",)),
        max_size=30,
    )
)
@settings(max_examples=100)
def test_template_literal_passthrough(text):
    """Templates with no ${} are a single literal chunk."""
    parsed = parse_template(text)
    assert parsed == ([text] if text else [])


ref_name = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="_."),
    min_size=1,
    max_size=8,
)
literal = st.text(
    alphabet=st.characters(
        blacklist_characters="${}|\\", blacklist_categories=("Cs",)
    ),
    min_size=1,
    max_size=10,
)


@given(st.lists(st.tuples(st.booleans(), st.one_of(ref_name, literal)), min_size=1, max_size=6))
@settings(max_examples=100)
def test_template_mixed_chunks(chunks):
    """Literal/ref interleavings parse back to the same sequence."""
    template = "".join(
        ("${" + p + "}")
        if is_ref and all(ch.isalnum() or ch in "_." for ch in p)
        else "".join(ch for ch in p if ch not in "${}|\\")
        for is_ref, p in chunks
    )
    parsed = parse_template(template)
    rebuilt = "".join(
        ("${" + c.selector + "}") if isinstance(c, _Ref) else c for c in parsed
    )
    assert rebuilt == template


def test_duration_parsing():
    import pytest

    from file_d_spark.xtime import parse_duration_s

    assert parse_duration_s("1m") == 60
    assert parse_duration_s("1.5h") == 5400
    assert parse_duration_s("250ms") == 0.25
    assert parse_duration_s("1m30s") == 90
    assert parse_duration_s(30) == 30
    with pytest.raises(ValueError):
        parse_duration_s("junk-")


@given(
    st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=40),
    st.integers(min_value=10, max_value=120),
)
@settings(max_examples=200, deadline=None)
def test_es_send_split_delivers_exact_prefix(sizes, limit):
    """Bisect-on-413 property (elasticsearch.go sendSplit): for ANY doc
    sizes and ANY content-length limit, the delivered documents are
    exactly the docs BEFORE the first one that cannot be delivered
    alone; that poison doc raises.  (Left half recurses first, so
    everything after the poison is skipped — the file_es_split e2e
    semantics, generalized.)"""
    from file_d_spark.sinks import PayloadTooLarge, _es_send_split

    # doc i = action line "a<i>" + source line of `sizes[i]` x's;
    # payload of a span = "\n".join(lines) + "\n"
    doc_lines = []
    for i, n in enumerate(sizes):
        doc_lines.extend([f"a{i}", "x" * n])

    delivered = []

    def transport(payload: str):
        if len(payload.encode()) > limit:
            raise PayloadTooLarge(len(payload))
        lines = payload.strip("\n").split("\n")
        delivered.extend(lines[1::2])  # the source lines

    def single_ok(i: int) -> bool:
        p = f"a{i}\n" + "x" * sizes[i] + "\n"
        return len(p.encode()) <= limit

    poison = next((i for i in range(len(sizes)) if not single_ok(i)), None)
    try:
        _es_send_split(doc_lines, transport)
        raised = False
    except PayloadTooLarge:
        raised = True

    expect = ["x" * n for n in (sizes if poison is None else sizes[:poison])]
    assert delivered == expect
    assert raised == (poison is not None)
