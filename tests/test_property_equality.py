"""Property-based equality: for arbitrary span documents, the vectorized
batch implementation must equal the pure-Python oracle exactly (SURVEY.md §5
— randomized testing the reference lacks)."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from key_resource_table_extractor_spark import oracle
from tests.conftest import extract_batch

# text lines built from a small alphabet with gap runs, RRIDs, headers,
# indentation — the inputs that drive every branch of the cascade
word = st.sampled_from(
    ["Foo", "bar", "RRID:AB_12", "SOURCE", "IDENTIFIER", "Reagent",
     "x-", "3`-ACGT", "a", "Key", "Resources", "Table", "12.5", ""]
)
gap = st.sampled_from(["  ", "\t", "   ", " ", ""])
indent = st.sampled_from(["", "    ", "        ", "  "])


@st.composite
def line(draw):
    n = draw(st.integers(0, 5))
    parts = []
    for i in range(n):
        parts.append(draw(word))
        if i < n - 1:
            parts.append(draw(gap))
    return draw(indent) + "".join(parts)


@st.composite
def doc(draw):
    n = draw(st.integers(0, 25))
    spans = []
    off = 0
    for i in range(n):
        if draw(st.booleans()) and draw(st.integers(0, 3)) == 0:
            spans.append(("media", "", f"media://d/{i}", off))
        else:
            spans.append(("text", draw(line()), "", off))
        # offsets are NOT required unique (DOCUMENT_SPANS_SCHEMA): step 0
        # leaves the next span at the same offset
        off += draw(st.integers(0, 2))
    return spans


OPTION_KW = st.fixed_dictionaries(
    {
        "row_model": st.sampled_from(["votes", "anchor", "none"]),
        "gap_min_spaces": st.sampled_from([2, 3]),
        "excepted_lines": st.lists(st.integers(-5, 8), max_size=3),
        "excepted_pages": st.lists(st.integers(-3, 3), max_size=2),
    }
)


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.lists(doc(), min_size=1, max_size=4), OPTION_KW)
def test_batch_equals_oracle_under_option_matrix(docs, kw):
    """The full option surface (row model, word-spacing threshold,
    excepted lines/pages incl. negatives) preserves oracle equality on
    arbitrary documents."""
    rows = []
    expected = {}
    for i, spans in enumerate(docs):
        doc_id = f"d{i}"
        rows.append(
            (
                doc_id,
                [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for (k, t, m, o) in spans
                ],
            )
        )
        expected[doc_id] = [
            (k, t, m, o)
            for (_s, k, t, m, o) in oracle.extract_document(spans, **kw)
        ]
    out = extract_batch(
        pd.DataFrame(rows, columns=["doc_id", "spans"]), **kw
    )
    out = out[out["kind"].isin(["text", "media"])]
    for doc_id, exp in expected.items():
        got = out[out.doc_id == doc_id].sort_values("seq")
        got_list = list(
            zip(got["kind"], got["text"], got["media_ref"],
                got["offset"].astype(int))
        )
        assert got_list == exp, (doc_id, kw, got_list[:5], exp[:5])


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.lists(doc(), min_size=1, max_size=6))
def test_batch_equals_oracle_on_random_docs(docs):
    rows = []
    expected = {}
    for i, spans in enumerate(docs):
        doc_id = f"d{i}"
        rows.append(
            (
                doc_id,
                [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for (k, t, m, o) in spans
                ],
            )
        )
        expected[doc_id] = [tuple(r) for r in oracle.extract_document(spans)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "spans"])
    out = extract_batch(pdf)
    out = out[out["kind"].isin(["text", "media"])]
    for doc_id, exp in expected.items():
        got = out[out.doc_id == doc_id].sort_values("seq")
        got_list = list(
            zip(
                got["seq"].astype(int), got["kind"], got["text"],
                got["media_ref"], got["offset"].astype(int),
            )
        )
        assert got_list == exp, (doc_id, got_list[:5], exp[:5])


# non-ASCII letters whose case mapping changes the text's length (ß, ﬀ,
# İ) or that re's IGNORECASE folds to ASCII (ı, ſ, K): the line features
# scan the joined lines of a batch and must agree with per-line regexes
unicode_word = st.sampled_from(
    ["rrıd:AB_1", "RRİD:SCR_2", "xRRID", "ſource", "SOURCE", "ıdentıfıer",
     "REAGENT", "Straße", "ﬀoo", "İstanbul", "éclair", "Ünïcode", "K",
     "Key", "Resources", "Table", "ǅ", "x-", "a", "试剂", ""]
)


@st.composite
def unicode_doc(draw):
    spans = []
    for i in range(draw(st.integers(0, 20))):
        parts = [draw(unicode_word) for _ in range(draw(st.integers(0, 4)))]
        text = draw(indent) + draw(gap).join(parts)
        spans.append(("text", text, "", i))
    return spans


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.lists(unicode_doc(), min_size=1, max_size=4))
def test_batch_equals_oracle_on_case_changing_text(docs):
    pdf = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(len(docs))],
        "spans": [[{"kind": k, "text": t, "media_ref": m, "offset": o}
                   for (k, t, m, o) in spans] for spans in docs],
    })
    out = extract_batch(pdf)
    for i, spans in enumerate(docs):
        got = out[out["doc_id"] == f"d{i}"]
        assert list(zip(got["kind"], got["text"], got["media_ref"],
                        got["offset"])) == [
            (k, t, m, o) for (_s, k, t, m, o) in oracle.extract_document(spans)
        ]
