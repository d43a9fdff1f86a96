"""use_row_info-analog flag (merge on/off) and nested result-JSON parity
(reference S7 output shape, FIXTURES.md §4)."""

from __future__ import annotations

import json

import pandas as pd

from key_resource_table_extractor_spark import oracle
from tests.conftest import extract_batch

DOC = [
    ("text", "Key Resources Table", "", 0),
    ("text", "REAGENT or RESOURCE     SOURCE      IDENTIFIER", "", 1),
    ("text", "Anti-Foo antibody       Abcam       RRID:AB_123456", "", 2),
    ("text", "                        continued text", "", 3),
    ("text", "Bar protein             Sigma       RRID:SCR_004422", "", 4),
]


def pdf_of(doc, doc_id="d0"):
    return pd.DataFrame(
        {
            "doc_id": [doc_id],
            "spans": [
                [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for (k, t, m, o) in doc
                ]
            ],
        }
    )


def flat(out, doc_id="d0"):
    out = out[(out.doc_id == doc_id) & out.kind.isin(["text", "media"])]
    return list(zip(out["kind"], out["text"], out["offset"].astype(int)))


def test_gap_min_spaces_matches_oracle_and_changes_segmentation():
    """A12 knob: the word-spacing threshold (space-run length that counts
    as a column gap) is configurable and honored identically by both
    implementations. 'Anti-Foo  antibody' splits at the default threshold
    (2 spaces) but stays one cell at gap_min_spaces=3."""
    doc = [
        ("text", "Key Resources Table", "", 0),
        ("text", "REAGENT or RESOURCE     SOURCE      IDENTIFIER", "", 1),
        ("text", "Anti-Foo  antibody      Abcam       RRID:AB_123456", "", 2),
        ("text", "Bar protein             Sigma       RRID:SCR_004422", "", 3),
    ]
    for g in (1, 2, 3, 4):
        out = extract_batch(pdf_of(doc), gap_min_spaces=g)
        exp = [
            (k, t, o)
            for (_s, k, t, _m, o) in oracle.extract_document(
                doc, gap_min_spaces=g
            )
        ]
        assert flat(out) == exp, g
    default_texts = [t for _k, t, _o in flat(extract_batch(pdf_of(doc)))]
    wide_texts = [
        t for _k, t, _o in flat(
            extract_batch(pdf_of(doc), gap_min_spaces=3)
        )
    ]
    # default: the 2-space run splits the cell, then max-overlap assignment
    # rejoins the parts in column 0 — but a 3-space threshold keeps the
    # original single-segment reading
    assert "Anti-Foo antibody" in default_texts  # split + rejoined with ' '
    assert "Anti-Foo  antibody" in wide_texts  # untouched (one segment)


ANCHOR_DOC = [
    ("text", "Key Resources Table", "", 0),
    ("text", "REAGENT or RESOURCE     SOURCE      IDENTIFIER", "", 1),
    ("text", "Anti-Foo antibody       Abcam       RRID:AB_123456", "", 2),
    # anchor-less continuation: col0 empty, other cells Uppercase-start
    # (votes mode: only 1/3 columns vote -> NO merge; anchor mode: merge)
    ("text", "                        Lot 7       Batch 9", "", 3),
    ("text", "Bar protein             Sigma       RRID:SCR_004422", "", 4),
]


def test_anchor_row_model_matches_oracle_and_differs_from_votes():
    """J4 analog: the anchor (detected-row) model folds anchor-less rows
    into the row above even when the vote model would not, and both
    implementations agree in every mode."""
    for mode in ("anchor", "votes", "none"):
        out = extract_batch(pdf_of(ANCHOR_DOC), row_model=mode)
        exp = [
            (k, t, o)
            for (_s, k, t, _m, o) in oracle.extract_document(
                ANCHOR_DOC, row_model=mode
            )
        ]
        assert flat(out) == exp, mode
    anchor_texts = [
        t for _k, t, _o in flat(extract_batch(pdf_of(ANCHOR_DOC),
                                                     row_model="anchor"))
    ]
    votes_texts = [
        t for _k, t, _o in flat(extract_batch(pdf_of(ANCHOR_DOC),
                                                     row_model="votes"))
    ]
    assert "Abcam Lot 7" in anchor_texts  # folded by the anchor model
    assert "Lot 7" in votes_texts  # vote model keeps the physical row
    # header rows never merge in any mode
    assert "REAGENT or RESOURCE" in anchor_texts


def test_excepted_lines_and_pages_match_oracle():
    """F2 parity: excepted line/page indices (incl. negative) are honored
    identically by the oracle and the vectorized pipeline."""
    cases = [
        dict(excepted_lines=[2]),        # drop the first data row
        dict(excepted_lines=[-1]),       # drop the last line
        dict(excepted_lines=[0, -2]),    # title + second-to-last
        dict(excepted_lines=[99, -99]),  # out-of-range → ignored
        dict(excepted_pages=[0]),        # skip the (only) detected region
        dict(excepted_pages=[-1]),
        dict(excepted_pages=[5, -7]),    # out-of-range → ignored
        dict(excepted_lines=[3], excepted_pages=[0]),
    ]
    for kw in cases:
        out = extract_batch(pdf_of(DOC), **kw)
        got = flat(out)
        exp = [
            (k, t, o)
            for (_s, k, t, _m, o) in oracle.extract_document(DOC, **kw)
        ]
        assert got == exp, (kw, got, exp)
    # semantics: dropping title+header keeps the region alive (RRID rows
    # still make it relevant) — parity covered above; excepting ALL lines
    # leaves nothing to extract
    assert len(flat(extract_batch(pdf_of(DOC),
                                         excepted_lines=list(range(5))))) == 0
    # and excepting all pages yields nothing while baseline is non-empty
    assert len(flat(extract_batch(pdf_of(DOC)))) > 0
    assert len(flat(extract_batch(pdf_of(DOC), excepted_pages=[0, 1, 2]))) == 0


def test_merge_flag_changes_output_and_matches_oracle():
    merged = extract_batch(pdf_of(DOC), row_model="votes")
    raw = extract_batch(pdf_of(DOC), row_model="none")
    m_texts = [t for _k, t, _o in flat(merged)]
    r_texts = [t for _k, t, _o in flat(raw)]
    assert "Abcam continued text" in m_texts  # merged fold
    assert "continued text" in r_texts  # raw physical row survives
    assert len(r_texts) > len(m_texts)
    # both modes equal the oracle in the same mode
    for mode, out in ((True, merged), (False, raw)):
        exp = [
            (k, t, o)
            for (_s, k, t, _m, o) in oracle.extract_document(DOC, merge_rows=mode)
        ]
        assert flat(out) == exp


def test_nested_result_json_shape():
    out = extract_batch(pdf_of(DOC), "nested")
    assert list(out.columns) == ["doc_id", "result"]
    res = json.loads(out.iloc[0]["result"])
    assert res["paper_id"] == "d0"
    pages = res["result"]["pages"]
    assert pages[0]["page"] == 1
    rows = pages[0]["tables"][0]["rows"]
    assert ["Anti-Foo antibody", "Abcam continued text", "RRID:AB_123456"] in rows
    # grid is dense: every row has the same width
    assert len({len(r) for r in rows}) == 1
    # nested cells == flat text spans, in traversal order
    flat_out = extract_batch(pdf_of(DOC))
    flat_cells = [
        t for t, k in zip(flat_out["text"], flat_out["kind"]) if k == "text"
    ]
    nested_cells = [c for page in pages for tb in page["tables"]
                    for r in tb["rows"] for c in r]
    assert nested_cells == flat_cells


def test_fused_synth_extract_equals_unfused_paths(spark):
    """The round-8 fused synth+extract entry shape (shuffle bare doc ids,
    generate AND extract in one mapInPandas stage) must be row-identical
    to the prior generate → salted-repartition → extract shape, for every
    entry mode (flat/anchor/nested/nested+colspans)."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        ),
    )
    import __spark_entry__ as entry
    from key_resource_table_extractor_spark import job

    sf = "/root/testdata/sf0.001"

    def old_flat(row_model="votes"):
        spans = entry._spans_from_documents(spark, sf)
        spans = job.salted_repartition(spans, 4)
        return job.data_spans(job.extract(spans, row_model=row_model))

    def old_nested(**kw):
        spans = entry._spans_from_documents(spark, sf)
        spans = job.salted_repartition(spans, 4)
        return job.extract_nested(spans, **kw)

    pairs = [
        ("extract_spans", old_flat(), entry.q_extract_spans(spark, sf)),
        (
            "extract_spans_anchor",
            old_flat("anchor"),
            entry.q_extract_spans_anchor(spark, sf),
        ),
        ("extract_nested", old_nested(), entry.q_extract_nested(spark, sf)),
        (
            "extract_nested_colspans",
            old_nested(with_colspans=True, row_model="anchor"),
            entry.q_extract_nested_colspans(spark, sf),
        ),
    ]
    for name, a, b in pairs:
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra, f"{name}: empty result"
        assert ra == rb, f"{name}: fused path diverged from unfused"
