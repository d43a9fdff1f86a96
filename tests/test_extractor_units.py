"""Unit tests for the extraction primitives (SURVEY.md §5 item 2).

Each micro-case pins one decision point of the spec: segmentation, header
rule, continuation threading, gap fill, column trap ranges, cell assignment,
merge votes, empty-row cleanup, region relevance, media boundaries.
"""

from __future__ import annotations

import random
import re

import numpy as np
import pandas as pd
import pytest

from key_resource_table_extractor_spark import oracle, spec, synth
from key_resource_table_extractor_spark.extractor import pipeline
from key_resource_table_extractor_spark.extractor.pipeline import (
    _assign_columns,
    _column_union,
    _segment_scan,
)
from tests.conftest import extract_batch


def spans(*lines, media_at=()):
    """Build a spans list from text lines; media_at = offsets to replace."""
    out = []
    for i, t in enumerate(lines):
        if i in media_at:
            out.append((spec.KIND_MEDIA, "", f"media://m/{i}", i))
        else:
            out.append((spec.KIND_TEXT, t, "", i))
    return out


def run_batch(span_list, doc_id="d0"):
    pdf = pd.DataFrame(
        {
            "doc_id": [doc_id],
            "spans": [
                [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for (k, t, m, o) in span_list
                ]
            ],
        }
    )
    out = extract_batch(pdf)
    out = out[out["kind"].isin(["text", "media"])]
    return list(zip(out["kind"], out["text"], out["media_ref"], out["offset"]))


# ---- segmentation ----------------------------------------------------------

def test_split_segments_gaps_and_tabs():
    segs = oracle.split_segments("aaa bb  cc\tdd   ee ff")
    assert [t for _s, _e, t in segs] == ["aaa bb", "cc", "dd", "ee ff"]
    assert segs[0][:2] == (0, 6)


def test_split_segments_leading_gap_indent():
    segs = oracle.split_segments("        continued text here")
    assert len(segs) == 1
    assert segs[0][0] == 8  # indent preserved


def test_split_segments_blank():
    assert oracle.split_segments("") == []
    assert oracle.split_segments("     ") == []


def test_segment_scan_equals_the_segment_regex_per_line():
    """The batch-wide scan over the joined lines finds exactly the
    matches of ``spec.segment_regex`` in each line, for every gap width;
    lines mix spaces, tabs, newlines and non-ASCII text."""
    rng = random.Random(7)
    alphabet = ["a", "Bc", " ", " ", "  ", "   ", "\t", "\n", "é", "😀", "-"]
    for _ in range(300):
        texts = ["".join(rng.choice(alphabet)
                         for _ in range(rng.randint(0, 12)))
                 for _ in range(rng.randint(0, 6))]
        for gap in (1, 2, 3):
            line, start, end, text, n_segs, indent = _segment_scan(
                np.array(texts, dtype=object), gap)
            found = [list(re.finditer(spec.segment_regex(gap), t))
                     for t in texts]
            assert list(zip(line, start, end, text)) == [
                (i, m.start(), m.end(), m.group())
                for i, ms in enumerate(found) for m in ms]
            assert list(n_segs) == [len(ms) for ms in found]
            assert list(indent) == [ms[0].start() if ms else 0
                                    for ms in found]


# ---- header rule -------------------------------------------------------------

def test_header_rule():
    assert oracle.is_header_line("Key Resources Table")
    assert oracle.is_header_line("REAGENT or RESOURCE  SOURCE  IDENTIFIER")
    assert oracle.is_header_line("resource  source")  # two keywords
    assert not oracle.is_header_line("the resource was measured")  # one keyword
    assert not oracle.is_header_line("plain prose line")


# ---- column union / assignment -------------------------------------------------

def test_column_union_merges_overlaps():
    s = np.array([0, 2, 30, 28, 60])
    e = np.array([10, 12, 40, 38, 70])
    run, cs, ce = _column_union(np.zeros(5, dtype=np.int64), s, e)
    assert list(run) == [0, 0, 0]
    assert list(cs) == [0, 28, 60]
    assert list(ce) == [12, 40, 70]


def test_column_union_tolerance():
    s = np.array([0, 11])
    e = np.array([10, 20])
    # gap of 1 <= tol → merged
    _, cs, _ = _column_union(np.zeros(2, dtype=np.int64), s, e)
    assert len(cs) == 1


def test_assign_columns_max_overlap_and_fallback():
    col_s = np.array([0, 20, 40])
    col_e = np.array([10, 30, 50])
    seg_s = np.array([2, 22, 45, 12])
    seg_e = np.array([8, 28, 60, 18])  # last seg sits in the gap after col0
    got, first, last = _assign_columns(
        np.zeros(4, dtype=np.int64), seg_s, seg_e,
        np.zeros(3, dtype=np.int64), col_s, col_e)
    assert list(got[:3]) == [0, 1, 2]
    assert got[3] == 0  # fallback: rightmost column starting <= seg start
    # non-spanning segments: extent == assigned column (fallback included)
    assert list(first) == [0, 1, 2, 0] and list(last) == [0, 1, 2, 0]


def test_assign_columns_extents_span_multiple_traps():
    col_s = np.array([0, 20, 40])
    col_e = np.array([10, 30, 50])
    seg_s = np.array([2, 25])
    seg_e = np.array([28, 50])  # seg0 spans cols 0-1; seg1 spans cols 1-2
    best, first, last = _assign_columns(
        np.zeros(2, dtype=np.int64), seg_s, seg_e,
        np.zeros(3, dtype=np.int64), col_s, col_e)
    assert list(first) == [0, 1]
    assert list(last) == [1, 2]
    assert list(best) == [0, 2]  # max overlap: 8 in col0 vs 6 in col1; 10 in col2 vs 5 in col1


def test_column_union_keeps_runs_apart():
    run = np.array([1, 0, 1, 0])
    s = np.array([0, 0, 5, 20])
    e = np.array([10, 8, 30, 30])
    r, cs, ce = _column_union(run, s, e)
    assert list(zip(r, cs, ce)) == [(0, 0, 8), (0, 20, 30), (1, 0, 30)]


def test_assign_columns_per_table():
    col_tab = np.array([0, 0, 1, 1])
    col_s = np.array([0, 20, 0, 40])
    col_e = np.array([10, 30, 30, 50])
    seg_tab = np.array([0, 1, 1, 0, 1])
    seg_s = np.array([22, 2, 12, 12, 60])
    seg_e = np.array([28, 8, 18, 18, 70])  # table 1's last column extends
    best, first, last = _assign_columns(
        seg_tab, seg_s, seg_e, col_tab, col_s, col_e)
    assert list(best) == [1, 2, 2, 0, 3]
    assert list(first) == list(best) and list(last) == list(best)


# ---- merge votes ---------------------------------------------------------------

def test_merge_votes_continuation():
    up = ["Antibody X", "Abcam", "RRID:AB_1"]
    lo = ["", "", "extra lowercase tail"]
    assert oracle.merge_votes(up, lo)  # 0.5 + 0.5 + 1.0 → 3/3


def test_merge_votes_new_row():
    up = ["Antibody X", "Abcam", "RRID:AB_1"]
    lo = ["Protein Y", "Sigma", "RRID:AB_2"]
    assert not oracle.merge_votes(up, lo)


def test_merge_votes_dangling_hyphen():
    up = ["Name", "long descrip-", "RRID:AB_1"]
    lo = ["", "tion Rest", ""]  # uppercase but upper ends with '-'
    assert oracle.merge_votes(up, lo)


# ---- end-to-end micro docs (oracle == batch on each) -----------------------------

TABLE = [
    "Key Resources Table",
    "REAGENT or RESOURCE     SOURCE      IDENTIFIER",
    "Anti-Foo antibody       Abcam       RRID:AB_123456",
    "Bar protein             Sigma       RRID:SCR_004422",
]


def both(span_list):
    exp = [
        (k, t, m, o) for (_s, k, t, m, o) in oracle.extract_document(span_list)
    ]
    got = run_batch(span_list)
    assert got == exp
    return got


def test_simple_table_extracted():
    got = both(spans("prose line one", *TABLE, "prose after"))
    texts = [t for k, t, _m, _o in got if k == "text"]
    assert "Anti-Foo antibody" in texts
    assert "RRID:AB_123456" in texts


def test_no_table_no_output():
    got = both(spans("just prose", "more prose here", "and more"))
    assert got == []


def test_non_relevant_table_dropped():
    got = both(
        spans(
            "intro",
            "12        0.531       4511",
            "99        0.122       8822",
            "43        0.910       1023",
        )
    )
    assert got == []


def test_overflow_row_merges():
    got = both(
        spans(
            *TABLE,
            "                        continued text",
        )
    )
    texts = [t for k, t, _m, _o in got if k == "text"]
    # continuation folded into the SOURCE column of the last row
    assert any(t == "Sigma continued text" for t in texts)


def test_media_boundary_passthrough_and_prose_media_dropped():
    lst = spans("prose", *TABLE, "after", media_at=())
    # media right before the table (offset 0 is prose; insert at boundary)
    lst = (
        [(spec.KIND_TEXT, "prose", "", 0), (spec.KIND_MEDIA, "", "media://d/1", 1)]
        + [(spec.KIND_TEXT, t, "", i + 2) for i, t in enumerate(TABLE)]
        + [
            (spec.KIND_MEDIA, "", "media://d/2", len(TABLE) + 2),
            (spec.KIND_TEXT, "far away prose", "", len(TABLE) + 3),
            (spec.KIND_TEXT, "more prose", "", len(TABLE) + 4),
            (spec.KIND_MEDIA, "", "media://d/3", len(TABLE) + 5),
        ]
    )
    got = both(lst)
    refs = [m for k, _t, m, _o in got if k == "media"]
    assert refs == ["media://d/1", "media://d/2"]  # boundary in, far-away out


def test_empty_rows_dropped():
    got = both(
        spans(
            *TABLE[:3],
            "",
            TABLE[3],
        )
    )
    # blank line splits the island; both halves need relevance+size
    texts = [t for _k, t, _m, _o in got]
    assert "Anti-Foo antibody" in texts


def test_gap_fill_bridges_short_prose():
    got = both(
        spans(
            *TABLE,
            "single stray note",  # 1 non-table line between table lines
            "Baz enzyme              Promega     RRID:AB_777777",
        )
    )
    texts = [t for _k, t, _m, _o in got]
    assert "Baz enzyme" in texts
    assert any("single stray note" in t for t in texts)  # gap-filled into table


def test_rrid_only_line_keeps_region_relevant():
    got = both(
        spans(
            "col a     col b     col c",
            "one       two       three",
            "RRID:AB_000001      x         y",
        )
    )
    texts = [t for _k, t, _m, _o in got]
    assert any("RRID:AB_000001" in t for t in texts)


def test_error_isolation_bad_doc_does_not_fail_batch():
    pdf = pd.DataFrame(
        {
            "doc_id": ["ok", "weird"],
            "spans": [
                [
                    {"kind": "text", "text": t, "media_ref": "", "offset": i}
                    for i, t in enumerate(TABLE)
                ],
                [{"kind": "text", "text": None, "media_ref": "", "offset": 0}],
            ],
        }
    )
    out = extract_batch(pdf)
    assert (out[out.doc_id == "ok"]["kind"] == "text").any()
    assert set(out.kind) == {"text"}  # no stats row, no error
    # the bucketed batch's count columns: one table, no error
    counted = extract_batch(pdf.assign(bucket=0))
    assert counted.drop(columns=["bucket", "__tables", "__error"]).equals(out)
    assert counted["__tables"].sum() == 1
    assert not counted["__error"].any()


def test_failing_doc_is_bisected_out_of_the_batch(monkeypatch):
    """A stage that raises on one doc of a 64-doc batch: the batch-wide
    call is retried on halves until that doc fails alone, so it yields
    one error row and every other doc keeps its clean rows and counts."""
    ids = [synth.KEY_FORMAT.format(i, seed=3) for i in range(64)]
    pdf = pd.DataFrame({
        "doc_id": ids,
        "spans": [[{"kind": k, "text": t, "media_ref": m, "offset": o}
                   for k, t, m, o in synth.generate_doc(d, seed=3)]
                  for d in ids],
        "bucket": 0,
    })
    clean = extract_batch(pdf)
    per_doc = clean.groupby("doc_id")["__tables"].sum()
    bad = ids.index(per_doc.idxmax())  # the doc with the most tables
    assert per_doc.max() > 0
    build = pipeline._build_regions

    def failing(li_doc, *args, **kwargs):
        if bad in li_doc:
            raise RuntimeError("stage failed")
        return build(li_doc, *args, **kwargs)

    monkeypatch.setattr(pipeline, "_build_regions", failing)
    got = extract_batch(pdf)
    err = got[got["doc_id"] == ids[bad]]
    assert list(err["kind"]) == [spec.KIND_ERROR] and list(err["seq"]) == [0]
    assert "RuntimeError: stage failed" in err["text"].iloc[0]
    keep = clean["doc_id"] != ids[bad]
    assert got[got["doc_id"] != ids[bad]].reset_index(drop=True).equals(
        clean[keep].reset_index(drop=True))
    assert got["__error"].sum() == 1
    assert got["__tables"].sum() == clean["__tables"].sum() - per_doc.max()


def test_bad_option_fails_the_call_not_each_doc():
    """An option no doc could run with raises once from the call instead
    of being retried on halves into one error row per doc."""
    pdf = pd.DataFrame({
        "doc_id": ["a", "b"],
        "spans": [[{"kind": "text", "text": "x", "media_ref": "",
                    "offset": 0}]] * 2,
    })
    for options in ({"excepted_lines": ["0"]}, {"excepted_pages": [1.5]},
                    {"excepted_pages": 2}, {"gap_min_spaces": 0}):
        with pytest.raises((TypeError, ValueError)):
            extract_batch(pdf, **options)
    out = extract_batch(pdf, excepted_lines=(np.int64(0),),
                        excepted_pages=[-1])
    assert not (out["kind"] == spec.KIND_ERROR).any()
