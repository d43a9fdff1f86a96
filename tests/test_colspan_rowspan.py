"""Mid-row spanning-cell (colspan) recovery and rowspan carriage:

- a colspan>1 cell whose rendered content physically crosses its covered
  column trap ranges round-trips through render → extract →
  with_colspans nested output (reference models arbitrary spanning cells,
  table_model.py:239-264; gold JSON carries colspan/rowspan,
  merge_model_data_prep.py:296-320);
- rowspan cells lay out with HTML occupancy semantics in the fixture
  renderer, the gold grid expansion, and the GriTS grid expansion;
- spans with no physical evidence stay colspan=1 (documented char-space
  deviation).
"""

from __future__ import annotations

import json

import pandas as pd

from key_resource_table_extractor_spark.eval import (
    grits_content,
    grits_factored,
)
from key_resource_table_extractor_spark.sources import (
    gold_table_grid,
    gold_table_to_spans,
)
from tests.conftest import extract_batch


def _cell(content, colspan=1, rowspan=None):
    c = {"content": content, "colspan": colspan}
    if rowspan:
        c["rowspan"] = rowspan
    return c


MIDSPAN_TBL = {
    "name": "midspan",
    "rows": [
        [_cell("REAGENT and RESOURCE"), _cell("SOURCE"), _cell("IDENTIFIER")],
        [_cell("Anti-Foo antibody"), _cell("Abcam"), _cell("RRID:AB_123456")],
        [_cell(""), _cell("a long spanning annotation crossing both columns", 2)],
        [_cell("Bar protein"), _cell("Sigma"), _cell("RRID:SCR_004422")],
    ],
}

ROWSPAN_TBL = {
    "name": "rowspan",
    "rows": [
        [_cell("REAGENT and RESOURCE"), _cell("SOURCE"), _cell("IDENTIFIER")],
        [_cell("Primer fwd GGTACC"), _cell("IDT"),
         _cell("RRID:AB_11111 for the pair", rowspan=2)],
        [_cell("Primer rev AAGCTT"), _cell("IDT")],
        [_cell("Bar protein"), _cell("Sigma"), _cell("RRID:SCR_004422")],
    ],
}


def _pdf_of(tbl):
    spans = gold_table_to_spans(tbl)
    return pd.DataFrame(
        [(tbl["name"], [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in spans
        ])],
        columns=["doc_id", "spans"],
    )


def _nested_rows(nested):
    res = json.loads(nested["result"].iloc[0])
    return [
        r
        for page in res["result"]["pages"]
        for t in page["tables"]
        for r in t["rows"]
    ]


def test_midrow_colspan_round_trip():
    """Gold row [("",1), (content, colspan=2)] survives render → extract →
    with_colspans output with the SAME cell shape."""
    nested = extract_batch(
        _pdf_of(MIDSPAN_TBL), "nested-colspans", row_model="none"
    )
    rows = _nested_rows(nested)
    # drop the prepended title row, compare the data rows cell-for-cell
    got = [
        [(c["content"], c["colspan"]) for c in r] for r in rows[1:]
    ]
    exp = [
        [(c["content"], c["colspan"]) for c in r]
        for r in gold_table_grid(MIDSPAN_TBL, expand_colspans=False)
    ]
    assert got == exp, (got, exp)
    assert [(("", 1)), ("a long spanning annotation crossing both columns", 2)] in got


def test_rowspan_round_trip():
    """Rowspan occupancy: the covered row renders with a blank under the
    spanning cell, the expanded gold grid carries the "" filler in the
    covered position, and the extracted content grid matches it exactly."""
    gold_grid = gold_table_grid(ROWSPAN_TBL)
    assert gold_grid[2] == ["Primer rev AAGCTT", "IDT", ""]  # filler carried
    nested = extract_batch(_pdf_of(ROWSPAN_TBL), "nested", row_model="none")
    rows = _nested_rows(nested)
    assert rows[1:] == gold_grid  # title row aside, exact grid round-trip
    # the dict-shape grid keeps extents aligned via a filler dict cell
    dict_grid = gold_table_grid(ROWSPAN_TBL, expand_colspans=False)
    assert dict_grid[2][2] == {"content": "", "colspan": 1}


def test_folded_continuation_recovers_colspan():
    """VERDICT case: a folded cell whose continuation segment physically
    spans >=2 trap ranges absorbs its empty right neighbor into colspan=2
    (votes merge mode); a short continuation stays colspan=1."""
    doc = [
        ("text", "Key Resources Table", "", 0),
        ("text", "REAGENT or RESOURCE     SOURCE     IDENTIFIER", "", 1),
        ("text", "Anti-Foo antibody                  RRID:AB_123456", "", 2),
        ("text", "    with a continuation flowing beyond one trap range", "", 3),
        ("text", "Bar protein             Sigma      RRID:SCR_004422", "", 4),
    ]
    pdf = pd.DataFrame(
        [("d0", [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in doc
        ])],
        columns=["doc_id", "spans"],
    )
    rows = _nested_rows(extract_batch(pdf, "nested-colspans"))
    spanning = [
        c for r in rows for c in r
        if c["colspan"] == 2 and "continuation flowing" in c["content"]
    ]
    assert spanning, rows
    # the folded cell anchors at its max-overlap column (the RRID cell) and
    # absorbs the empty middle column its segment physically covers
    assert spanning[0]["content"].startswith("RRID:AB_123456")
    # non-empty neighbors are never absorbed: the Bar row stays colspan 1
    bar = next(r for r in rows if r[0]["content"].startswith("Bar"))
    assert [c["colspan"] for c in bar] == [1, 1, 1]


def test_unevidenced_span_stays_colspan_one():
    """A gold colspan whose content stays inside ONE trap range has no
    physical evidence — emitted as colspan 1 (documented deviation)."""
    tbl = {
        "name": "short",
        "rows": [
            [_cell("REAGENT and RESOURCE"), _cell("SOURCE"),
             _cell("IDENTIFIER")],
            [_cell("Anti-Foo antibody"), _cell("Abcam"),
             _cell("RRID:AB_123456")],
            [_cell("Bar protein"), _cell("tiny", 2)],  # 'tiny' fits in col 1
        ],
    }
    rows = _nested_rows(
        extract_batch(_pdf_of(tbl), "nested-colspans", row_model="none")
    )
    bar = next(r for r in rows if r[0]["content"].startswith("Bar"))
    assert [(c["content"], c["colspan"]) for c in bar] == [
        ("Bar protein", 1), ("tiny", 1), ("", 1)
    ]


def test_grits_grid_rowspan_occupancy():
    """GriTS grid expansion honors rowspan occupancy: identity on dict
    tables with rowspans scores 1.0, and dropping the covered filler row's
    alignment costs recall."""
    dict_rows = ROWSPAN_TBL["rows"]  # raw gold cells incl. rowspan attrs
    assert grits_factored(dict_rows, dict_rows) == (1.0, 1.0, 1.0, 1.0)
    # the factored metric's grid expansion (occupancy) makes the plain
    # expanded grid and the raw rowspan dict shape score as identical
    p, r, f1, ub = grits_factored(gold_table_grid(ROWSPAN_TBL), dict_rows)
    assert (p, r, f1, ub) == (1.0, 1.0, 1.0, 1.0)
    # the positional variant (no occupancy expansion) sees the extra filler
    # cell — strictly less credit, never more
    assert grits_content(gold_table_grid(ROWSPAN_TBL), dict_rows)[2] < 1.0


ROWSPAN_COL0_TBL = {
    # a col-0 spanning cell over two full detected rows — the shape the
    # anchor model can attest (reference spanning-cell boxes y-covering
    # row boxes, table_model.py:239-264, reduced to char space)
    "name": "rowspan_col0",
    "rows": [
        [_cell("REAGENT and RESOURCE"), _cell("SOURCE"),
         _cell("IDENTIFIER")],
        [_cell("Antibody pair kit", rowspan=2), _cell("anti-X mouse"),
         _cell("RRID:AB_11111")],
        [_cell("anti-Y rabbit"), _cell("RRID:AB_22222")],
        [_cell("Bar protein"), _cell("Sigma"), _cell("RRID:SCR_004422")],
    ],
}


def test_anchor_rowspan_gold_round_trip():
    """Gold-parity: a col-0 rowspan=2 table rendered to spans and
    extracted under row_model="anchor" + with_colspans reproduces the
    gold-JSON cell shape exactly — carrier cell bears rowspan=2, covered
    row OMITS the covered position (HTML occupancy), and the rowspan-aware
    GriTS grids score full identity."""
    nested = extract_batch(
        _pdf_of(ROWSPAN_COL0_TBL), "nested-colspans", row_model="anchor"
    )
    rows = _nested_rows(nested)
    pred = rows[1:]  # drop the prepended title row
    carrier = pred[1][0]
    assert carrier == {
        "content": "Antibody pair kit", "colspan": 1, "rowspan": 2
    }
    # covered row omits the covered col-0 position: two cells only
    assert [(c["content"], c["colspan"]) for c in pred[2]] == [
        ("anti-Y rabbit", 1), ("RRID:AB_22222", 1)
    ]
    gold = ROWSPAN_COL0_TBL["rows"]
    assert grits_content(pred, gold) == (1.0, 1.0, 1.0)
    assert grits_factored(pred, gold) == (1.0, 1.0, 1.0, 1.0)


def test_anchor_rowspan_run_of_three():
    """rowspan = 1 + run of consecutive covered rows."""
    tbl = {
        "name": "rowspan3",
        "rows": [
            [_cell("REAGENT and RESOURCE"), _cell("SOURCE"),
             _cell("IDENTIFIER")],
            [_cell("Oligo set", rowspan=3), _cell("fwd GGTACC"),
             _cell("RRID:AB_1")],
            [_cell("rev AAGCTT"), _cell("RRID:AB_2")],
            [_cell("probe TTGGCC"), _cell("RRID:AB_3")],
            [_cell("Bar protein"), _cell("Sigma"), _cell("RRID:SCR_44")],
        ],
    }
    pred = _nested_rows(
        extract_batch(_pdf_of(tbl), "nested-colspans", row_model="anchor",
                      midcol_rowspans=True)
    )[1:]
    assert pred[1][0]["rowspan"] == 3
    assert len(pred[2]) == 2 and len(pred[3]) == 2
    assert grits_factored(pred, tbl["rows"]) == (1.0, 1.0, 1.0, 1.0)


def test_anchor_rowspan_skips_wrap_fragments():
    """A continuation line with content in exactly ONE column is a wrap
    fragment: it folds into the row above and NO rowspan is asserted."""
    doc = [
        ("text", "Key Resources Table", "", 0),
        ("text", "REAGENT and RESOURCE   SOURCE   IDENTIFIER", "", 1),
        ("text", "Anti-Foo antibody      Abcam    RRID:AB_123456", "", 2),
        ("text", "                       extra", "", 3),
        ("text", "Bar protein            Sigma    RRID:SCR_004422", "", 4),
    ]
    pdf = pd.DataFrame(
        [("d0", [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in doc
        ])],
        columns=["doc_id", "spans"],
    )
    rows = _nested_rows(
        extract_batch(pdf, "nested-colspans", row_model="anchor")
    )
    assert not any("rowspan" in c for r in rows for c in r)
    foo = next(r for r in rows if r[0]["content"].startswith("Anti-Foo"))
    assert foo[1]["content"] == "Abcam extra"  # wrap folded as before


ROWSPAN_MID_TBL = {
    # spanning cells in BOTH the anchor column and a mid column over the
    # same covered run — the position-agnostic shape the reference
    # predicts from spanning-cell boxes (table_model.py:239-264)
    "name": "rowspan_mid",
    "rows": [
        [_cell("REAGENT and RESOURCE"), _cell("SOURCE"), _cell("NOTE"),
         _cell("IDENTIFIER")],
        [_cell("Antibody pair kit", rowspan=2), _cell("anti-X mouse"),
         _cell("shared note", rowspan=2), _cell("RRID:AB_11111")],
        [_cell("anti-Y rabbit"), _cell("RRID:AB_22222")],
        [_cell("Bar protein"), _cell("Sigma"), _cell("note B"),
         _cell("RRID:SCR_004422")],
    ],
}


def test_mid_column_rowspan_gold_round_trip():
    """VERDICT r5 case: a spanning cell in a NON-anchor column over the
    same covered run the col-0 path uses — covered detected rows stay
    empty in that column, so the carrier cell gains rowspan=k and the
    covered rows omit the covered position. Scored to full identity by
    the rowspan-aware GriTS grids, including topology."""
    from key_resource_table_extractor_spark.eval.grits_like import (
        grits_topology,
    )

    nested = extract_batch(
        _pdf_of(ROWSPAN_MID_TBL), "nested-colspans", row_model="anchor",
        midcol_rowspans=True,
    )
    pred = _nested_rows(nested)[1:]  # drop the prepended title row
    assert pred[1][0] == {
        "content": "Antibody pair kit", "colspan": 1, "rowspan": 2
    }
    assert pred[1][2] == {
        "content": "shared note", "colspan": 1, "rowspan": 2
    }
    # covered row omits BOTH covered positions (cols 0 and 2)
    assert [(c["content"], c["colspan"]) for c in pred[2]] == [
        ("anti-Y rabbit", 1), ("RRID:AB_22222", 1)
    ]
    gold = ROWSPAN_MID_TBL["rows"]
    assert grits_content(pred, gold) == (1.0, 1.0, 1.0)
    assert grits_factored(pred, gold) == (1.0, 1.0, 1.0, 1.0)
    assert grits_topology(pred, gold) == (1.0, 1.0, 1.0)


def test_mid_column_rowspan_prefix_of_run():
    """A mid-column carrier spans only the PREFIX of the covered run over
    which the column stays empty; the col-0 anchor still spans the whole
    run. Full identity against the equivalent gold table."""
    tbl = {
        "name": "rowspan_prefix",
        "rows": [
            [_cell("REAGENT and RESOURCE"), _cell("SOURCE"), _cell("NOTE"),
             _cell("IDENTIFIER")],
            [_cell("Oligo set", rowspan=3), _cell("fwd GGTACC"),
             _cell("batch 7", rowspan=2), _cell("RRID:AB_1")],
            [_cell("rev AAGCTT"), _cell("RRID:AB_2")],
            [_cell("probe TTGGCC"), _cell("batch 9"), _cell("RRID:AB_3")],
            [_cell("Bar protein"), _cell("Sigma"), _cell("note B"),
             _cell("RRID:SCR_44")],
        ],
    }
    pred = _nested_rows(
        extract_batch(_pdf_of(tbl), "nested-colspans", row_model="anchor",
                      midcol_rowspans=True)
    )[1:]
    assert pred[1][0]["rowspan"] == 3      # anchor spans the whole run
    assert pred[1][2]["rowspan"] == 2      # mid column spans its prefix
    assert len(pred[2]) == 2               # cols 0 and 2 both covered
    assert len(pred[3]) == 3               # only col 0 covered
    assert pred[3][0]["content"] == "probe TTGGCC"
    assert grits_factored(pred, tbl["rows"]) == (1.0, 1.0, 1.0, 1.0)


def test_rowspan_claims_cancel_independently():
    """Occupancy verification is per-claim: a consistent mid-column claim
    survives while a conflicting claim in the same row is cancelled."""
    from key_resource_table_extractor_spark.extractor.pipeline import (
        _apply_rowspan_occupancy,
    )

    grid = [
        [{"content": "A", "colspan": 1, "rowspan": 2},
         {"content": "x", "colspan": 1},
         {"content": "N", "colspan": 1, "rowspan": 2}],
        [{"content": "B", "colspan": 1},  # conflict: covered pos non-empty
         {"content": "y", "colspan": 1},
         {"content": "", "colspan": 1}],  # consistent: empty, removed
    ]
    out = _apply_rowspan_occupancy([r[:] for r in grid])
    assert "rowspan" not in out[0][0]            # col-0 claim cancelled
    assert out[0][2].get("rowspan") == 2          # mid claim survives
    assert [(c["content"],) for c in out[1]] == [("B",), ("y",)]


def test_non_anchor_rowspan_still_flat():
    """A rowspan in a NON-col-0 column (covered rows keep their anchors)
    has no fold evidence — emitted flat, scored fairly by the
    rowspan-aware grids (unchanged documented deviation)."""
    rows = _nested_rows(
        extract_batch(_pdf_of(ROWSPAN_TBL), "nested-colspans",
                      row_model="anchor")
    )
    assert not any("rowspan" in c for r in rows for c in r)


def test_votes_model_emits_no_rowspans():
    """Rowspan recovery is anchor-model-only: the votes model's fold
    groups are single wrapped rows, so the default nested-colspans path
    stays rowspan-free on the same input."""
    rows = _nested_rows(
        extract_batch(_pdf_of(ROWSPAN_COL0_TBL), "nested-colspans")
    )
    assert not any("rowspan" in c for r in rows for c in r)


def test_rowspan_property_round_trip():
    """Property: random gold tables whose only spanning structure is
    col-0 rowspans over full rows round-trip EXACTLY through render →
    anchor extraction → nested colspans (carrier attr + occupancy), and
    GriTS scores full identity. Deterministic seed sweep (hypothesis-
    style without the Spark-session cost per example)."""
    import random

    from key_resource_table_extractor_spark.eval.grits_like import (
        grits_topology,
    )

    rng = random.Random(99)
    words = ["Abcam", "Sigma", "probe", "vector", "kit", "assay"]
    for trial in range(40):
        rows = [[_cell("REAGENT and RESOURCE"), _cell("SOURCE"),
                 _cell("IDENTIFIER")]]
        r_i = 0
        while r_i < rng.randint(2, 6):
            span = rng.choice([1, 1, 2, 3])
            name = f"{rng.choice(words).capitalize()} item{trial}_{r_i}"
            lead = [_cell(name, rowspan=span) if span > 1 else _cell(name)]
            rows.append(lead + [
                _cell(f"{rng.choice(words)} v{r_i}"),
                _cell(f"RRID:AB_{rng.randint(1, 99999):05d}"),
            ])
            for s in range(1, span):
                rows.append([
                    _cell(f"{rng.choice(words)} v{r_i}_{s}"),
                    _cell(f"RRID:AB_{rng.randint(1, 99999):05d}"),
                ])
            r_i += span
        tbl = {"name": f"prop{trial}", "rows": rows}
        pred = _nested_rows(
            extract_batch(_pdf_of(tbl), "nested-colspans", row_model="anchor")
        )[1:]
        c = grits_content(pred, rows)
        t = grits_factored(pred, rows)
        topo = grits_topology(pred, rows)
        assert c == (1.0, 1.0, 1.0), (trial, pred, rows)
        assert t == (1.0, 1.0, 1.0, 1.0), trial
        assert topo == (1.0, 1.0, 1.0), trial


def test_mid_rowspan_property_round_trip():
    """Property: random 4-column gold tables with col-0 rowspans AND
    independent mid-column rowspan prefixes round-trip exactly through
    render → anchor extraction → nested colspans, scoring full identity
    on all three GriTS grids."""
    import random

    from key_resource_table_extractor_spark.eval.grits_like import (
        grits_topology,
    )

    rng = random.Random(7)
    words = ["Abcam", "Sigma", "probe", "vector", "kit", "assay"]
    for trial in range(40):
        rows = [[_cell("REAGENT and RESOURCE"), _cell("SOURCE"),
                 _cell("NOTE"), _cell("IDENTIFIER")]]
        r_i = 0
        while r_i < rng.randint(2, 6):
            span = rng.choice([1, 2, 2, 3])
            # mid-column span: a prefix of the covered run (possibly all)
            mid = rng.randint(1, span) if span > 1 else 1
            name = f"{rng.choice(words).capitalize()} item{trial}_{r_i}"
            note = f"note {rng.choice(words)} {r_i}"
            lead = [
                _cell(name, rowspan=span) if span > 1 else _cell(name),
                _cell(f"{rng.choice(words)} v{r_i}"),
                _cell(note, rowspan=mid) if mid > 1 else _cell(note),
                _cell(f"RRID:AB_{rng.randint(1, 99999):05d}"),
            ]
            rows.append(lead)
            for s in range(1, span):
                covered = [
                    _cell(f"{rng.choice(words)} v{r_i}_{s}"),
                    _cell(f"RRID:AB_{rng.randint(1, 99999):05d}"),
                ]
                if s >= mid:  # past the mid span: NOTE has its own cell
                    covered.insert(1, _cell(f"note tail {r_i}_{s}"))
                rows.append(covered)
            r_i += span
        tbl = {"name": f"mprop{trial}", "rows": rows}
        pred = _nested_rows(
            extract_batch(_pdf_of(tbl), "nested-colspans", row_model="anchor",
                          midcol_rowspans=True)
        )[1:]
        assert grits_content(pred, rows) == (1.0, 1.0, 1.0), (trial, pred)
        assert grits_factored(pred, rows) == (1.0, 1.0, 1.0, 1.0), trial
        assert grits_topology(pred, rows) == (1.0, 1.0, 1.0), trial


def test_rowspan_cancelled_on_conflicting_occupancy():
    """_apply_rowspan_occupancy cancels the claim (rather than emitting
    inconsistent structure) when a covered position is non-empty."""
    from key_resource_table_extractor_spark.extractor.pipeline import (
        _apply_rowspan_occupancy,
    )

    grid = [
        [{"content": "A", "colspan": 1, "rowspan": 2},
         {"content": "x", "colspan": 1}],
        [{"content": "B", "colspan": 1},  # conflict: covered pos non-empty
         {"content": "y", "colspan": 1}],
    ]
    out = _apply_rowspan_occupancy([r[:] for r in grid])
    assert "rowspan" not in out[0][0]
    assert out[1][0]["content"] == "B"  # covered row untouched


def test_rowspan_never_carried_by_header_or_divider():
    """A covered run whose preceding group is the HEADER (or a full-width
    divider) is not spanning-cell evidence: the rows stay separate and no
    rowspan is asserted (reference derives rowspans from spanning-cell
    boxes over DATA rows only, table_model.py:239-264)."""
    doc = [
        ("text", "Key Resources Table", "", 0),
        ("text", "REAGENT and RESOURCE   SOURCE        IDENTIFIER", "", 1),
        # first data line is anchor-less but FULL (>=2 non-empty cells):
        # the only group above it is the header
        ("text", "                       anti-X mouse  RRID:AB_11111", "", 2),
        ("text", "Bar protein            Sigma         RRID:SCR_00442", "", 3),
    ]
    pdf = pd.DataFrame(
        [("d0", [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in doc
        ])],
        columns=["doc_id", "spans"],
    )
    rows = _nested_rows(
        extract_batch(pdf, "nested-colspans", row_model="anchor")
    )
    assert not any("rowspan" in c for r in rows for c in r), rows
    # the anchor-less full row still stands alone (not folded)
    assert any(
        r[1]["content"] == "anti-X mouse" and r[0]["content"] == ""
        for r in rows if len(r) == 3
    ), rows


def test_sparse_column_false_positive_is_gated():
    """ADVICE r6 (medium): a col-0 rowspan whose covered row holds a
    genuinely EMPTY mid-column cell renders byte-identically to a
    mid-column spanning cell. The DEFAULT (midcol_rowspans=False) stays
    flat there and keeps the perfect GriTS round-trip; the opt-in claims
    the spurious mid-column rowspan and pays the documented score hit —
    pinning both directions of the trade."""
    from key_resource_table_extractor_spark.eval.grits_like import (
        grits_topology,
    )

    tbl = {
        "name": "sparse_note",
        "rows": [
            [_cell("REAGENT and RESOURCE"), _cell("SOURCE"), _cell("NOTE"),
             _cell("IDENTIFIER")],
            [_cell("Primer pair", rowspan=2), _cell("fwd GGTACC"),
             _cell("lot 12"), _cell("RRID:AB_1")],
            # covered row: NOTE is genuinely empty — NOT covered by a span
            [_cell("rev AAGCTT"), _cell(""), _cell("RRID:AB_2")],
            [_cell("Bar protein"), _cell("Sigma"), _cell("lot 99"),
             _cell("RRID:SCR_44")],
        ],
    }
    gold = tbl["rows"]
    # default: flat mid columns — exact round-trip, full identity
    pred = _nested_rows(
        extract_batch(_pdf_of(tbl), "nested-colspans", row_model="anchor")
    )[1:]
    assert pred[1][0].get("rowspan") == 2       # col-0 recovery still on
    assert not any(
        "rowspan" in c for r in pred for c in r[1:]
    ), "no mid-column claims under the default"
    assert grits_content(pred, gold) == (1.0, 1.0, 1.0), pred
    assert grits_factored(pred, gold) == (1.0, 1.0, 1.0, 1.0)
    assert grits_topology(pred, gold) == (1.0, 1.0, 1.0)
    # opt-in: the empty NOTE cell under the covered run is claimed as a
    # spurious rowspan=2 — the false-positive direction, score degraded
    pred_on = _nested_rows(
        extract_batch(_pdf_of(tbl), "nested-colspans", row_model="anchor",
                      midcol_rowspans=True)
    )[1:]
    assert pred_on[1][2].get("rowspan") == 2    # the spurious claim
    f1c = grits_content(pred_on, gold)[0]
    topo_f1 = grits_topology(pred_on, gold)[2]
    assert f1c < 1.0 and topo_f1 < 1.0, (f1c, topo_f1)
