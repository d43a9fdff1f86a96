"""GriTS-style metric sanity + end-to-end quality regression: the pipeline's
recovered grids score >= 0.9 F1 against the reference's gold tables."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from key_resource_table_extractor_spark.eval import (
    grits_both,
    grits_content,
    grits_topology,
)
from key_resource_table_extractor_spark.sources import (
    gold_table_grid,
    gold_table_to_spans,
    load_gold_tables,
)
from tests.conftest import extract_batch

GOLD_DIR = (
    "/root/reference/data/table_content_extract/"
    "gs_bioarxiv_extracted_key_resources_tables_sampled"
)


def test_identity_scores_one():
    rows = [["a", "b"], ["c", "d"]]
    assert grits_content(rows, rows) == (1.0, 1.0, 1.0)


def test_perturbation_monotone():
    gold = [["abcd", "efgh"], ["ijkl", "mnop"]]
    close = [["abcd", "efgh"], ["ijkl", "mnXp"]]
    far = [["zzzz", "yyyy"], ["xxxx", "wwww"]]
    _, _, f_close = grits_content(close, gold)
    _, _, f_far = grits_content(far, gold)
    assert 1.0 > f_close > f_far


def test_missing_rows_lower_recall():
    gold = [["a", "b"], ["c", "d"], ["e", "f"]]
    pred = [["a", "b"], ["c", "d"]]
    p, r, _f = grits_content(pred, gold)
    assert p > r


def test_precision_recall_bounded():
    # padded alignment positions must carry no gain (they have no mass):
    # grits_content([['a']], [['a','']]) used to return precision 2.0
    p, r, f1 = grits_content([["a"]], [["a", ""]])
    assert p == 1.0 and r == 0.5
    for pred, gold in ([[["x"]], [["x", "y", "z"]]], [[["x", ""]], [["x"]]]):
        p, r, f1 = grits_content(pred, gold)
        assert 0.0 <= p <= 1.0 and 0.0 <= r <= 1.0 and 0.0 <= f1 <= 1.0


def test_topology_distinguishes_structure():
    """Content-equal (after colspan flattening) but structure-wrong
    prediction: GriTS_Con stays high while GriTS_Top drops (the factored
    metrics of reference grits.py:372-405)."""
    gold = [
        [{"content": "Deposited data", "colspan": 3}],
        [{"content": "a", "colspan": 1}, {"content": "b", "colspan": 1},
         {"content": "c", "colspan": 1}],
    ]
    pred_right = gold
    pred_flat = [  # colspan flattened into first column (structure-wrong)
        ["Deposited data", "", ""],
        ["a", "b", "c"],
    ]
    c_right, t_right = grits_both(pred_right, gold)
    c_flat, t_flat = grits_both(pred_flat, gold)
    assert c_right == 1.0 and t_right == 1.0
    assert t_flat < t_right  # topology sees the broken span
    assert c_flat >= t_flat  # content is more forgiving of the flattening


def test_topology_identity_on_plain_grids():
    rows = [["a", "b"], ["c", "d"]]
    assert grits_topology(rows, rows) == (1.0, 1.0, 1.0)


def test_factored_alignment_rescues_inserted_column():
    """The factored 2D-MSS (row AND column DP) charges an inserted column
    only its own mass; the positional variant loses every later column."""
    from key_resource_table_extractor_spark.eval import grits_factored

    gold = [["aaa", "bbb", "ccc"], ["ddd", "eee", "fff"]]
    pred = [["aaa", "XX", "bbb", "ccc"], ["ddd", "YY", "eee", "fff"]]
    _p_pos, r_pos, _ = grits_content(pred, gold)
    p_fac, r_fac, f_fac, _ub = grits_factored(pred, gold)
    assert r_fac == 1.0  # every gold cell recovered via column alignment
    assert p_fac == 0.75  # 6 of 8 pred cells align
    assert r_fac > r_pos  # positional compare loses the shifted columns
    # identity and row-subset behavior match the simple variant
    assert grits_factored(gold, gold) == (1.0, 1.0, 1.0, 1.0)
    p, r, _f, _u = grits_factored([gold[0]], gold)
    assert p == 1.0 and r == 0.5


def test_factored_upper_bound():
    """The upper-bound diagnostic (reference grits.py:199-205,214): always
    >= f1, == f1 on identity, and STRICTLY above f1 for a prediction whose
    free per-stage row and column alignments cannot be reconciled into one
    consistent (row, column) alignment."""
    from key_resource_table_extractor_spark.eval import grits_factored

    # 180-degree rotation: under the published factored algorithm each
    # stage's free alignment salvages exactly one cell, and the consistent
    # intersection realizes it — partial credit, bound tight
    gold = [["aaaa", "bbbb"], ["cccc", "dddd"]]
    rotated = [["dddd", "cccc"], ["bbbb", "aaaa"]]
    p, r, f1, ub = grits_factored(rotated, gold)
    assert f1 == ub == 0.25, (f1, ub)
    # strict gap: the row stage and column stage each find alignments the
    # consistent intersection cannot realize simultaneously
    gap_pred = [["eeee", "ffff"], ["aaaa", "eeee"]]
    gap_gold = [["aaaa", "eeee", "eeee"], ["ffff", "bbbb", "cccc"]]
    _p, _r, f, u = grits_factored(gap_pred, gap_gold)
    assert u > f, (f, u)
    # invariant on ordinary perturbations too
    for pred in ([["aaaa", "bbbb"]], [["aaaa", "XX", "bbbb"]], gold):
        _p, _r, f, u = grits_factored(pred, gold)
        assert u >= f


@pytest.mark.skipif(
    not os.path.isdir(GOLD_DIR), reason="reference gold data not available"
)
def test_pipeline_scores_high_on_gold_corpus():
    gold = load_gold_tables(GOLD_DIR)
    rows = []
    for tbl in gold:
        spans = gold_table_to_spans(tbl)
        rows.append(
            (tbl["name"], [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for (k, t, m, o) in spans
            ])
        )
    nested = extract_batch(
        pd.DataFrame(rows, columns=["doc_id", "spans"]), "nested"
    )
    by_doc = dict(zip(nested["doc_id"], nested["result"]))
    f1s = []
    top_f1s = []
    for tbl in gold:
        res = json.loads(by_doc[tbl["name"]])
        pred_rows = [
            r
            for page in res["result"]["pages"]
            for t in page["tables"]
            for r in t["rows"]
        ]
        # gold in the renderer's colspan-expanded shape (what the flat text
        # fixture encodes) for content; span-preserving shape for topology
        _p, _r, f1 = grits_content(pred_rows, gold_table_grid(tbl))
        _tp, _tr, tf1 = grits_topology(
            pred_rows, gold_table_grid(tbl, expand_colspans=False)
        )
        f1s.append((tbl["name"], round(f1, 3)))
        top_f1s.append((tbl["name"], round(tf1, 3)))
    avg = sum(f for _n, f in f1s) / len(f1s)
    avg_top = sum(f for _n, f in top_f1s) / len(top_f1s)
    assert avg >= 0.9, f1s
    # grid shape must match too (colspans are flattened in the plain
    # nested output, so identity is not reachable here)
    assert avg_top >= 0.9, top_f1s


@pytest.mark.skipif(
    not os.path.isdir(GOLD_DIR), reason="reference gold data not available"
)
def test_colspan_round_trip_on_gold_corpus():
    """Full-width spanning rows survive the render → extract round trip in
    the with_colspans nested mode (row_model="none" isolates physical rows,
    the reference's pipeline-A / use_row_info=False semantics)."""
    gold = load_gold_tables(GOLD_DIR)
    target = None
    for tbl in gold:
        grid = gold_table_grid(tbl, expand_colspans=False)
        ncols = max(sum(c["colspan"] for c in row) for row in grid)
        if any(
            len(row) == 1 and row[0]["colspan"] == ncols and row[0]["content"]
            for row in grid
        ) and ncols >= 2:
            target = tbl
            break
    assert target is not None, "gold corpus has no full-width spanning row"
    spans = gold_table_to_spans(target)
    pdf = pd.DataFrame(
        [(target["name"], [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in spans
        ])],
        columns=["doc_id", "spans"],
    )
    nested = extract_batch(pdf, "nested-colspans", row_model="none")
    res = json.loads(nested["result"].iloc[0])
    pred_rows = [
        r
        for page in res["result"]["pages"]
        for t in page["tables"]
        for r in t["rows"]
    ]
    spanned = [
        r for r in pred_rows if len(r) == 1 and r[0]["colspan"] > 1
    ]
    assert spanned, "no spanning cell recovered"
    gold_spans = {
        row[0]["content"]
        for row in gold_table_grid(target, expand_colspans=False)
        if len(row) == 1 and row[0]["colspan"] > 1 and row[0]["content"]
    }
    recovered = {r[0]["content"] for r in spanned}
    assert recovered & gold_spans, (recovered, gold_spans)
