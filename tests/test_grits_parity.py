"""Two-implementation safety net for the eval metric itself: an
independent, test-only implementation of the published factored 2D-MSS
(Smock et al., GriTS; reference scripts/grits.py:166-213) checked for
exact (f1, upper_bound) equality against ``eval.grits_factored`` — the
same discipline ``oracle.py`` provides for the extraction cascade.

The twin below follows the reference's structure (pre-computed pairwise
cell rewards, an outer row alignment whose reward is a free inner 1D
alignment, the same over the transpose for columns, consistent
intersection sum, min-of-stages f-score upper bound) but is written
independently: dict-free reward closures, recursive-free DP, no numpy.
"""

from __future__ import annotations

import random
from difflib import SequenceMatcher

import pandas as pd
import pytest

from key_resource_table_extractor_spark.eval import grits_factored
from tests.conftest import extract_batch


# ---------------------------------------------------------------------------
# independent reference-algorithm twin (test-only)
# ---------------------------------------------------------------------------

def _ref_lcs_sim(a: str, b: str) -> float:
    """2 * |LCS| / (|a| + |b|) via matching blocks (reference
    grits.py:216-221 lcs_similarity)."""
    if not a and not b:
        return 1.0
    m = sum(
        bl.size for bl in SequenceMatcher(None, a, b).get_matching_blocks()
    )
    return 2.0 * m / (len(a) + len(b))


def _ref_fscore(tp: float, n_true: int, n_pos: int) -> float:
    """Reference compute_fscore conventions (grits.py:13-36)."""
    p = tp / n_pos if n_pos > 0 else 1.0
    r = tp / n_true if n_true > 0 else 1.0
    return 2 * p * r / (p + r) if p + r > 0 else 0.0


def _ref_align(na: int, nb: int, reward):
    """Order-preserving DP alignment over index ranges; forward-pass
    pointers with the reference's tie order (diag, then skip-a, then
    skip-b; grits.py:99-117). Returns (pairs, total_score)."""
    dp = [[0.0] * (nb + 1) for _ in range(na + 1)]
    pt = [[0] * (nb + 1) for _ in range(na + 1)]
    for i in range(1, na + 1):
        pt[i][0] = -1
    for j in range(1, nb + 1):
        pt[0][j] = 1
    for i in range(1, na + 1):
        for j in range(1, nb + 1):
            d = dp[i - 1][j - 1] + reward(i - 1, j - 1)
            up = dp[i - 1][j]
            lf = dp[i][j - 1]
            best = max(d, up, lf)
            dp[i][j] = best
            pt[i][j] = 0 if d == best else (-1 if up == best else 1)
    pairs = []
    i, j = na, nb
    while i or j:
        if pt[i][j] == -1:
            i -= 1
        elif pt[i][j] == 1:
            j -= 1
        else:
            i -= 1
            j -= 1
            pairs.append((i, j))
    pairs.reverse()
    return pairs, dp[na][nb]


def ref_factored_2dmss(true_grid, pred_grid):
    """(f1, upper_bound) of the published factored 2D-MSS on two
    rectangular string grids (true first, as in the reference)."""
    tr, tc = len(true_grid), len(true_grid[0])
    pr, pc = len(pred_grid), len(pred_grid[0])
    cell = {
        (i, j, k, l): _ref_lcs_sim(true_grid[i][j], pred_grid[k][l])
        for i in range(tr)
        for j in range(tc)
        for k in range(pr)
        for l in range(pc)
    }

    def row_reward(i, k):
        return _ref_align(
            tc, pc, lambda j, l: cell[(i, j, k, l)]
        )[1]

    def col_reward(j, l):
        return _ref_align(
            tr, pr, lambda i, k: cell[(i, j, k, l)]
        )[1]

    row_pairs, row_score = _ref_align(tr, pr, row_reward)
    col_pairs, col_score = _ref_align(tc, pc, col_reward)
    upper = _ref_fscore(min(row_score, col_score), tr * tc, pr * pc)
    consistent = sum(
        cell[(i, j, k, l)]
        for i, k in row_pairs
        for j, l in col_pairs
    )
    f1 = _ref_fscore(consistent, tr * tc, pr * pc)
    return f1, upper


# ---------------------------------------------------------------------------
# parity assertions
# ---------------------------------------------------------------------------

def _ours(pred_grid, true_grid):
    _p, _r, f1, ub = grits_factored(pred_grid, true_grid)
    return f1, ub


WORDS = ["aaaa", "bbbb", "cccc", "dddd", "eeee", "ffff", "aabb", ""]


def _rand_grid(rng, nr, nc):
    return [[rng.choice(WORDS) for _ in range(nc)] for _ in range(nr)]


def test_factored_parity_random_grids():
    """Exact (f1, ub) equality on 150 random rectangular grid pairs,
    including empty cells, unequal shapes, and near-identical tables."""
    rng = random.Random(1234)
    for _ in range(150):
        tg = _rand_grid(rng, rng.randint(1, 4), rng.randint(1, 4))
        if rng.random() < 0.4:  # near-identical: perturb a copy
            pg = [row[:] for row in tg]
            if rng.random() < 0.5:
                pg[rng.randrange(len(pg))][rng.randrange(len(pg[0]))] = (
                    rng.choice(WORDS)
                )
            if rng.random() < 0.3 and len(pg) > 1:
                pg.pop(rng.randrange(len(pg)))
        else:
            pg = _rand_grid(rng, rng.randint(1, 4), rng.randint(1, 4))
        f1_ref, ub_ref = ref_factored_2dmss(tg, pg)
        f1_ours, ub_ours = _ours(pg, tg)
        assert f1_ours == pytest.approx(f1_ref, abs=1e-12), (pg, tg)
        assert ub_ours == pytest.approx(ub_ref, abs=1e-12), (pg, tg)


def test_factored_parity_gold_corpus():
    """Exact (f1, ub) equality on every bundled gold table scored against
    the extraction pipeline's own prediction for it (the 13-table gold
    set, plus identity)."""
    import os

    from key_resource_table_extractor_spark.sources import (
        gold_table_grid,
        gold_table_to_spans,
        load_gold_tables,
    )

    gold_dir = (
        "/root/reference/data/table_content_extract/"
        "gs_bioarxiv_extracted_key_resources_tables_sampled"
    )
    if not os.path.isdir(gold_dir):
        pytest.skip("gold corpus not present")
    tables = load_gold_tables(gold_dir)
    assert tables
    for tbl in tables:
        gold_grid = gold_table_grid(tbl)
        spans = gold_table_to_spans(tbl)
        pdf = pd.DataFrame(
            [(tbl["name"], [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for (k, t, m, o) in spans
            ])],
            columns=["doc_id", "spans"],
        )
        import json

        nested = extract_batch(pdf, "nested")
        res = json.loads(nested["result"].iloc[0])
        pred = [
            row
            for page in res["result"]["pages"]
            for t in page["tables"]
            for row in t["rows"]
        ]
        # rectangularize the prediction for the twin (it expects a matrix)
        width = max(len(r) for r in pred)
        pred_rect = [r + [""] * (width - len(r)) for r in pred]
        gw = max(len(r) for r in gold_grid)
        gold_rect = [r + [""] * (gw - len(r)) for r in gold_grid]
        f1_ref, ub_ref = ref_factored_2dmss(gold_rect, pred_rect)
        f1_ours, ub_ours = _ours(pred_rect, gold_rect)
        assert f1_ours == pytest.approx(f1_ref, abs=1e-12), tbl["name"]
        assert ub_ours == pytest.approx(ub_ref, abs=1e-12), tbl["name"]
        # identity sanity on the gold grid itself
        assert _ours(gold_rect, gold_rect) == (1.0, 1.0)
