"""Vectorized per-batch extraction (the Spark-side implementation).

The whole five-stage cascade of the reference (SURVEY.md §0) runs as a pure
function over one Arrow batch of ``(doc_id, spans)`` rows inside
``mapInArrow`` — every Spark extraction shape runs ``make_map_in_arrow_fn``
(or, for the fused synthetic-input queries, its ``make_extract_fn`` step).
Every stage runs once over the whole batch, never per doc:

- line passes: the segment scan finds gap runs with numpy over the code
  points of the batch's tab-joined lines; the RRID/header features are
  ``str.find`` of literal words in the joined (case-mapped) text, each
  hit checked by its regex;
  in-table scoring, gap fill and island detection are numpy running
  max/min of line indexes over all lines of all docs at once;
- region build: every table of the batch at once. One lexsort of the
  structural segments by (region, start) with a running max that
  restarts per region gives the column trap ranges; two ``searchsorted``
  over (table, bound) keys assign segments to columns — the
  two-pointer/searchsorted shape of the reference's Java merges
  (PDFTableExtractor2.java:271-302,574-593) instead of O(n²) scans. Cells
  are grouped joins (Arrow ``binary_join``), merge votes are array
  predicates over adjacent rows' cells, rows fold by group ids and media
  route by one ``searchsorted`` over each doc's table windows;
- documents are isolated: a failing document yields a single ``kind='error'``
  row (the reference stores per-job err_msg, task_manager.py:56-59) and
  never fails the stage — the batch-wide call is retried on halves until
  the failing doc runs alone. Each retry level reruns the cascade over the
  docs of the failing halves, so the cost grows with the failing docs
  (2,000 seed-1 synth docs, one core, a late stage raising: about 8x a
  clean call's CPU with 1% of them failing, 20x with 10%). An option no
  doc could run with (``gap_min_spaces``, ``excepted_lines``/
  ``excepted_pages``) is checked first and fails the call once.

No per-row Python UDFs. The Python-level calls left run once per line
(the section-header shape test, upper-casing), per segment (slicing out
its text), per literal hit, and per distinct first character of a cell.
"""

from __future__ import annotations

import json
import operator
import re
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .. import spec


_RRID_RE = re.compile(spec.RRID_REGEX)
# The line pass finds RRID_WORD with str.find in the lower-cased text, then
# checks each hit with RRID_REGEX. _RE_FOLDS maps the two non-ASCII letters
# that re's IGNORECASE matches to a letter of the word (\u0130 and \u0131,
# both to "i") first; \u0130 is also the one character whose lower() is two
# characters long, so the fold keeps every position.
_RE_FOLDS = str.maketrans("\u0130\u0131", "ii")
_KEYWORD_RES = {kw: re.compile(r"\b%s\b" % kw) for kw in spec.HEADER_KEYWORDS}

OUTPUT_COLUMNS = ["doc_id", "seq", "kind", "text", "media_ref", "offset"]
NESTED_COLUMNS = ["doc_id", "result"]
OUTPUT_MODES = ("spans", "nested", "nested-colspans")
ROW_MODELS = ("votes", "anchor", "none")


# --------------------------------------------------------------------------
# batch-global vectorized passes
# --------------------------------------------------------------------------
# Both line passes scan ONE string, the batch's lines joined by tabs, and
# map match positions back to lines. A tab is a column gap and a non-word
# character, so no segment, keyword or title match crosses a line, and
# ``\b`` at a line's edge behaves as at a string's edge.

def _run_starts(x: np.ndarray) -> np.ndarray:
    """Where a run of equal values of ``x`` begins."""
    starts = np.ones(len(x), dtype=bool)
    starts[1:] = x[1:] != x[:-1]
    return starts


def _joined(texts) -> tuple[str, np.ndarray]:
    """The tab-joined lines and each line's start in that string."""
    lens = np.fromiter(map(len, texts), np.int64, len(texts))
    return "\t".join(texts), np.cumsum(lens + 1) - (lens + 1)


def _hits(text: str, word: str) -> list[int]:
    """Every position of ``word`` in ``text`` (C-speed ``str.find``)."""
    pos = []
    i = text.find(word)
    while i >= 0:
        pos.append(i)
        i = text.find(word, i + 1)
    return pos


def _lines_of(pos: list[int], line_at: np.ndarray) -> np.ndarray:
    """Per line: does one of the positions ``pos`` fall in it?"""
    hit = np.zeros(len(line_at), dtype=bool)
    at = np.searchsorted(line_at, np.array(pos, dtype=np.int64), "right")
    hit[at - 1] = True
    return hit


def _segment_scan(texts, gap_min_spaces: int = spec.GAP_MIN_SPACES):
    """Flat segment arrays for all lines — (line_idx, start, end, text) —
    plus each line's segment count and indent (its first segment's start).

    A segment is a maximal run of ``spec.segment_regex``: what lies
    between segments are gaps, maximal runs of spaces and tabs that hold
    a tab or at least ``gap_min_spaces`` spaces (or touch the text's
    edge). Found with numpy over the code points of the joined lines."""
    joined, line_at = _joined(texts)
    n = len(joined)
    if joined.isascii():
        code = np.frombuffer(joined.encode("ascii"), np.uint8)
    else:
        code = np.frombuffer(
            joined.encode("utf-32-le", "surrogatepass"), np.uint32)
    blank = (code == 32) | (code == 9)
    edge = np.diff(blank.view(np.int8), prepend=np.int8(0),
                   append=np.int8(0))
    run_s, run_e = np.flatnonzero(edge == 1), np.flatnonzero(edge == -1)
    gap = (run_e - run_s >= gap_min_spaces) | (run_s == 0) | (run_e == n)
    gap[np.searchsorted(run_s, np.flatnonzero(code == 9), "right") - 1] = True
    seg_s, seg_e = np.r_[0, run_e[gap]], np.r_[run_s[gap], n]
    seg_s, seg_e = seg_s[seg_s < seg_e], seg_e[seg_s < seg_e]
    seg_t = np.frompyfunc(lambda a, b: joined[a:b], 2, 1)(seg_s, seg_e)
    seg_line = np.searchsorted(line_at, seg_s, "right") - 1
    seg_s, seg_e = seg_s - line_at[seg_line], seg_e - line_at[seg_line]
    n_segs = np.bincount(seg_line, minlength=len(texts)).astype(np.int32)
    indent = np.zeros(len(texts), dtype=np.int32)
    first = _run_starts(seg_line)
    indent[seg_line[first]] = seg_s[first]
    return seg_line, seg_s, seg_e, seg_t, n_segs, indent


def _section_shape(text: str) -> bool:
    """Title-case start, few words, no terminal punctuation."""
    s = text.strip()
    return (s[:1].isupper()
            and s.count(" ") < spec.SECTION_HEADER_MAX_WORDS
            and not s.endswith(spec.SECTION_HEADER_END_PUNCT))


def _line_features(texts):
    """RRID / header-keyword / section-header features per line."""
    joined, line_at = _joined(texts)
    low = joined.translate(_RE_FOLDS).lower()
    has_rrid = _lines_of([i for i in _hits(low, spec.RRID_WORD.lower())
                          if _RRID_RE.match(joined, i)], line_at)
    # per line: a character may upper-case to several (\u00df -> "SS")
    up, up_at = _joined([t.upper() for t in texts])
    kw_hits = sum(
        _lines_of([i for i in _hits(up, kw) if r.match(up, i)], up_at)
        .astype(np.int32) for kw, r in _KEYWORD_RES.items())
    is_header = (_lines_of(_hits(up, spec.HEADER_TITLE), up_at)
                 | (kw_hits >= spec.HEADER_MIN_KEYWORDS))
    sect_ok = np.fromiter(map(_section_shape, texts), bool, len(texts))
    return has_rrid, is_header, sect_ok


def _in_table_pass(li_doc, n_segs, indent, has_rrid, is_header, sect_ok):
    """Base rule + continuation threading + gap fill + islands.

    Returns ``region_id`` per line (-1 = not in a kept region). Each step
    finds a line's nearest line of some kind before or after it in its doc
    with a running max or min of line indexes — the gaps-and-islands shape
    of SURVEY §2 A1/A2 executed batch-wide.
    """
    n = len(li_doc)
    line = np.arange(n)
    doc_change = _run_starts(li_doc)
    starts = np.flatnonzero(doc_change)
    counts = np.diff(np.r_[starts, n])
    doc_start_of = np.repeat(starts, counts)
    doc_end_of = doc_start_of + np.repeat(counts, counts)

    def last(mask):  # the last line at or before each line with mask, or -1
        at = np.maximum.accumulate(np.where(mask, line, -1))
        return np.where(at >= doc_start_of, at, -1)

    def next_(mask):  # the next line at or after each line with mask, or n
        at = np.minimum.accumulate(np.where(mask, line, n)[::-1])[::-1]
        return np.where(at < doc_end_of, at, n)

    blank = n_segs == 0
    base = (n_segs >= spec.MIN_SEGS_IN_TABLE) | has_rrid | is_header
    # prev-threaded lines: indented continuations and section headers
    eligible = (n_segs == 1) & (
        (indent >= spec.CONTINUATION_MIN_INDENT) | sect_ok
    )

    # anchors: non-blank lines whose effective state equals their base
    # state; a prev-threaded line carries its last anchor's state
    anchor = last((~blank) & (~eligible | base))
    carried = (anchor >= 0) & base[anchor]
    in_tab = base | (eligible & ~base & carried)

    # gap fill (W4): short non-blank runs between two in-table lines
    prev_t, next_t = last(in_tab), next_(in_tab)
    m_idx = np.flatnonzero((~in_tab) & (~blank) & (prev_t >= 0)
                           & (next_t < n))
    p, q = prev_t[m_idx], next_t[m_idx]
    blank_cum = np.cumsum(blank)
    fill = np.zeros(n, dtype=bool)
    fill[m_idx] = ((q - p - 1 <= spec.GAP_FILL_MAX)
                   & (blank_cum[q - 1] == blank_cum[p]))
    in_tab = in_tab | fill

    # islands: contiguous in-table runs; keep relevant ones of size >= min
    start = in_tab & (doc_change | ~np.r_[False, in_tab[:-1]])
    island = np.where(in_tab, np.cumsum(start), 0)
    n_isl = int(island.max()) if n else 0
    region_id = np.full(n, -1, dtype=np.int64)
    if n_isl:
        sizes = np.bincount(island, minlength=n_isl + 1)
        relevant = np.bincount(
            island, weights=(is_header | has_rrid).astype(np.int64),
            minlength=n_isl + 1,
        )
        keep = (sizes >= spec.MIN_REGION_LINES) & (relevant > 0)
        keep[0] = False
        region_id = np.where(keep[island], island, -1)
    return region_id


# --------------------------------------------------------------------------
# batch-wide region build (numpy over every table of the batch at once)
# --------------------------------------------------------------------------

def _excepted_mask(group: np.ndarray, excepted: list[int]) -> np.ndarray:
    """Keep mask over items sorted by ``group`` that drops each group's
    items at the ``excepted`` positions (Python-style negative indexing,
    out-of-range ignored — reference PDFTableExtractor2.java:93-128 for
    text lines, :641-651 for detected regions)."""
    n = len(group)
    starts = np.flatnonzero(_run_starts(group))
    counts = np.diff(np.r_[starts, n]).astype(np.int64)
    pos = np.arange(n) - np.repeat(starts, counts)
    lens = np.repeat(counts, counts)
    keep = np.ones(n, dtype=bool)
    for ix in excepted:
        keep &= pos != (ix if ix >= 0 else lens + ix)
    return keep


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """The concatenated ``arange(s, s + c)`` of every (start, count)."""
    ends = np.cumsum(counts)
    return np.arange(ends[-1] if len(ends) else 0) + np.repeat(
        starts - (ends - counts), counts)


def _column_union(run: np.ndarray, starts: np.ndarray, ends: np.ndarray):
    """Merge each run's overlapping segment x-intervals into disjoint
    column trap ranges: one lexsort by (run, start) and a running max of
    the ends that restarts at every run. Returns ``(col_run, col_s,
    col_e)`` sorted by (run, start)."""
    if not len(run):
        return run, starts, ends
    order = np.lexsort((starts, run))
    r, s, e = run[order], starts[order], ends[order]
    lift = r * (int(e.max()) + 1)  # runs ascend, so one accumulate serves all
    cmax = np.maximum.accumulate(e + lift) - lift
    brk = np.empty(len(s), dtype=bool)
    brk[0] = True
    brk[1:] = (r[1:] != r[:-1]) | (s[1:] > cmax[:-1] + spec.COLUMN_MERGE_TOL)
    at = np.flatnonzero(brk)
    return r[at], s[at], np.maximum.reduceat(e, at)


def _assign_columns(seg_tab, seg_s, seg_e, col_tab, col_s, col_e,
                    with_extents: bool = True):
    """Max-overlap column per segment, leftmost tie, rightmost-start
    fallback, over the columns of the segment's table.

    Columns are ``_column_union`` output (sorted, disjoint per table); the
    results are indexes into them. Returns ``(best, first, last)``: the
    assigned column plus the physical extent — the first and last trap
    range each segment positively overlaps (the interval-overlap data the
    spanning-cell recovery reads; reference models spanning cells as their
    own boxes, table_model.py:239-264). For segments overlapping no
    column, first == last == best (fallback). ``with_extents=False``
    returns None for first/last.

    The overlapped columns of a segment are one contiguous range, found by
    two ``searchsorted`` over (table, bound) keys, so memory stays linear
    in segments plus overlaps."""
    n_tab = int(col_tab[-1]) + 1
    base = np.searchsorted(col_tab, np.arange(n_tab + 1))
    # the last column of each table extends to its widest segment
    # (reference expands the last column, PDFTableExtractor2.java:230-236)
    ce = col_e.astype(np.int64)
    seg_max = np.zeros(n_tab, dtype=np.int64)
    np.maximum.at(seg_max, seg_tab, seg_e)
    ce[base[1:] - 1] = np.maximum(ce[base[1:] - 1], seg_max)
    w = int(max(ce.max(), seg_e.max())) + 1
    col_ks, col_ke = col_tab * w + col_s, col_tab * w + ce
    seg_ks, seg_ke = seg_tab * w + seg_s, seg_tab * w + seg_e
    first = np.searchsorted(col_ke, seg_ks, "right")  # first end > start
    last = np.searchsorted(col_ks, seg_ke, "left") - 1  # last start < end
    k = last - first + 1  # columns with a positive overlap
    best = first.copy()
    wide = np.flatnonzero(k > 1)
    if len(wide):
        kw = k[wide]
        seg = np.repeat(wide, kw)
        col = _ranges(first[wide], kw)
        ov = (np.minimum(seg_e[seg], ce[col])
              - np.maximum(seg_s[seg], col_s[col]))
        at = np.cumsum(kw) - kw
        top = np.repeat(np.maximum.reduceat(ov, at), kw)
        best[wide] = np.minimum.reduceat(np.where(ov == top, col, len(ce)), at)
    none = k < 1
    if none.any():
        t = seg_tab[none]
        fb = np.searchsorted(col_ks, seg_ks[none], "right") - 1
        best[none] = np.clip(fb, base[t], base[t + 1] - 1)
    if not with_extents:
        return best, None, None
    return best, np.where(none, best, first), np.where(none, best, last)


_LOWER_CONT = set(spec.CONTINUATION_LEADING_CHARS)


_DANGLING = spec.DANGLING_SUFFIXES


def _merge_flags(row_skip, row_ncols, cell_row, cell_key, ncols_max,
                 first_text: pa.Array, last_text: pa.Array) -> np.ndarray:
    """Row-merge decision vs the physical predecessor row (votes, strict
    majority), for every row of the batch.

    Cells are the non-empty (row, column) cells, sorted by ``cell_key =
    row * ncols_max + column``, with the text of their first and last
    segment. A non-empty cell votes when its first character is lowercase
    or a continuation char, or the cell above it ends with a dangling
    suffix; every empty cell votes. ``row_skip`` rows (a table's first
    row, headers) never merge, nor does a row with no empty cell."""
    nrows = len(row_skip)
    first = pc.utf8_slice_codeunits(first_text, 0, 1).dictionary_encode()
    cont = np.array([c.islower() or c in _LOWER_CONT
                     for c in first.dictionary.to_pylist()], dtype=bool)
    vote = cont[first.indices.to_numpy()]
    dangling = np.zeros(len(cell_key), dtype=bool)
    for suffix in _DANGLING:
        dangling |= pc.ends_with(last_text, pattern=suffix).to_numpy(
            zero_copy_only=False)
    above = cell_key - ncols_max
    up = np.minimum(np.searchsorted(cell_key, above), len(cell_key) - 1)
    vote |= (cell_key[up] == above) & dangling[up]
    filled = np.bincount(cell_row, minlength=nrows)
    votes = row_ncols - filled + np.bincount(
        cell_row, weights=vote, minlength=nrows).astype(np.int64)
    has_empty = filled < row_ncols
    if not spec.MERGE_REQUIRES_EMPTY_CELL:
        has_empty[:] = True
    return ~row_skip & has_empty & (votes * 2 > row_ncols)


def _build_regions(
    li_doc: np.ndarray,
    li_off: np.ndarray,
    region_id: np.ndarray,
    is_header: np.ndarray,
    n_segs: np.ndarray,
    seg_line: np.ndarray,
    seg_s: np.ndarray,
    seg_e: np.ndarray,
    seg_t: np.ndarray,
    md_doc: np.ndarray,
    md_off: np.ndarray,
    excepted_pages: list[int] | None = None,
    row_model: str = "votes",
    with_extents: bool = False,
    midcol_rowspans: bool = False,
) -> dict | None:
    """Every table of the batch, built at once: its folded rows (groups),
    their cells and the boundary media routed to it. None when the batch
    has no table.

    Tables are the kept line runs of ``region_id`` that survive
    ``excepted_pages`` (indexes over each doc's kept runs, including runs
    later dropped), hold a structural segment and cluster to at least
    ``MIN_COLUMNS`` columns; ``tab_local`` numbers each doc's emitted
    tables from 0.

    ``row_model="none"`` is the reference's ``use_row_info`` switch analog
    (pipeline A vs B, reference README:121-122, PDFTableExtractor2.java:
    200-208): physical rows are emitted as-is, no continuation merging.
    """
    kept = np.flatnonzero(region_id >= 0)
    if not len(kept):
        return None
    # kept runs: one per island, numbered across the batch
    brk = _run_starts(region_id[kept])
    run_lo, run_hi = kept[brk], kept[np.r_[brk[1:], True]]
    run_doc = li_doc[run_lo]
    line_run = np.full(len(li_doc), -1, dtype=np.int64)
    line_run[kept] = np.cumsum(brk) - 1
    keep_run = (_excepted_mask(run_doc, excepted_pages) if excepted_pages
                else np.ones(len(run_lo), dtype=bool))
    seg_run = line_run[seg_line]
    live = seg_run >= 0
    live[live] = keep_run[seg_run[live]]
    struct = live & (n_segs[seg_line] >= spec.MIN_SEGS_IN_TABLE)
    col_run, col_s, col_e = _column_union(
        seg_run[struct], seg_s[struct], seg_e[struct])
    ncols_run = np.bincount(col_run, minlength=len(run_lo))
    emit = keep_run & (ncols_run >= max(spec.MIN_COLUMNS, 1))
    if not emit.any():
        return None
    tab_of_run = np.cumsum(emit) - 1
    tab_doc, tab_lo, tab_hi = run_doc[emit], run_lo[emit], run_hi[emit]
    n_tab = len(tab_doc)
    ncols = ncols_run[emit]
    col_base = np.r_[0, np.cumsum(ncols)]
    on = emit[col_run]
    col_tab, col_s, col_e = tab_of_run[col_run[on]], col_s[on], col_e[on]

    # segments of emitted tables → columns
    live[live] = emit[seg_run[live]]
    sidx = np.flatnonzero(live)
    s_line, s_s, s_e = seg_line[sidx], seg_s[sidx], seg_e[sidx]
    s_tab = tab_of_run[seg_run[sidx]]
    best, c_first, c_last = _assign_columns(
        s_tab, s_s, s_e, col_tab, col_s, col_e, with_extents)
    s_col = best - col_base[s_tab]

    # rows: the table lines that hold a segment (the others are empty rows)
    new_row = _run_starts(s_line)
    s_row = np.cumsum(new_row) - 1
    row_line, row_tab = s_line[new_row], s_tab[new_row]
    n_rows = len(row_line)
    row_first = _run_starts(row_tab)
    row_hdr = is_header[row_line]
    row_ncols = ncols[row_tab]
    s_text = pa.array(seg_t[sidx], type=pa.string())

    # fold rows into groups (logical rows)
    cont_full = None
    if row_model == "none":
        merge = np.zeros(n_rows, dtype=bool)
    else:
        # the non-empty (row, column) cells, segments in order within each
        ncols_max = int(ncols.max())
        key = s_row * ncols_max + s_col
        order = np.argsort(key, kind="stable")
        new_cell = _run_starts(key[order])
        cell_key = key[order][new_cell]
        cell_row = cell_key // ncols_max
        if row_model == "votes":
            merge = _merge_flags(
                row_first | row_hdr, row_ncols, cell_row, cell_key,
                ncols_max, s_text.take(order[new_cell]),
                s_text.take(order[np.r_[new_cell[1:], True]]))
        else:
            # J4 analog (reference PDFTableExtractor2.java:334-380): rows
            # lacking their col-0 anchor fold into the detected row above
            has_anchor = np.zeros(n_rows, dtype=bool)
            has_anchor[cell_row[cell_key % ncols_max == 0]] = True
            merge = ~has_anchor & ~row_hdr & ~row_first
            if with_extents:
                # col-0 ROWSPAN recovery (nested colspans output only): an
                # anchor-less line with >=2 non-empty cells is a full
                # detected row sharing its anchor cell — the char-space
                # twin of a DETR spanning cell whose box y-covers several
                # row boxes (reference table_model.py:239-264) — not a
                # wrap fragment (wraps continue exactly one column). Keep
                # it as its own logical row; the anchor's col-0 cell will
                # carry rowspan = 1 + run of such covered rows below.
                filled = np.bincount(cell_row, minlength=n_rows)
                cont_full = merge & (filled >= 2)
                merge &= ~cont_full
    row_gid = np.cumsum(~merge) - 1
    grp_first = np.flatnonzero(~merge)  # each group's first row
    n_grp = len(grp_first)
    grp_tab = row_tab[grp_first]
    grp_row = np.arange(n_grp) - np.searchsorted(grp_tab, grp_tab)
    grp_ncols = ncols[grp_tab]
    cell_base = np.r_[0, np.cumsum(grp_ncols)]

    # folded cells: every (group, column) of every table, joined segments
    s_cell = cell_base[row_gid[s_row]] + s_col
    order = np.argsort(s_cell, kind="stable")
    at = np.flatnonzero(_run_starts(s_cell[order]))
    counts = np.diff(np.r_[at, len(order)])
    filled_cell = s_cell[order][at]
    text = np.full(cell_base[-1], "", dtype=object)
    one = counts == 1
    text[filled_cell[one]] = seg_t[sidx[order[at[one]]]]
    if not one.all():
        parts = pa.ListArray.from_arrays(
            pa.array(np.r_[0, np.cumsum(counts[~one])], type=pa.int32()),
            s_text.take(order[_ranges(at[~one], counts[~one])]))
        text[filled_cell[~one]] = pc.binary_join(parts, " ").to_numpy(
            zero_copy_only=False)
    # full-width spanning rows (colspan carrier for the nested result):
    # every source line single-segment AND exactly one non-empty cell —
    # the section-divider shape the reference models as a spanning cell
    # (DETR label 5, table_model.py:239-264). Partial colspans are not
    # recoverable from character layout (documented deviation).
    cell_grp = np.searchsorted(cell_base, filled_cell, "right") - 1
    grp_multi = np.bincount(row_gid, weights=n_segs[row_line] > 1,
                            minlength=n_grp) > 0
    grp_fullspan = ~grp_multi & (np.bincount(cell_grp, minlength=n_grp) == 1)
    regions = dict(
        tab_doc=tab_doc, tab_local=np.arange(n_tab) - np.searchsorted(
            tab_doc, tab_doc),
        grp_tab=grp_tab, grp_row=grp_row, grp_ncols=grp_ncols,
        grp_off=li_off[row_line[grp_first]], grp_fullspan=grp_fullspan,
        cell_base=cell_base, text=text,
    )
    if with_extents:
        # each folded cell's physical column extent (min first / max last
        # trap range its segments overlap; an empty cell's is its own
        # column) for spanning-cell recovery in the nested output
        col = np.arange(cell_base[-1]) - np.repeat(cell_base[:-1], grp_ncols)
        cfirst, clast = col.copy(), col.copy()
        cfirst[filled_cell] = np.minimum(col[filled_cell], np.minimum.reduceat(
            (c_first - col_base[s_tab])[order], at))
        clast[filled_cell] = np.maximum(col[filled_cell], np.maximum.reduceat(
            (c_last - col_base[s_tab])[order], at))
        regions.update(cfirst=cfirst, clast=clast, rowspan=_rowspans(
            cont_full, row_gid, row_hdr[grp_first], grp_fullspan, cell_base,
            filled_cell, cell_grp, midcol_rowspans))

    # boundary media: each goes to the first emitted table of its doc
    # whose +-slack window holds it (windows ascend with the tables)
    md_tab = np.full(len(md_doc), -1, dtype=np.int64)
    if len(md_doc):
        lo = li_off[tab_lo] - spec.MEDIA_BOUNDARY_SLACK
        hi = li_off[tab_hi] + spec.MEDIA_BOUNDARY_SLACK
        floor = min(int(hi.min()), int(md_off.min()))
        w = max(int(hi.max()), int(md_off.max())) - floor + 1
        t = np.searchsorted(tab_doc * w + (hi - floor),
                            md_doc * w + (md_off - floor), "left")
        ok = t < n_tab
        ok[ok] = (tab_doc[t[ok]] == md_doc[ok]) & (lo[t[ok]] <= md_off[ok])
        md_tab[ok] = t[ok]
    regions["md_tab"] = md_tab
    return regions


def _rowspans(cont_full, row_gid, grp_hdr, grp_fullspan, cell_base,
              filled_cell, cell_grp, midcol_rowspans) -> np.ndarray:
    """Rowspan of every folded cell (anchor row model, nested colspans).

    A run of covered groups (each started by a ``cont_full`` row) extends
    the group ABOVE it — but only a plain DATA row may carry a claim. A
    header group or a full-width divider preceding an anchor-less full
    row is not evidence of a spanning cell (the reference derives
    rowspans from spanning-cell boxes over DATA row boxes,
    table_model.py:239-264); cancelling there falls back to the flat
    documented-deviation shape. Col 0 spans the whole covered run (the
    covered rows are anchor-less by construction — strong fold evidence).
    A carrier cell in column c>0 spanning the empty-in-c PREFIX of the run
    is recovered only under the ``midcol_rowspans`` opt-in: its sole
    evidence is "covered row empty in c", which a genuinely empty cell
    (the common sparse-column shape) produces byte-identically, so the
    default keeps the flat emission that is correct there — the opt-in
    trades that false positive for recovering true mid-column spans
    (documented deviation either way; the reference's pixel boxes
    disambiguate, table_model.py:239-264, and the span contract excludes
    them, SURVEY §1.3).

    A table's first group is never covered, so no run crosses tables."""
    n_grp = len(cell_base) - 1
    rowspan = np.ones(cell_base[-1], dtype=np.int64)
    if cont_full is None or not cont_full.any():
        return rowspan
    covered = np.zeros(n_grp, dtype=bool)
    covered[row_gid[cont_full]] = True  # groups a covered row starts
    heads = np.flatnonzero(~covered)
    run = np.diff(np.r_[heads, n_grp]) - 1  # covered groups below each head
    carry = (run > 0) & ~grp_hdr[heads] & ~grp_fullspan[heads]
    carrier, run = heads[carry], run[carry]
    rowspan[cell_base[carrier]] = 1 + run
    if midcol_rowspans:
        # the next filled cell below in the same column bounds the prefix
        col = filled_cell - cell_base[cell_grp]
        order = np.lexsort((cell_grp, col))
        below = np.full(len(order), n_grp)
        same = col[order][1:] == col[order][:-1]
        below[order[:-1][same]] = cell_grp[order][1:][same]
        run_of = np.zeros(n_grp, dtype=np.int64)
        run_of[carrier] = run
        claim = (col > 0) & (run_of[cell_grp] > 0)
        pre = np.minimum(below - cell_grp - 1, run_of[cell_grp])
        claim &= pre > 0
        rowspan[filled_cell[claim]] = 1 + pre[claim]
    return rowspan


def _build_output(regions: dict, md_off: np.ndarray, md_ref: np.ndarray,
                  with_extents: bool) -> dict:
    """The output rows of every table, in (table, offset) order: each
    group's cells, and its routed media, which sort before a row at the
    same offset."""
    md = np.flatnonzero(regions["md_tab"] >= 0)
    n_grp = len(regions["grp_tab"])
    ev_tab = np.r_[regions["md_tab"][md], regions["grp_tab"]]
    ev_is_row = np.r_[np.zeros(len(md), bool), np.ones(n_grp, bool)]
    ev_id = np.r_[md, np.arange(n_grp)]
    ev_off = np.r_[md_off[md], regions["grp_off"]]
    order = np.lexsort((ev_is_row, ev_off, ev_tab))
    ev_tab, ev_is_row, ev_id, ev_off = (
        ev_tab[order], ev_is_row[order], ev_id[order], ev_off[order])
    size = np.ones(len(order), dtype=np.int64)
    size[ev_is_row] = regions["grp_ncols"][ev_id[ev_is_row]]
    ev = np.repeat(np.arange(len(order)), size)
    pos = np.arange(len(ev)) - np.repeat(np.cumsum(size) - size, size)
    txt = np.flatnonzero(ev_is_row[ev])
    med = np.flatnonzero(~ev_is_row[ev])
    grp = ev_id[ev[txt]]
    cell = regions["cell_base"][grp] + pos[txt]
    n = len(ev)
    rows = _default_rows(regions["tab_doc"][ev_tab[ev]], spec.KIND_TEXT,
                         np.empty(n, dtype=object), with_extents)
    rows["kind"][med] = spec.KIND_MEDIA
    rows["text"][txt] = regions["text"][cell]
    rows["text"][med] = ""
    ref = md_ref[ev_id[ev[med]]]
    rows["media_ref"][med] = np.where(np.equal(ref, None), "", ref)
    rows["offset"] = ev_off[ev]
    rows["table"] = regions["tab_local"][ev_tab[ev]]
    rows["row"][txt] = regions["grp_row"][grp]
    rows["col"][txt] = pos[txt]
    rows["fullspan"][txt] = regions["grp_fullspan"][grp]
    if with_extents:
        for c in ("cfirst", "clast", "rowspan"):
            rows[c][txt] = regions[c][cell]
    return rows


# --------------------------------------------------------------------------
# batch entry points
# --------------------------------------------------------------------------

def _default_rows(doc, kind: str, text, with_extents: bool) -> dict:
    """Output rows, one per ``doc`` entry, of ``kind`` and ``text``, every
    other column at its value outside any table (a failed doc's error row
    is such a row)."""
    n = len(doc)
    rows = {"doc": np.asarray(doc, dtype=np.int64),
            "kind": np.full(n, kind, dtype=object),
            "text": np.asarray(text, dtype=object),
            "media_ref": np.full(n, "", dtype=object)}
    for c in ("offset", "table", "row", "col"):
        rows[c] = np.full(n, -1, dtype=np.int64)
    rows["fullspan"] = np.zeros(n, dtype=bool)
    if with_extents:
        rows["cfirst"] = np.full(n, -1, dtype=np.int64)
        rows["clast"] = np.full(n, -1, dtype=np.int64)
        rows["rowspan"] = np.ones(n, dtype=np.int64)
    return rows


def _extract_docs(
    spans: tuple,
    docs: np.ndarray,
    excepted_lines: list[int] | None,
    excepted_pages: list[int] | None,
    row_model: str,
    gap_min_spaces: int,
    with_extents: bool,
    midcol_rowspans: bool,
) -> dict:
    """The batch-wide cascade over the docs ``docs`` (input rows) of the
    (doc, offset)-sorted span columns ``spans``: output rows of every
    doc's tables, in doc order."""
    # spans are sorted by doc: one slice holds those of docs[0]..docs[-1],
    # so a retried call over a few docs costs their spans, not the batch's
    lo, hi = (np.searchsorted(spans[0], [docs[0], docs[-1] + 1])
              if len(docs) else (0, 0))
    spans = tuple(c[lo:hi] for c in spans)
    at = np.minimum(np.searchsorted(docs, spans[0]), max(len(docs) - 1, 0))
    keep = docs[at] == spans[0]
    if not keep.all():
        spans = tuple(c[keep] for c in spans)
    span_doc, kinds, texts, media_refs, offsets = spans
    is_text = kinds == spec.KIND_TEXT
    li_doc = span_doc[is_text]
    li_off = offsets[is_text]
    li_texts_raw = texts[is_text]
    if excepted_lines:
        li_keep = _excepted_mask(li_doc, excepted_lines)
        li_doc = li_doc[li_keep]
        li_off = li_off[li_keep]
        li_texts_raw = li_texts_raw[li_keep]
    li_text = pd.Series(li_texts_raw).fillna("").astype(str).to_numpy()

    seg_line, seg_s, seg_e, seg_t, n_segs, indent = _segment_scan(
        li_text, gap_min_spaces
    )
    has_rrid, is_header, sect_ok = _line_features(li_text)
    region_id = _in_table_pass(
        li_doc, n_segs, indent, has_rrid, is_header, sect_ok
    )
    is_media = kinds == spec.KIND_MEDIA
    md_doc, md_off = span_doc[is_media], offsets[is_media]
    regions = _build_regions(
        li_doc, li_off, region_id, is_header, n_segs,
        seg_line, seg_s, seg_e, seg_t, md_doc, md_off,
        excepted_pages=excepted_pages, row_model=row_model,
        with_extents=with_extents, midcol_rowspans=midcol_rowspans,
    )
    if regions is None:
        return _default_rows([], spec.KIND_TEXT, [], with_extents)
    return _build_output(regions, md_off, media_refs[is_media], with_extents)


def _isolated(spans: tuple, docs: np.ndarray, options: dict) -> list[dict]:
    """``_extract_docs`` over ``docs``; if it raises, the same call on each
    half, recursively, so a failing doc ends as a one-doc call and yields
    its single ``kind='error'`` row (the reference stores per-job err_msg,
    task_manager.py:56-59) while every other doc keeps its rows."""
    try:
        return [_extract_docs(spans, docs, **options)]
    except Exception:
        if len(docs) > 1:
            half = len(docs) // 2
            return (_isolated(spans, docs[:half], options)
                    + _isolated(spans, docs[half:], options))
        if not len(docs):
            raise
        return [_default_rows(docs, spec.KIND_ERROR,
                              [traceback.format_exc()[-500:]],
                              options["with_extents"])]


def extract_columnar(
    doc_ids: np.ndarray,
    span_doc: np.ndarray,
    kinds: np.ndarray,
    texts: np.ndarray,
    media_refs: np.ndarray,
    offsets: np.ndarray,
    excepted_lines: list[int] | None = None,
    excepted_pages: list[int] | None = None,
    row_model: str = "votes",
    gap_min_spaces: int = spec.GAP_MIN_SPACES,
    with_extents: bool = False,
    midcol_rowspans: bool = False,
    null_offset: np.ndarray | None = None,
) -> dict:
    """Extraction over flat columnar span arrays for a batch of docs.
    Returns a dict of numpy output columns, including the internal
    ``table``/``row``/``col`` lineage used by the nested renderer and
    ``doc``, each output row's input row (its index in ``doc_ids``).
    Each input row's rows are contiguous and in input order; ``seq``
    numbers them from 0, so two rows with the same ``doc_id`` come out as
    two docs, whatever batch they share.

    ``span_doc`` maps each span to its doc index in ``doc_ids``. Spans need
    not be pre-sorted; we sort by (doc, offset) here. Every stage then
    runs once over the whole batch (see ``_isolated`` for how a failing
    doc is kept from sinking it).

    ``with_extents=True`` additionally carries per-cell physical column
    extents (``cfirst``/``clast``) and recovered ``rowspan``s for
    spanning-cell recovery. Only the colspan-aware nested renderer needs
    them, so the flat path skips them; their kernel cost is within
    run-to-run noise (2,000 seed-1 synth docs, one core,
    ``scripts/kernel_profile.py``).

    ``null_offset`` marks spans whose offset was null in the input (their
    ``offsets`` entry is a placeholder): a doc with such a text or media
    span cannot be ordered, so it yields one ``kind='error'`` row. So does
    a doc whose ``doc_id`` is null, its error row's ``doc_id`` null too.
    A doc that fails keeps no row but its error row.
    """
    # a bad option fails the call, not each doc
    if gap_min_spaces < 1:
        raise ValueError("gap_min_spaces must be >= 1")
    excepted_lines, excepted_pages = (
        None if e is None else [operator.index(i) for i in e]
        for e in (excepted_lines, excepted_pages))
    null_id = np.fromiter((d is None for d in doc_ids), bool, len(doc_ids))
    bad = null_id.copy()
    if null_offset is not None:
        placed = (kinds == spec.KIND_TEXT) | (kinds == spec.KIND_MEDIA)
        bad[span_doc[null_offset & placed]] = True
    order = np.lexsort((offsets, span_doc))
    spans = tuple(c[order] for c in (span_doc, kinds, texts, media_refs,
                                     offsets))
    options = dict(
        excepted_lines=excepted_lines, excepted_pages=excepted_pages,
        row_model=row_model, gap_min_spaces=gap_min_spaces,
        with_extents=with_extents, midcol_rowspans=midcol_rowspans,
    )
    parts = _isolated(spans, np.flatnonzero(~bad), options)
    for d in np.flatnonzero(bad):
        reason = ValueError("the doc_id is null" if null_id[d] else
                            "a text or media span has a null offset")
        parts.append(_default_rows(
            [d], spec.KIND_ERROR,
            ["".join(traceback.format_exception_only(reason))], with_extents))
    order = np.argsort(np.concatenate([p["doc"] for p in parts]),
                       kind="stable")
    out = {c: np.concatenate([p[c] for p in parts])[order] for c in parts[0]}
    doc = out["doc"]
    first = np.flatnonzero(_run_starts(doc))
    counts = np.diff(np.r_[first, len(doc)]).astype(np.int64)
    out["doc_id"] = np.asarray(doc_ids, dtype=object)[doc]
    out["seq"] = (np.arange(len(doc)) - np.repeat(first, counts)
                  ).astype(np.int32)
    out["offset"] = out["offset"].astype(np.int32)
    return out


def nested_from_columnar(out: dict, with_colspans: bool) -> pa.RecordBatch:
    """Fold ``extract_columnar`` output into one ``(doc_id, result)`` row
    per input row that has a table or failed, in input order (the rows of
    one ``doc`` run): the reference's result-JSON wrapper
    ``{"paper_id": ..., "result": {"pages": [{"page": N, "tables":
    [{"rows": [[cell, ...], ...]}]}]}}`` (reference
    HybridTableTextContentExtractor.java:87-107, row_merger.py:180-204;
    FIXTURES.md §4). One extracted region = one page with one table.
    Docs without a table get no row. A doc whose extraction failed gets
    ``{"paper_id": ..., "result": {"pages": []}, "error": ...}``, the
    error text being that of its flat ``kind='error'`` row; it is the only
    row with no page.

    ``with_colspans=True`` (``out`` must then carry the extents of
    ``extract_columnar(..., with_extents=True)``) emits cells as
    ``{"content", "colspan"}`` dicts (the gold-JSON cell shape, reference
    html_table_converter.py:60-72, merge_model_data_prep.py:296-320).
    Spanning cells are recovered two ways:

    - full-width spanning rows (every source line single-segment, exactly one
      non-empty cell — the section-divider shape the reference models as a
      spanning cell, DETR label 5, table_model.py:239-264) collapse to a
      single cell spanning from the cell's measured first column to the table
      edge (``colspan = ncols - cfirst``), with empty cells before it;
    - mid-row spanning cells: a cell whose segment interval physically
      overlaps >= 2 detected column trap ranges (``cfirst``/``clast`` from
      ``_assign_columns``) absorbs the covered EMPTY neighbor columns into
      one ``colspan = n`` cell. Only physically-evident spans are recovered —
      a spanning cell whose text stays inside one trap range is emitted as
      colspan 1 (char-space limitation, documented deviation).

    ROWSPAN: the reference predicts ``rowspan > 1`` from DETR
    spanning-cell BOXES whose y-extent covers several row boxes,
    position-agnostically (table_model.py:239-264). Under
    ``row_model="anchor"`` + ``with_colspans=True`` we recover the
    covered-run cases from the anchor model's own fold evidence: an
    anchor-less source line with >= 2 non-empty cells is a full detected
    row sharing its anchor cell (a wrap fragment continues exactly ONE
    column), so it stays a separate logical row and the anchor's col-0
    cell carries ``rowspan = 1 + run`` over the covered rows — the
    char-space twin of a spanning cell's box covering the rows below it.
    A carrier cell in a column c > 0 whose covered rows stay EMPTY in c
    carries ``rowspan = 1 + prefix`` over the empty prefix of the run —
    but ONLY under the ``midcol_rowspans=True`` opt-in: unlike the col-0
    case, "covered row empty in c" is also produced byte-identically by
    a genuinely empty cell (the common sparse-column shape), where the
    claim is a FALSE POSITIVE that degrades an otherwise-perfect GriTS
    score (pinned by tests/test_colspan_rowspan.py::
    test_sparse_column_false_positive_is_gated). The char-space signal
    cannot distinguish the two (the reference's pixel boxes can), so the
    default stays flat — correct on sparse columns, missing true
    mid-column spans — and the opt-in inverts the trade.
    ``_apply_rowspan_occupancy`` verifies every claim against
    rendered-cell boundaries and cancels inconsistent ones.
    Remaining documented deviation: a rowspan whose covered rows
    keep their OWN col-0 anchors (no fold evidence — the covered rows
    are ordinary detected rows whose cell in the spanning column is
    empty) renders byte-identically to genuinely empty cells and is
    emitted flat, as is every rowspan under the votes model, where fold
    groups ARE single wrapped rows and ``rowspan = group size`` would
    mislabel them. The scoring side is rowspan-AWARE throughout: gold
    ingest expands rowspan occupancy (sources/gold_json.py) and the
    GriTS grids honor it (eval/grits_like.py), so both recovered and
    unrecoverable rowspans are compared fairly
    (tests/test_colspan_rowspan.py)."""
    doc = out["doc"]
    starts = np.flatnonzero(np.diff(doc, prepend=-1))
    # Python lists once: ``_pages`` indexes them per row, and json.dumps
    # takes their ints
    cols = {c: np.asarray(out[c]).tolist() for c in _PAGE_COLUMNS if c in out}
    ids, results = [], []
    for s, e in zip(starts, np.r_[starts[1:], len(doc)]):
        record = {"paper_id": out["doc_id"][s], "result": {"pages": []}}
        if cols["kind"][s] == spec.KIND_ERROR:  # a failed doc's only row
            record["error"] = cols["text"][s]
        else:
            record["result"]["pages"] = _pages(cols, s, e, with_colspans)
        ids.append(record["paper_id"])
        results.append(json.dumps(record, sort_keys=True))
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, type=pa.string()), pa.array(results, type=pa.string())],
        names=NESTED_COLUMNS,
    )


_PAGE_COLUMNS = ("kind", "text", "table", "row", "col", "fullspan",
                 "cfirst", "clast", "rowspan")


def _pages(out: dict, s: int, e: int, with_colspans: bool) -> list[dict]:
    """The result-JSON pages of one doc's output rows ``s:e``, one page
    and one table per extracted table (see ``nested_from_columnar``)."""
    tables: dict[int, dict] = {}
    fullspan: dict[tuple, bool] = {}
    extents: dict[tuple, tuple] = {}
    rowspans: dict[tuple, dict[int, int]] = {}  # row key -> {col: span}
    for i in range(s, e):
        if out["kind"][i] != spec.KIND_TEXT:
            continue
        key, c = (out["table"][i], out["row"][i]), out["col"][i]
        tables.setdefault(key[0], {}).setdefault(key[1], {})[c] = out["text"][i]
        if with_colspans:
            fullspan[key] = out["fullspan"][i]
            extents[(*key, c)] = (out["cfirst"][i], out["clast"][i])
            if out["rowspan"][i] > 1:
                rowspans.setdefault(key, {})[c] = out["rowspan"][i]
    pages = []
    for t in sorted(tables):
        tbl = tables[t]
        grid = []
        for r in sorted(tbl):
            cols = sorted(tbl[r])
            cells = [tbl[r][c] for c in cols]
            if not with_colspans:
                grid.append(cells)
                continue
            grid.append(
                _cells_with_colspans(
                    cells,
                    [extents.get((t, r, c), (c, c)) for c in cols],
                    fullspan.get((t, r), False),
                    rowspans.get((t, r)),
                )
            )
        if with_colspans:
            _apply_rowspan_occupancy(grid)
        pages.append({"page": int(t) + 1, "tables": [{"rows": grid}]})
    return pages


def _apply_rowspan_occupancy(grid: list[list[dict]]) -> list[list[dict]]:
    """HTML occupancy for recovered rowspans (in place): a carrier cell
    with ``rowspan = k`` occupies its columns in the k-1 rows below, so
    those rows must OMIT their covered cells at those positions (the
    gold-JSON convention, reference html_table_converter.py:60-72 /
    grits.py:420-450 — covered positions are absent from the row, later
    cells shift past them). Claims are position-agnostic — a carrier may
    sit at any column, and one row may carry several (reference spanning
    cells are position-agnostic, table_model.py:239-264). Each claim is
    verified independently: if its covered window is non-empty, holds a
    competing rowspan, or is misaligned with the covered row's rendered
    cell boundaries (a carrier whose colspan absorption conflicts with
    covered-row content), THAT claim is cancelled rather than emitting
    inconsistent occupancy."""
    # rendered cells annotated with their absolute column starts; removals
    # below keep survivors' absolute positions, which is exactly the
    # occupancy shift later claims must see
    pos_rows: list[list[list]] = []
    for row in grid:
        s, entries = 0, []
        for cell in row:
            entries.append([s, cell])
            s += cell["colspan"]
        pos_rows.append(entries)
    for i, entries in enumerate(pos_rows):
        for entry in entries:
            start, cell = entry
            k = cell.get("rowspan", 1)
            if k <= 1:
                continue
            w = cell["colspan"]
            ok = i + k <= len(pos_rows)
            removals: list[tuple[list, list]] = []
            for r in range(i + 1, i + k):
                if not ok:
                    break
                cov = [
                    e for e in pos_rows[r] if start <= e[0] < start + w
                ]
                tiled = sum(e[1]["colspan"] for e in cov)
                if (
                    not cov
                    or cov[0][0] != start
                    or tiled != w
                    or any(e[1]["content"] != "" for e in cov)
                    or any(e[1].get("rowspan", 1) > 1 for e in cov)
                ):
                    ok = False
                    break
                removals.append((pos_rows[r], cov))
            if ok:
                for row_entries, cov in removals:
                    for e in cov:
                        row_entries.remove(e)
            else:
                entry[1] = {
                    c: v for c, v in cell.items() if c != "rowspan"
                }
    for i, entries in enumerate(pos_rows):
        grid[i] = [cell for _s, cell in entries]
    return grid


def _cells_with_colspans(
    cells: list, exts: list, is_fullspan: bool,
    rowspans: dict[int, int] | None = None,
) -> list[dict]:
    """Render one logical row into gold-JSON ``{"content", "colspan"}`` cells
    using the cells' physical column extents (see ``nested_from_columnar``).
    Claiming is left-to-right; a span absorbs only free EMPTY neighbors
    within its measured extent, so two competing spans never overlap.
    ``rowspans`` maps a logical CONTENT column to its recovered rowspan
    (anchor-model recovery, position-agnostic like the reference's
    spanning cells, table_model.py:239-264): each claim rides on the
    rendered cell whose content sits at that column, matching the
    gold-JSON attribute shape (reference html_table_converter.py:60-72)."""
    ncols = len(cells)
    rowspans = rowspans or {}
    if is_fullspan:
        content_idx = next(
            (c for c in range(ncols) if cells[c] != ""), 0
        )
        cf = min(max(exts[content_idx][0], 0), content_idx)
        # fullspan (divider) groups are excluded from carrying rowspan
        # claims at claim-generation time (_extract_doc_regions), so
        # ``rowspans`` is always empty here
        return [{"content": "", "colspan": 1}] * cf + [
            {"content": cells[content_idx], "colspan": ncols - cf}
        ]
    owner = list(range(ncols))
    for c in range(ncols):
        if cells[c] == "":
            continue
        cf, cl = exts[c]
        lo = c
        while lo - 1 >= max(cf, 0) and cells[lo - 1] == "" and owner[lo - 1] == lo - 1:
            lo -= 1
            owner[lo] = c
        hi = c
        while hi + 1 <= min(cl, ncols - 1) and cells[hi + 1] == "" and owner[hi + 1] == hi + 1:
            hi += 1
            owner[hi] = c
    row_cells: list[dict] = []
    c = 0
    while c < ncols:
        o = owner[c]
        k = 1
        while c + k < ncols and owner[c + k] == o:
            k += 1
        cell = {"content": cells[o], "colspan": k}
        if rowspans.get(o, 1) > 1:
            cell["rowspan"] = rowspans[o]
        row_cells.append(cell)
        c += k
    return row_cells


# --------------------------------------------------------------------------
# the one Spark entry: decode the Arrow batch → extract_columnar → encode
# --------------------------------------------------------------------------

def _decode_spans(rb: pa.RecordBatch):
    """A ``(doc_id, spans)`` batch as ``extract_columnar`` columns plus its
    null-offset mask (None when no offset is null) — columnar-side, no
    per-span Python dicts. ``flatten`` honours a sliced ListArray's offset
    (its ``.values`` would still hold the FULL child) and skips the values
    behind null span lists."""
    spans = rb.column("spans")
    lens = spans.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    vals = spans.flatten()
    offsets = vals.field("offset")
    null_offset = (
        offsets.is_null().to_numpy(zero_copy_only=False)
        if offsets.null_count else None
    )
    columns = (
        rb.column("doc_id").to_numpy(zero_copy_only=False),
        np.repeat(np.arange(rb.num_rows), lens),
        vals.field("kind").to_numpy(zero_copy_only=False),
        vals.field("text").to_numpy(zero_copy_only=False),
        vals.field("media_ref").to_numpy(zero_copy_only=False),
        offsets.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64),
    )
    return columns, null_offset


_SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])


def encode_spans(columns) -> pa.RecordBatch:
    """``_decode_spans``'s inverse: ``extract_columnar`` columns whose
    spans are grouped by doc, in doc order, as one ``(doc_id, spans)``
    batch in the layout of ``schemas.DOCUMENT_SPANS_SCHEMA``."""
    doc_ids, span_doc, *fields = columns
    bounds = np.r_[0, np.bincount(span_doc, minlength=len(doc_ids)).cumsum()]
    spans = pa.StructArray.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(fields, _SPAN_TYPE)],
        fields=list(_SPAN_TYPE),
    )
    return pa.RecordBatch.from_arrays(
        [pa.array(doc_ids, type=pa.string()),
         pa.ListArray.from_arrays(pa.array(bounds, type=pa.int32()), spans)],
        names=["doc_id", "spans"],
    )


def _flat_batch(out: dict) -> pa.RecordBatch:
    """``extract_columnar`` output as ``OUTPUT_COLUMNS`` span rows."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array(out["doc_id"], type=pa.string()),
            pa.array(out["seq"], type=pa.int32()),
            pa.array(out["kind"], type=pa.string()),
            pa.array(out["text"], type=pa.string()),
            pa.array(out["media_ref"], type=pa.string()),
            pa.array(out["offset"], type=pa.int32()),
        ],
        names=OUTPUT_COLUMNS,
    )


def make_extract_fn(
    output_mode: str = "spans",
    excepted_lines: list[int] | None = None,
    excepted_pages: list[int] | None = None,
    row_model: str = "votes",
    gap_min_spaces: int | None = None,
    midcol_rowspans: bool = False,
):
    """The shared extract-and-encode step: ``fn(columns, null_offset)``
    runs ``extract_columnar`` once over decoded span columns and encodes
    the result as one Arrow batch — flat ``OUTPUT_COLUMNS`` span rows for
    ``output_mode="spans"``, ``(doc_id, result)`` rows (via
    ``nested_from_columnar``) for "nested" and "nested-colspans". It
    returns ``(batch, doc, tables, errors)``, the last three per batch
    row: its input row (an index into ``columns``' doc ids), the number of
    tables the row begins (flat: 1 where a table starts, at a change of
    ``doc`` or ``table``; nested: the record's tables) and whether it is a
    doc's error row or record (``kind == "error"``). An unknown mode or
    row model, or ``midcol_rowspans`` outside "nested-colspans", raises
    ``ValueError`` here, before any data is touched.

    ``row_model`` ("votes" | "anchor" | "none") picks the row-merge
    mechanism — "anchor" is the detected-row J4 analog
    (PDFTableExtractor2.java:334-380), "none" the reference's
    use_row_info switch analog (physical rows as-is); ``excepted_lines``/
    ``excepted_pages`` drop text lines / detected regions by per-doc
    index, negative = from the end (PDFTableExtractor2.java:93-128);
    ``gap_min_spaces=None`` means ``spec.GAP_MIN_SPACES``;
    ``midcol_rowspans`` opts into non-col-0 rowspan recovery (see
    ``nested_from_columnar`` for the sparse-column trade-off)."""
    for name, value, known in (("output_mode", output_mode, OUTPUT_MODES),
                               ("row_model", row_model, ROW_MODELS)):
        if value not in known:
            raise ValueError(
                f"unknown {name} {value!r}; expected one of {known}"
            )
    colspans = output_mode == "nested-colspans"
    if midcol_rowspans and not colspans:
        raise ValueError(
            "midcol_rowspans needs output_mode 'nested-colspans', "
            f"not {output_mode!r}"
        )
    kw = dict(
        excepted_lines=excepted_lines,
        excepted_pages=excepted_pages,
        row_model=row_model,
        gap_min_spaces=(
            spec.GAP_MIN_SPACES if gap_min_spaces is None else gap_min_spaces
        ),
        with_extents=colspans,
        midcol_rowspans=midcol_rowspans,
    )

    def fn(columns, null_offset=None):
        out = extract_columnar(*columns, null_offset=null_offset, **kw)
        doc, table = out["doc"], np.asarray(out["table"], dtype=np.int64)
        new_doc = np.diff(doc, prepend=-1) != 0
        tables = ((table >= 0) & (new_doc | (np.diff(table, prepend=-2) != 0))
                  ).astype(np.int32)
        errors = np.asarray(out["kind"], dtype=object) == spec.KIND_ERROR
        if output_mode == "spans":
            return _flat_batch(out), doc, tables, errors
        # a record is a doc's run of rows: its first row's doc and error
        # flag, the tables its rows begin
        starts = np.flatnonzero(new_doc)
        return (nested_from_columnar(out, colspans), doc[starts],
                np.add.reduceat(tables, starts), errors[starts])

    return fn


def make_map_in_arrow_fn(output_mode: str = "spans", **options):
    """The ``DataFrame.mapInArrow`` fn every extraction runs: each
    ``(doc_id, spans)`` batch is decoded once, extracted once and encoded
    by the ``output_mode`` adapter. ``options`` are those of
    ``make_extract_fn``.

    A batch that also carries an int ``bucket`` column (the job's bucket
    waves) is extracted the same way, in one call. Its output rows carry
    their input row's ``bucket`` plus the two internal count columns the
    job observes per bucket and drops before its write: ``__tables``
    (int, the tables the row begins) and ``__error`` (bool, an error row
    or record)."""
    extract = make_extract_fn(output_mode, **options)

    def fn(batches):
        for rb in batches:
            out, doc, tables, errors = extract(*_decode_spans(rb))
            if "bucket" in rb.schema.names:
                out = pa.RecordBatch.from_arrays(
                    out.columns + [rb.column("bucket").take(pa.array(doc)),
                                   pa.array(tables, pa.int32()),
                                   pa.array(errors)],
                    names=[*out.schema.names, "bucket", "__tables", "__error"],
                )
            yield out

    return fn
