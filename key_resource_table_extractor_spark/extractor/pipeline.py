"""Vectorized per-batch extraction (the Spark-side implementation).

The whole five-stage cascade of the reference (SURVEY.md §0) runs as a pure
function over one Arrow batch of ``(doc_id, spans)`` rows inside
``mapInArrow`` — every Spark extraction shape runs ``make_map_in_arrow_fn``
(or, for the fused synthetic-input queries, its ``make_extract_fn`` step).
Design:

- batch-global passes (line features, in-table scoring, gap fill, island
  detection) are fully vectorized with pandas/numpy over *all* lines of *all*
  docs in the batch at once;
- per-region structure work (column trap-range union, segment→column
  assignment, merge votes) is numpy over each region's small arrays —
  the same two-pointer/searchsorted shape as the reference's Java merges
  (PDFTableExtractor2.java:271-302,574-593) instead of O(n²) scans;
- documents are isolated: a failing document yields a single ``kind='error'``
  row (the reference stores per-job err_msg, task_manager.py:56-59) and
  never fails the stage.

No per-row Python UDFs; the only O(lines) Python loop is the compiled-regex
segment scan (C-speed finditer).
"""

from __future__ import annotations

import json
import re
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa

from .. import spec

_SEG_RE = re.compile(spec.SEGMENT_REGEX)


def _seg_re(gap_min_spaces: int):
    if gap_min_spaces == spec.GAP_MIN_SPACES:
        return _SEG_RE
    return re.compile(spec.segment_regex(gap_min_spaces))
_RRID_PAT = spec.RRID_REGEX

OUTPUT_COLUMNS = ["doc_id", "seq", "kind", "text", "media_ref", "offset"]
NESTED_COLUMNS = ["doc_id", "result"]
OUTPUT_MODES = ("spans", "nested", "nested-colspans")
ROW_MODELS = ("votes", "anchor", "none")


# --------------------------------------------------------------------------
# batch-global vectorized passes
# --------------------------------------------------------------------------

def _segment_scan(texts: np.ndarray, gap_min_spaces: int = spec.GAP_MIN_SPACES):
    """Flat segment arrays for all lines: (line_idx, start, end, text)."""
    seg_line: list[int] = []
    seg_start: list[int] = []
    seg_end: list[int] = []
    seg_text: list[str] = []
    n_segs = np.zeros(len(texts), dtype=np.int32)
    indent = np.zeros(len(texts), dtype=np.int32)
    finditer = _seg_re(gap_min_spaces).finditer
    for i, t in enumerate(texts):
        first = True
        cnt = 0
        for m in finditer(t):
            seg_line.append(i)
            seg_start.append(m.start())
            seg_end.append(m.end())
            seg_text.append(m.group())
            if first:
                indent[i] = m.start()
                first = False
            cnt += 1
        n_segs[i] = cnt
    return (
        np.asarray(seg_line, dtype=np.int64),
        np.asarray(seg_start, dtype=np.int64),
        np.asarray(seg_end, dtype=np.int64),
        np.asarray(seg_text, dtype=object),
        n_segs,
        indent,
    )


def _line_features(li_doc: np.ndarray, texts: pd.Series):
    """Vectorized RRID / header-keyword / section-header features."""
    up = texts.str.upper()
    has_rrid = texts.str.contains(_RRID_PAT, regex=True, na=False).to_numpy()
    hdr = up.str.contains(spec.HEADER_TITLE, regex=False, na=False).to_numpy()
    # cheap prefilter: one combined regex pass; the per-keyword passes run
    # only on the (rare) candidate lines
    any_kw = up.str.contains(
        "|".join(spec.HEADER_KEYWORDS), regex=True, na=False
    ).to_numpy()
    is_header = hdr.copy()
    cand = np.flatnonzero(any_kw & ~hdr)
    if len(cand):
        sub = up.iloc[cand]
        kw_hits = np.zeros(len(cand), dtype=np.int32)
        for kw in spec.HEADER_KEYWORDS:
            kw_hits += sub.str.contains(
                r"\b%s\b" % kw, regex=True, na=False
            ).to_numpy()
        is_header[cand] = kw_hits >= spec.HEADER_MIN_KEYWORDS
    # section-header shape: Title-case start, <=N words, no terminal punct
    stripped = texts.str.strip()
    sect_ok = (
        stripped.str.slice(0, 1).str.isupper().fillna(False)
        & (stripped.str.count(" ") < spec.SECTION_HEADER_MAX_WORDS)
        & ~stripped.str.endswith(spec.SECTION_HEADER_END_PUNCT).fillna(False)
    ).to_numpy()
    return has_rrid, is_header, sect_ok


def _in_table_pass(li_doc, n_segs, indent, has_rrid, is_header, sect_ok):
    """Base rule + continuation threading + gap fill + islands.

    Returns ``region_id`` per line (-1 = not in a kept region). All steps are
    groupby-ffill/cumsum tricks — the gaps-and-islands shape of SURVEY §2 A1/A2
    executed batch-wide.
    """
    n = len(li_doc)
    blank = n_segs == 0
    base = (n_segs >= spec.MIN_SEGS_IN_TABLE) | has_rrid | is_header
    # prev-threaded lines: indented continuations and section headers
    eligible = (n_segs == 1) & (
        (indent >= spec.CONTINUATION_MIN_INDENT) | sect_ok
    )

    df = pd.DataFrame({"doc": li_doc})
    # anchors: non-blank lines whose effective state equals their base state
    anchor = (~blank) & (~eligible | base)
    carried = (
        pd.Series(np.where(anchor, base, np.nan))
        .groupby(df["doc"])
        .ffill()
        .fillna(0.0)
        .to_numpy()
        .astype(bool)
    )
    in_tab = base | (eligible & ~base & carried)

    # gap fill (W4): short non-blank runs between two in-table lines
    pos = df.groupby("doc").cumcount().to_numpy()
    doc_start = np.flatnonzero(np.r_[True, li_doc[1:] != li_doc[:-1]])
    doc_start_of = doc_start[np.searchsorted(doc_start, np.arange(n), "right") - 1]
    tpos = pd.Series(np.where(in_tab, pos.astype(float), np.nan))
    prev_t = tpos.groupby(df["doc"]).ffill().to_numpy()
    next_t = tpos.groupby(df["doc"]).bfill().to_numpy()
    blank_cum = pd.Series(blank.astype(np.int64)).groupby(df["doc"]).cumsum().to_numpy()
    mid = (~in_tab) & (~blank) & ~np.isnan(prev_t) & ~np.isnan(next_t)
    fill = np.zeros(n, dtype=bool)
    if mid.any():
        m_idx = np.flatnonzero(mid)
        p = prev_t[m_idx].astype(np.int64) + doc_start_of[m_idx]
        q = next_t[m_idx].astype(np.int64) + doc_start_of[m_idx]
        gap_len = next_t[m_idx] - prev_t[m_idx] - 1
        blanks_between = blank_cum[q - 1] - blank_cum[p]
        fill[m_idx] = (gap_len <= spec.GAP_FILL_MAX) & (blanks_between == 0)
    in_tab = in_tab | fill

    # islands: contiguous in-table runs; keep relevant ones of size >= min
    doc_change = np.r_[True, li_doc[1:] != li_doc[:-1]]
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
# per-region structure build (numpy; small arrays)
# --------------------------------------------------------------------------

def _excepted_lines_keep_mask(
    li_doc: np.ndarray, excepted_lines: list[int]
) -> np.ndarray:
    """Per-line keep mask dropping each doc's excepted text-line indices
    (Python-style negative indexing, out-of-range ignored — reference
    PDFTableExtractor2.java:93-128). Vectorized over the whole batch."""
    n = len(li_doc)
    if n == 0:
        return np.ones(0, dtype=bool)
    change = np.r_[True, li_doc[1:] != li_doc[:-1]]
    starts = np.flatnonzero(change)
    counts = np.diff(np.r_[starts, n])
    pos = np.arange(n) - np.repeat(starts, counts)
    lens = np.repeat(counts, counts)
    excl = np.zeros(n, dtype=bool)
    for ix in excepted_lines:
        if ix >= 0:
            excl |= pos == ix
        else:
            excl |= pos == lens + ix
    return ~excl


def _column_union(starts: np.ndarray, ends: np.ndarray):
    """Merge overlapping segment x-intervals → disjoint column trap ranges."""
    order = np.argsort(starts, kind="stable")
    s, e = starts[order], ends[order]
    cmax = np.maximum.accumulate(e)
    brk = np.empty(len(s), dtype=bool)
    brk[0] = True
    brk[1:] = s[1:] > cmax[:-1] + spec.COLUMN_MERGE_TOL
    # group starts: first s per group (s sorted asc), ends: max e per group
    col_s = s[brk]
    col_e = np.maximum.reduceat(e, np.flatnonzero(brk))
    return col_s, col_e


def _assign_columns(seg_s, seg_e, col_s, col_e, with_extents: bool = True):
    """Max-overlap column per segment, leftmost tie, rightmost-start fallback.

    Returns ``(best, first, last)``: the assigned column plus the physical
    extent — the first and last trap range each segment positively overlaps
    (the interval-overlap data the spanning-cell recovery reads; reference
    models spanning cells as their own boxes, table_model.py:239-264).
    For segments overlapping no column, first == last == best (fallback).
    ``with_extents=False`` skips the extent pass (first/last are None) —
    the flat span output never reads them and the kernel is hot.
    """
    ce = col_e.astype(np.int64).copy()
    ce[-1] = max(ce[-1], int(seg_e.max()))  # last column extends (reference
    # expands the last column, PDFTableExtractor2.java:230-236)
    ov = np.minimum(seg_e[:, None], ce[None, :]) - np.maximum(
        seg_s[:, None], col_s[None, :]
    )
    best = ov.argmax(axis=1)
    none = ov[np.arange(len(seg_s)), best] <= 0
    if none.any():
        fb = np.searchsorted(col_s, seg_s[none], side="right") - 1
        best[none] = np.clip(fb, 0, len(col_s) - 1)
    if not with_extents:
        return best, None, None
    pos = ov > 0
    first = pos.argmax(axis=1)
    last = pos.shape[1] - 1 - pos[:, ::-1].argmax(axis=1)
    first = np.where(none, best, first)
    last = np.where(none, best, last)
    return best, first, last


_LOWER_CONT = set(spec.CONTINUATION_LEADING_CHARS)


_DANGLING = spec.DANGLING_SUFFIXES


def _merge_flags(cells: np.ndarray, is_hdr: np.ndarray) -> np.ndarray:
    """Row-merge decision vs physical predecessor (votes, strict majority).

    Regions are tiny (tens of rows × a few columns) — plain Python string
    ops beat pandas Series construction here by ~100×."""
    nrows, ncols = cells.shape
    flags = np.zeros(nrows, dtype=bool)
    for k in range(1, nrows):
        if is_hdr[k]:
            continue
        upper = cells[k - 1]
        lower = cells[k]
        if spec.MERGE_REQUIRES_EMPTY_CELL and "" not in lower:
            continue
        votes = 0
        for c in range(ncols):
            lo = lower[c]
            if lo == "" or (
                (lo[0].islower() or lo[0] in _LOWER_CONT)
                or upper[c].endswith(_DANGLING)
            ):
                votes += 1
        flags[k] = votes * 2 > ncols
    return flags


def _extract_doc_regions(
    line_off: np.ndarray,
    region_id: np.ndarray,
    is_header: np.ndarray,
    n_segs: np.ndarray,
    seg_line: np.ndarray,
    seg_s: np.ndarray,
    seg_e: np.ndarray,
    seg_t: np.ndarray,
    media_off: np.ndarray,
    media_ref: np.ndarray,
    out: dict,
    excepted_pages: list[int] | None = None,
    row_model: str = "votes",
    with_extents: bool = False,
    midcol_rowspans: bool = False,
) -> None:
    """Emit one doc's regions into the output accumulator, numbering its
    tables from 0 in the ``table`` column.

    ``row_model="none"`` is the reference's ``use_row_info`` switch analog
    (pipeline A vs B, reference README:121-122, PDFTableExtractor2.java:
    200-208): physical rows are emitted as-is, no continuation merging.

    ``excepted_pages`` skips detected regions by index in the doc's
    detection order (negative = from the end, out-of-range ignored —
    reference PDFTableExtractor2.java:641-651).
    """
    n_tables = 0
    media_used = np.zeros(len(media_off), dtype=bool)
    kept = np.flatnonzero(region_id >= 0)
    if len(kept) == 0:
        return
    # contiguous runs of equal region ids
    rk = region_id[kept]
    run_break = np.empty(len(kept), dtype=bool)
    run_break[0] = True
    run_break[1:] = rk[1:] != rk[:-1]
    run_starts = kept[run_break]
    rb_idx = np.flatnonzero(run_break)
    run_ends = np.concatenate([kept[rb_idx[1:] - 1], kept[-1:]])
    excl_pages: set[int] = set()
    if excepted_pages:
        nr = len(run_starts)
        for ix in excepted_pages:
            j = ix if ix >= 0 else nr + ix
            if 0 <= j < nr:
                excl_pages.add(j)
    for ri, (lo_i, hi_i) in enumerate(zip(run_starts, run_ends)):
        if ri in excl_pages:
            continue
        lines_idx = np.arange(lo_i, hi_i + 1)
        smask = (seg_line >= lo_i) & (seg_line <= hi_i)
        sl, ss, se, st = seg_line[smask], seg_s[smask], seg_e[smask], seg_t[smask]
        if len(sl) == 0:
            continue
        struct = n_segs[sl] >= spec.MIN_SEGS_IN_TABLE
        if not struct.any():
            continue
        col_s, col_e = _column_union(ss[struct], se[struct])
        ncols = len(col_s)
        if ncols < spec.MIN_COLUMNS:
            continue
        col_of, col_first, col_last = _assign_columns(
            ss, se, col_s, col_e, with_extents
        )
        # cell grid (rows = physical lines of the region); gf/gl carry each
        # cell's physical column extent (min first / max last trap range its
        # segments overlap) for spanning-cell recovery in the nested output
        # (skipped entirely on the flat path — the kernel is hot)
        nl = len(lines_idx)
        grid = np.full((nl, ncols), "", dtype=object)
        local = sl - lo_i
        for k in range(len(sl)):
            r, c = local[k], col_of[k]
            grid[r, c] = (
                st[k] if grid[r, c] == "" else grid[r, c] + " " + st[k]
            )
        if with_extents:
            gf = np.tile(np.arange(ncols, dtype=np.int64), (nl, 1))
            gl = gf.copy()
            np.minimum.at(gf, (local, col_of), col_first)
            np.maximum.at(gl, (local, col_of), col_last)
        nonempty = (grid != "").any(axis=1)
        if not nonempty.any():
            continue
        rows = grid[nonempty]
        if with_extents:
            rows_f = gf[nonempty]
            rows_l = gl[nonempty]
        row_lines = lines_idx[nonempty]
        hdr = is_header[row_lines]
        cont_full = None
        if row_model == "anchor":
            # J4 analog (reference PDFTableExtractor2.java:334-380): rows
            # lacking their col-0 anchor fold into the detected row above
            merge = (rows[:, 0] == "") & ~hdr
            merge[0] = False
            if with_extents:
                # col-0 ROWSPAN recovery (nested colspans output only): an
                # anchor-less line with >=2 non-empty cells is a full
                # detected row sharing its anchor cell — the char-space
                # twin of a DETR spanning cell whose box y-covers several
                # row boxes (reference table_model.py:239-264) — not a
                # wrap fragment (wraps continue exactly one column). Keep
                # it as its own logical row; the anchor's col-0 cell will
                # carry rowspan = 1 + run of such covered rows below.
                cont_full = merge & ((rows != "").sum(axis=1) >= 2)
                merge = merge & ~cont_full
        elif row_model == "votes":
            merge = _merge_flags(rows, hdr)
        else:
            merge = np.zeros(len(rows), dtype=bool)
        gid = np.cumsum(~merge) - 1
        ngroups = gid[-1] + 1
        folded = np.full((ngroups, ncols), "", dtype=object)
        for k in range(len(rows)):
            g = gid[k]
            for c in range(ncols):
                v = rows[k, c]
                if v != "":
                    folded[g, c] = (
                        v if folded[g, c] == ""
                        else folded[g, c] + " " + v
                    )
        if with_extents:
            # an empty cell's extent is its own column, which min/max leave
            # unchanged, so every cell of the group's rows can be folded
            folded_f = np.tile(np.arange(ncols, dtype=np.int64), (ngroups, 1))
            folded_l = folded_f.copy()
            r, c = np.indices(rows.shape)
            np.minimum.at(folded_f, (gid[r], c), rows_f)
            np.maximum.at(folded_l, (gid[r], c), rows_l)
        first_of_group = np.empty(len(gid), dtype=bool)
        first_of_group[0] = True
        first_of_group[1:] = gid[1:] != gid[:-1]
        grp_off = line_off[row_lines[first_of_group]]
        # full-width spanning rows (colspan carrier for the nested result):
        # every source line single-segment AND exactly one non-empty cell —
        # the section-divider shape the reference models as a spanning cell
        # (DETR label 5, table_model.py:239-264). Partial colspans are not
        # recoverable from character layout (documented deviation).
        src_multi = n_segs[row_lines] > 1
        grp_has_multi = np.bincount(gid, weights=src_multi, minlength=ngroups) > 0
        grp_nonempty = (folded != "").sum(axis=1)
        grp_fullspan = (~grp_has_multi) & (grp_nonempty == 1)
        grp_rowspan = None
        if with_extents:
            # rowspan carriage: a run of covered rows extends the group
            # ABOVE it — but only a plain DATA row may carry a claim. A
            # header group or a full-width divider preceding an
            # anchor-less full row is not evidence of a spanning cell
            # (the reference derives rowspans from spanning-cell boxes
            # over DATA row boxes, table_model.py:239-264); cancelling
            # there falls back to the flat documented-deviation shape.
            # Per (group, col): col 0 spans the whole covered run (the
            # covered rows are anchor-less by construction — strong fold
            # evidence). A carrier cell in column c>0 spanning the
            # empty-in-c PREFIX of the run is recovered only under the
            # ``midcol_rowspans`` opt-in: its sole evidence is "covered
            # row empty in c", which a genuinely empty cell (the common
            # sparse-column shape) produces byte-identically, so the
            # default keeps the flat emission that is correct there —
            # the opt-in trades that false positive for recovering true
            # mid-column spans (documented deviation either way; the
            # reference's pixel boxes disambiguate, table_model.py:
            # 239-264, and the span contract excludes them, SURVEY §1.3).
            grp_rowspan = np.ones((ngroups, ncols), dtype=np.int64)
            if cont_full is not None and cont_full.any():
                covered = np.zeros(ngroups, dtype=bool)
                covered[gid[cont_full]] = True  # groups a covered row starts
                grp_is_hdr = hdr[first_of_group]
                run = 0
                for g in range(ngroups - 1, -1, -1):
                    if covered[g]:
                        run += 1
                    else:
                        if run and not grp_is_hdr[g] and not grp_fullspan[g]:
                            grp_rowspan[g, 0] = 1 + run
                            for c in range(1, ncols) if midcol_rowspans else ():
                                if folded[g, c] == "":
                                    continue
                                pre = 0
                                for j in range(1, run + 1):
                                    if folded[g + j, c] != "":
                                        break
                                    pre += 1
                                if pre:
                                    grp_rowspan[g, c] = 1 + pre
                        run = 0
        # boundary media (emitted once, offset order)
        lo_off = int(line_off[lo_i]) - spec.MEDIA_BOUNDARY_SLACK
        hi_off = int(line_off[hi_i]) + spec.MEDIA_BOUNDARY_SLACK
        mm = (~media_used) & (media_off >= lo_off) & (media_off <= hi_off)
        media_used |= mm
        m_off = media_off[mm]
        m_ref = media_ref[mm]
        # interleave: media sorts before a row at same offset (offsets unique)
        nm = len(m_off)
        ev_off = np.concatenate([m_off, grp_off])
        ev_is_row = np.zeros(nm + ngroups, dtype=bool)
        ev_is_row[nm:] = True
        ev_payload = np.concatenate([np.arange(nm), np.arange(ngroups)])
        order = np.lexsort((ev_is_row, ev_off))
        for ix in order:
            if ev_is_row[ix]:
                g = int(ev_payload[ix])
                off = int(grp_off[g])
                for c in range(ncols):
                    out["kind"].append(spec.KIND_TEXT)
                    out["text"].append(folded[g, c])
                    out["media_ref"].append("")
                    out["offset"].append(off)
                    out["table"].append(n_tables)
                    out["row"].append(g)
                    out["col"].append(c)
                    out["fullspan"].append(bool(grp_fullspan[g]))
                    if with_extents:
                        out["cfirst"].append(int(folded_f[g, c]))
                        out["clast"].append(int(folded_l[g, c]))
                        out["rowspan"].append(int(grp_rowspan[g, c]))
            else:
                j = int(ev_payload[ix])
                out["kind"].append(spec.KIND_MEDIA)
                out["text"].append("")
                out["media_ref"].append(
                    "" if m_ref[j] is None else str(m_ref[j])
                )
                out["offset"].append(int(m_off[j]))
                out["table"].append(n_tables)
                out["row"].append(-1)
                out["col"].append(-1)
                out["fullspan"].append(False)
                if with_extents:
                    out["cfirst"].append(-1)
                    out["clast"].append(-1)
                    out["rowspan"].append(1)
        n_tables += 1


# --------------------------------------------------------------------------
# batch entry points
# --------------------------------------------------------------------------

def _append_meta_row(out: dict, kind: str, text: str) -> None:
    """Append a row outside every table (a doc's error row), filling each
    lineage column the accumulator carries."""
    row = {"kind": kind, "text": text, "media_ref": "",
           "offset": -1, "table": -1, "row": -1, "col": -1,
           "fullspan": False, "cfirst": -1, "clast": -1, "rowspan": 1}
    for c, vals in out.items():
        vals.append(row[c])


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
    Returns a dict of output columns (lists / numpy arrays), including the
    internal ``table``/``row``/``col`` lineage used by the nested renderer
    and ``doc``, each output row's input row (its index in ``doc_ids``).
    Each input row's rows are contiguous and in input order; ``seq``
    numbers them from 0, so two rows with the same ``doc_id`` come out as
    two docs, whatever batch they share.

    ``span_doc`` maps each span to its doc index in ``doc_ids``. Spans need
    not be pre-sorted; we sort by (doc, offset) here.

    ``with_extents=True`` additionally carries per-cell physical column
    extents (``cfirst``/``clast``) for spanning-cell recovery — only the
    colspan-aware nested renderer needs them, and the extra per-cell work
    costs ~20% kernel throughput, so the flat path skips them.

    ``null_offset`` marks spans whose offset was null in the input (their
    ``offsets`` entry is a placeholder): a doc with such a text or media
    span cannot be ordered, so it yields one ``kind='error'`` row. So does
    a doc whose ``doc_id`` is null, its error row's ``doc_id`` null too.
    A doc that fails keeps no row but its error row.
    """
    bad_doc = np.fromiter((d is None for d in doc_ids), bool, len(doc_ids))
    if null_offset is not None:
        placed = (kinds == spec.KIND_TEXT) | (kinds == spec.KIND_MEDIA)
        bad_doc[span_doc[null_offset & placed]] = True
    order = np.lexsort((offsets, span_doc))
    span_doc, kinds, texts = span_doc[order], kinds[order], texts[order]
    media_refs, offsets = media_refs[order], offsets[order]

    is_text = kinds == spec.KIND_TEXT
    li_doc = span_doc[is_text]
    li_off = offsets[is_text]
    li_texts_raw = texts[is_text]
    if excepted_lines:
        li_keep = _excepted_lines_keep_mask(li_doc, excepted_lines)
        li_doc = li_doc[li_keep]
        li_off = li_off[li_keep]
        li_texts_raw = li_texts_raw[li_keep]
    li_text_s = pd.Series(li_texts_raw).fillna("").astype(str)
    li_text = li_text_s.to_numpy()

    seg_line, seg_s, seg_e, seg_t, n_segs, indent = _segment_scan(
        li_text, gap_min_spaces
    )
    has_rrid, is_header, sect_ok = _line_features(li_doc, li_text_s)
    region_id = _in_table_pass(
        li_doc, n_segs, indent, has_rrid, is_header, sect_ok
    )

    is_media = kinds == spec.KIND_MEDIA
    md_doc = span_doc[is_media]
    md_off = offsets[is_media]
    md_ref = media_refs[is_media]

    out: dict[str, list] = {
        "kind": [], "text": [], "media_ref": [], "offset": [],
        "table": [], "row": [], "col": [], "fullspan": [],
    }
    if with_extents:
        out["cfirst"] = []
        out["clast"] = []
        out["rowspan"] = []
    # per-doc slices (lines and media are doc-sorted)
    line_doc_bounds = np.searchsorted(li_doc, np.arange(len(doc_ids) + 1))
    media_doc_bounds = np.searchsorted(md_doc, np.arange(len(doc_ids) + 1))
    seg_bounds = np.searchsorted(seg_line, line_doc_bounds)
    n_rows = np.zeros(len(doc_ids), dtype=np.int64)
    for d in range(len(doc_ids)):
        l0, l1 = line_doc_bounds[d], line_doc_bounds[d + 1]
        m0, m1 = media_doc_bounds[d], media_doc_bounds[d + 1]
        s0, s1 = seg_bounds[d], seg_bounds[d + 1]
        if l0 == l1 and not bad_doc[d]:
            continue
        n0 = len(out["kind"])
        try:
            if doc_ids[d] is None:
                raise ValueError("the doc_id is null")
            if bad_doc[d]:
                raise ValueError("a text or media span has a null offset")
            _extract_doc_regions(
                li_off[l0:l1],
                region_id[l0:l1],
                is_header[l0:l1],
                n_segs[l0:l1],
                seg_line[s0:s1] - l0,
                seg_s[s0:s1],
                seg_e[s0:s1],
                seg_t[s0:s1],
                md_off[m0:m1],
                md_ref[m0:m1],
                out,
                excepted_pages=excepted_pages,
                row_model=row_model,
                with_extents=with_extents,
                midcol_rowspans=midcol_rowspans,
            )
        except Exception:  # per-doc isolation (reference stores err_msg)
            for vals in out.values():
                del vals[n0:]
            _append_meta_row(
                out, spec.KIND_ERROR, traceback.format_exc()[-500:]
            )
        n_rows[d] = len(out["kind"]) - n0

    first = np.cumsum(n_rows) - n_rows  # each input row's first output row
    out["doc"] = np.repeat(np.arange(len(doc_ids)), n_rows)
    out["doc_id"] = np.asarray(doc_ids, dtype=object)[out["doc"]]
    out["seq"] = (np.arange(len(out["doc"])) - np.repeat(first, n_rows)
                  ).astype(np.int32)
    out["offset"] = np.asarray(out["offset"], dtype=np.int32)
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
    ids, results = [], []
    for s, e in zip(starts, np.r_[starts[1:], len(doc)]):
        record = {"paper_id": out["doc_id"][s], "result": {"pages": []}}
        if out["kind"][s] == spec.KIND_ERROR:  # a failed doc's only row
            record["error"] = out["text"][s]
        else:
            record["result"]["pages"] = _pages(out, s, e, with_colspans)
        ids.append(record["paper_id"])
        results.append(json.dumps(record, sort_keys=True))
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, type=pa.string()), pa.array(results, type=pa.string())],
        names=NESTED_COLUMNS,
    )


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
