"""Deterministic synthetic corpus of interleaved text+media span documents.

Produces the ``(doc_id, spans)`` input shape of BASELINE.json's input_hint /
FIXTURES.md §1 at any scale, seeded per document (stable across runs,
machines, and partitionings — the per-doc RNG is keyed by crc32(doc_id),
never by global state). The generated documents exercise every extraction
edge case called out in FIXTURES.md: prose negatives, key-resource regions
with RRID cells and header keywords, multi-line overflow rows with empty
cells, interleaved boundary media spans, non-relevant aligned tables (must be
dropped), blank lines, single-row fragments, and mega-doc skew.
"""

from __future__ import annotations

import zlib
from itertools import chain
from random import Random

import numpy as np

from . import spec

WORDS = (
    "antibody protein assay buffer vector plasmid reagent mouse rabbit goat "
    "anti human clone lot dilution western blot stain primer enzyme kit "
    "culture medium serum cell line strain construct marker tag flag"
).split()

SOURCES = (
    "Abcam ThermoFisher Sigma-Aldrich CellSignaling Invitrogen Addgene "
    "Jackson BioLegend Millipore Promega"
).split()

PROSE = (
    "the results indicate a strong effect of treatment on expression . "
    "we observed significant changes across all conditions tested . "
    "samples were processed according to the standard protocol described"
).split()

COL_WIDTHS = (24, 20, 22)  # REAGENT | SOURCE | IDENTIFIER
MEGA_DOC_EVERY = 97  # 1 in 97 docs is a mega doc (skew driver)
MEGA_FACTOR = 60

# doc keys, ``key_format.format(i, seed=seed)``: KEY_FORMAT for
# job.synthesize_spans, SF_KEY_FORMAT for the sf documents table's ids
KEY_FORMAT = "doc_{seed}_{:07d}"
SF_KEY_FORMAT = "sfdoc_{}"


def _rng(doc_id: str, seed: int = 42) -> Random:
    return Random(zlib.crc32(f"{seed}:{doc_id}".encode()) & 0xFFFFFFFF)


def _pad(cell: str, width: int) -> str:
    cell = cell[: width - 2]
    return cell + " " * (width - len(cell))


def _prose_line(r: Random) -> str:
    n = r.randint(4, 10)
    return " ".join(r.choice(PROSE) for _ in range(n))


def _krt_rows(r: Random, n_rows: int) -> list[str]:
    """Aligned data rows; ~1/3 get a lowercase continuation line."""
    out = []
    for _ in range(n_rows):
        name = f"{r.choice(WORDS).capitalize()} {r.choice(WORDS)}"
        src = r.choice(SOURCES)
        kind = r.choice(("AB", "SCR"))
        ident = f"RRID:{kind}_{r.randint(1, 999999):06d}"
        out.append(
            _pad(name, COL_WIDTHS[0]) + _pad(src, COL_WIDTHS[1]) + ident
        )
        if r.random() < 0.33:  # overflow continuation: empty col0/col1
            cont = f"{r.choice(WORDS)} {r.choice(WORDS)} {r.choice(WORDS)}"
            col = r.choice((1, 2))
            indent = sum(COL_WIDTHS[:col])
            out.append(" " * indent + cont)
        elif r.random() < 0.18:  # col-0 rowspan shape: anchor-less FULL
            # rows (content in >=2 columns) sharing the row above's
            # anchor cell — the covered-row rendering of a rowspan cell
            for _ in range(r.randint(1, 2)):
                sub = f"{r.choice(WORDS)} variant"
                kind2 = r.choice(("AB", "SCR"))
                id2 = f"RRID:{kind2}_{r.randint(1, 999999):06d}"
                out.append(
                    " " * COL_WIDTHS[0] + _pad(sub, COL_WIDTHS[1]) + id2
                )
    return out


def _plain_table(r: Random, n_rows: int) -> list[str]:
    """Aligned numeric table with no RRID/header — must be filtered out."""
    out = []
    for _ in range(n_rows):
        out.append(
            _pad(str(r.randint(0, 500)), 12)
            + _pad(f"{r.random():.3f}", 12)
            + str(r.randint(1000, 9999))
        )
    return out


def generate_doc_with_gold(doc_id: str, seed: int = 42):
    """Spans for one doc plus detection ground truth.

    Returns ``(spans, gold_offsets)`` where ``gold_offsets`` is the set of
    text-span offsets belonging to key-resource table blocks (title +
    header + data/continuation rows) — the per-line ground truth for the
    detection P/R evaluation (reference perf_eval.py parity).
    """
    r = _rng(doc_id, seed)
    mega = zlib.crc32(doc_id.encode()) % MEGA_DOC_EVERY == 0
    blocks = MEGA_FACTOR if mega else r.randint(1, 3)

    lines: list[tuple] = []  # (kind, text, media_ref)
    gold: set[int] = set()
    media_k = 0

    def media() -> tuple:
        nonlocal media_k
        media_k += 1
        return (spec.KIND_MEDIA, "", f"media://{doc_id}/img_{media_k}")

    for b in range(blocks):
        for _ in range(r.randint(2, 6)):
            lines.append((spec.KIND_TEXT, _prose_line(r), ""))
        if r.random() < 0.15:  # stray media in prose (never emitted)
            lines.append(media())
        roll = r.random()
        if roll < 0.55:  # key-resource table
            if r.random() < 0.5:
                lines.append(media())  # boundary media before table
            t0 = len(lines)
            lines.append((spec.KIND_TEXT, "Key Resources Table", ""))
            lines.append(
                (
                    spec.KIND_TEXT,
                    _pad("REAGENT or RESOURCE", COL_WIDTHS[0])
                    + _pad("SOURCE", COL_WIDTHS[1])
                    + "IDENTIFIER",
                    "",
                )
            )
            for row in _krt_rows(r, r.randint(2, 7)):
                lines.append((spec.KIND_TEXT, row, ""))
            gold.update(range(t0, len(lines)))
            if r.random() < 0.5:
                lines.append(media())  # boundary media after table
        elif roll < 0.75:  # non-relevant aligned table (dropped)
            for row in _plain_table(r, r.randint(3, 6)):
                lines.append((spec.KIND_TEXT, row, ""))
        if r.random() < 0.1:
            lines.append((spec.KIND_TEXT, "", ""))  # blank line edge case

    spans = [
        (kind, text, media_ref, off)
        for off, (kind, text, media_ref) in enumerate(lines)
    ]
    return spans, gold


def generate_doc(doc_id: str, seed: int = 42) -> list[tuple]:
    """Spans for one doc: list of (kind, text, media_ref, offset)."""
    return generate_doc_with_gold(doc_id, seed)[0]


def generate_columns(ids, seed: int = 42, key_format: str = KEY_FORMAT):
    """The docs keyed ``key_format.format(i, seed=seed)`` for ``i`` in
    ``ids`` as the columnar tuple ``pipeline.extract_columnar`` takes,
    ``(doc_ids, span_doc, kinds, texts, media_refs, offsets)``: each doc's
    spans contiguous and in doc order, ``span_doc`` their doc index."""
    keys = [key_format.format(i, seed=seed) for i in ids]
    docs = [generate_doc(k, seed) for k in keys]
    kinds, texts, media, offs = tuple(zip(*chain(*docs))) or ((),) * 4
    return (
        np.array(keys, dtype=object),
        np.repeat(np.arange(len(keys)), [len(d) for d in docs]),
        *(np.array(c, dtype=object) for c in (kinds, texts, media)),
        np.array(offs, dtype=np.int64),
    )
