"""Adversarial documents on the job path: a parquet span table holding a
mega-doc of 10^5 spans, a null span list, an empty one and a non-ASCII
doc next to ordinary synth docs goes through ``run_extraction`` in flat
and nested mode. Each doc's output equals the in-process references and
the checkpoint counts every input doc and span."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pandas as pd
import pytest
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from key_resource_table_extractor_spark import job, oracle, spec, synth
from key_resource_table_extractor_spark.extractor.pipeline import (
    _SPAN_TYPE,
    extract_columnar,
)
from tests.conftest import extract_batch

MEGA_SPANS = 100_000
# tracemalloc peak (MiB) of one ``extract_columnar`` call on the mega-doc
# by the per-doc kernel this bound was first measured on, by
# ``with_extents``; the kernel may not grow it by more than half
MEGA_PEAK_MIB = {False: 47.7, True: 50.6}


def _row(*cells: str) -> str:
    return "".join(c.ljust(w) for c, w in zip(cells, synth.COL_WIDTHS))


NON_ASCII = [
    ("text", "Résumé des réactifs — 试剂 и реагенты", ""),
    ("text", "Key Resources Table", ""),
    ("text", _row("REAGENT or RESOURCE", "SOURCE", "IDENTIFIER"), ""),
    ("text", _row("Anti-β-Tubulin 抗体", "Société Générale", "RRID:AB_000123"),
     ""),
    ("media", "", "media://ünïcode/图_1"),
    ("text", _row("Ácido ribonucleico", "Санкт-Петербург", "RRID:SCR_004422"),
     ""),
    ("text", _row("", "😀 émoji note"), ""),
]


def _mega_doc() -> list[tuple]:
    """Synth docs back to back, renumbered, until MEGA_SPANS spans."""
    spans: list[tuple] = []
    i = 0
    while len(spans) < MEGA_SPANS:
        for k, t, m, _ in synth.generate_doc(f"mega_{i}"):
            spans.append((k, t, m, len(spans)))
        i += 1
    return spans


def _docs() -> dict:
    docs = {
        d: synth.generate_doc(d)
        for d in (synth.KEY_FORMAT.format(i, seed=42) for i in range(8))
    }
    docs["mega"] = _mega_doc()
    docs["null_spans"] = None
    docs["empty"] = []
    docs["non_ascii"] = [(k, t, m, o) for o, (k, t, m) in enumerate(NON_ASCII)]
    return docs


def _frame(docs: dict) -> pd.DataFrame:
    """``(doc_id, spans)`` rows, spans as span dicts (None stays None)."""
    return pd.DataFrame({
        "doc_id": list(docs),
        "spans": [
            None if s is None else
            [dict(kind=k, text=t, media_ref=m, offset=o) for k, t, m, o in s]
            for s in docs.values()
        ],
    })


def _check_counts(spark, cp: str, docs: dict) -> None:
    n_docs, n_spans = job._read_checkpoint(spark, cp).agg(
        F.sum("n_docs"), F.sum("n_spans_in")).first()
    assert n_docs == len(docs)
    assert n_spans == sum(len(s or []) for s in docs.values())


def test_adversarial_documents_through_run_extraction(spark, tmp_path):
    docs = _docs()
    assert len(docs["mega"]) >= MEGA_SPANS
    frame = _frame(docs)
    path = str(tmp_path / "in.parquet")
    pq.write_table(pa.Table.from_pandas(frame, pa.schema([
        ("doc_id", pa.string()), ("spans", pa.list_(_SPAN_TYPE))])), path)
    inp = job.read_spans(spark, path)

    # flat: every doc's data spans equal the oracle's, and no error row
    out, cp = str(tmp_path / "flat"), str(tmp_path / "flat_cp")
    job.run_extraction(spark, inp, out, cp, run_id="a", n_buckets=2)
    got: dict[str, list] = {d: [] for d in docs}
    for r in job.read_output(spark, out).orderBy("doc_id", "seq").collect():
        got[r["doc_id"]].append(
            (r["seq"], r["kind"], r["text"], r["media_ref"], r["offset"]))
    exp = {d: oracle.extract_document(s or []) for d, s in docs.items()}
    assert exp["mega"] and exp["non_ascii"]
    for d in docs:
        assert got[d] == exp[d], d
    assert spark.read.parquet(out).where(
        F.col("kind") == spec.KIND_ERROR).count() == 0
    _check_counts(spark, cp, docs)

    # nested: the rows equal the in-process extraction of the same docs
    out, cp = str(tmp_path / "nested"), str(tmp_path / "nested_cp")
    job.run_extraction(spark, inp, out, cp, run_id="a", n_buckets=2,
                       output_mode="nested")
    rows = sorted(tuple(r) for r in job.read_output(spark, out).select(
        "doc_id", "result").collect())
    ref = extract_batch(frame, "nested")
    assert rows == sorted(zip(ref["doc_id"], ref["result"]))
    assert {"mega", "non_ascii"} <= {d for d, _ in rows}
    _check_counts(spark, cp, docs)


@pytest.mark.parametrize("with_extents", [False, True])
def test_mega_doc_kernel_memory_is_bounded(with_extents):
    """The kernel's Python-heap peak on the 10^5-span mega-doc stays
    within 1.5x of the per-doc kernel's: no segments x columns matrix."""
    kinds, texts, refs, offsets = zip(*_mega_doc())
    columns = (np.array(["mega"], dtype=object),
               np.zeros(len(kinds), dtype=np.int64),
               *(np.array(c, dtype=object) for c in (kinds, texts, refs)),
               np.array(offsets, dtype=np.int64))
    tracemalloc.start()
    try:
        out = extract_columnar(*columns, with_extents=with_extents)
        peak = tracemalloc.get_traced_memory()[1] / 2**20
    finally:
        tracemalloc.stop()
    assert len(out["kind"]) and spec.KIND_ERROR not in set(out["kind"])
    assert peak < 1.5 * MEGA_PEAK_MIB[with_extents], peak
