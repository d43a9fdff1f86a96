"""Reference-parity fixtures: the reference's bundled gold-standard tables
(13 hand-annotated key-resources tables) reconstructed as span documents must
round-trip through the pipeline with content preserved and Spark == oracle.

Skipped if the reference data directory is not present."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from key_resource_table_extractor_spark import oracle
from key_resource_table_extractor_spark.sources import (
    gold_table_to_spans,
    load_gold_tables,
)
from key_resource_table_extractor_spark.sources.gold_json import norm_cell
from tests.conftest import extract_batch

GOLD_DIR = (
    "/root/reference/data/table_content_extract/"
    "gs_bioarxiv_extracted_key_resources_tables_sampled"
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(GOLD_DIR), reason="reference gold data not available"
)


@pytest.fixture(scope="module")
def gold():
    tables = load_gold_tables(GOLD_DIR)
    assert len(tables) >= 10
    return tables


def test_gold_roundtrip_content_and_equality(gold):
    rows = []
    for tbl in gold:
        spans = gold_table_to_spans(tbl)
        rows.append(
            (
                tbl["name"],
                [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for (k, t, m, o) in spans
                ],
            )
        )
    pdf = pd.DataFrame(rows, columns=["doc_id", "spans"])
    out = extract_batch(pdf)
    out = out[out["kind"].isin(["text", "media"])]

    for tbl in gold:
        name = tbl["name"]
        spans = gold_table_to_spans(tbl)
        # Spark-side batch == pure-Python oracle (span-sequence equality)
        exp = oracle.extract_document(spans)
        got = out[out.doc_id == name].sort_values("seq")
        got_list = list(
            zip(
                got["seq"].astype(int), got["kind"], got["text"],
                got["media_ref"], got["offset"].astype(int),
            )
        )
        assert got_list == [tuple(r) for r in exp], name

        # content preservation: every gold cell survives into some output cell
        extracted_text = " ".join(t for _s, k, t, _m, _o in exp if t)
        n_cells = 0
        for row in tbl["rows"]:
            for cell in row:
                c = norm_cell(cell.get("content", ""))
                if c:
                    n_cells += 1
                    assert c in extracted_text, (name, c[:60])
        assert n_cells > 0
        # merging only ever reduces row count; never exceeds physical rows
        n_out_rows = len({o for _s, k, _t, _m, o in exp if k == "text"})
        assert 0 < n_out_rows <= len(tbl["rows"]) + 1  # +1 title row
