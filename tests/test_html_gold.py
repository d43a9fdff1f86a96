"""HTML gold-table ingest: gold JSON → HTML → gold JSON round trip on the
reference's gold corpus, plus ingest-side parsing details (th cells,
entities, colspan/rowspan attributes) and HTML → spans → extraction."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from key_resource_table_extractor_spark.sources import (
    gold_table_to_html,
    gold_table_to_spans,
    html_to_gold_tables,
    load_gold_tables,
)
from tests.conftest import extract_batch

GOLD_DIR = (
    "/root/reference/data/table_content_extract/"
    "gs_bioarxiv_extracted_key_resources_tables_sampled"
)


def _norm(tbl):
    """Comparison shape: (content.strip, colspan, rowspan) per cell."""
    return [
        [
            (
                (c.get("content", "") or "").strip(),
                int(c.get("colspan", 1) or 1),
                int(c.get("rowspan", 1) or 1),
            )
            for c in row
        ]
        for row in tbl["rows"]
        if row
    ]


def test_entities_and_th_cells():
    markup = (
        "<table><tr><th>A &amp; B</th><td colspan='2'>x &lt;y&gt;</td></tr>"
        "<tr><td rowspan=\"2\">z</td><td>w</td><td>v</td></tr></table>"
    )
    tables = html_to_gold_tables(markup, name="t")
    assert len(tables) == 1 and tables[0]["name"] == "t"
    rows = _norm(tables[0])
    assert rows[0] == [("A & B", 1, 1), ("x <y>", 2, 1)]
    assert rows[1][0] == ("z", 1, 2)


def test_no_double_entity_decoding():
    """Entities are decoded exactly once (convert_charrefs); content whose
    DECODED form contains entity-like text must survive verbatim."""
    markup = "<table><tr><td>use &amp;amp; literally: &amp;lt;tag&amp;gt;</td></tr></table>"
    tables = html_to_gold_tables(markup, name="t")
    assert tables[0]["rows"][0][0]["content"] == "use &amp; literally: &lt;tag&gt;"


def test_implied_end_tags():
    """HTML5 allows omitting </td>/</tr>: a new cell/row start implicitly
    closes the open one — no cells or rows may be silently dropped."""
    markup = (
        "<table><tr><td>a<td>b</tr>"
        "<tr><td>c<td colspan='2'>d"
        "<tr><td>e</td><td>f</table>"
    )
    tables = html_to_gold_tables(markup, name="t")
    assert len(tables) == 1
    rows = _norm(tables[0])
    assert rows == [
        [("a", 1, 1), ("b", 1, 1)],
        [("c", 1, 1), ("d", 2, 1)],
        [("e", 1, 1), ("f", 1, 1)],
    ], rows


@pytest.mark.skipif(
    not os.path.isdir(GOLD_DIR), reason="reference gold data not available"
)
def test_round_trip_on_gold_corpus():
    for tbl in load_gold_tables(GOLD_DIR):
        back = html_to_gold_tables(gold_table_to_html(tbl), name=tbl["name"])
        assert len(back) == 1
        assert _norm(back[0]) == _norm(tbl), tbl["name"]


@pytest.mark.skipif(
    not os.path.isdir(GOLD_DIR), reason="reference gold data not available"
)
def test_html_ingest_feeds_extraction():
    """An HTML table becomes spans (via the gold renderer) and extracts."""
    tbl = load_gold_tables(GOLD_DIR)[0]
    ingested = html_to_gold_tables(gold_table_to_html(tbl), name=tbl["name"])[0]
    spans = gold_table_to_spans(ingested)
    pdf = pd.DataFrame(
        [("h0", [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in spans
        ])],
        columns=["doc_id", "spans"],
    )
    out = extract_batch(pdf)
    assert (out["kind"] == "text").sum() > 0
