"""Stateful streaming span assembly (custom stateful operator).

Scenario the batch job can't cover: spans arrive as individual records
``(doc_id, kind, text, media_ref, offset)`` spread across micro-batches
(e.g. a crawler emitting pages as it parses them). This operator
accumulates spans per ``doc_id`` in group state via
``applyInPandasWithState`` and, when a document's end-marker span arrives
(``kind='end'``), runs the full extraction cascade on the assembled
document and emits its ordered output spans. Incomplete documents survive
restarts in the streaming state checkpoint.

This is the engine's ``applyInPandasWithState`` surface — the reference's
job queue (task_manager.py:70-98) reimagined as an event stream with
explicit document-complete markers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from .. import spec
from ..extractor.pipeline import OUTPUT_COLUMNS, extract_columnar

END_KIND = "end"

SPAN_EVENTS_DDL = (
    "doc_id string, kind string, text string, media_ref string, offset int"
)

STATE_SCHEMA = StructType(
    [
        StructField("kinds", ArrayType(StringType())),
        StructField("texts", ArrayType(StringType())),
        StructField("refs", ArrayType(StringType())),
        StructField("offsets", ArrayType(IntegerType())),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("seq", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)


def _assemble(key, pdfs, state: GroupState):
    doc_id = key[0]
    if state.exists:
        kinds, texts, refs, offsets = (
            list(state.get[0]), list(state.get[1]),
            list(state.get[2]), list(state.get[3]),
        )
    else:
        kinds, texts, refs, offsets = [], [], [], []
    done = False
    for pdf in pdfs:
        # vectorized accumulate: mask out end-markers, extend column-wise
        # (no per-row Python loop — the repo-wide invariant)
        is_end = pdf["kind"].to_numpy() == END_KIND
        if is_end.any():
            done = True
        keep = pdf[~is_end]
        kinds.extend(keep["kind"].tolist())
        texts.extend(keep["text"].tolist())
        refs.extend(keep["media_ref"].tolist())
        offsets.extend(keep["offset"].astype("int64").tolist())
    if not done:
        state.update((kinds, texts, refs, offsets))
        return iter(())
    state.remove()
    out = extract_columnar(
        np.array([doc_id], dtype=object),
        np.zeros(len(kinds), dtype=np.int64),
        np.array(kinds, dtype=object),
        np.array(texts, dtype=object),
        np.array(refs, dtype=object),
        np.array(offsets, dtype=np.int64),
    )
    out = pd.DataFrame({c: out[c] for c in OUTPUT_COLUMNS})
    return iter([out[out["kind"].isin([spec.KIND_TEXT, spec.KIND_MEDIA])]])


def run_stateful_assembly(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the stateful assembly stream; returns the StreamingQuery."""
    src = (
        spark.readStream.schema(SPAN_EVENTS_DDL).format("parquet").load(input_dir)
    )
    assembled = src.groupBy("doc_id").applyInPandasWithState(
        _assemble,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        assembled.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
