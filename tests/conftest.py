from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from key_resource_table_extractor_spark.session import build_session

    s = build_session(
        app_name="krt-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # small Arrow batches so multi-batch paths are exercised in tests
            "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
            "spark.driver.memory": "4g",
        },
    )
    yield s
    s.stop()


def extract_batch(pdf, output_mode: str = "spans", **options):
    """Run the production extraction entry (``make_map_in_arrow_fn``) in
    process over a ``(doc_id, spans)`` pandas frame whose spans are lists
    of span dicts; returns the output rows as a pandas frame. A frame
    with an int ``bucket`` column is extracted as a bucketed batch, so
    its rows carry ``bucket``, ``__tables`` and ``__error``."""
    import pyarrow as pa

    from key_resource_table_extractor_spark.extractor.pipeline import (
        _SPAN_TYPE,
        make_map_in_arrow_fn,
    )

    fields = [("doc_id", pa.string()), ("spans", pa.list_(_SPAN_TYPE))]
    if "bucket" in pdf:
        fields.append(("bucket", pa.int32()))
    batch = pa.RecordBatch.from_pydict(
        {name: list(pdf[name]) for name, _ in fields},
        schema=pa.schema(fields),
    )
    out = make_map_in_arrow_fn(output_mode, **options)([batch])
    return pa.Table.from_batches(list(out)).to_pandas()
