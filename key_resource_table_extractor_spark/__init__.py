"""key_resource_table_extractor_spark — a from-scratch PySpark-native
key-resources-table extraction engine.

Re-expresses the capabilities of SciCrunch/key_resource_table_extractor
(reference at /root/reference, studied in SURVEY.md) as a single batch
DataFrame job over an Iceberg/parquet-shaped table of interleaved
text+media spans::

    (doc_id: string,
     spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>)

All per-document extraction runs inside one vectorized Arrow batch
function (``mapInArrow``); there are no per-row Python UDFs anywhere. The module
layout:

- ``spec``       — the pinned thresholds/regexes of the extraction semantics
- ``schemas``    — Spark schemas for input / output / checkpoint tables
- ``synth``      — deterministic synthetic span-corpus generator (seeded)
- ``oracle``     — pure-Python reference implementation (the executable spec)
- ``extractor``  — vectorized pandas/numpy implementation used inside Spark
- ``job``        — the Spark job: salted repartition → mapInArrow → sink,
                   with checkpoint-table resume (left anti join)
- ``operators``  — SQL-expressible relational/dedup/similarity/text operators
                   (the ``queries()``/``oracle_sql()`` surface)
- ``streaming``  — Structured Streaming wrapper over the same extractor
"""

__version__ = "0.1.0"
