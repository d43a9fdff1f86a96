"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship key-resources-table extraction on a
deterministic spans corpus derived from the sf0.001 documents table.
``queries()``/``oracle_sql()`` expose the SURVEY.md §2 operator inventory
(relational/window/interval/as-of joins, dedup incl. passage-level and
connected-components clustering, similarity + BM25 retrieval, text
analysis, sequence packing/chunking, mixture resampling, multimodal)
checked against DuckDB; non-SQL-expressible ops (the extraction cascade
itself, MinHash/SimHash/LSH/IVF/SemDeDup with engine-specific hashes and
bucketing, and sketch aggregates) are rows-only and carry semantic pytest
oracles (planted duplicates, recall-vs-brute-force, tolerance-vs-exact).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from key_resource_table_extractor_spark import job  # noqa: E402
from key_resource_table_extractor_spark import operators  # noqa: E402


def _spans_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic spans corpus keyed by the documents table's doc_ids."""
    from key_resource_table_extractor_spark import synth

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return job.generate_spans(docs, key_format=synth.SF_KEY_FORMAT)


def _doc_ids_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare doc_id frame spread over the default parallelism BEFORE span
    synthesis. The documents scan is a single small file (one task), so
    repartitioning the 8-byte ids is what parallelizes generation; the
    generated span payload itself never crosses an exchange (the prior
    shape shuffled the full spans AFTER generating them on the scan's
    1-2 tasks — guide §8: decide placement on small rows, move heavy
    bytes once; here the heavy bytes never move at all)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full extraction cascade (SURVEY §7.2 v1–v2 semantics).
    Fused synth+extract in one mapInArrow stage (job.synth_extract)."""
    ids = _doc_ids_partitioned(spark, sf_dir)
    return job.data_spans(job.synth_extract(ids))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_spans(spark, "/root/testdata/sf0.001")


def q_extract_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested result-JSON variant of the flagship (reference S7 shape).
    Fused synth+extract like the flat path."""
    return job.synth_extract(_doc_ids_partitioned(spark, sf_dir), "nested")


def q_extract_nested_colspans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested output in the gold-JSON cell shape ({"content","colspan"},
    plus "rowspan" on recovered col-0 spanning cells); colspans recovered
    from measured column extents (full-width divider rows and
    physically-evident mid-row spans), rowspans from the anchor row
    model's fold evidence (an anchor-less source line with >=2 non-empty
    cells is a covered detected row, not a wrap fragment)."""
    return job.synth_extract(
        _doc_ids_partitioned(spark, sf_dir), "nested-colspans",
        row_model="anchor",
    )


def q_extract_spans_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship under the detected-row merge model (J4 analog,
    row_model="anchor") instead of the continuation-vote model."""
    return job.data_spans(job.synth_extract(
        _doc_ids_partitioned(spark, sf_dir), row_model="anchor"
    ))


# the driver's correctness gate records exactly the FIRST 50 queries()
# entries (dict order), so ordering is evidence policy: the flagship
# extraction queries and every DuckDB-oracled query must precede the
# rows-only ones. With 62 registry entries and a 50-row window, 12 are
# always dark; to give every rows-only op periodic driver visibility we
# ROTATE per round: three redundant D queries (each with an in-window
# sibling exercising the same plan shape) step out and a trio of
# rows-only ops steps in. The rotation index derives from the
# checked-in ROUND file, so it advances exactly once per round and every
# trio is driver-recorded at least every third round. Out-of-window D
# queries are still value-checked by
# scripts/check_queries.py and tests/test_queries_vs_duckdb.py;
# tests pin the window invariants so additions can't silently demote.
DRIVER_GATE_WINDOW = 50
DEMOTED = [
    # J8 join-agg evidence duplicated by top_revenue_nations and
    # supplier_balance_by_nation (same tables, same join tree)
    "revenue_by_region",
    # C1 regex-extraction evidence duplicated by json_props_extract;
    # the derived-key time-bucket groupBy shape stays driver-covered by
    # interval_union_islands (derived-key groupBy over the same orders
    # table, in-window every round)
    "monthly_order_trend",
    # exact-quantile evidence duplicated by median_stats_by_lang
    # (same percentile machinery over the same events table)
    "event_value_quantiles",
    # theta-join evidence duplicated by similarity_match_join (same
    # machinery, best-per-left vs one-to-one variant)
    "similarity_match_join_1to1",
    # gap-islands evidence duplicated by interval_union_islands (same
    # lag+cumsum islands machinery); the events-table lag-window shape
    # stays driver-covered by prev_event_transitions. Demoted round 7 to
    # make window room for label_transfer (VERDICT r6 task 3).
    "event_sessions",
]
# rows-only groups rotated INTO the window (one group per round) and the
# redundant-D groups rotated OUT to make room (sizes pair up, keeping
# the window at exactly DRIVER_GATE_WINDOW). Pairings are by evidence
# redundancy: each rotated-out D query has an in-window sibling that
# keeps its plan shape driver-covered that round. ann_lsh_topk left this
# list when it gained a full DuckDB oracle (seeded-literal buckets).
ROWS_ONLY_ROTATION = [
    ["minhash_lsh_pairs", "simhash_near_dups", "ann_pq_topk"],
    ["ann_ivf_topk", "semantic_dedup", "sketch_distinct_users"],
    ["sketch_value_percentiles", "bpe_train_stats"],
]
D_ROTATION = [
    # siblings: top_revenue_nations (same join-agg tree), media_metadata
    # (same multimodal scan/plumbing), stratified/mixture (sampling)
    ["supplier_balance_by_nation", "media_resize",
     "deterministic_sample"],
    # siblings: deterministic_sample + domain_mixture_sample (sampling
    # family), prev_event_transitions (lag/lead window), media_metadata
    ["stratified_sample", "adjacent_line_pairs", "media_embed"],
    # siblings: seq_ids_global (window-rank machinery), interval_union_
    # islands (grouped agg over orders)
    ["rank_topk_parts", "rollup_order_counts"],
]


_ROTATION_LOGGED = False


def _rotation_index() -> int:
    """Round parity for the gate-window rotation. Resolution order:
    `KRT_ROTATION_INDEX` env override; else the checked-in one-line
    `ROUND` file (the current round number, bumped each round alongside
    the snapshot — index = (ROUND - 1) % len, matching the historical
    max(CORRECTNESS_r{N}) derivation since round N runs with rounds
    1..N-1's artifacts committed). The ROUND file makes a fresh clone
    resolve the same index as the working tree deterministically. The
    resolved index and its source are logged once per process so every
    gate record is attributable to a window composition."""
    global _ROTATION_LOGGED
    here = os.path.dirname(os.path.abspath(__file__))
    env = os.environ.get("KRT_ROTATION_INDEX", "").strip()
    round_file = os.path.join(here, "ROUND")
    if env:
        try:
            ri = int(env) % len(ROWS_ONLY_ROTATION)
        except ValueError:
            raise ValueError(
                f"KRT_ROTATION_INDEX must be an integer, got {env!r}"
            ) from None
        src = f"env={env}"
    else:
        with open(round_file) as fh:
            raw = fh.read().strip()
        try:
            rnd = int(raw)
        except ValueError:
            raise ValueError(
                f"ROUND file must hold an integer round number, got {raw!r}"
            ) from None
        ri = (rnd - 1) % len(ROWS_ONLY_ROTATION)
        src = f"ROUND={rnd}"
    if not _ROTATION_LOGGED:
        _ROTATION_LOGGED = True
        print(
            f"[krt-spark] gate rotation index {ri} ({src}); "
            f"promoted={ROWS_ONLY_ROTATION[ri]} "
            f"rotated_out={D_ROTATION[ri]}",
            file=sys.stderr,
        )
    return ri


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = dict(operators.all_queries())
    oracled = operators.all_oracle_sql()
    ri = _rotation_index()
    promoted = ROWS_ONLY_ROTATION[ri]
    out_this_round = set(DEMOTED) | set(D_ROTATION[ri])
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "extract_spans": q_extract_spans,
        "extract_nested": q_extract_nested,
        "extract_nested_colspans": q_extract_nested_colspans,
        "extract_spans_anchor": q_extract_spans_anchor,
    }
    for name, fn in reg.items():  # in-window D-oracled first…
        if name in oracled and name not in out_this_round:
            out[name] = fn
    for name in promoted:  # …then this round's promoted rows-only trio…
        out[name] = reg[name]
    for name, fn in reg.items():  # …then the dark rows-only…
        if name not in out and name not in out_this_round:
            out[name] = fn
    for name in sorted(out_this_round):  # …then rotated/demoted D
        out[name] = reg[name]
    return out


def oracle_sql() -> dict[str, str]:
    # extract_spans intentionally absent: the cascade is not SQL-expressible;
    # its oracle is the pure-Python reference implementation exercised by
    # tests/test_span_equality.py (span-sequence equality per doc).
    return dict(operators.all_oracle_sql())
