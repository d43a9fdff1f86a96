"""Pinned output of the extraction kernel.

sha256 digests (first 16 hex digits) of every ``extract_columnar`` output
column and of the ``nested_from_columnar`` batch, for 1,000 seed-1 synth
docs plus the adversarial shapes of ``test_adversarial_input.py`` (a
10^5-span mega-doc, null and empty span lists, non-ASCII text), the
spanning-cell tables of ``test_colspan_rowspan.py`` and two docs that
fail (a null ``doc_id``, a null span offset), all in one batch.
Each case is one output mode × row model, or one option setting. A
rewrite of the kernel must keep every digest.

An error row's text is a traceback, whose file paths and line numbers
change with any edit, so only its last line (the exception) is pinned.

``python -m tests.test_kernel_pinned`` prints the digest table of the
current code.
"""

from __future__ import annotations

import hashlib
import json
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pytest

from key_resource_table_extractor_spark import spec, synth
from key_resource_table_extractor_spark.extractor import pipeline
from key_resource_table_extractor_spark.sources import gold_table_to_spans
from tests.test_adversarial_input import _docs
from tests.test_colspan_rowspan import (
    MIDSPAN_TBL,
    ROWSPAN_MID_TBL,
    ROWSPAN_TBL,
)

N_SYNTH = 1000
COLUMNS = ["doc", "doc_id", "seq", "kind", "text", "media_ref", "offset",
           "table", "row", "col", "fullspan"]
EXTENT_COLUMNS = ["cfirst", "clast", "rowspan"]

# name -> (output_mode, make_extract_fn options)
CASES = {
    f"{mode}/{model}": (mode, dict(row_model=model))
    for mode in pipeline.OUTPUT_MODES for model in pipeline.ROW_MODELS
}
CASES.update({
    f"{mode}/excepted": (mode, dict(excepted_lines=[0, -1],
                                    excepted_pages=[1, -1]))
    for mode in pipeline.OUTPUT_MODES
})
CASES["nested-colspans/anchor/midcol"] = (
    "nested-colspans", dict(row_model="anchor", midcol_rowspans=True))


@lru_cache(maxsize=1)
def _batch() -> pa.RecordBatch:
    docs = [
        (k, synth.generate_doc(k, seed=1))
        for k in (synth.KEY_FORMAT.format(i, seed=1) for i in range(N_SYNTH))
    ]
    docs += list(_docs().items())
    docs += [(t["name"], gold_table_to_spans(t))
             for t in (MIDSPAN_TBL, ROWSPAN_TBL, ROWSPAN_MID_TBL)]
    table = synth.generate_doc("pinned_table", seed=1)
    docs.append((None, table))
    docs.append(("null_offset", [(k, t, m, None if i == 3 else o)
                                 for i, (k, t, m, o) in enumerate(table)]))
    return pa.RecordBatch.from_pydict(
        {"doc_id": [d for d, _ in docs],
         "spans": [None if s is None else
                   [dict(kind=k, text=t, media_ref=m, offset=o)
                    for k, t, m, o in s] for _, s in docs]},
        schema=pa.schema([("doc_id", pa.string()),
                          ("spans", pa.list_(pipeline._SPAN_TYPE))]),
    )


@lru_cache(maxsize=None)
def _kernel(options: str) -> dict:
    columns, null_offset = pipeline._decode_spans(_batch())
    return pipeline.extract_columnar(*columns, null_offset=null_offset,
                                     **json.loads(options))


def _last_line(text: str) -> str:
    return text.rstrip("\n").rsplit("\n", 1)[-1]


def _digest(values) -> str:
    plain = [v.item() if isinstance(v, np.generic) else v for v in values]
    return hashlib.sha256(json.dumps(plain).encode()).hexdigest()[:16]


def _record(result: str) -> str:
    record = json.loads(result)
    if "error" in record:
        record["error"] = _last_line(record["error"])
    return json.dumps(record, sort_keys=True)


def digests(case: str) -> dict[str, str]:
    mode, options = CASES[case]
    colspans = mode == "nested-colspans"
    kernel_options = dict(options, with_extents=colspans)
    out = _kernel(json.dumps(kernel_options, sort_keys=True))
    columns = COLUMNS + (EXTENT_COLUMNS if colspans else [])
    got = {c: out[c] for c in columns}
    got["text"] = [_last_line(t) if k == spec.KIND_ERROR else t
                   for k, t in zip(out["kind"], out["text"])]
    if mode != "spans":
        nested = pipeline.nested_from_columnar(out, colspans)
        got["nested.doc_id"] = nested.column("doc_id").to_pylist()
        got["nested.result"] = [
            _record(r) for r in nested.column("result").to_pylist()]
    return {c: _digest(v) for c, v in got.items()}


EXPECTED: dict[str, dict[str, str]] = {
    'nested-colspans/anchor': {
        'doc': 'a4f32e59142fdf17',
        'doc_id': '22532bd211f5361c',
        'seq': '15fbb3575a8035bc',
        'kind': '2af963336a0286f5',
        'text': 'd6b191176d58a90a',
        'media_ref': '46c40a83d514dcef',
        'offset': '7eb840dd0df16ea0',
        'table': 'fa8f92f73b3953e2',
        'row': '93e720bfe319df15',
        'col': 'f15a58c66e207fdc',
        'fullspan': '41367f3ca7484288',
        'cfirst': '677f3415ad48768c',
        'clast': 'f5011c290c28a273',
        'rowspan': 'cd98dad2dc3311af',
        'nested.doc_id': 'd1326776875811cc',
        'nested.result': '2589aed43b74cb6f',
    },
    'nested-colspans/anchor/midcol': {
        'doc': 'a4f32e59142fdf17',
        'doc_id': '22532bd211f5361c',
        'seq': '15fbb3575a8035bc',
        'kind': '2af963336a0286f5',
        'text': 'd6b191176d58a90a',
        'media_ref': '46c40a83d514dcef',
        'offset': '7eb840dd0df16ea0',
        'table': 'fa8f92f73b3953e2',
        'row': '93e720bfe319df15',
        'col': 'f15a58c66e207fdc',
        'fullspan': '41367f3ca7484288',
        'cfirst': '677f3415ad48768c',
        'clast': 'f5011c290c28a273',
        'rowspan': '65f44d190a553ddf',
        'nested.doc_id': 'd1326776875811cc',
        'nested.result': '116e75dcdf304a19',
    },
    'nested-colspans/excepted': {
        'doc': 'd8c1ac28e6a3da69',
        'doc_id': '12f1dbb2e4d842fc',
        'seq': '50100a5a8afdc25a',
        'kind': '3ebfc90439689b70',
        'text': 'c8920e50f5895136',
        'media_ref': '4b53d227a4e3d48b',
        'offset': 'd14b7f1d50ce54a2',
        'table': '065bfeaf38cb5a29',
        'row': 'ac4bec56b7794070',
        'col': '616ef11b8541a692',
        'fullspan': 'b7150b5ace1f297a',
        'cfirst': '8e964e6538a2cc4c',
        'clast': '47d08cd83931f4e2',
        'rowspan': 'c0f9a94de8d69ff6',
        'nested.doc_id': 'fa15a99a06a0e646',
        'nested.result': '49e862f6c268e091',
    },
    'nested-colspans/none': {
        'doc': 'b88138aa463cafe8',
        'doc_id': '001b527bc19ecb8e',
        'seq': '67a48c0a603db99b',
        'kind': 'f9cc33cbe3bf908f',
        'text': '132c642e5954b335',
        'media_ref': '1451dbc7f657074b',
        'offset': '65cf538ec4da5b60',
        'table': 'a1e168d86c14442f',
        'row': '4860a8d7faa60202',
        'col': '34ef7924749e0f62',
        'fullspan': 'e57c001104e9dcb7',
        'cfirst': '7a0a8d8205481d78',
        'clast': 'fcb65d71c5e4be3e',
        'rowspan': '9be0211f495b1a09',
        'nested.doc_id': 'd1326776875811cc',
        'nested.result': '9708c458bb8b6ebd',
    },
    'nested-colspans/votes': {
        'doc': '91204109d9a8f4b0',
        'doc_id': '7e3703d92b00fa64',
        'seq': '6c66d14b5a6fbea5',
        'kind': '3a8c9669e87b149b',
        'text': '1765dbbce9276385',
        'media_ref': '7bdd13c706f33f7b',
        'offset': '370462d6c765b628',
        'table': 'ac0f82c18e5c0cb8',
        'row': '0f7981cb2b95f2b9',
        'col': '90153c2476b40e3e',
        'fullspan': '7a145703c354b0bc',
        'cfirst': 'dc7e59e6445fd1f4',
        'clast': 'fae27d0381b6c910',
        'rowspan': '2d398571a8784911',
        'nested.doc_id': 'd1326776875811cc',
        'nested.result': 'c8e18edb901df810',
    },
    'nested/anchor': {
        'doc': '56b2f28aa1f56027',
        'doc_id': '0dadefc7956a4218',
        'seq': '50920bd6cb8e127d',
        'kind': '6fb6fdcb284d8323',
        'text': '1ee244f3d19f5afb',
        'media_ref': 'dce94c7d5c5d9b85',
        'offset': 'ea564b2b8abbd94a',
        'table': '038edd18ed15928c',
        'row': '9a25355879e304f6',
        'col': '417e93b67655db66',
        'fullspan': '89cde1f126ce101c',
        'nested.doc_id': 'd1326776875811cc',
        'nested.result': 'b802acec336f5b31',
    },
    'nested/excepted': {
        'doc': 'd8c1ac28e6a3da69',
        'doc_id': '12f1dbb2e4d842fc',
        'seq': '50100a5a8afdc25a',
        'kind': '3ebfc90439689b70',
        'text': 'c8920e50f5895136',
        'media_ref': '4b53d227a4e3d48b',
        'offset': 'd14b7f1d50ce54a2',
        'table': '065bfeaf38cb5a29',
        'row': 'ac4bec56b7794070',
        'col': '616ef11b8541a692',
        'fullspan': 'b7150b5ace1f297a',
        'nested.doc_id': 'fa15a99a06a0e646',
        'nested.result': 'e79555677017c4b4',
    },
    'nested/none': {
        'doc': 'b88138aa463cafe8',
        'doc_id': '001b527bc19ecb8e',
        'seq': '67a48c0a603db99b',
        'kind': 'f9cc33cbe3bf908f',
        'text': '132c642e5954b335',
        'media_ref': '1451dbc7f657074b',
        'offset': '65cf538ec4da5b60',
        'table': 'a1e168d86c14442f',
        'row': '4860a8d7faa60202',
        'col': '34ef7924749e0f62',
        'fullspan': 'e57c001104e9dcb7',
        'nested.doc_id': 'd1326776875811cc',
        'nested.result': '9be8059093d6de4c',
    },
    'nested/votes': {
        'doc': '91204109d9a8f4b0',
        'doc_id': '7e3703d92b00fa64',
        'seq': '6c66d14b5a6fbea5',
        'kind': '3a8c9669e87b149b',
        'text': '1765dbbce9276385',
        'media_ref': '7bdd13c706f33f7b',
        'offset': '370462d6c765b628',
        'table': 'ac0f82c18e5c0cb8',
        'row': '0f7981cb2b95f2b9',
        'col': '90153c2476b40e3e',
        'fullspan': '7a145703c354b0bc',
        'nested.doc_id': 'd1326776875811cc',
        'nested.result': '5f9974982643f2f1',
    },
    'spans/anchor': {
        'doc': '56b2f28aa1f56027',
        'doc_id': '0dadefc7956a4218',
        'seq': '50920bd6cb8e127d',
        'kind': '6fb6fdcb284d8323',
        'text': '1ee244f3d19f5afb',
        'media_ref': 'dce94c7d5c5d9b85',
        'offset': 'ea564b2b8abbd94a',
        'table': '038edd18ed15928c',
        'row': '9a25355879e304f6',
        'col': '417e93b67655db66',
        'fullspan': '89cde1f126ce101c',
    },
    'spans/excepted': {
        'doc': 'd8c1ac28e6a3da69',
        'doc_id': '12f1dbb2e4d842fc',
        'seq': '50100a5a8afdc25a',
        'kind': '3ebfc90439689b70',
        'text': 'c8920e50f5895136',
        'media_ref': '4b53d227a4e3d48b',
        'offset': 'd14b7f1d50ce54a2',
        'table': '065bfeaf38cb5a29',
        'row': 'ac4bec56b7794070',
        'col': '616ef11b8541a692',
        'fullspan': 'b7150b5ace1f297a',
    },
    'spans/none': {
        'doc': 'b88138aa463cafe8',
        'doc_id': '001b527bc19ecb8e',
        'seq': '67a48c0a603db99b',
        'kind': 'f9cc33cbe3bf908f',
        'text': '132c642e5954b335',
        'media_ref': '1451dbc7f657074b',
        'offset': '65cf538ec4da5b60',
        'table': 'a1e168d86c14442f',
        'row': '4860a8d7faa60202',
        'col': '34ef7924749e0f62',
        'fullspan': 'e57c001104e9dcb7',
    },
    'spans/votes': {
        'doc': '91204109d9a8f4b0',
        'doc_id': '7e3703d92b00fa64',
        'seq': '6c66d14b5a6fbea5',
        'kind': '3a8c9669e87b149b',
        'text': '1765dbbce9276385',
        'media_ref': '7bdd13c706f33f7b',
        'offset': '370462d6c765b628',
        'table': 'ac0f82c18e5c0cb8',
        'row': '0f7981cb2b95f2b9',
        'col': '90153c2476b40e3e',
        'fullspan': '7a145703c354b0bc',
    },
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_kernel_output_is_pinned(case):
    assert digests(case) == EXPECTED[case]


if __name__ == "__main__":
    print("EXPECTED = {")
    for case in sorted(CASES):
        print(f"    {case!r}: {{")
        for c, h in digests(case).items():
            print(f"        {c!r}: {h!r},")
        print("    },")
    print("}")
