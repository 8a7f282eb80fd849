"""Vectorization shell: the cascade as an Arrow-batched map.

The engine's only row-level operator (SURVEY.md §1.2): Spark hands the Python
worker whole Arrow record batches; we run the pure-Python cascade per element
and hand a batch back — zero per-row Spark<->Python dispatch
(BASELINE.json:6).  Everything around it stays relational/JVM-side.

Output batches are *re-chunked by byte budget*: a batch of 64 KB pages is
fine at 1024 rows, a batch of 0.5 MB pages is not — we slice input batches so
no single Python task call holds more than ``max_batch_bytes`` of html.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc

from ..engine.clean import clean_html
from ..engine.rules import DEFAULT_RULES, RuleConfig

# Result schema appended to the passthrough key columns.
RESULT_FIELDS = [
    pa.field("text", pa.string()),
    pa.field("error", pa.string()),
    pa.field("bytes_in", pa.int64()),
    pa.field("bytes_out", pa.int64()),
    pa.field("rules_fired", pa.map_(pa.string(), pa.int64())),
]

RESULT_DDL = (
    "url string, warc_ts timestamp, lang string, text string, error string, "
    "bytes_in bigint, bytes_out bigint, rules_fired map<string,bigint>"
)


def _slice_by_bytes(batch: pa.RecordBatch, html_idx: int,
                    max_batch_bytes: int) -> Iterator[pa.RecordBatch]:
    """Split a record batch so each slice's html payload fits the budget.

    Sizes come from the binary column's offsets, without copying a value
    into Python."""
    sizes = pc.binary_length(batch.column(html_idx)).fill_null(0).to_pylist()
    start = 0
    acc = 0
    for i, s in enumerate(sizes):
        if acc + s > max_batch_bytes and i > start:
            yield batch.slice(start, i - start)
            start = i
            acc = 0
        acc += s
    if start < batch.num_rows:
        yield batch.slice(start, batch.num_rows - start)


def make_cascade_fn(rules: RuleConfig = DEFAULT_RULES,
                    max_batch_bytes: int = 32 << 20):
    """Build the mapInArrow function: (url, warc_ts, html, lang) batches ->
    (url, warc_ts, lang, text, error, bytes_in, bytes_out, rules_fired).

    ``rules`` is captured in the closure; pass a broadcast's ``.value`` holder
    lazily by giving a ``pyspark.Broadcast`` instead of a RuleConfig.
    """

    def cascade_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cfg = rules.value if hasattr(rules, "value") else rules
        for batch in batches:
            names = batch.schema.names
            html_idx = names.index("html")
            for chunk in _slice_by_bytes(batch, html_idx, max_batch_bytes):
                texts, errors, b_in, b_out, fired = [], [], [], [], []
                # one document's bytes in Python at a time, not the chunk's
                for v in chunk.column(html_idx):
                    res = clean_html(v.as_py() or b"", cfg)
                    texts.append(res.text)
                    errors.append(res.error)
                    b_in.append(res.bytes_in)
                    b_out.append(res.bytes_out)
                    fired.append(sorted(res.rules_fired.items()))
                arrays = [
                    chunk.column(names.index("url")),
                    chunk.column(names.index("warc_ts")),
                    chunk.column(names.index("lang")),
                    pa.array(texts, pa.string()),
                    pa.array(errors, pa.string()),
                    pa.array(b_in, pa.int64()),
                    pa.array(b_out, pa.int64()),
                    pa.array(fired, pa.map_(pa.string(), pa.int64())),
                ]
                yield pa.RecordBatch.from_arrays(
                    arrays,
                    names=[
                        "url", "warc_ts", "lang", "text", "error",
                        "bytes_in", "bytes_out", "rules_fired",
                    ],
                )

    return cascade_fn
