"""The per-document shell: every Python map of the engine crosses here.

Spark hands the Python worker whole Arrow record batches; :func:`doc_map`
runs a pure-Python function once per row and hands a batch back — zero
per-row Spark<->Python dispatch (BASELINE.json:6).  Everything around it
stays relational/JVM-side.  The extract cascade (:func:`clean_pages`), the
text-signal gates, the decoders and header parsers, and the synthetic
payload generators all use this one boundary, so they share one memory
rule:

- each input batch is sliced so that no single Python call holds more than
  ``MAX_CALL_BYTES`` (32 MB) of string/binary argument bytes — a batch of
  64 KB pages is fine at 1024 rows, a batch of 0.5 MB pages is not.  Sizes
  come from the Arrow offsets; a single row larger than the budget is a
  slice of its own;
- within a slice, the arguments reach Python one row at a time, so at most
  one document's argument bytes plus the slice's results are Python
  objects at once;
- carried columns go back as the same Arrow arrays, never through Python.

Spark itself already cuts every JVM->Python batch at
``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MiB by default); the
32 MB budget per call is the tighter of the two.  Row caps on the batches
(``plan_extract``'s 64 rows) are set for the workers' peak RSS, not to
keep a batch under either byte bound.

Every function the package ships to Python workers (this shell, the ANN
scorers, the WARC/CDX readers, the synthetic-page map: 14 call sites)
first calls :func:`worker_once`, which makes PySpark's per-task
import-cache reset cheap for the rest of the worker's life.
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Callable, Iterator, Sequence

import pyarrow as pa
import pyarrow.compute as pc

from ..engine.clean import clean_html
from ..engine.rules import DEFAULT_RULES, RuleConfig

# String/binary argument bytes one Python call may hold (one oversized row
# excepted): bounds a worker's memory whatever the document sizes.
MAX_CALL_BYTES = 32 << 20

# The cascade's result columns, appended to the carried page keys.
CLEAN_DDL = (
    "text string, error string, bytes_in bigint, bytes_out bigint, "
    "rules_fired map<string,bigint>"
)


class _SparkArchiveImporter(zipimport.zipimporter):
    """A zipimporter over an archive of Spark's own install, which does not
    change while a worker lives: it keeps the directory it read instead of
    re-reading the archive on ``invalidate_caches``."""

    def invalidate_caches(self):
        pass


def worker_once() -> None:
    """Stop PySpark's per-task import-cache reset from re-reading Spark's
    own zips in this worker; idempotent, and a no-op outside a Spark task.

    Every Python task starts with ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``), and each cached
    zipimporter then re-reads its archive's directory: on PySpark 4.1.2,
    13 importers over ``pyspark.zip``, 2 over the spark-core jar and 1 over
    py4j, 0.15-0.28 s of CPU per task.  Archives whose real path lies
    under ``SPARK_HOME`` do not change while a worker lives.  The first
    call swaps each cached importer over one of them for a
    :class:`_SparkArchiveImporter` and replaces the stock zipimporter path
    hook, so importers made later for them (a pyspark subpackage a later
    task imports first) are of that kind too.  Other archives
    (``addPyFile``, ``--py-files``) and directories keep the stock
    importers, so files shipped to later tasks are still seen."""
    stock = zipimport.zipimporter
    if stock not in sys.path_hooks:  # set up already
        return
    from pyspark import TaskContext

    home = os.environ.get("SPARK_HOME")
    if TaskContext.get() is None or not home:
        return
    home = os.path.join(os.path.realpath(home), "")

    def spark_owned(imp) -> bool:
        return (type(imp) is stock
                and os.path.realpath(imp.archive).startswith(home))

    def hook(path):
        imp = stock(path)
        return _SparkArchiveImporter(path) if spark_owned(imp) else imp

    sys.path_hooks[:] = [hook if h is stock else h for h in sys.path_hooks]
    for path, imp in list(sys.path_importer_cache.items()):
        if spark_owned(imp):
            sys.path_importer_cache[path] = _SparkArchiveImporter(path)


def _slice_by_bytes(batch: pa.RecordBatch, idx: int | Sequence[int],
                    max_batch_bytes: int) -> Iterator[pa.RecordBatch]:
    """Split a record batch so each slice's payload fits the budget.

    A row's size is the sum of its value bytes in column ``idx`` (one index
    or several; a null counts as zero).  Sizes come from the columns'
    offsets, without copying a value into Python."""
    sizes = [0] * batch.num_rows
    for i in [idx] if isinstance(idx, int) else idx:
        col = pc.binary_length(batch.column(i)).fill_null(0).to_pylist()
        sizes = [a + b for a, b in zip(sizes, col)]
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


def _is_bytes(t: pa.DataType) -> bool:
    return (pa.types.is_string(t) or pa.types.is_binary(t)
            or pa.types.is_large_string(t) or pa.types.is_large_binary(t))


def _doc_kernel(fn: Callable, args: Sequence[str], carry: Sequence[str],
                out: pa.Schema):
    """The ``mapInArrow`` function behind :func:`doc_map`: Arrow batches of
    (``carry`` ∪ ``args``) columns in, batches of ``carry`` + ``out``
    columns out, one ``fn(*row)`` call per row."""
    args, carry = list(args), list(carry)
    names = carry + out.names
    single = len(out) == 1

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        worker_once()
        for batch in batches:
            schema = batch.schema
            arg_idx = [schema.get_field_index(c) for c in args]
            sized = [i for i in arg_idx if _is_bytes(schema.field(i).type)]
            for chunk in _slice_by_bytes(batch, sized, MAX_CALL_BYTES):
                res = [fn(*[v.as_py() for v in row])
                       for row in zip(*(chunk.column(i) for i in arg_idx))]
                cols = [res] if single else list(zip(*res)) or [[]] * len(out)
                yield pa.RecordBatch.from_arrays(
                    [chunk.column(c) for c in carry]
                    + [pa.array(c, f.type) for c, f in zip(cols, out)],
                    names=names,
                )

    return run


def doc_map(df, fn: Callable, args: Sequence[str], out_ddl: str,
            carry: Sequence[str] = ()):
    """Map ``fn`` over the rows of ``df``: the one Python crossing for
    per-document work.

    ``fn(*row)`` receives the ``args`` columns of one row as Python values
    (None for null) and returns one value per ``out_ddl`` column: a tuple,
    or the bare value when ``out_ddl`` names a single column.  The result
    has the ``carry`` columns (types from ``df``, passed through as Arrow)
    followed by the ``out_ddl`` columns, whose Arrow types come from the
    DDL.  A column may be both carried and an argument.  No call holds
    more than ``MAX_CALL_BYTES`` of string/binary argument bytes (module
    docstring).  The map is stateless: no shuffle, and it pipelines into
    the neighbouring stages."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    out = StructType.fromDDL(out_ddl)
    clash = set(carry) & set(out.names)
    if clash:
        raise ValueError("doc_map: carried columns %s clash with outputs"
                         % sorted(clash))
    schema = StructType([df.schema[c] for c in carry] + out.fields)
    # in df's own column order, so an input that is already just these
    # columns gets no extra projection
    used = set(carry) | set(args)
    return df.select(*[c for c in df.columns if c in used]).mapInArrow(
        _doc_kernel(fn, args, carry, to_arrow_schema(out)), schema)


def clean_pages(df, rules: RuleConfig = DEFAULT_RULES):
    """The extract cascade: (url, warc_ts, html, lang) pages -> (url,
    warc_ts, lang) + ``CLEAN_DDL`` rows, one :func:`clean_html` call per
    page.  A null html cleans as the empty document."""

    def clean(html):
        res = clean_html(html or b"", rules)
        return (res.text, res.error, res.bytes_in, res.bytes_out,
                sorted(res.rules_fired.items()))

    return doc_map(df, clean, ["html"], CLEAN_DDL,
                   carry=["url", "warc_ts", "lang"])
