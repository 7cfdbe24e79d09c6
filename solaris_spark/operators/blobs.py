"""The Python side of every Arrow UDF: reading Arrow columns as Python
values, and returning a scalar UDF's column, or a row-returning UDF's rows
as Arrow batches bounded by bytes.  No pandas conversion either way.

Every column UDF is a scalar_udf: its body reads arrow_values and its
result leaves as one Arrow array of the declared type; scalar_udf alone
applies SQL's NULL rule, so no body tests for None or NaN.  Spark bounds the
batches it sends to Python by
``spark.sql.execution.arrow.maxBytesPerBatch`` (4 MB in
session.get_spark: one or two MB-scale images per batch, so Spark encodes
the next batch while Python works on this one) but takes whatever a UDF
returns, and a grouped UDF's result for one group would otherwise leave
as one batch.  Every operator that returns rows from Python does so
here: map_blobs runs a per-row generator under ``mapInArrow``,
group_blobs a per-group one under ``applyInArrow``'s iterator form, and
both cut the output at the same bound.  An output schema may carry one
binary column (tiles, masks, images: each batch's blobs sit in one
contiguous buffer) or none (grid cells, labels, match rows, scores).
"""

from __future__ import annotations

from collections import namedtuple
from collections.abc import Iterable, Iterator
from functools import lru_cache, wraps
from itertools import chain

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type


@lru_cache(maxsize=None)
def _row_type(names: tuple[str, ...]):
    return namedtuple("Row", names, rename=True)


def arrow_values(col: pa.Array) -> list:
    """One Arrow column as Python values, NULL as None, except that a
    binary value is a zero-copy memoryview into the column's data buffer
    (pixfmt.decode reads raw pixels straight from it)."""
    if pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type):
        _, offs, data = col.buffers()
        odt = np.int64 if pa.types.is_large_binary(col.type) else np.int32
        o = np.frombuffer(offs, dtype=odt)[
            col.offset:col.offset + len(col) + 1].tolist()
        mv = memoryview(data) if data is not None else memoryview(b"")
        vals = [mv[i:j] for i, j in zip(o[:-1], o[1:])]
        if col.null_count:
            vals = [None if null else v for v, null
                    in zip(vals, col.is_null().to_pylist())]
        return vals
    if not col.null_count and (pa.types.is_integer(col.type)
                               or pa.types.is_floating(col.type)):
        # the same Python values as to_pylist, ~20× faster on a 200-row
        # column (the label columns of an image_masks group)
        return col.to_numpy().tolist()
    return col.to_pylist()


def arrow_rows(batch: pa.RecordBatch) -> list:
    """The rows of an Arrow batch as namedtuples of arrow_values."""
    row = _row_type(tuple(batch.schema.names))
    return [row._make(vals) for vals in zip(*map(arrow_values,
                                                 batch.columns))]


def scalar_udf(return_type: T.DataType):
    """Decorator: ``body`` as a scalar Arrow UDF (an ArrowEvalPython plan
    node).  The body gets each argument column as a list of arrow_values
    and returns the result column's values, which leave as one Arrow
    array of ``return_type``, NaN as NULL at any depth (pyarrow's
    ``from_pandas`` rule).  SQL's NULL rule holds here, once: a row with a
    NULL argument, or NaN in a float argument, gives NULL unseen by the
    body.  A batch without such a row passes as it came; else the body
    gets the other rows, put back in place by a ``take`` over indices
    NULL at the masked rows (no other row: NULLs, and no call)."""
    arrow_type = to_arrow_type(return_type)

    def wrap(body):
        @wraps(body)
        def udf(*cols):
            masked = np.any([pc.is_null(c, nan_is_null=True) for c in cols],
                            axis=0)
            if masked.all():
                return pa.nulls(len(masked), arrow_type)
            if masked.any():
                cols = [pc.filter(c, ~masked) for c in cols]
            out = pa.array(body(*map(arrow_values, cols)), type=arrow_type,
                           from_pandas=True)
            if masked.any():
                out = out.take(pa.array(np.cumsum(~masked) - 1, mask=masked))
            return out

        return F.arrow_udf(udf, return_type)

    return wrap


class BlobBatches:
    """Output rows of a Spark schema with at most one binary column,
    assembled into Arrow record batches.  Each blob (an array, written as
    its little-endian C-order bytes, a bytes-like, or None for null) is
    copied once, as its row is queued, to the end of one contiguous buffer
    per batch that backs the binary column, so a queued row keeps no blob
    (nor the array a blob is a view of) alive; the other columns come from
    Python lists.  A batch is cut before a row would take it past
    ``max_bytes`` (a single larger row goes alone)."""

    def __init__(self, schema: T.StructType, max_bytes: int):
        self.schema = to_arrow_schema(schema)
        self.blob = next((i for i, f in enumerate(schema.fields)
                          if isinstance(f.dataType, T.BinaryType)), None)
        self.strs = [i for i, f in enumerate(schema.fields)
                     if isinstance(f.dataType, T.StringType)]
        self.max_bytes = max_bytes
        self.rows: list[tuple] = []
        self.nbytes = 0
        self.buf: np.ndarray | None = None   # the queued blobs' bytes
        self.ends: list[int] = []            # each blob's end in buf

    def size(self, row: tuple) -> int:
        """The bytes ``row`` (values in schema order) adds to a batch."""
        # strings are at most 4 UTF-8 bytes per character; every column
        # takes at most 8 more bytes per row (offsets, scalars, validity);
        # list values are not counted (the lists here hold a few numbers)
        size = 8 * len(row) \
            + 4 * sum(len(row[i]) for i in self.strs if row[i] is not None)
        if self.blob is not None:
            size += _nbytes(row[self.blob])
        return size

    def add(self, row: tuple, size: int) -> None:
        """Queue one row of ``size`` bytes, its blob copied into the
        batch's buffer (allocated at the batch's first row, large enough
        for every row that fits)."""
        if self.blob is not None:
            blob = row[self.blob]
            n = _nbytes(blob)
            if self.buf is None:
                self.buf = np.empty(max(self.max_bytes, n), dtype=np.uint8)
            i = self.ends[-1] if self.ends else 0
            if isinstance(blob, np.ndarray):
                dst = self.buf[i:i + n].view(blob.dtype.newbyteorder("<"))
                dst.reshape(blob.shape)[...] = blob
            elif blob is not None:
                self.buf[i:i + n] = np.frombuffer(blob, dtype=np.uint8)
            self.ends.append(i + n)
            # the blob's slot keeps only whether it is non-null
            row = row[:self.blob] + (blob is not None,) + row[self.blob + 1:]
        self.rows.append(row)
        self.nbytes += size

    def flush(self) -> pa.RecordBatch:
        """The queued rows as one batch (possibly empty); the queue empties."""
        rows, self.rows, self.nbytes = self.rows, [], 0
        cols = list(zip(*rows)) or [()] * len(self.schema)
        arrays = [self._binary_array(f.type, cols[k]) if k == self.blob
                  else pa.array(cols[k], type=f.type)
                  for k, f in enumerate(self.schema)]
        return pa.RecordBatch.from_arrays(arrays, schema=self.schema)

    def _binary_array(self, typ: pa.DataType, valid) -> pa.Array:
        """The queued blobs as a binary column over the batch's buffer."""
        buf, ends, self.buf, self.ends = self.buf, self.ends, None, []
        offs = np.zeros(len(ends) + 1, dtype=np.int32)
        offs[1:] = ends
        valid = np.array(valid, dtype=bool)
        nulls = len(valid) - int(valid.sum())
        bitmap = pa.py_buffer(np.packbits(valid, bitorder="little")) \
            if nulls else None
        data = pa.py_buffer(buf[:offs[-1]] if buf is not None else b"")
        return pa.BinaryArray.from_buffers(typ, len(valid), [
            bitmap, pa.py_buffer(offs), data], nulls)


def _nbytes(blob) -> int:
    if blob is None:
        return 0
    return blob.nbytes if isinstance(blob, np.ndarray) else len(blob)


def _emit(units: Iterable[Iterable[tuple]], schema: T.StructType,
          max_bytes: int) -> Iterator[pa.RecordBatch]:
    """The output side of every row-returning UDF: each unit (an iterable
    of output rows) leaves in BlobBatches of at most ``max_bytes``, cut at
    every unit end, and a unit with no output rows yields one empty
    batch.  A full batch is yielded before the next row is queued, so a
    consumer that drops it first holds one batch's buffer at a time."""
    out = BlobBatches(schema, max_bytes)
    for unit in units:
        sent = False
        for row in unit:
            size = out.size(row)
            if out.rows and out.nbytes + size > max_bytes:
                sent = True
                yield out.flush()
            out.add(row, size)
            # the row's blob may be a view whose base (a chunk of tiles)
            # should not outlive the copy
            del row
        if out.rows or not sent:
            yield out.flush()


def blob_batches(batches: Iterator[pa.RecordBatch], schema: T.StructType,
                 max_bytes: int, rows_of) -> Iterator[pa.RecordBatch]:
    """The body of a row-returning mapInArrow UDF: ``rows_of(row)`` yields
    the output rows (tuples in ``schema`` order) of one input row; the
    output is cut at every input batch end."""
    return _emit((chain.from_iterable(map(rows_of, arrow_rows(batch)))
                  for batch in batches), schema, max_bytes)


def group_blob_batches(batches: Iterator[pa.RecordBatch],
                       schema: T.StructType, max_bytes: int,
                       rows_of) -> Iterator[pa.RecordBatch]:
    """The body of a row-returning grouped applyInArrow UDF:
    ``rows_of(rows)`` yields the output rows of one group, given all its
    input rows (a group with none yields one empty batch)."""
    rows = [row for batch in batches for row in arrow_rows(batch)]
    return _emit([rows_of(rows) if rows else ()], schema, max_bytes)


def _bounded(df: DataFrame, schema: T.StructType, body, rows_of):
    """The Arrow UDF running ``body`` (blob_batches or group_blob_batches)
    over rows_of, its output cut at the bound Spark uses for the batches it
    sends to Python: ``spark.sql.execution.arrow.maxBytesPerBatch`` (4 MB
    in session.get_spark)."""
    spark = df.sparkSession
    conf = spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
    max_bytes = int(spark.sparkContext._jvm.org.apache.spark.network.util
                    .JavaUtils.byteStringAsBytes(conf))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return body(batches, schema, max_bytes, rows_of)

    return gen


def map_blobs(df: DataFrame, schema: T.StructType, rows_of) -> DataFrame:
    """``df.mapInArrow`` over blob_batches(rows_of); ``schema`` has at most
    one binary column."""
    return df.mapInArrow(_bounded(df, schema, blob_batches, rows_of),
                         schema=schema)


def group_blobs(df: DataFrame, key: str, schema: T.StructType,
                rows_of) -> DataFrame:
    """``df.groupBy(key).applyInArrow`` over group_blob_batches(rows_of);
    ``schema`` has at most one binary column.  The iterator type hints
    select applyInArrow's iterator form."""
    return df.groupBy(key).applyInArrow(
        _bounded(df, schema, group_blob_batches, rows_of), schema=schema)
