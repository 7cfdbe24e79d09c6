"""The Python side of every blob-emitting Arrow UDF: reading input rows
out of Arrow batches and returning rows with one binary column as Arrow
batches bounded by bytes.

Spark bounds the batches it sends to Python by
``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MB in
session.get_spark) but takes whatever a UDF returns, and a grouped UDF's
result for one group would otherwise leave as one batch.  A UDF whose rows
carry MB-scale blobs (tiles, masks, images) must bound its own output:
map_blobs runs a per-row generator under ``mapInArrow``, group_blobs a
per-group one under ``applyInArrow``'s iterator form, and both cut the
output at the same bound, with no pandas conversion either way.
"""

from __future__ import annotations

from collections import namedtuple
from collections.abc import Iterable, Iterator
from functools import lru_cache
from itertools import chain

import numpy as np
import pyarrow as pa
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema


@lru_cache(maxsize=None)
def _row_type(names: tuple[str, ...]):
    return namedtuple("Row", names, rename=True)


def arrow_rows(batch: pa.RecordBatch) -> list:
    """The rows of an Arrow batch as namedtuples of Python values, except
    that a binary value is a zero-copy memoryview into the batch's data
    buffer (pixfmt.decode reads raw pixels straight from it)."""
    cols = []
    for col in batch.columns:
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
            cols.append(vals)
        elif not col.null_count and (pa.types.is_integer(col.type)
                                     or pa.types.is_floating(col.type)):
            # the same Python values as to_pylist, ~20× faster on a
            # 200-row column (the label columns of an image_masks group)
            cols.append(col.to_numpy().tolist())
        else:
            cols.append(col.to_pylist())
    row = _row_type(tuple(batch.schema.names))
    return [row._make(vals) for vals in zip(*cols)]


class BlobBatches:
    """Output rows of a Spark schema with one binary column, assembled
    into Arrow record batches.  Each blob (an array, written as its
    little-endian C-order bytes, a bytes-like, or None for null) is copied
    once, into one contiguous buffer per batch that backs the binary
    column; the other columns come from Python lists.  A batch is cut
    before a row would take it past ``max_bytes`` (a single larger row goes
    alone)."""

    def __init__(self, schema: T.StructType, max_bytes: int):
        self.schema = to_arrow_schema(schema)
        self.blob = next(i for i, f in enumerate(schema.fields)
                         if isinstance(f.dataType, T.BinaryType))
        self.strs = [i for i, f in enumerate(schema.fields)
                     if isinstance(f.dataType, T.StringType)]
        self.max_bytes = max_bytes
        self.rows: list[tuple] = []
        self.nbytes = 0

    def add(self, row: tuple) -> pa.RecordBatch | None:
        """Queue one row (values in schema order); returns the full batch
        this row did not fit into, if any."""
        # strings are at most 4 UTF-8 bytes per character; every column
        # takes at most 8 more bytes per row (offsets, scalars, validity)
        size = _nbytes(row[self.blob]) + 8 * len(row) \
            + 4 * sum(len(row[i]) for i in self.strs if row[i] is not None)
        full = None
        if self.rows and self.nbytes + size > self.max_bytes:
            full = self.flush()
        self.rows.append(row)
        self.nbytes += size
        return full

    def flush(self) -> pa.RecordBatch:
        """The queued rows as one batch (possibly empty); the queue empties."""
        rows, self.rows, self.nbytes = self.rows, [], 0
        blobs = [r[self.blob] for r in rows]
        offs = np.zeros(len(rows) + 1, dtype=np.int32)
        np.cumsum([_nbytes(b) for b in blobs], out=offs[1:])
        buf = np.empty(int(offs[-1]), dtype=np.uint8)
        for b, i, j in zip(blobs, offs[:-1].tolist(), offs[1:].tolist()):
            if isinstance(b, np.ndarray):
                dst = buf[i:j].view(b.dtype.newbyteorder("<"))
                dst.reshape(b.shape)[...] = b
            elif b is not None:
                buf[i:j] = np.frombuffer(b, dtype=np.uint8)
        valid = np.array([b is not None for b in blobs], dtype=bool)
        nulls = len(rows) - int(valid.sum())
        bitmap = pa.py_buffer(np.packbits(valid, bitorder="little")) \
            if nulls else None
        cols = list(zip(*rows)) or [()] * len(self.schema)
        arrays = [
            pa.BinaryArray.from_buffers(f.type, len(rows), [
                bitmap, pa.py_buffer(offs), pa.py_buffer(buf)], nulls)
            if k == self.blob else pa.array(cols[k], type=f.type)
            for k, f in enumerate(self.schema)]
        return pa.RecordBatch.from_arrays(arrays, schema=self.schema)


def _nbytes(blob) -> int:
    if blob is None:
        return 0
    return blob.nbytes if isinstance(blob, np.ndarray) else len(blob)


def _emit(units: Iterable[Iterable[tuple]], schema: T.StructType,
          max_bytes: int) -> Iterator[pa.RecordBatch]:
    """The output side of every blob UDF: each unit (an iterable of output
    rows) leaves in BlobBatches of at most ``max_bytes``, cut at every unit
    end, and a unit with no output rows yields one empty batch."""
    out = BlobBatches(schema, max_bytes)
    for unit in units:
        sent = False
        for row in unit:
            full = out.add(row)
            if full is not None:
                sent = True
                yield full
        if out.rows or not sent:
            yield out.flush()


def blob_batches(batches: Iterator[pa.RecordBatch], schema: T.StructType,
                 max_bytes: int, rows_of) -> Iterator[pa.RecordBatch]:
    """The body of a blob-emitting mapInArrow UDF: ``rows_of(row)`` yields
    the output rows (tuples in ``schema`` order) of one input row; the
    output is cut at every input batch end."""
    return _emit((chain.from_iterable(map(rows_of, arrow_rows(batch)))
                  for batch in batches), schema, max_bytes)


def group_blob_batches(batches: Iterator[pa.RecordBatch],
                       schema: T.StructType, max_bytes: int,
                       rows_of) -> Iterator[pa.RecordBatch]:
    """The body of a blob-emitting grouped applyInArrow UDF:
    ``rows_of(rows)`` yields the output rows of one group, given all its
    input rows (a group with none yields one empty batch)."""
    rows = [row for batch in batches for row in arrow_rows(batch)]
    return _emit([rows_of(rows) if rows else ()], schema, max_bytes)


def _bounded(df: DataFrame, schema: T.StructType, body, rows_of):
    """The Arrow UDF running ``body`` (blob_batches or group_blob_batches)
    over rows_of, its output cut at the bound Spark uses for the batches it
    sends to Python: ``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MB
    in session.get_spark)."""
    spark = df.sparkSession
    conf = spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
    max_bytes = int(spark.sparkContext._jvm.org.apache.spark.network.util
                    .JavaUtils.byteStringAsBytes(conf))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return body(batches, schema, max_bytes, rows_of)

    return gen


def map_blobs(df: DataFrame, schema: T.StructType, rows_of) -> DataFrame:
    """``df.mapInArrow`` over blob_batches(rows_of)."""
    return df.mapInArrow(_bounded(df, schema, blob_batches, rows_of),
                         schema=schema)


def group_blobs(df: DataFrame, key: str, schema: T.StructType,
                rows_of) -> DataFrame:
    """``df.groupBy(key).applyInArrow`` over group_blob_batches(rows_of);
    the iterator type hints select applyInArrow's iterator form."""
    return df.groupBy(key).applyInArrow(
        _bounded(df, schema, group_blob_batches, rows_of), schema=schema)
