"""Fixed schemas for the extraction engine (no inference anywhere).

The input table shape is authoritative per BASELINE.json ``input_hint``:
``(url string, warc_ts timestamp, html binary, text string, lang string)`` —
an Iceberg table at production scale, parquet at test scale.

The span struct is the Bbox analog of the reference
(``/root/reference/src/models/det_model/Bbox.py:17-26``): reading-order
position becomes ``(block_id, char_start)``; the two math labels
``isolated``/``embedding`` are byte-compatible with the reference's detector
labels (``/root/reference/src/models/det_model/model/infer_cfg.yml:25-27``)
plus ``text`` for OCR-text-block analogs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

#: Detection confidence threshold — parity with the reference detector's
#: ``draw_threshold: 0.5`` (infer_cfg.yml:2).
DETECT_CONF_THRESHOLD = 0.5

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

#: id semantics (uniform across the flagship, chunked, and span-table
#: paths): ``span_id`` orders spans within a url and, in any ASSEMBLED
#: output (EXTRACTED_SCHEMA), is re-densified to the 0-based ordinal —
#: consumers may index by it. ``block_id`` is an opaque same-block grouping
#: key: equal ⇔ same visual block within the url, monotonic in document
#: order, NOT dense (the whole-doc scan skips ids for empty blocks; the
#: chunked path rebases by char offset) — never treat it as an ordinal.
SPAN_FIELDS = [
    T.StructField("span_id", T.IntegerType(), False),
    T.StructField("block_id", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("char_start", T.LongType(), False),
    T.StructField("char_end", T.LongType(), False),
    T.StructField("confidence", T.DoubleType(), False),
    T.StructField("raw", T.StringType(), False),
]

#: span + recognized/normalized payload (post-recognition)
CONTENT_SPAN_SCHEMA = T.StructType(
    SPAN_FIELDS + [T.StructField("content", T.StringType(), False)]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("spans", T.ArrayType(CONTENT_SPAN_SCHEMA), False),
        T.StructField("extracted_text", T.StringType(), False),
    ]
)


# Every Python stage in the package takes and returns Arrow: row kernels go
# through arrow_row_udf, numpy vector kernels through arrow_matrix_udf. Only
# the streaming state operator (streaming/stream.py) uses pandas.


def arrow_row_udf(kernel, spark_type: T.DataType):
    """A pure row kernel as a Spark ``arrow_udf`` (``ArrowEvalPython``,
    evalType ``SQL_SCALAR_ARROW_UDF``): the kernel runs once per row of each
    Arrow batch (nulls arrive as ``None``), and one ``pa.array`` call builds
    its results into ``spark_type``'s Arrow type, with no pandas conversion.
    pyarrow (16) still imports pandas inside a process's first ``pa.array``."""
    arrow_type = to_arrow_type(spark_type)

    def run(*cols):
        rows = zip(*(c.to_pylist() for c in cols))
        return pa.array([kernel(*row) for row in rows], type=arrow_type)

    run.__name__ = kernel.__name__  # the UDF's name in plans and the UI
    return F.arrow_udf(run, spark_type)


def vector_matrix(vecs: pa.Array) -> np.ndarray:
    """An ``array<double|float>`` Arrow column as one ``(n, d)`` float64
    matrix. A null or ragged row raises: reshaping the flat values would
    otherwise spread a short row's tail over its neighbours."""
    lens = np.diff(vecs.offsets.to_numpy())
    d = int(lens[0]) if len(lens) else 0
    if vecs.null_count or (lens != d).any():
        raise ValueError("vector column needs non-null rows of equal length")
    flat = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(len(vecs), d)


def arrow_matrix_udf(kernel, spark_type: T.DataType):
    """A numpy kernel over a vector column as a Spark ``arrow_udf``: each
    Arrow batch arrives as one :func:`vector_matrix`, and the kernel's
    ``(n,)`` result becomes a column of ``spark_type``, its ``(n, k)``
    result an ``array`` column of ``k`` values per row."""
    arrow_type = to_arrow_type(spark_type)

    def run(vecs):
        out = np.asarray(kernel(vector_matrix(vecs)))
        if out.ndim == 1:
            return pa.array(out, type=arrow_type)
        offsets = np.arange(len(out) + 1, dtype=np.int32) * out.shape[1]
        flat = pa.array(out.ravel(), type=arrow_type.value_type)
        return pa.ListArray.from_arrays(pa.array(offsets), flat, type=arrow_type)

    run.__name__ = kernel.__name__  # the UDF's name in plans and the UI
    return F.arrow_udf(run, spark_type)
