"""The one synthetic-payload seam: a per-row ``bytes`` builder lifted to a
column.

Every deterministic media fixture (NPZ, WebM, Avro, WARC, PDF, ...) is a
pure function of a document's columns; :func:`synth_bytes` runs it on the
executors as one scalar pandas UDF, so callers only name the columns:

    documents.select(
        F.col("doc_id").alias("media_id"),
        synth_bytes(synth_npz_bytes, "doc_id").alias("payload"),
    )

The inner function is named ``_build_fn``, so the plan reads
``ArrowEvalPython [_build_fn(doc_id#N)]`` as it did when each fixture
built its own UDF. Importing this module imports no pandas; building
the column does (pyspark checks its version)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType


def synth_bytes(fn, *cols) -> Column:
    """Column of ``fn(*row)`` over ``cols``, one ``bytes`` value per row.
    ``fn`` receives plain Python values (``int``, ``str``, ...), the
    ``Series.tolist()`` of each input column."""

    def _build_fn(*series):
        import pandas as pd

        return pd.Series([fn(*row) for row in zip(*(s.tolist() for s in series))])

    return pandas_udf(_build_fn, BinaryType())(*cols)
