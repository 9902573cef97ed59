"""The one per-file Arrow pass every whole-file family runs on.

A PDF, office, EPUB, WARC or image corpus holds one file per row, so
its readers (bytes -> rows) and its deterministic writers (text ->
bytes) share one shape: select the id and the value columns, run ONE
map-only ``mapInArrow``, turn each input row into zero or more output
rows in Python, and hand the rows back as an Arrow batch.
``file_pass`` is that shape, written once; the families supply only
the per-row function, so the boundary between the vectorized engine
and per-file Python is one function.
"""

from __future__ import annotations

import re
import zipfile
import zlib
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_NON_DIGIT = re.compile(r"\D")


def file_pass(df: DataFrame, id_col: str,
              value_cols: Iterable[str | Column], out_ddl: str,
              rows_of: Callable[..., Iterable[tuple]]) -> DataFrame:
    """(id, *values) rows -> ``out_ddl`` rows in one map-only pass.

    The id is cast to string and named after the first ``out_ddl``
    column (``doc_id``, ``warc_id`` or ``media_ref``).  For each input
    row ``rows_of(key, *values)`` returns that row's output tuples
    without the key; the pass prepends the key, so an input row may
    yield any number of output rows, none included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(out_ddl))
    types = schema.types

    def _file_pass(batches: Iterator["pa.RecordBatch"]
                   ) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            rows: list[tuple] = []
            for key, *values in zip(*(c.to_pylist()
                                      for c in batch.columns)):
                rows.extend((key, *r) for r in rows_of(key, *values))
            cols = zip(*rows) if rows else [()] * len(types)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=t) for c, t in zip(cols, types)],
                schema=schema)

    sel = df.select(F.col(id_col).cast("string").alias(schema.names[0]),
                    *value_cols)
    return sel.mapInArrow(_file_pass, schema=out_ddl)


def id_number(key: str) -> int:
    """The integer a deterministic writer derives its variant from:
    the digits of the id string, 0 when it has none (``'doc-17'`` ->
    17), so string ids from any source pick a stable variant."""
    return int(_NON_DIGIT.sub("", key) or 0)


def zip_member(zf: zipfile.ZipFile, name: str) -> bytes | None:
    """The bytes of member ``name``, or None when it is missing or its
    stored bytes do not decode (CRC mismatch, bad deflate data,
    truncation, an unsupported method): a damaged member of an office or
    EPUB container reads exactly like an absent one."""
    try:
        return zf.read(name)
    except (KeyError, zipfile.BadZipFile, zlib.error, EOFError,
            NotImplementedError):
        return None


def element_spans(elements: Iterable[dict[str, Any]]
                  ) -> list[dict[str, Any]]:
    """Typed element rows -> contract spans: an ``image`` element
    becomes a ``media`` span carrying its ``media_ref``, any other
    element a ``text`` span; offsets are gapless from 0."""
    return [{"kind": "media", "text": "", "media_ref": e["media_ref"],
             "offset": k} if e["kind"] == "image" else
            {"kind": "text", "text": e["text"], "media_ref": "",
             "offset": k}
            for k, e in enumerate(elements)]
