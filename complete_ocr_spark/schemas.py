"""Spark schemas for the interleaved-document data model.

Maps the reference's file-system data model (SURVEY.md §1.1) onto fixed Spark
types (§1.2): a document is one row; its interleaved text/media stream is an
ordered array of span structs; detections are struct(box, score, label) as in
``/root/reference/src/table_cellwise_detection.py:100-106``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# span struct: the interleaved (kind, text, media_ref, offset) model.
# kind ∈ {'text','media_ref'}; offset = dense reading-order position.
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# detection struct (box normalized to int pixel coords like the reference's
# boxes.astype(np.int32), src/table_cellwise_detection.py:103)
BOX_STRUCT = T.StructType(
    [
        T.StructField("x1", T.IntegerType(), False),
        T.StructField("y1", T.IntegerType(), False),
        T.StructField("x2", T.IntegerType(), False),
        T.StructField("y2", T.IntegerType(), False),
    ]
)

DET_STRUCT = T.StructType(
    [
        T.StructField("box", BOX_STRUCT, False),
        T.StructField("score", T.FloatType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("doc_range_min", T.StringType(), True),
        T.StructField("doc_range_max", T.StringType(), True),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("span_count", T.LongType(), False),
        T.StructField("checksum", T.LongType(), False),
    ]
)
