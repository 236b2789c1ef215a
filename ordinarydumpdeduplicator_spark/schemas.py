"""Fixed schema of the engine's primary input table (SURVEY.md §1.3),
the shape mandated by BASELINE.json ``input_hint``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary input: image + caption pairs (BASELINE.json input_hint).
IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)
