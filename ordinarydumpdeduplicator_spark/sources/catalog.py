"""Table catalog: parquet now, Iceberg when a catalog is on the classpath.

The reference's pluggable storage interface is ``IDataController``
(OrdinaryDumpDeduplicator/DataController/IDataController.cs:8-49); ours is
this module: every operator takes DataFrames, and this is the only place
that knows where they come from. The deployment target is Iceberg
(BASELINE.json input_hint); the sandbox image has no Iceberg jars, so
``load_table`` falls back to parquet files with identical schemas.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def has_iceberg(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (parquet file per table)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_iceberg(spark: SparkSession, table: str) -> DataFrame:
    """Iceberg path used in a real deployment; raises in this sandbox."""
    if not has_iceberg(spark):
        raise NotImplementedError(
            "Iceberg runtime not on the classpath in this environment; "
            "use load_table(parquet). In production: spark.read.format('iceberg')"
            f".load('{table}')"
        )
    return spark.read.format("iceberg").load(table)

