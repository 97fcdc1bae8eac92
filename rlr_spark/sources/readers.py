"""Input readers (SURVEY.md S1-S3).

The reference loads CSV via ``pd.read_csv`` (backend/rlr.py:67) and
Stata via ``pd.read_stata`` (rlr.py:68), with schema inference. At scale
inference is a full extra pass and a correctness hazard, so every reader
here takes an explicit schema (or infers only when told to, for
interactive parity with the reference).

Stata has no Spark datasource; it is a small-file side channel —
pandas-read on the driver, then ``createDataFrame`` (Arrow path), which
is exactly the reference's own scale class for .dta (S2; low priority
per SURVEY.md). Gated behind an import-try so the engine never hard-
depends on pandas' optional stata support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """CSV scan (S1: rlr.py:67,135). Explicit schema preferred; pass
    ``infer=True`` only for small interactive loads. A quoted value's
    newlines stay inside its row (``multiLine``), as in pandas'
    ``read_csv``; a file is then read by one task, which suits the
    review-sized files this reads."""
    r = spark.read.option("header", str(header).lower()).option("multiLine", "true")
    if schema is not None:
        r = r.schema(schema)
    elif infer:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_stata(spark: SparkSession, path: str) -> DataFrame:
    """Stata scan (S2: rlr.py:68,136) — driver-side pandas, Arrow upload.

    Appropriate only for review-sized files (the reference's own usage);
    there is no distributed .dta reader.
    """
    try:
        import pandas as pd

        pdf = pd.read_stata(path)
    except ImportError as e:  # pragma: no cover - pandas always present here
        raise NotImplementedError("pandas with stata support unavailable") from e
    return spark.createDataFrame(pdf)


def from_pandas(spark: SparkSession, pdf, schema: T.StructType | None = None) -> DataFrame:
    """DataFrame pass-through source (S3: rlr.py:71-73,139-141)."""
    return spark.createDataFrame(pdf, schema=schema)
