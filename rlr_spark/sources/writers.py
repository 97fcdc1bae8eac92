"""Sinks (SURVEY.md S4-S5) and the keyed-merge write path.

The reference persists the labeled pair table with ``to_csv``
(backend/rlr.py:692) on every autosave (rlr.py:743-744). At scale the
pair table is a keyed table and label writes are merges; with an
Iceberg catalog that is a single ``MERGE INTO``, and on the parquet
fallback it is the classic anti-join ∪ changed-rows rewrite implemented
here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rlr_spark.catalog import Catalog


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink (S4: rlr.py:692). Values keep their surrounding blanks,
    as pandas' ``to_csv`` keeps them (Spark's writer trims by default).
    Note the reference's 'Download dta' button actually serves CSV
    bytes (pages/02:97-102) — there is no real .dta sink to reproduce;
    ``write_stata`` below documents that."""
    (
        df.write.mode(mode)
        .option("header", str(header).lower())
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )


def write_stata(df: DataFrame, path: str) -> None:
    """S5: the reference's .dta sink exists (rlr.py:693) but its UI
    download path serves CSV (pages/02:97-102). Driver-side pandas
    conversion — review-sized data only."""
    df.toPandas().to_stata(path, write_index=False)


def merge_upsert(
    catalog: Catalog,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
    update_cols: list[str],
) -> None:
    """Keyed merge into a catalog table.

    Iceberg catalog live -> ``MERGE INTO ... WHEN MATCHED THEN UPDATE``.
    Parquet fallback -> read, left-join updates, coalesce changed
    columns, rewrite. The rewrite is atomic at the table level
    (overwrite mode writes to a staging dir then commits via rename in
    the Spark committer).
    """
    from pyspark.sql import functions as F

    if catalog.iceberg_catalog:
        updates.createOrReplaceTempView("_rlr_updates")
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        sets = ", ".join(f"t.{c} = s.{c}" for c in update_cols)
        catalog.spark.sql(
            f"MERGE INTO {catalog._ident(table)} t USING _rlr_updates s "
            f"ON {on} WHEN MATCHED THEN UPDATE SET {sets}"
        )
        return

    base = catalog.read(table)
    upd = updates.select(
        *key_cols, *[F.col(c).alias(f"_new_{c}") for c in update_cols]
    )
    merged = base.join(upd, key_cols, "left")
    for c in update_cols:
        merged = merged.withColumn(c, F.coalesce(F.col(f"_new_{c}"), F.col(c)))
    merged = merged.drop(*[f"_new_{c}" for c in update_cols])
    # parquet has no in-place update; materialize then swap
    merged_cached = merged.localCheckpoint(eager=True)
    catalog.write(merged_cached, table)
