"""Table catalog: Iceberg when available, parquet directory otherwise.

At target scale every pipeline stage reads/writes Iceberg tables
(BASELINE.json input_hint); the sandbox image ships no Iceberg jars, so
the catalog transparently falls back to a parquet directory layout with
the same table-name API. The stage-manifest / metrics machinery
(pipeline.py) sits on top of this and is format-agnostic.

Iceberg is probed once per session via the catalog classes on the
classpath; to enable it for real, start the session with
``spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-...`` and
``spark.sql.catalog.rlr=org.apache.iceberg.spark.SparkCatalog``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: per-table schema sidecar of parquet mode (see :meth:`Catalog.write`)
_SCHEMA_FILE = "_schema.json"


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog is importable in the JVM."""
    try:
        jvm = spark.sparkContext._jvm  # noqa: SLF001 — capability probe
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class Catalog:
    """Named-table IO over a warehouse root.

    ``write(df, name)`` / ``read(name)`` / ``exists(name)`` /
    ``drop(name)``. Parquet mode stores each table at
    ``<root>/<name>`` as a parquet directory; Iceberg mode (when jars
    are present and a spark catalog is configured) uses
    ``writeTo(f"{catalog}.{namespace}.{name}")``.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        iceberg_catalog: str | None = None,
        namespace: str = "rlr",
    ) -> None:
        self.spark = spark
        self.root = root
        self.namespace = namespace
        self.iceberg_catalog = iceberg_catalog if (
            iceberg_catalog and iceberg_available(spark)
        ) else None
        if self.iceberg_catalog is None:
            os.makedirs(root, exist_ok=True)

    # -- paths / identifiers -------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _ident(self, name: str) -> str:
        return f"{self.iceberg_catalog}.{self.namespace}.{name}"

    # -- IO -------------------------------------------------------------------
    def write(self, df: DataFrame, name: str) -> None:
        """Overwrite table ``name`` with ``df``.

        Parquet mode also records ``df.schema`` as ``_schema.json`` in the
        table directory (Spark's reader skips ``_``-prefixed files), so
        :meth:`read` need not infer it. The sidecar lands via tmp +
        ``os.replace``: a killed write leaves no torn file, only a
        missing one, and the overwrite deletes any older sidecar first.
        """
        if self.iceberg_catalog:
            df.writeTo(self._ident(name)).createOrReplace()
            return
        p = self.path(name)
        df.write.mode("overwrite").parquet(p)
        tmp = os.path.join(p, _SCHEMA_FILE + ".tmp")
        with open(tmp, "w") as f:
            f.write(df.schema.json())
        os.replace(tmp, os.path.join(p, _SCHEMA_FILE))

    def read(self, name: str) -> DataFrame:
        """Table ``name`` as a DataFrame, with no Spark job in parquet mode
        when the schema sidecar is present.

        A bare ``spark.read.parquet`` runs one job to infer the schema
        from file footers; given ``.schema(s)`` it runs none. Tables
        without a readable sidecar (written before it existed, or by
        another writer) take the inferring read. Iceberg's
        ``read.table`` infers nothing.
        """
        if self.iceberg_catalog:
            return self.spark.read.table(self._ident(name))
        p = self.path(name)
        try:
            with open(os.path.join(p, _SCHEMA_FILE)) as f:
                schema = StructType.fromJson(json.load(f))
        except (OSError, ValueError, TypeError, KeyError):
            return self.spark.read.parquet(p)
        return self.spark.read.schema(schema).parquet(p)

    def exists(self, name: str) -> bool:
        if self.iceberg_catalog:
            return self.spark.catalog.tableExists(self._ident(name))
        p = self.path(name)
        return os.path.isdir(p) and (
            os.path.exists(os.path.join(p, "_SUCCESS")) or any(
                f.endswith(".parquet") for f in os.listdir(p)
            )
        )

    def file_row_counts(self, name: str) -> list[tuple[int, int]] | None:
        """Per-output-file row counts from table METADATA — no Spark job.

        Parquet mode reads the file footers driver-side (one small read
        per file); files map 1:1 to the write tasks, so this is the
        per-partition lineage the metrics table wants. Iceberg keeps the
        same counts in its manifest files; returns None when metadata
        isn't directly readable (caller falls back to an aggregation).
        """
        if self.iceberg_catalog:
            return None
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            return None
        p = self.path(name)
        if not os.path.isdir(p):
            return None
        files = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        if not files:
            # e.g. a partitioned write nests files in subdirectories;
            # None (not []) makes the caller fall back to a real
            # aggregation instead of silently recording rows=0
            return None
        return [
            (i, pq.ParquetFile(os.path.join(p, f)).metadata.num_rows)
            for i, f in enumerate(files)
        ]

    def table_bytes(self, name: str) -> int | None:
        """On-disk bytes of table ``name``'s data files, from a directory
        listing — no Spark job. None in Iceberg mode and for a table with
        no data files at the top level (a partitioned write)."""
        if self.iceberg_catalog:
            return None
        p = self.path(name)
        if not os.path.isdir(p):
            return None
        sizes = [
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        ]
        return sum(sizes) if sizes else None

    def write_rows_local(self, name: str, rows: list[tuple]) -> bool:
        """Driver-side parquet write of a tiny (_pid, rows, stage)
        lineage table — the metrics tables are <= a few hundred rows
        and a full Spark job (submit + commit protocol) per stage was
        ~0.3 s of pure overhead 4x per pipeline run. Parquet mode only;
        returns False in Iceberg mode (caller falls back to the Spark
        writer, which Iceberg's commit protocol requires)."""
        if self.iceberg_catalog:
            return False
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            return False
        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p, exist_ok=True)
        tbl = pa.table(
            {
                "_pid": pa.array([r[0] for r in rows], pa.int32()),
                "rows": pa.array([r[1] for r in rows], pa.int64()),
                "stage": pa.array([r[2] for r in rows], pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(p, "part-00000.parquet"))
        open(os.path.join(p, "_SUCCESS"), "w").close()
        return True

    def drop(self, name: str) -> None:
        if self.iceberg_catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(name)}")
            return
        shutil.rmtree(self.path(name), ignore_errors=True)
