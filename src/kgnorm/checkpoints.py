"""Per-stage checkpointing and resume.

The reference resumes work at document granularity via job-status rows
(documents.status, jobs/document_processing.py:113-118, 269-310).  The
Spark build checkpoints at STAGE granularity: each stage's output is
written to a table; on resume, stages whose outputs already exist and
are complete are read back instead of recomputed.  Deterministic IDs
(kgnorm.graph) make a resumed run byte-identical to a fresh one.

Storage: a V2 table catalog when one is configured (production —
Iceberg's ``writeTo(...).createOrReplace()`` gives atomic commits +
snapshots); otherwise plain parquet directories where completeness =
the ``_SUCCESS`` marker, which ``get_or_compute`` creates only once the
stage's gate has passed.  The marker is probed and created through the
Hadoop ``FileSystem`` of the base path (``session.hadoop_fs``), so a
``file:``, ``hdfs:`` or ``s3a:`` base works as a local path does.  The catalog branch is format-parametric:
with Iceberg on the classpath it runs ``createOrReplace`` (atomic RTAS);
for catalogs whose format lacks RTAS (e.g. the built-in session catalog
with parquet, which is how the branch is exercised in this sandbox —
there is no Iceberg runtime jar here) it degrades to staged
CTAS-then-rename: the new stage is fully written to ``<name>__staging``
BEFORE the old table is dropped and the staging table renamed in, so a
mid-write crash leaves the previous good snapshot intact and the
not-atomic window shrinks to the (metadata-only) drop+rename pair.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from kgnorm.session import RAW_LOCAL_FS, hadoop_fs


class StageStore:
    """Directory-backed stage table store with existence-based resume."""

    def __init__(self, base_dir: str, catalog: str | None = None,
                 table_format: str = "iceberg") -> None:
        self.base_dir = base_dir
        self.catalog = catalog  # e.g. "kg" → catalog tables kg.<stage>
        self.table_format = table_format

    def _path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def _writer(self, df: DataFrame, table: str, partition_by: list[str] | None):
        writer = df.writeTo(table).using(self.table_format)
        if partition_by:
            from pyspark.sql.functions import col
            writer = writer.partitionedBy(*[col(c) for c in partition_by])
        return writer

    def _is_session_catalog(self, spark) -> bool:
        """Does ``self.catalog`` resolve to the v1 session catalog?

        A bare name ("kg") normally means a database in the session
        catalog — but the SAME spelling can be a registered V2 catalog
        plugin (``spark.sql.catalog.kg`` set), whose tables must take
        the V2 path: full-identifier rename and NO ``MSCK REPAIR``
        (AnalysisException on a V2 table).  So the plugin registration,
        not the part count, decides.  ``spark_catalog`` stays v1-shaped
        even when overridden (e.g. Iceberg's SparkSessionCatalog): the
        override delegates non-Iceberg tables to the builtin catalog,
        and Iceberg-format tables take the RTAS branch before this check
        matters.
        """
        first = self.catalog.split(".")[0]
        if first == "spark_catalog":
            return True
        try:
            registered = spark.conf.get(f"spark.sql.catalog.{first}", None)
        except Exception:
            registered = None
        return registered is None and "." not in self.catalog

    def exists(self, name: str, spark: SparkSession | None = None) -> bool:
        spark = spark or SparkSession.active()
        if self.catalog:
            return spark.catalog.tableExists(f"{self.catalog}.{name}")
        fs, marker = hadoop_fs(spark, self._success(name))
        return fs.exists(marker)

    def _success(self, name: str) -> str:
        return os.path.join(self._path(name), "_SUCCESS")

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None,
              mark_success: bool = True) -> None:
        """Write stage ``name``.  A directory stage written with
        ``mark_success=False`` gets no ``_SUCCESS`` marker, so it does not
        count as complete until the caller creates one.  A directory
        stage is written through the raw local file system
        (``session.RAW_LOCAL_FS``)."""
        if self.catalog:
            table = f"{self.catalog}.{name}"
            if self.table_format == "iceberg":
                # atomic replace — readers never see a half-written stage
                self._writer(df, table, partition_by).createOrReplace()
            else:
                # session-catalog formats have no RTAS: write the new
                # stage COMPLETELY to a staging table, then swap via
                # drop + rename (metadata-only) — a crash mid-CTAS
                # leaves the previous stage table untouched
                staging = f"{self.catalog}.{name}__staging"
                sql = df.sparkSession.sql
                sql(f"DROP TABLE IF EXISTS {staging}")
                self._writer(df, staging, partition_by).create()
                sql(f"DROP TABLE IF EXISTS {table}")
                # the v1 session catalog caps ALTER ... RENAME at 2 name
                # parts — drop its explicit catalog prefix; V2 catalogs
                # rename with the full identifier.  Whether a bare name
                # ("kg") is a session-catalog database or a registered
                # V2 catalog plugin is resolved against the session conf
                # (_is_session_catalog), not inferred from part count.
                parts = self.catalog.split(".")
                session_cat = self._is_session_catalog(df.sparkSession)
                strip = (lambda t: t.split(".", 1)[1]) \
                    if parts[0] == "spark_catalog" else (lambda t: t)
                sql(f"ALTER TABLE {strip(staging)} RENAME TO {strip(table)}")
                if session_cat and partition_by:
                    # v1 managed-table rename moves the data directory but
                    # leaves partition metadata pointing at the old paths
                    sql(f"MSCK REPAIR TABLE {strip(table)}")
            return
        w = df.write.options(**RAW_LOCAL_FS).mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        if not mark_success:
            w = w.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        w.parquet(self._path(name))

    def read(self, spark: SparkSession, name: str, schema: StructType | None = None) -> DataFrame:
        """The stage table; a directory stage read with ``schema`` runs no
        schema-inference job."""
        if self.catalog:
            return spark.read.table(f"{self.catalog}.{name}")
        reader = spark.read.schema(schema) if schema is not None else spark.read
        return reader.parquet(self._path(name))

    def get_or_compute(
        self,
        spark: SparkSession,
        name: str,
        compute,
        resume: bool = True,
        gate=None,
    ) -> DataFrame:
        """Return the checkpointed stage, computing+writing it if missing.

        ``compute`` is a zero-arg callable returning the stage DataFrame.
        With ``resume=False`` the stage always recomputes (overwrite).
        A written directory stage is read back with the schema of the
        frame just written (``df.schema``), so no job infers it; a resumed
        stage is read as it is stored.

        ``gate`` (zero-arg; raises to refuse) must pass before the stage
        counts as complete, and the stage is returned only after it
        passes.  A directory stage is written without its ``_SUCCESS``
        marker while the gate runs, and the marker is created once it
        passes; a catalog stage, whose write is its commit, is written
        after the gate; an existing stage on resume waits for the gate
        too.
        """
        gate = gate or (lambda: None)
        if resume and self.exists(name, spark):
            gate()
            return self.read(spark, name)
        df = compute()
        if self.catalog:
            gate()
            self.write(df, name)
            return self.read(spark, name)
        self.write(df, name, mark_success=False)
        gate()
        # no permission argument: the raw local file system forks no chmod
        fs, marker = hadoop_fs(spark, self._success(name), RAW_LOCAL_FS)
        fs.create(marker).close()
        return self.read(spark, name, df.schema)
