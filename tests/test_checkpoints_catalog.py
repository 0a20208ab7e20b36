"""StageStore catalog backend — the same writeTo/tableExists/read.table
code path production Iceberg uses, exercised through the V2 session
catalog (parquet CTAS), plus a true-Iceberg test that runs whenever the
runtime jar is on the classpath (absent in this sandbox → skipped) —
and the directory backend on a URI base."""

import pytest
from pyspark.sql import functions as F

from kgnorm import job, synth
from kgnorm.checkpoints import StageStore


def _has_iceberg(spark) -> bool:
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


@pytest.fixture()
def catalog_store(spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS kgtest")
    yield StageStore(str(tmp_path / "unused"), catalog="spark_catalog.kgtest",
                     table_format="parquet")
    for t in spark.catalog.listTables("kgtest"):
        spark.sql(f"DROP TABLE IF EXISTS kgtest.{t.name}")
    spark.sql("DROP DATABASE IF EXISTS kgtest")


class TestCatalogStageStore:
    def test_roundtrip_and_exists(self, spark, catalog_store):
        df = spark.range(10).select(
            F.col("id"), (F.col("id") % 3).alias("k"))
        assert not catalog_store.exists("stage_a")
        catalog_store.write(df, "stage_a", partition_by=["k"])
        assert catalog_store.exists("stage_a")
        back = catalog_store.read(spark, "stage_a")
        assert sorted(r.id for r in back.collect()) == list(range(10))

    def test_get_or_compute_resumes(self, spark, catalog_store):
        calls = []

        def compute():
            calls.append(1)
            return spark.range(4).select(F.col("id"))

        a = catalog_store.get_or_compute(spark, "stage_b", compute)
        assert a.count() == 4 and len(calls) == 1
        b = catalog_store.get_or_compute(spark, "stage_b", compute)
        assert b.count() == 4 and len(calls) == 1  # read back, not recomputed
        c = catalog_store.get_or_compute(spark, "stage_b", compute, resume=False)
        assert c.count() == 4 and len(calls) == 2  # forced recompute

    def test_pipeline_resume_identical_on_catalog_backend(self, spark, catalog_store):
        transcripts = synth.golden_transcripts(spark)
        out1 = job.run_pipeline(spark, transcripts, store=catalog_store, resume=False)
        t1 = sorted((t.subj, t.pred, t.obj, t.assertion)
                    for t in out1["triples"].collect())
        out2 = job.run_pipeline(spark, transcripts, store=catalog_store, resume=True)
        t2 = sorted((t.subj, t.pred, t.obj, t.assertion)
                    for t in out2["triples"].collect())
        assert t1 == t2 and len(t1) > 0


def test_directory_store_on_a_file_uri_writes_and_resumes(spark, tmp_path):
    """A URI base goes through the Hadoop file system: the marker is
    created, ``exists`` sees it, and a resumed call reads the stage."""
    store = StageStore("file://" + str(tmp_path))
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5).select(F.col("id"))

    assert not store.exists("stage_u", spark)
    assert store.get_or_compute(spark, "stage_u", compute).count() == 5
    assert store.exists("stage_u", spark) and (tmp_path / "stage_u" / "_SUCCESS").exists()
    again = store.get_or_compute(spark, "stage_u", compute)
    assert sorted(r.id for r in again.collect()) == list(range(5)) and calls == [1]


class _CallLog:
    """Duck-typed DataFrame + writeTo writer recording every catalog
    call StageStore.write issues — lets both write branches be asserted
    exactly without an Iceberg runtime jar on the classpath."""

    def __init__(self, confs=None):
        self.calls = []
        self._confs = confs or {}

    # --- DataFrame surface ---
    def writeTo(self, table):
        self.calls.append(("writeTo", table))
        return self

    @property
    def sparkSession(self):
        return self

    def sql(self, stmt):
        self.calls.append(("sql", stmt))

    # --- RuntimeConfig surface (catalog-plugin registration lookups) ---
    @property
    def conf(self):
        return self

    def get(self, key, default=None):
        return self._confs.get(key, default)

    # --- DataFrameWriterV2 surface ---
    def using(self, fmt):
        self.calls.append(("using", fmt))
        return self

    def partitionedBy(self, *cols):
        self.calls.append(("partitionedBy", len(cols)))
        return self

    def createOrReplace(self):
        self.calls.append(("createOrReplace",))

    def create(self):
        self.calls.append(("create",))


def test_iceberg_branch_calls_atomic_rtas(spark, tmp_path):
    """The production-Iceberg branch must issue exactly ONE atomic
    ``createOrReplace`` (RTAS) and NO drop — asserted against the
    recorded call sequence; with the runtime jar present the same
    branch is additionally exercised for real."""
    log = _CallLog()
    store = StageStore(str(tmp_path / "unused"), catalog="kgice.db")
    store.write(log, "stage_ice", partition_by=["k"])
    assert log.calls == [
        ("writeTo", "kgice.db.stage_ice"),
        ("using", "iceberg"),
        ("partitionedBy", 1),
        ("createOrReplace",),
    ]
    if _has_iceberg(spark):
        spark.conf.set("spark.sql.catalog.kgice", "org.apache.iceberg.spark.SparkCatalog")
        spark.conf.set("spark.sql.catalog.kgice.type", "hadoop")
        spark.conf.set("spark.sql.catalog.kgice.warehouse", str(tmp_path / "ice"))
        df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("k"))
        store.write(df, "stage_ice", partition_by=["k"])
        assert store.exists("stage_ice")
        assert store.read(spark, "stage_ice").count() == 10


def test_fallback_branch_stages_before_dropping(tmp_path):
    """Non-RTAS catalogs: the new stage is FULLY written to a staging
    table before the previous table is dropped, and the swap is a
    metadata-only drop + rename (prior snapshot survives a mid-CTAS
    crash)."""
    log = _CallLog()
    store = StageStore(str(tmp_path / "unused"), catalog="spark_catalog.kg",
                       table_format="parquet")
    store.write(log, "stage_p")
    assert log.calls == [
        ("sql", "DROP TABLE IF EXISTS spark_catalog.kg.stage_p__staging"),
        ("writeTo", "spark_catalog.kg.stage_p__staging"),
        ("using", "parquet"),
        ("create",),
        ("sql", "DROP TABLE IF EXISTS spark_catalog.kg.stage_p"),
        # v1 session catalog: rename uses 2-part identifiers
        ("sql", "ALTER TABLE kg.stage_p__staging RENAME TO kg.stage_p"),
    ]
    # partitioned: rename moves the data dir but strands the partition
    # metadata — a repair must follow
    log2 = _CallLog()
    store.write(log2, "stage_q", partition_by=["k"])
    assert log2.calls[-1] == ("sql", "MSCK REPAIR TABLE kg.stage_q")


def test_fallback_bare_database_name_repairs_partitions(tmp_path):
    """catalog='kg' (no explicit catalog part) also resolves to the
    session catalog: the rename stays 2-part AND the partitioned
    repair must still run (regression: prefix-only detection skipped
    MSCK for bare names)."""
    log = _CallLog()
    store = StageStore(str(tmp_path / "unused"), catalog="kg",
                       table_format="parquet")
    store.write(log, "stage_b", partition_by=["k"])
    assert ("sql", "ALTER TABLE kg.stage_b__staging RENAME TO kg.stage_b") in log.calls
    assert log.calls[-1] == ("sql", "MSCK REPAIR TABLE kg.stage_b")


def test_fallback_bare_name_registered_v2_catalog_skips_msck(tmp_path):
    """catalog='ice' where ``spark.sql.catalog.ice`` is a registered V2
    plugin must take the V2 path: full-identifier rename, NO
    ``MSCK REPAIR`` (which raises AnalysisException on a V2 table).
    Regression for part-count-based session-catalog inference."""
    log = _CallLog(confs={"spark.sql.catalog.ice": "some.V2CatalogPlugin"})
    store = StageStore(str(tmp_path / "unused"), catalog="ice",
                       table_format="parquet")
    store.write(log, "stage_v", partition_by=["k"])
    assert ("sql", "ALTER TABLE ice.stage_v__staging RENAME TO ice.stage_v") \
        in log.calls
    assert not any("MSCK" in c[1] for c in log.calls if c[0] == "sql")


def test_fallback_bare_database_roundtrip(spark, tmp_path):
    """End-to-end partitioned write/read with a bare database name."""
    spark.sql("CREATE DATABASE IF NOT EXISTS kgbare")
    try:
        store = StageStore(str(tmp_path / "unused"), catalog="kgbare",
                           table_format="parquet")
        df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("k"))
        store.write(df, "stage_r", partition_by=["k"])
        assert store.read(spark, "stage_r").count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS kgbare.stage_r")
        spark.sql("DROP DATABASE IF EXISTS kgbare")
