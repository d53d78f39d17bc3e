"""Stage checkpoint tables + resume.

Plays the role of the reference's status state machine
(``status: TODO->DOING->DONE`` on every Mongo doc,
``alligator/manager/data.py:216``, ``alligator/processors.py:250-260``):
a committed stage table == DONE for all its rows; a killed run resumes by
skipping stages whose table is already committed.

Backend: Iceberg when the runtime jar is on the classpath
(``df.writeTo(...).using("iceberg").createOrReplace()``, commit check =
catalog ``tableExists``), else Parquet directories with Spark's atomic
``_SUCCESS`` commit marker — same layout, same resume semantics
(documented fallback, SURVEY §7.3). In this sandbox the Iceberg jar is
absent, so Parquet runs. Commit checks go through the Hadoop FileSystem
API (NOT ``os.path``), so resume works when the workdir is ``hdfs://`` /
``s3a://`` / ``file://`` — any scheme the cluster's Hadoop conf resolves.
"""

from __future__ import annotations

import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_COLS = ["stage", "partition_id", "input_count", "edge_count", "wall_ms", "run_id"]
LINEAGE_SCHEMA = (
    "partition_id int, input_count long, edge_count long, wall_ms long, "
    "run_id string, stage string"
)


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime jar is on the JVM classpath. Must use
    Class.forName — attribute access on spark._jvm returns a JavaPackage
    placeholder for ANY dotted name, it never raises."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Schema")  # noqa: SLF001
        return True
    except Exception:
        return False


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """FileSystem.exists via the JVM gateway — resolves the path's scheme
    (file://, hdfs://, s3a://, bare local) against the session's Hadoop
    conf; ``os.path.exists`` only ever sees the driver's local FS and
    reports every remote workdir as missing (full recompute on resume)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return bool(fs.exists(jpath))


class CheckpointManager:
    """Commit/read/skip per-stage tables under a working directory.

    ``backend`` is "iceberg" when the runtime jar is present (stage tables
    become catalog tables ``<namespace>.<stage>``) else "parquet".
    Lineage rows always go to a Parquet table under the workdir, one
    ``run_id=<id>/stage=<name>`` partition per committed stage: a re-commit
    replaces its partition, so reruns never duplicate lineage rows.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        run_id: str,
        backend: str | None = None,
        catalog: str | None = None,
    ):
        self.spark = spark
        self.workdir = workdir.rstrip("/")
        self.run_id = run_id
        if backend is None:
            backend = "iceberg" if iceberg_available(spark) else "parquet"
        self.backend = backend
        # explicit Iceberg catalog: bare identifiers would resolve against
        # whatever catalog happens to be current (often spark_catalog,
        # which is NOT Iceberg-backed on most deployments). Configurable
        # via arg or SPARK_GRAFT_ICEBERG_CATALOG; empty -> current catalog.
        import os

        self.catalog = catalog or os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "")
        self._namespace_ready = False

    # ------------------------------------------------------------ locations

    def path(self, stage: str) -> str:
        """Stage tables live under the run_id (= SHA of the pipeline
        config): changing any config knob changes the run_id, so a resume
        can never read a stage table computed under a different config —
        e.g. toggling rerank between runs (stage semantics differ)."""
        return f"{self.workdir}/{self.run_id}/{stage}"

    def iceberg_namespace(self) -> str:
        """Namespace derived from workdir + run_id (sanitized) keeps
        concurrent pipelines AND config variants apart; prefixed by the
        explicit catalog when configured."""
        ns = re.sub(r"[^A-Za-z0-9_]+", "_", self.workdir).strip("_").lower()
        ns = f"ckpt_{ns}_{self.run_id}"
        return f"{self.catalog}.{ns}" if self.catalog else ns

    def iceberg_ident(self, stage: str) -> str:
        return f"{self.iceberg_namespace()}.{stage}"

    def _ensure_namespace(self) -> None:
        """CREATE NAMESPACE IF NOT EXISTS before the first commit — most
        catalogs (Hive/REST/Glue) reject writes into a namespace that was
        never created. Integration note: the Iceberg branch is exercised
        against a mock in CI (no runtime jar in the sandbox); this DDL is
        required on a real deployment."""
        if self._namespace_ready:
            return
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.iceberg_namespace()}"
        )
        self._namespace_ready = True

    # ------------------------------------------------------------- protocol

    def committed(self, stage: str) -> bool:
        if self.backend == "iceberg":
            return self.spark.catalog.tableExists(self.iceberg_ident(stage))
        return hadoop_path_exists(self.spark, f"{self.path(stage)}/_SUCCESS")

    def read(self, stage: str) -> DataFrame:
        if self.backend == "iceberg":
            return self.spark.table(self.iceberg_ident(stage))
        return self.spark.read.parquet(self.path(stage))

    def _write_stage(self, df: DataFrame, stage: str, partition_by: list[str] | None):
        if self.backend == "iceberg":
            self._ensure_namespace()
            writer = df.writeTo(self.iceberg_ident(stage)).using("iceberg")
            if partition_by:
                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.createOrReplace()  # atomic snapshot swap
            return
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(stage))

    def commit(self, df: DataFrame, stage: str, partition_by: list[str] | None = None):
        """Write a stage table + its per-partition lineage rows."""
        t0 = time.monotonic()
        self._write_stage(df, stage, partition_by)
        wall_ms = int((time.monotonic() - t0) * 1000)
        out = self.read(stage)
        self._write_lineage(out, stage, wall_ms)
        return out

    def _write_lineage(self, df: DataFrame, stage: str, wall_ms: int):
        cols = df.columns
        edge_count = (
            F.count("*")
            if "doc_a" in cols or "src" in cols
            else F.lit(0).cast("long")
        )
        lineage = (
            df.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(
                F.count("*").alias("input_count"),
                edge_count.alias("edge_count"),
            )
            .withColumn("wall_ms", F.lit(wall_ms).cast("long"))
        )
        # overwrite: the path holds exactly this (run_id, stage)'s rows
        lineage.write.mode("overwrite").parquet(
            f"{self.workdir}/_lineage/run_id={self.run_id}/stage={stage}"
        )

    def lineage(self) -> DataFrame:
        # explicit schema: partition values are strings (a hex run_id such
        # as "1e10..." would otherwise be inferred as a number)
        return (
            self.spark.read.schema(LINEAGE_SCHEMA)
            .parquet(f"{self.workdir}/_lineage")
            .select(*LINEAGE_COLS)
        )
