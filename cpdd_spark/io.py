"""Table I/O shim: Iceberg on a real cluster, Parquet in the sandbox.

The north rule mandates Iceberg tables for input, clusters, metrics and
lineage. No Iceberg runtime jar ships with pyspark 4.1.2 offline, so this
module keeps ONE code path whose format resolves at runtime: if the session
has an Iceberg catalog configured we address tables by name through it;
otherwise we read/write Parquet directories with identical schemas and
partition specs. All pipeline code goes through :class:`TableIO` — swapping
the sandbox for a cluster changes zero pipeline lines.

Reference analogue: the recursive reference-directory scan
(/root/reference/src/cpdd/matching.c:150-204) and the copy-or-link sink
(/root/reference/src/cpdd/copy.c:242-338) — both become declarative
table scans/writes so Catalyst can prune partitions and push filters.
"""

from __future__ import annotations

import os
from contextlib import closing
from collections.abc import Container
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The run bookkeeping tables, partitioned by ``run_id``. Reads apply these
# schemas: inferred from ``run_id=<id>`` directory names, an id such as
# ``1234e5678901`` reads back as the double ``inf`` and ``000000000042``
# as the long 42.
LINEAGE_SCHEMA = "stage string, partition_id int, rows bigint, run_id string"
METRICS_SCHEMA = (
    "stage string, rows bigint, t_start double, t_end double, seconds double, run_id string"
)
_DECLARED = {"lineage": LINEAGE_SCHEMA, "metrics": METRICS_SCHEMA}


def _has_iceberg(spark: SparkSession) -> bool:
    try:
        return bool(spark.conf.get("spark.sql.catalog.cpdd", None))
    except Exception:
        return False


def _is_remote(path: str) -> bool:
    return "://" in path and not path.startswith("file://")


def _part_files(path: str) -> list[str]:
    """The parquet part files under table directory ``path``, recursively
    (partition directories included), sorted by path; [] if it is absent.

    A local path is walked with ``os.walk``. A remote warehouse (hdfs://,
    s3a://, ...) is listed through the JVM Hadoop FileSystem instead: a
    local walk of it yields nothing, which would read as "empty" and
    trigger a destructive unpartitioned rewrite of a good table."""
    if _is_remote(path):
        spark = SparkSession.getActiveSession()
        hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return []
        it, found = fs.listFiles(hpath, True), []  # recursive
        while it.hasNext():
            found.append(it.next().getPath().toString())
    else:
        walk = os.walk(path.removeprefix("file://"))
        found = [os.path.join(d, f) for d, _, files in walk for f in files]
    return sorted(f for f in found if f.endswith(".parquet"))


class Footer(NamedTuple):
    """What a parquet part file's footer says about its rows."""

    rows: int
    columns: frozenset[str]  # top-level column names
    # null count of the flat column asked for, summed over the row groups'
    # statistics: None when a row group records none, 0 when the column is
    # absent, nested or not asked for (a list leaf's null count also counts
    # empty lists, so it is not read)
    nulls: int | None


def part_footers(
    path: str, column: str | None = None, skip: Container[str] = ()
) -> dict[str, Footer]:
    """The footer of each parquet part file under ``path`` that is not in
    ``skip``, by file path in path order, read on the driver: no Spark job
    over the rows. ``column`` names the flat column whose null count to sum.

    A local file is read with ``pyarrow.parquet.read_metadata`` (the
    driver already imports pyarrow for every ``mapInPandas``); a remote one
    (hdfs://, s3a://, ...) through the JVM Hadoop FileSystem and
    parquet-hadoop. A zero-row table commits one empty part file, whose
    footer reads 0 rows."""
    files = [f for f in _part_files(path) if f not in skip]
    out = {}
    if not _is_remote(path):
        import pyarrow.parquet as pq

        for f in files:
            meta = pq.read_metadata(f)
            groups = [meta.row_group(i) for i in range(meta.num_row_groups)]
            stats = [
                g.column(j).statistics
                for j in range(meta.num_columns)
                if meta.schema.column(j).path == column
                for g in groups
            ]
            nulls = [s.null_count if s is not None and s.has_null_count else None for s in stats]
            out[f] = Footer(meta.num_rows, frozenset(meta.schema.to_arrow_schema().names), _sum(nulls))
        return out
    spark = SparkSession.getActiveSession()
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    parquet = jvm.org.apache.parquet.hadoop
    for f in files:
        file = parquet.util.HadoopInputFile.fromPath(jvm.org.apache.hadoop.fs.Path(f), conf)
        with closing(parquet.ParquetFileReader.open(file)) as reader:
            footer = reader.getFooter()
            fields = footer.getFileMetaData().getSchema().getFields()
            stats = [
                c.getStatistics()
                for block in footer.getBlocks()
                for c in block.getColumns()
                if c.getPath().toDotString() == column
            ]
            nulls = [s.getNumNulls() if s is not None and s.isNumNullsSet() else None for s in stats]
            names = frozenset(t.getName() for t in fields)
            out[f] = Footer(reader.getRecordCount(), names, _sum(nulls))
    return out


def _sum(counts: list[int | None]) -> int | None:
    return None if None in counts else sum(counts)


class TableIO:
    """Named-table read/write over Iceberg (cluster) or Parquet dirs (sandbox).

    ``root`` is the warehouse directory in Parquet mode; ignored for Iceberg.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.iceberg = _has_iceberg(spark)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(f"cpdd.{name}")
        # Parquet dir counts only when the write committed (_SUCCESS marker):
        # mirrors cpdd's crash-safe partial-output cleanup
        # (/root/reference/src/cpdd/copy.c:28-67) — a killed write leaves no
        # readable table, so resume re-runs that stage.
        return os.path.isfile(os.path.join(self.path(name), "_SUCCESS"))

    def read(self, name: str) -> DataFrame:
        if self.iceberg:
            return self.spark.read.format("iceberg").load(f"cpdd.{name}")
        if name in _DECLARED:
            return self.spark.read.schema(_DECLARED[name]).parquet(self.path(name))
        return self.spark.read.parquet(self.path(name))

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """Create or replace table ``name`` with ``df``."""
        if self.iceberg:
            w = df.writeTo(f"cpdd.{name}")
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        self._write_parquet(df, name, "overwrite", partition_by)

    def append(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        if self.iceberg:
            # Iceberg fixes the partition spec at table creation — apply it
            # on the first append (create), inherit it afterwards
            if partition_by and not self.spark.catalog.tableExists(f"cpdd.{name}"):
                df.writeTo(f"cpdd.{name}").partitionedBy(
                    *[F.col(c) for c in partition_by]
                ).create()
                return
            df.writeTo(f"cpdd.{name}").append()
        else:
            self._write_parquet(df, name, "append", partition_by)

    def file_rows(self, name: str) -> list[int]:
        """Row count of each committed part file of table ``name``, in path
        order, read from the files' metadata: no Spark job over the rows.

        - a parquet table (local or remote): :func:`part_footers`;
        - Iceberg: ``record_count`` of the table's ``files`` metadata table
          (a catalog read; this branch cannot run offline, no runtime jar).
        """
        if self.iceberg:
            files = self.spark.sql(f"SELECT record_count FROM cpdd.{name}.files ORDER BY file_path")
            return [r[0] for r in files.collect()]
        return [f.rows for f in part_footers(self.path(name)).values()]

    def _write_parquet(
        self, df: DataFrame, name: str, mode: str, partition_by: list[str] | None
    ) -> None:
        """Parquet write that always commits a READABLE (schema-bearing)
        table. A zero-partition input still writes one empty part file
        (Spark does that itself), but a dynamic-partitioned write of ZERO
        rows creates no partition directories, only ``_SUCCESS``, and the
        read-back then fails schema inference. That shape is detected
        AFTER the write by listing the part files (none under the table
        dir) — an upfront ``isEmpty()`` would re-execute the upstream plan
        just to prove it non-empty; the listing costs ~zero and only the
        degenerate shape pays the rewrite. The rewrite commits the empty
        table unpartitioned: the partition column stays as a data column,
        so the read-back schema is unchanged."""
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))
        if partition_by and not _part_files(self.path(name)):
            df.repartition(1).write.mode("overwrite").parquet(self.path(name))

    def drop(self, name: str) -> None:
        if self.iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS cpdd.{name}")
            return
        import shutil

        shutil.rmtree(self.path(name), ignore_errors=True)
