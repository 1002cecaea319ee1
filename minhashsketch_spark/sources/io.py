"""Table IO: Iceberg when available, parquet fallback (SURVEY.md §2.2).

The north_rule targets Iceberg tables of web pages; this sandbox has no
Iceberg runtime jar (verified: PySpark 4.1.2, no iceberg-spark-runtime on
the classpath), so every read/write goes through a thin facade that prefers
``format("iceberg")`` and falls back to parquet. Stage checkpoints (the
resumability mechanism) are tables keyed by config hash + stage name.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.SparkTable")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, path: str) -> DataFrame:
    if iceberg_available(spark) and not path.endswith(".parquet"):
        try:
            return spark.read.format("iceberg").load(path)
        except Exception:
            pass
    return spark.read.parquet(path)


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    if iceberg_available(df.sparkSession) and not path.endswith(".parquet"):
        try:
            df.writeTo(path).createOrReplace()
            return
        except Exception:
            pass
    df.write.mode(mode).parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int, path: str | None = None,
                   sort: bool = True) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) catalog table.

    Bucketing pre-shuffles the data ONCE at write time: any later
    equi-join or aggregation on ``bucket_col`` between tables bucketed
    into the same ``n_buckets`` runs with NO exchange on either side (the
    scan itself reports the hash partitioning) — the persisted-layout
    complement to repartition(), and the right call for tables that are
    joined on the same key every day (e.g. a signature index keyed by url
    that each incremental crawl batch joins against). Parquet bucketed
    tables need the session catalog; ``path`` makes the table external.

    The frame is repartitioned by ``bucket_col`` into ``n_buckets`` tasks
    first: repartition's hashpartitioning and bucketing use the same hash
    pmod n_buckets, so each task holds exactly one bucket and the write
    emits ONE file per bucket — without this, every upstream partition
    writes a file per bucket it touches (up to partitions x buckets small
    files; measured 28 s of write overhead on a 3-table index build)."""
    w = df.repartition(n_buckets, F.col(bucket_col)) \
        .write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def register_bucketed(spark: SparkSession, table: str, path: str,
                      bucket_col: str, n_buckets: int,
                      sort: bool = True) -> None:
    """Re-create the catalog entry for a ``write_bucketed`` table from its
    external parquet path in a FRESH session.

    Without a Hive metastore the session catalog is in-memory: a driver
    restart loses every ``saveAsTable`` entry while the bucketed parquet
    files (whose names carry the bucket ids) survive on disk. This issues
    the matching ``CREATE TABLE ... USING parquet CLUSTERED BY ... INTO n
    BUCKETS LOCATION path`` DDL so the new session's scans are again
    ``Bucketed: true`` — the bucket SPEC must match the files' writer
    exactly (same col, same n_buckets) or joins silently lose the
    zero-Exchange property. Schema is inferred from the parquet footers."""
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in schema.fields)
    sort_clause = f" SORTED BY (`{bucket_col}`)" if sort else ""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING parquet "
        f"CLUSTERED BY (`{bucket_col}`){sort_clause} INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'")


class StageStore:
    """Checkpointed stage outputs keyed by (config_hash, stage).

    Layout: <root>/<config_hash>/<stage>/   (parquet or Iceberg table)
            <root>/<config_hash>/<stage>.manifest.json  (metrics + lineage)

    ``exists`` only trusts a stage whose manifest was fully written —
    a killed run leaves data without a manifest and the stage re-runs
    (resume-safe, SURVEY.md §7 step 7).
    """

    def __init__(self, spark: SparkSession, root: str, config_hash: str) -> None:
        self.spark = spark
        self.root = root
        self.config_hash = config_hash
        os.makedirs(os.path.join(root, config_hash), exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, self.config_hash, stage)

    def _manifest_path(self, stage: str) -> str:
        return self._path(stage) + ".manifest.json"

    def exists(self, stage: str) -> bool:
        return os.path.exists(self._manifest_path(stage))

    def read(self, stage: str) -> DataFrame:
        return read_table(self.spark, self._path(stage))

    def write(self, stage: str, df: DataFrame,
              metrics: dict | Callable[[], dict] | None = None,
              extra_aggs: dict | None = None) -> DataFrame:
        """Write ``df`` as the stage table + manifest; return it read back.
        On the parquet path the write is the only job: ``rows`` and
        ``partition_rows`` (rows per written file — the per-partition
        lineage) come from the footers, and the read-back takes the
        writer's schema; an Iceberg table costs one more counting job.
        ``extra_aggs`` (named aggregate Columns) ride the write as an
        ``Observation``; ``metrics`` is a dict, or a callable run after the
        write (it may read Observations of that job)."""
        import pyarrow.parquet as pq
        from pyspark.sql import Observation

        path = self._path(stage)
        obs = None
        if extra_aggs:
            obs = Observation()
            df = df.observe(obs, *[expr.alias(k) for k, expr in extra_aggs.items()])
        write_table(df, path)
        if os.path.exists(os.path.join(path, "_SUCCESS")):  # written as parquet
            out = self.spark.read.schema(df.schema).parquet(path)
            ppart = [pq.read_metadata(os.path.join(path, f)).num_rows
                     for f in sorted(os.listdir(path))
                     if f.endswith(".parquet") and not f.startswith((".", "_"))]
        else:  # an Iceberg table: one job counts rows per read partition
            out = read_table(self.spark, path)
            ppart = [r["count"] for r in out.groupBy(F.spark_partition_id().alias("p"))
                     .count().orderBy("p").collect()]
        extra_totals = {k: int(v or 0) for k, v in obs.get.items()} if obs else {}
        if callable(metrics):
            metrics = metrics()
        manifest = {
            "stage": stage,
            "config_hash": self.config_hash,
            "rows": int(sum(ppart)),
            "partitions": len(ppart),
            "partition_rows": ppart[:256],
            "partition_row_stats": {
                "min": min(ppart) if ppart else 0,
                "max": max(ppart) if ppart else 0,
                "mean": round(sum(ppart) / len(ppart), 1) if ppart else 0,
            },
            "metrics": {**(metrics or {}), **extra_totals},
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path(stage))
        return out

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)
