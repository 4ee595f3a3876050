"""Table IO seam: Iceberg when its runtime is on the classpath,
partitioned Parquet otherwise; one API over both backends.

Tier tables are partitioned by ("chunk", "source"), one checkpoint unit
(a source's buckets of one UTC day) per partition and file.
`overwrite_partitions` replaces only the partitions the DataFrame holds
(Iceberg `overwritePartitions` on a table created with that
partitioning, parquet dynamic overwrite set per writer, never on the
session), so re-writing a unit is idempotent. `drop_partitions` deletes
whole top-level partitions without reading a data file; `delete_where`
rewrites the survivors of one top-level partition in the table's own
layout. Parquet tables carry a manifest JSON whose monotonically
increasing snapshot id is the lineage anchor checkpoint.py records.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableIO:
    def __init__(self, spark: SparkSession, base_dir: str,
                 backend: str = "auto", catalog: str = "spark_catalog"):
        self.spark = spark
        self.base_dir = base_dir
        self.catalog = catalog
        if backend == "auto":
            backend = "iceberg" if self._iceberg_available() else "parquet"
        self.backend = backend
        if backend == "parquet":
            os.makedirs(base_dir, exist_ok=True)

    def _iceberg_available(self) -> bool:
        try:
            self.spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog")
            return True
        except Exception:
            return False

    # ------------------------------------------------------------ paths

    def _path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._path(table), "_manifest.json")

    def _read_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"snapshot_id": 0, "history": []}

    def _bump_manifest(self, table: str, op: str, rows: int) -> int:
        m = self._read_manifest(table)
        m["snapshot_id"] = int(m["snapshot_id"]) + 1
        m["history"].append({"snapshot_id": m["snapshot_id"], "op": op,
                             "rows": rows, "ts": time.time(),
                             "run": str(uuid.uuid4())[:8]})
        with open(self._manifest_path(table), "w") as f:
            json.dump(m, f)
        return m["snapshot_id"]

    def _create(self, table: str, df: DataFrame,
                partition_by: tuple[str, ...]):
        """Iceberg writer partitioned like the parquet layout."""
        w = df.writeTo(f"{self.catalog}.{table}")
        return w.partitionedBy(*map(F.col, partition_by)) if partition_by \
            else w

    # -------------------------------------------------------------- API

    def exists(self, table: str) -> bool:
        if self.backend == "iceberg":
            return self.spark.catalog.tableExists(f"{self.catalog}.{table}")
        p = self._path(table)
        return os.path.exists(p) and any(
            not e.startswith(("_", ".")) for e in os.listdir(p))

    def read(self, table: str) -> DataFrame:
        if self.backend == "iceberg":
            return self.spark.read.table(f"{self.catalog}.{table}")
        return self.spark.read.parquet(self._path(table))

    def partitions(self, table: str) -> list[dict[str, str]]:
        """One {column: value} per partition, values as strings; parquet
        lists the directory tree and reads no data file."""
        if not self.exists(table):
            return []
        if self.backend == "iceberg":
            rows = self.spark.sql(
                f"SELECT partition FROM {self.catalog}.{table}.partitions"
            ).collect()
            return [{k: str(v) for k, v in r[0].asDict().items()}
                    for r in rows]
        dirs = {os.path.dirname(f) for f in glob.glob(
            "**/*.parquet", root_dir=self._path(table), recursive=True)}
        return [dict(map(unquote, p.split("=", 1)) for p in d.split(os.sep))
                for d in sorted(dirs)
                if all("=" in p for p in d.split(os.sep))]

    def append(self, table: str, df: DataFrame,
               partition_by: tuple[str, ...] = ("source",)) -> int:
        if self.backend == "iceberg":
            df.writeTo(f"{self.catalog}.{table}").append()
            return self.snapshot_id(table)
        (df.write.mode("append").partitionBy(*partition_by)
           .parquet(self._path(table)))
        return self._bump_manifest(table, "append", -1)

    def overwrite_partitions(self, table: str, df: DataFrame,
                             partition_by: tuple[str, ...] = ("source",)) -> int:
        """INSERT OVERWRITE of the partitions `df` holds; every other
        partition stays (parquet's Iceberg MERGE-by-partition)."""
        if self.backend == "iceberg":
            if self.exists(table):
                df.writeTo(f"{self.catalog}.{table}").overwritePartitions()
            else:
                self._create(table, df, partition_by).create()
            return self.snapshot_id(table)
        (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
           .partitionBy(*partition_by).parquet(self._path(table)))
        return self._bump_manifest(table, "overwrite_partitions", -1)

    def overwrite(self, table: str, df: DataFrame,
                  partition_by: tuple[str, ...] = ("source",)) -> int:
        if self.backend == "iceberg":
            self._create(table, df, partition_by).createOrReplace()
            return self.snapshot_id(table)
        (df.write.mode("overwrite").option("partitionOverwriteMode", "static")
           .partitionBy(*partition_by).parquet(self._path(table)))
        return self._bump_manifest(table, "overwrite", -1)

    def drop_partitions(self, table: str, column: str, below: int) -> int:
        """Delete every top-level partition whose integer `column` value
        is below `below`, without reading a data file."""
        if self.backend == "iceberg":
            self.spark.sql(f"DELETE FROM {self.catalog}.{table} "
                           f"WHERE {column} < {int(below)}")
            return self.snapshot_id(table)
        root = self._path(table)
        for e in os.listdir(root):
            if e.startswith(f"{column}=") and int(e.split("=", 1)[1]) < below:
                shutil.rmtree(os.path.join(root, e))
        return self._bump_manifest(table, f"drop:{column}<{below}", -1)

    def delete_where(self, table: str, predicate: str, column: str,
                     value: int) -> int:
        """Delete the rows matching `predicate` from the top-level
        partition `column = value`; parquet rewrites that partition's
        survivors in the table's own layout, one file per partition."""
        if self.backend == "iceberg":
            self.spark.sql(f"DELETE FROM {self.catalog}.{table} WHERE "
                           f"{column} = {int(value)} AND ({predicate})")
            return self.snapshot_id(table)
        part = f"{column}={int(value)}"
        final = os.path.join(self._path(table), part)
        if not os.path.isdir(final):
            return self.snapshot_id(table)
        layout = list(self.partitions(table)[0])
        tmp = self._path(table) + "__tmp"
        (self.read(table).where(F.col(column) == value)
         .filter(f"NOT ({predicate})").repartition(*layout)
         .write.mode("overwrite").partitionBy(*layout).parquet(tmp))
        shutil.rmtree(final)
        if os.path.isdir(os.path.join(tmp, part)):
            os.rename(os.path.join(tmp, part), final)
        shutil.rmtree(tmp)
        return self._bump_manifest(table, f"delete_where:{predicate}", -1)

    def snapshot_id(self, table: str) -> int:
        if self.backend == "iceberg":
            row = self.spark.sql(
                f"SELECT snapshot_id FROM {self.catalog}.{table}.snapshots "
                f"ORDER BY committed_at DESC LIMIT 1").collect()
            return int(row[0][0]) if row else 0
        return int(self._read_manifest(table)["snapshot_id"])
