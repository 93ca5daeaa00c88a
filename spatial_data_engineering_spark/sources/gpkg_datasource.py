"""Spark-native GeoPackage scan: a Python DataSource (Spark 4 API) so a
.gpkg feature table reads as ``spark.read.format("gpkg")`` with
EXECUTOR-SIDE, rowid-range-partitioned reads — the scale upgrade over
``ingest_gpkg``'s driver-side pandas ingest (A1; the reference delegates
this to GeoPandas, load_data.py:41-49).

Planning (driver): open the sqlite file once for schema + CRS validation
+ the rowid span, split the span into N ranges.  Execution (executors):
each task opens the file independently (sqlite read-only concurrency is
safe), scans ONLY its rowid range, strips each GPB header to plain WKB.
A single-file .gpkg still caps out at one machine's I/O — the documented
pattern for true scale stays ingest-to-parquet — but planning no longer
materializes the table on the driver, and a directory of many .gpkg
files parallelizes naturally (one or more partitions per file).

Column convention matches ingest_gpkg: source columns minus the raw
geometry blob, plus ``geom`` (WKB binary) last.
"""

from __future__ import annotations

import sqlite3

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)
from pyspark.sql import types as T

from .gpkg import feature_table, parse_gpb

_SQLITE_TO_SPARK = {
    "INTEGER": T.LongType(), "INT": T.LongType(),
    "MEDIUMINT": T.LongType(), "TINYINT": T.LongType(),
    "SMALLINT": T.LongType(), "BIGINT": T.LongType(),
    "REAL": T.DoubleType(), "DOUBLE": T.DoubleType(),
    "FLOAT": T.DoubleType(),
    "TEXT": T.StringType(), "VARCHAR": T.StringType(),
    "BLOB": T.BinaryType(),
    "BOOLEAN": T.BooleanType(),
    "DATE": T.StringType(), "DATETIME": T.StringType(),
}


def _spark_type(decl: str) -> T.DataType:
    base = (decl or "BLOB").split("(")[0].strip().upper()
    return _SQLITE_TO_SPARK.get(base, T.StringType())


class _RowidRange(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi


class GeoPackageReader(DataSourceReader):
    def __init__(self, path: str, table: str, geom_col: str,
                 cols: list[str], n_parts: int, lo: int, hi: int):
        self.path, self.table, self.geom_col = path, table, geom_col
        self.cols, self.n_parts, self.lo, self.hi = cols, n_parts, lo, hi

    def partitions(self):
        span = self.hi - self.lo + 1
        n = max(1, min(self.n_parts, span))
        step = -(-span // n)
        return [_RowidRange(self.lo + i * step,
                            min(self.lo + (i + 1) * step - 1, self.hi))
                for i in range(n)
                if self.lo + i * step <= self.hi]

    def read(self, partition: _RowidRange):
        con = sqlite3.connect(f"file:{self.path}?mode=ro", uri=True)
        try:
            sel = ", ".join(f'"{c}"' for c in self.cols) or "NULL"
            rows = con.execute(
                f'SELECT {sel}, "{self.geom_col}" FROM "{self.table}" '
                f"WHERE rowid BETWEEN ? AND ?",
                (partition.lo, partition.hi))
            for row in rows:
                blob = row[-1]
                wkb = parse_gpb(bytes(blob)) if blob is not None else None
                yield tuple(row[:-1]) + (wkb,)
        finally:
            con.close()


class GeoPackageDataSource(DataSource):
    """``spark.read.format("gpkg").options(path=..., table=...)``.

    Options: ``path`` (required), ``table`` (default: the single feature
    table, error if ambiguous), ``partitions`` (default 4), ``geom_out``
    (default 'geom').
    """

    @classmethod
    def name(cls) -> str:
        return "gpkg"

    def _plan(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("gpkg datasource requires option 'path'")
        con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        try:
            table, geom_col, srs_id = feature_table(
                con, self.options.get("table") or None)
            info = con.execute(f'PRAGMA table_info("{table}")').fetchall()
            cols = [(c[1], _spark_type(c[2])) for c in info
                    if c[1] != geom_col]
            span = con.execute(
                f'SELECT MIN(rowid), MAX(rowid) FROM "{table}"').fetchone()
            lo, hi = (span[0] or 0), (span[1] if span[1] is not None else -1)
        finally:
            con.close()
        return path, table, geom_col, srs_id, cols, lo, hi

    def schema(self):
        _, _, _, _, cols, _, _ = self._plan()
        geom_out = self.options.get("geom_out", "geom")
        return T.StructType(
            [T.StructField(n, t) for n, t in cols]
            + [T.StructField(geom_out, T.BinaryType())])

    def reader(self, schema) -> DataSourceReader:
        path, table, geom_col, _, cols, lo, hi = self._plan()
        n_parts = int(self.options.get("partitions", "4"))
        return GeoPackageReader(path, table, geom_col,
                                [n for n, _ in cols], n_parts, lo, hi)


def register(spark) -> None:
    spark.dataSource.register(GeoPackageDataSource)
