"""ETL pipeline — the reference's ``load_data.py main()`` (SURVEY.md §3.1)
as one lazy Spark DAG.

Stages mirror load_data.py:108-146: input-file checks (:15-20), GeoPackage
load (:41-49), CRS validation (:51-57 — inside sources.gpkg.ingest_gpkg),
sequential id + column reorder on BOTH tables (:70-79, applied to the CSV
at :99,143 too), CSV load with a pinned schema (:60-68; SURVEY §1.3
determinism), staging registration, and the linked view
(query/view_linked_data.sql:1-13).

Tables land as temp views by default; ``materialize=True`` additionally
runs the reference's schema DDL (:22-30) + replace-writes (:82-106) via
the sources helpers against the session catalog.

Differences by design: the whole pipeline is a declarative DAG (no
row-at-a-time driver loop); the sequential id uses row_number over a
declared sort key (deterministic — the reference's current-row-order id is
irreproducible at scale, SURVEY F1); errors propagate instead of being
logged-and-swallowed (load_data.py:145-146 anti-pattern).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from ..sources import (create_or_replace_view, create_schema_if_not_exists,
                       scan_csv, write_table_replace)
from ..sources.gpkg import ingest_gpkg

LU_CSV_SCHEMA = T.StructType([
    T.StructField("TEMA", T.StringType()),
    T.StructField("JENIS", T.StringType()),
    T.StructField("SUMBER", T.StringType()),
])


def check_file_exists(path: str) -> None:
    """load_data.py:15-20 (isfile, so directories fail here, not deep
    inside sqlite with an obscure OperationalError)."""
    if not os.path.isfile(path):
        raise FileNotFoundError(f"input file does not exist: {path}")


def add_id_column(df: DataFrame, order_key: str | list[str],
                  id_column_name: str = "id") -> DataFrame:
    """Sequential 1..N id, id first (load_data.py:70-79 + C2 reorder).

    An existing column with the id name is replaced, mirroring
    load_data.py:76's ``col != id_column_name`` guard.
    """
    keys = [order_key] if isinstance(order_key, str) else list(order_key)
    w = W.orderBy(*keys)
    rest = [c for c in df.columns if c != id_column_name]
    return (df.withColumn(id_column_name, F.row_number().over(w))
            .select(id_column_name, *rest))


def run_etl(spark: SparkSession, gpkg_path: str, csv_path: str,
            table_prefix: str = "staging", feature_table: str | None = None,
            order_key: str | None = None,
            materialize: bool = False) -> DataFrame:
    """Full §3.1 pipeline; returns the linked view DataFrame.

    feature_table defaults to the gpkg's (single) feature table, like the
    reference's layer-agnostic ``gpd.read_file``; order_key defaults to
    the table's first column (the gpkg primary key, ``fid`` for the
    reference data).
    """
    check_file_exists(gpkg_path)
    check_file_exists(csv_path)

    lu_raw = ingest_gpkg(spark, gpkg_path, feature_table)
    lu = add_id_column(lu_raw, order_key or lu_raw.columns[0])
    # the reference also ids the CSV table (load_data.py:99,143); its row
    # order is file order — we use the full column tuple as the
    # deterministic surrogate sort key
    lu_csv_raw = scan_csv(spark, csv_path, schema=LU_CSV_SCHEMA)
    lu_csv = add_id_column(lu_csv_raw, lu_csv_raw.columns)

    lu.createOrReplaceTempView(f"{table_prefix}_tb_lu_dataset")
    lu_csv.createOrReplaceTempView(f"{table_prefix}_tb_lu_csv_dataset")
    if materialize:
        create_schema_if_not_exists(spark, table_prefix)
        write_table_replace(lu, f"{table_prefix}.tb_lu_dataset")
        write_table_replace(lu_csv, f"{table_prefix}.tb_lu_csv_dataset")

    # query/view_linked_data.sql:1-13 — lower-cased aliases, inner join
    create_or_replace_view(
        spark,
        f"{table_prefix}_linked_data_view",
        f"""
        SELECT a.id AS id, a.TEMA AS tema, a.LUSE AS luse,
               a.KETERANGAN AS keterangan, b.JENIS AS jenis,
               b.SUMBER AS sumber, a.geom AS geom
        FROM {table_prefix}_tb_lu_dataset a
        JOIN {table_prefix}_tb_lu_csv_dataset b ON a.TEMA = b.TEMA
        """,
    )
    return spark.table(f"{table_prefix}_linked_data_view")
