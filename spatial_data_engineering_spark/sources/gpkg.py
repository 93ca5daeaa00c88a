"""GeoPackage ingest (A1; load_data.py:41-49 reads `data/lu.gpkg`).

A GeoPackage is a SQLite database (OGC GPKG spec) whose feature tables
store geometry as a GeoPackage Binary (GPB) blob: an 8-byte header
('GP', version, flags, srs_id) + optional envelope + standard WKB.  The
stdlib ``sqlite3`` module reads it — no GDAL needed for the vector tables
the reference uses.

Scale note: a .gpkg is a single-file database — inherently a driver-side
ingest (exactly like the reference's GeoPandas read).  The pattern for
100 TB vector data is ingest-once to parquet (`ingest_gpkg` ->
``df.write.parquet``) and scan parquet thereafter; for many small .gpkg
files, distribute paths and run this parser inside ``mapInPandas`` over
``binaryFile`` rows.
"""

from __future__ import annotations

import sqlite3

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions import geometry as G

_ENVELOPE_DOUBLES = {0: 0, 1: 4, 2: 6, 3: 6, 4: 8}


def parse_gpb(blob: bytes) -> bytes:
    """GPB blob -> plain WKB (strips the GeoPackage binary header)."""
    if blob[:2] != b"GP":
        raise ValueError("not a GeoPackage Binary blob (magic != 'GP')")
    flags = blob[3]
    if flags & 0x20:
        # ExtendedGeoPackageBinary: the payload is an extension format, not
        # WKB — fail loudly rather than hand it to wkb_loads (same policy as
        # EWKB in geometry._parse_geom).
        raise ValueError("ExtendedGeoPackageBinary (flags bit 0x20) not supported")
    envelope_code = (flags >> 1) & 0x07
    if envelope_code not in _ENVELOPE_DOUBLES:
        raise ValueError(f"invalid GPB envelope indicator {envelope_code}")
    header_len = 8 + 8 * _ENVELOPE_DOUBLES[envelope_code]
    return blob[header_len:]


def _feature_tables(con: sqlite3.Connection) -> list[str]:
    return [r[0] for r in con.execute(
        "SELECT table_name FROM gpkg_contents WHERE data_type='features'")]


def list_feature_tables(gpkg_path: str) -> list[str]:
    con = sqlite3.connect(gpkg_path)
    try:  # sqlite3's context manager commits but does NOT close
        return _feature_tables(con)
    finally:
        con.close()


def feature_table(con: sqlite3.Connection,
                  table: str | None) -> tuple[str, str, int]:
    """``(table, geometry column, srs_id)`` of a feature table in an open
    GeoPackage; ``table=None`` means the file's single feature table
    (like the reference's layer-agnostic ``gpd.read_file``).  Raises on
    an ambiguous default, an unregistered table, or an undefined CRS
    (load_data.py:51-57: abort the load)."""
    if table is None:
        names = _feature_tables(con)
        if len(names) != 1:
            raise ValueError(f"GeoPackage has {len(names)} feature tables "
                             f"{names}; name one explicitly")
        table = names[0]
    row = con.execute(
        "SELECT column_name, srs_id FROM gpkg_geometry_columns "
        "WHERE table_name = ?", (table,)).fetchone()
    if row is None:
        raise ValueError(
            f"table {table!r} is not a registered feature table; "
            f"known feature tables: {_feature_tables(con)}")
    geom_col, srs_id = row
    if srs_id is None or srs_id in (0, -1):
        raise ValueError(f"CRS is not defined for {table!r} — aborting load "
                         "(load_data.py:51-57 semantics)")
    return table, geom_col, srs_id


def ingest_gpkg(spark: SparkSession, gpkg_path: str, table: str | None,
                geom_out: str = "geom") -> DataFrame:
    """Read one feature table (None: the single one) into a DataFrame
    with WKB geometry + CRS metadata — the engine's ingest convention
    (SURVEY.md §1.1).  Validates CRS presence via ``feature_table``.
    """
    con = sqlite3.connect(gpkg_path)
    try:  # sqlite3's context manager commits but does NOT close
        table, geom_col, srs_id = feature_table(con, table)
        pdf = pd.read_sql_query(f'SELECT * FROM "{table}"', con)
    finally:
        con.close()

    wkbs = []
    for i, blob in enumerate(pdf[geom_col]):
        if blob is None:  # NULL geometry is legal per the GPKG spec
            wkbs.append(None)
            continue
        try:
            wkb = parse_gpb(bytes(blob))
            G.wkb_loads(wkb)  # validate subtype (Polygon/MultiPolygon/Point)
        except ValueError as exc:
            raise ValueError(
                f"invalid geometry in {table!r} row {i}: {exc}") from exc
        wkbs.append(wkb)
    pdf = pdf.drop(columns=[geom_col])
    pdf[geom_out] = wkbs

    df = spark.createDataFrame(pdf)
    # CRS in column metadata (engine convention)
    return df.withMetadata(geom_out, {"crs": f"EPSG:{srs_id}"})
