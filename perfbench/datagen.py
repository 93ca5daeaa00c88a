"""Seeded inputs for every benchmark workload.

Everything the program reads during a run is written here from one
integer seed: the ten relational/text/vector tables the query registry
scans, the micro-batch delta files the streaming admission drains, and
the spatial fixtures (a GeoPackage, the attribute CSV, Landsat-like
pixels, an elevation grid and admin regions) the paper's report reads.

Shapes are fixed and only values depend on the seed, so two seeds cost
the same work: row counts, key ranges and category pools follow the
sf0.01 test tables, the near-duplicate structure of the document corpus
(group count and group sizes) is planted identically for every seed,
because graph queries over the near-dup graph (PageRank, BFS,
components) launch a data-dependent number of jobs, and the Landsat
scene schedule is the same for every seed.
"""

from __future__ import annotations

import hashlib
import os
import sqlite3
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# sf0.01 row counts of the registry tables
ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
        "lineitem": 60_000, "events": 10_000, "documents": 500,
        "embeddings": 500}

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil",
             "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# planted near-duplicate groups: (number of groups, docs per group)
NEAR_DUP_GROUPS = ((12, 2), (6, 3), (3, 4))
EXACT_DUP_PAIRS = 8

# streaming admission: delta files (one per micro-batch) and their mix
STREAM_FILES = 1
STREAM_ROWS_PER_FILE = 40
STREAM_DOC_ID0 = 1_000_000

# spatial fixtures: ten times the package defaults' 31 features, and
# finer pixels and grid than its 150 m pixels and 60x60 grid, at a
# quarter of the perf-tier size (30 m pixels, a 600x600 grid), which does
# not fit the benchmark's time budget on a slow host (see README.md);
# SCENE_SEED's schedule has the expected 136 scenes
LU_FEATURES = 300
PIXEL_STEP_M = 60.0
ELEV_GRID = 300
ADMIN_SPLITS = 10
SCENE_SEED = 19


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input, so adding a table never shifts
    the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(pdf: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False), path)


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int)
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _text(rng, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB, n_words))


def _near_copy(rng, text: str) -> str:
    """A near duplicate: two word substitutions in a >= 40-word text."""
    words = text.split()
    for i in rng.choice(len(words), 2, replace=False):
        words[i] = VOCAB[(VOCAB.index(words[i]) + 1) % len(VOCAB)]
    return " ".join(words)


def _documents(seed: int) -> pd.DataFrame:
    rng = _rng(seed, "documents")
    n = ROWS["documents"]
    texts = [_text(rng, int(k)) for k in rng.integers(10, 100, n)]
    # planted structure at fixed doc ids: each group's head gets a long
    # text (so two substitutions stay above every near-dup threshold),
    # the other members are near copies of it
    doc = 0
    for groups, size in NEAR_DUP_GROUPS:
        for _ in range(groups):
            head = _text(rng, int(rng.integers(60, 100)))
            texts[doc] = head
            for j in range(1, size):
                texts[doc + j] = _near_copy(rng, head)
            doc += size + 3  # leave unrelated docs between groups
    for _ in range(EXACT_DUP_PAIRS):
        texts[doc + 1] = texts[doc]
        doc += 5
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids, "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(seed: int) -> pd.DataFrame:
    rng = _rng(seed, "embeddings")
    n, dim, labels = ROWS["embeddings"], 64, 10
    centers = rng.standard_normal((labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    v = centers[label] + 0.6 * rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(v), "label": label})


def _relational(seed: int) -> dict[str, pd.DataFrame]:
    rng = _rng(seed, "relational")
    nc, ns, npart = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    no, nl, ne = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    out = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": REGIONS}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": rng.choice(SEGMENTS, nc)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10,
                                      1)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(("F", "O", "P"), no),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": rng.choice(PRIORITIES, no)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), nl),
            "l_linestatus": rng.choice(("F", "O"), nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)}),
    }
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, ne))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    return out


SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()),
                           ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()),
                           ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()),
                       ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()),
                         ("o_totalprice", pa.float64()),
                         ("o_orderdate", pa.timestamp("us")),
                         ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                         ("user_id", pa.int64()), ("event_type", pa.string()),
                         ("value", pa.float64()), ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}


def write_tables(out_dir: str, seed: int) -> str:
    """The ten registry tables, one parquet file each (the sf-dir layout
    ``catalog.load`` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    frames = _relational(seed)
    frames["documents"] = _documents(seed)
    frames["embeddings"] = _embeddings(seed)
    for name in TABLES:
        _write(frames[name], os.path.join(out_dir, f"{name}.parquet"),
               SCHEMAS[name])
    return out_dir


def stream_deltas(seed: int, base_texts: list[str]) -> list[pd.DataFrame]:
    """Micro-batch delta files in arrival order.  Each file mixes exact
    copies of base documents, near copies of base documents, near copies
    of fresh documents that arrived earlier, and fresh documents; doc ids
    increase with arrival so keep-first by id is arrival order."""
    rng = _rng(seed, "stream")
    files, fresh_so_far = [], []
    doc_id = STREAM_DOC_ID0
    for f in range(STREAM_FILES):
        rows = []
        for i in range(STREAM_ROWS_PER_FILE):
            kind = i % 4
            if kind == 0:
                text = base_texts[int(rng.integers(len(base_texts)))]
            elif kind == 1:
                long_base = [t for t in base_texts if len(t.split()) >= 60]
                text = _near_copy(rng, long_base[int(rng.integers(
                    len(long_base)))])
            elif kind == 2 and fresh_so_far:
                text = _near_copy(rng, fresh_so_far[int(rng.integers(
                    len(fresh_so_far)))])
            else:
                text = _text(rng, int(rng.integers(60, 100)))
                fresh_so_far.append(text)
            rows.append((doc_id, text))
            doc_id += 1
        files.append(pd.DataFrame(rows, columns=["doc_id", "text"]))
    return files


def _gpb(geom, srs: int) -> bytes:
    from spatial_data_engineering_spark.functions import geometry as G

    return b"GP\x00\x01" + struct.pack("<i", srs) + G.wkb_dumps(geom)


def write_gpkg(lu: pd.DataFrame, path: str, srs: int) -> None:
    """The ``lu`` feature table as a minimal spec-conformant GeoPackage
    (gpkg_contents + gpkg_geometry_columns + GPB geometry blobs)."""
    from spatial_data_engineering_spark.functions import geometry as G

    con = sqlite3.connect(path)
    try:
        con.execute("PRAGMA application_id = 0x47504B47")
        con.execute("CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY,"
                    " data_type TEXT, identifier TEXT, srs_id INTEGER)")
        con.execute("CREATE TABLE gpkg_geometry_columns (table_name TEXT, "
                    "column_name TEXT, geometry_type_name TEXT, "
                    "srs_id INTEGER, z TINYINT, m TINYINT)")
        con.execute("CREATE TABLE lu (fid INTEGER PRIMARY KEY, geom BLOB, "
                    "LUSE TEXT, KETERANGAN TEXT, TEMA TEXT)")
        con.execute("INSERT INTO gpkg_contents VALUES "
                    "('lu', 'features', 'lu', ?)", (srs,))
        con.execute("INSERT INTO gpkg_geometry_columns VALUES "
                    "('lu', 'geom', 'MULTIPOLYGON', ?, 0, 0)", (srs,))
        con.executemany("INSERT INTO lu VALUES (?,?,?,?,?)", [
            (int(r.fid), _gpb(G.wkt_loads(r.geom_wkt), srs), r.LUSE,
             r.KETERANGAN, r.TEMA) for r in lu.itertuples()])
        con.commit()
    finally:
        con.close()


def spatial_paths(out_dir: str) -> dict[str, str]:
    """Where ``write_spatial`` puts each input."""
    paths = {name: os.path.join(out_dir, f"{name}.parquet") for name in (
        "lu", "lu_csv", "landsat_pixels", "elevation_cells", "admin_regions")}
    paths["gpkg"] = os.path.join(out_dir, "lu.gpkg")
    paths["csv"] = os.path.join(out_dir, "lu.csv")
    return paths


def _pixels(seed: int) -> pd.DataFrame:
    """Landsat-like pixels.  The scene schedule (scenes per month, hence
    the row count) comes from one fixed generator seed, so every seed
    scans the same rows; the seed scales the band values (dead zero
    pixels stay zero)."""
    from spatial_data_engineering_spark import fixtures as fx

    px = fx.make_landsat_pixels(seed=SCENE_SEED, step_m=PIXEL_STEP_M)
    rng = _rng(seed, "pixels")
    for band in ("sr_b4", "sr_b5"):
        px[band] = np.clip(px[band] * rng.uniform(0.8, 1.2, len(px)), 0.0,
                           1.0)
    return px


def write_spatial(out_dir: str, seed: int) -> dict[str, str]:
    """The paper's inputs at the sizes above: ``lu`` as GeoPackage and
    parquet, ``lu.csv``, Landsat-like pixels, elevation cells and admin
    regions, all from the package's own fixture generators."""
    from spatial_data_engineering_spark import fixtures as fx

    os.makedirs(out_dir, exist_ok=True)
    fseed = int(_rng(seed, "spatial").integers(0, 2**31 - 1))
    lu = fx.make_lu(n_rows=LU_FEATURES, seed=fseed)
    frames = {
        "lu": lu,
        "lu_csv": fx.make_lu_csv(),
        "landsat_pixels": _pixels(seed),
        "elevation_cells": fx.make_elevation_cells(seed=fseed, n=ELEV_GRID),
        "admin_regions": fx.make_admin_regions(ADMIN_SPLITS, ADMIN_SPLITS),
    }
    paths = spatial_paths(out_dir)
    for name, pdf in frames.items():
        pdf.to_parquet(paths[name], index=False)
    write_gpkg(lu, paths["gpkg"], fx.EPSG_LU)
    frames["lu_csv"].to_csv(paths["csv"], index=False)
    return paths


def fingerprint(paths: list[str]) -> str:
    """Content hash of generated files (part of the oracle-cache key)."""
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(os.path.basename(p).encode())
            h.update(fh.read())
    return h.hexdigest()
