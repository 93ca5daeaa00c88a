"""Output checks, run outside every timed region.

* Registry queries: the canonical compare of ``tests/parity.py`` against
  the query's DuckDB oracle.  Oracle results are cached on disk, keyed on
  the oracle SQL and the input-data fingerprint; an oracle that does not
  finish within ``ORACLE_CAP_S`` leaves its query unverified, which counts
  as a failure and is reported by name.
* The spatial report: an independent pandas/numpy reference over the same
  fixture files (the construction of ``tests/test_spatial_pipeline.py``).
* Streaming admission: batch ``admit_delta`` over the same arrival order.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import threading

import numpy as np
import pandas as pd

ORACLE_CAP_S = 30.0


class OracleCache:
    def __init__(self, sf_dir: str, data_fp: str, cache_dir: str):
        from tests.parity import duckdb_connection

        self.con = duckdb_connection(sf_dir)
        self.data_fp = data_fp
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def rows(self, sql: str):
        """Canonical (columns, rows) of the oracle, or None past the cap."""
        from tests.parity import _canon_frame

        key = hashlib.sha256(f"{self.data_fp}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        timer = threading.Timer(ORACLE_CAP_S, self.con.interrupt)
        timer.start()
        try:
            pdf = self.con.sql(sql).df()
        except Exception as exc:
            if "interrupt" in str(exc).lower():
                return None
            raise
        finally:
            timer.cancel()
        out = _canon_frame(pdf)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(out, fh)
        os.replace(tmp, path)
        return out


def check_query(cache: OracleCache, name: str, sql: str | None,
                got: pd.DataFrame) -> str | None:
    """None when ``got`` matches the oracle, else the reason."""
    from tests.parity import _canon_frame

    if sql is None:
        return f"{name}: no oracle"
    try:
        want = cache.rows(sql)
    except Exception as exc:
        return f"{name}: oracle failed: {type(exc).__name__}: {exc}"[:300]
    if want is None:
        return f"{name}: unverified (oracle over {ORACLE_CAP_S:.0f} s)"
    cols, rows = _canon_frame(got)
    if cols != want[0]:
        return f"{name}: columns {cols} != oracle {want[0]}"
    if len(rows) != len(want[1]):
        return f"{name}: {len(rows)} rows != oracle {len(want[1])}"
    bad = sum(1 for a, b in zip(rows, want[1]) if a != b)
    return f"{name}: {bad} rows differ from the oracle" if bad else None


# -- spatial report ------------------------------------------------------
def _to_4326(geom):
    from spatial_data_engineering_spark.functions import crs

    polys = geom[1] if geom[0] == "MultiPolygon" else [geom[1]]
    out = []
    for poly in polys:
        xs, ys = zip(*poly[0])
        lon, lat = crs.utm_to_lonlat(np.array(xs), np.array(ys), 32750)
        out.append([list(zip(lon.tolist(), lat.tolist()))])
    return ("MultiPolygon", out)


def golden_reference(fixture_dir: str) -> dict:
    """Total mangrove area, per-category NDVI variance and the winner,
    computed driver-side with pandas and the package's pure-Python
    geometry (point tests run once per distinct pixel location)."""
    from spatial_data_engineering_spark.functions import crs
    from spatial_data_engineering_spark.functions import geometry as G

    lu = pd.read_parquet(f"{fixture_dir}/lu.parquet")
    px = pd.read_parquet(f"{fixture_dir}/landsat_pixels.parquet")
    sel = lu[lu.KETERANGAN.str.lower().str.contains("mangrove")]
    cats = {k: G.union([_to_4326(G.wkt_loads(w)) for w in g.geom_wkt])
            for k, g in sel.groupby("KETERANGAN")}
    total = 0.0
    for g in cats.values():
        polys = []
        for poly in (g[1] if g[0] == "MultiPolygon" else [g[1]]):
            rings = []
            for ring in poly:  # the exterior and any holes a union left
                xs, ys = zip(*ring)
                mx, my = crs.lonlat_to_webmerc(np.array(xs), np.array(ys))
                rings.append(list(zip(mx.tolist(), my.tolist())))
            polys.append(rings)
        total += G.area(("MultiPolygon", polys))
    s = px.sr_b5 + px.sr_b4
    px = px.assign(ndvi=np.where(s == 0, np.nan, (px.sr_b5 - px.sr_b4) / s),
                   month=px.ts.dt.strftime("%Y-%m"))
    locs = px[["lon", "lat"]].drop_duplicates()
    months = pd.period_range("2018-01", "2023-12", freq="M").strftime("%Y-%m")
    var = {}
    for k, g in cats.items():
        inside = locs[[G.point_in_polygon(x, y, g)
                       for x, y in zip(locs.lon, locs.lat)]]
        sub = px.merge(inside, on=["lon", "lat"]).dropna(subset=["ndvi"])
        med = sub.groupby(["month", "lon", "lat"]).ndvi.median().reset_index()
        var[k] = med.groupby("month").ndvi.mean().reindex(months).var(ddof=1)
    return {"total_ha": total / 10000.0, "variances": var}


def check_golden(report: dict, ref: dict) -> str | None:
    """The area exactly as printed; the top category and its variance to
    1e-6.  Categories whose pixel sets coincide (300 features overlap
    across the whole envelope) tie exactly, and floating-point order then
    picks among them, so any category within 1e-9 of the highest variance
    is accepted as the top."""
    want_area = f"{ref['total_ha']:,.2f}"
    if report.get("Total Mangrove Area (Ha)") != want_area:
        return (f"golden: area {report.get('Total Mangrove Area (Ha)')} "
                f"!= {want_area}")
    var = ref["variances"]
    best = max(var.values())
    tied = sorted(k for k, v in var.items() if best - v <= 1e-9 * abs(best))
    top = report.get("Area with Highest Variation")
    if top not in tied:
        return f"golden: top {top} not in {tied}"
    got = float(report.get("Variance", "nan"))
    if not abs(got - var[top]) <= 1e-6 * abs(var[top]):
        return f"golden: variance {got} != {var[top]}"
    return None


def zonal_reference(fixture_dir: str) -> dict[int, float]:
    """Mean elevation per admin region; boundary cells count in every
    region they touch (the engine's intersects semantics).  Regions are
    axis-aligned rectangles, so containment is an inclusive box test."""
    from spatial_data_engineering_spark.functions import geometry as G

    cells = pd.read_parquet(f"{fixture_dir}/elevation_cells.parquet").dropna()
    regions = pd.read_parquet(f"{fixture_dir}/admin_regions.parquet")
    out = {}
    for r in regions.itertuples():
        x0, y0, x1, y1 = G.bounds(G.wkt_loads(r.geom_wkt))
        m = ((cells.lon >= x0) & (cells.lon <= x1)
             & (cells.lat >= y0) & (cells.lat <= y1))
        if m.any():
            out[int(r.region_id)] = float(cells.elevation_m[m].mean())
    return out


def check_zonal(got: dict[int, float], ref: dict[int, float]) -> str | None:
    if set(got) != set(ref):
        return f"zonal: regions {sorted(set(got) ^ set(ref))[:5]} differ"
    bad = [k for k in ref if not abs(got[k] - ref[k]) <= 1e-9 * abs(ref[k])]
    return f"zonal: {len(bad)} region means differ" if bad else None


def histogram(means: dict[int, float]) -> dict[int, int]:
    out: dict[int, int] = {}
    for m in means.values():
        b = int(np.floor(m / 20))
        out[b] = out.get(b, 0) + 1
    return out
