"""Every top-level def in the package is reached by product code.

An AST scan: a def counts as reached when some ``Name`` or attribute
reference to it (or an import of it) appears in the package,
``perfbench/``, ``scripts/``, ``bench.py`` or ``__spark_entry__.py``
outside its own body.  Comments and docstrings never count, tests do
not count, and ``@query``-registered functions are reached through the
registry.  A def that nothing reaches must be deleted, or listed in
``KEEP`` with a one-line reason.
"""

from __future__ import annotations

import ast
import os

from .conftest import REPO

PKG = "spatial_data_engineering_spark"

# (module path relative to the package, def name) -> why it stays
KEEP = {
    ("fixtures.py", "write_fixtures"):
        "test-fixture generator for the spatial pipeline tests",
    ("functions/geometry.py", "union_area"):
        "geometry-level area of a union; cross-checks zonal union areas",
    ("functions/gif.py", "encode_frames"):
        "GIF encoder, the writing half of the tested codec",
    ("functions/phash.py", "hamming64"):
        "scalar twin of the Spark pHash Hamming distance",
    ("functions/st_funcs.py", "register_all"):
        "public SQL ST_ surface; driven by tests/test_spatial_sql.py",
    ("functions/tiff_webp.py", "encode_tiff"):
        "TIFF encoder, the writing half of the tested codec",
    ("functions/tiff_webp.py", "encode_webp_lossless"):
        "WebP encoder, the writing half of the tested codec",
    ("operators/dedup.py", "substring_span_stats"):
        "public exact-substring span report",
    ("operators/multimodal.py", "audio_near_dup"):
        "public audio near-duplicate entry point",
    ("operators/multimodal.py", "frame_phashes"):
        "public per-frame pHash entry point",
    ("operators/psl.py", "compile_registered_domain"):
        "public psl entry point",
    ("operators/psl.py", "parse_psl"):
        "public psl entry point",
    ("operators/psl.py", "registered_domain_py"):
        "pure-Python psl reference the Spark path is tested against",
    ("operators/similarity.py", "q93_covariance_explode_twin"):
        "oracle-shaped covariance twin q93's BLAS path is tested against",
    ("operators/skew.py", "salted_join"):
        "public skew-join entry point",
    ("plans/audit.py", "global_window_violations"):
        "public global-window audit entry point",
    ("plans/curation.py", "materialize_curated"):
        "public curation entry point",
    ("plans/curation.py", "rate_limited_admissions"):
        "public streaming curation entry point",
    ("plans/forensics.py", "corpus_forensics"):
        "public forensics report entry point",
    ("sources/__init__.py", "create_table_if_not_exists"):
        "public source entry point",
    ("sources/__init__.py", "merge_upsert"):
        "public source entry point",
    ("sources/__init__.py", "scan_jdbc"):
        "public source entry point",
    ("sources/__init__.py", "scan_jsonl"):
        "public source entry point",
    ("sources/__init__.py", "write_jsonl_corpus"):
        "public source entry point",
    ("sources/__init__.py", "write_sharded_corpus"):
        "public source entry point",
    ("sources/__init__.py", "zorder_layout"):
        "public source entry point",
    ("sources/gpkg.py", "list_feature_tables"):
        "public source entry point",
    ("sources/jdbc.py", "find_embedded_jdbc_jar"):
        "public source entry point",
    ("sources/jdbc.py", "partition_options"):
        "public source entry point",
    ("sources/jdbc.py", "scan"):
        "public source entry point",
    ("sources/raster.py", "scan_pixels_capped"):
        "public source entry point",
    ("sources/raster.py", "write_pixel_store"):
        "public source entry point",
    ("streaming/stateful.py", "rate_limit_stream"):
        "public streaming entry point",
    ("streaming/stateful.py", "running_user_totals"):
        "public streaming entry point",
    ("streaming/windows.py", "dedup_within_watermark"):
        "public streaming entry point",
    ("streaming/windows.py", "run_to_completion"):
        "public streaming entry point",
    ("streaming/windows.py", "session_windows"):
        "public streaming entry point",
    ("streaming/windows.py", "stream_admit_documents"):
        "public streaming entry point",
    ("streaming/windows.py", "stream_admit_near_dedup"):
        "public streaming entry point",
    ("streaming/windows.py", "stream_cms_sketch"):
        "public streaming entry point",
    ("streaming/windows.py", "stream_dedup_against_corpus"):
        "public streaming entry point",
    ("streaming/windows.py", "stream_stream_join"):
        "public streaming entry point",
    ("streaming/windows.py", "stream_type_moments"):
        "public streaming entry point",
    ("streaming/windows.py", "tumbling_counts"):
        "public streaming entry point",
    ("streaming/windows.py", "write_stream_idempotent"):
        "public streaming entry point",
    ("streaming/windows.py", "zscore_finalize"):
        "public streaming entry point",
}


def _py_files():
    roots = [os.path.join(REPO, PKG), os.path.join(REPO, "perfbench"),
             os.path.join(REPO, "scripts")]
    for root in roots:
        for d, _, names in os.walk(root):
            for n in sorted(names):
                if n.endswith(".py"):
                    yield os.path.join(d, n)
    for n in ("bench.py", "__spark_entry__.py"):
        yield os.path.join(REPO, n)


def _is_query(fn: ast.FunctionDef) -> bool:
    return any(isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
               and d.func.id == "query" for d in fn.decorator_list)


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def unreached() -> set[tuple[str, str]]:
    pkg_root = os.path.join(REPO, PKG)
    refs: set[str] = set()  # referenced from outside any checked def
    own: dict[tuple[str, str], set[str]] = {}  # def -> names it references
    for path in _py_files():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, pkg_root)
        for top in tree.body:
            # dunder module hooks (``__getattr__``) are called by Python
            if (not rel.startswith("..")
                    and isinstance(top, (ast.FunctionDef,
                                         ast.AsyncFunctionDef))
                    and not _is_query(top)
                    and not top.name.startswith("__")):
                own[(rel, top.name)] = _refs(top)
            else:
                refs |= _refs(top)
    # a def's references to itself (recursion) do not count
    return {key for key in own
            if key[1] not in refs
            and not any(key[1] in names for other, names in own.items()
                        if other != key)}


def test_every_def_is_reached_or_kept():
    dead = unreached()
    missing = sorted(dead - set(KEEP))
    assert not missing, (
        "top-level defs that nothing reaches (delete them, or add a KEEP "
        f"entry with a reason): {missing}")


def test_keep_list_is_current():
    stale = sorted(set(KEEP) - unreached())
    assert not stale, f"KEEP entries that are reached or gone: {stale}"
