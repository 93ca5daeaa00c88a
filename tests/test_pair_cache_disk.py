"""The disk tier of ``memo()``: the stored LSH tables (near-dup pairs,
base signatures, base exact hashes) and the substring-dup span table are
written once per source corpus and read back by every later session.

A "new session" is simulated by ``memo.forget``: the session-tier entry
goes, the parquet under ``SPARK_GRAFT_PAIR_CACHE`` stays.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from spatial_data_engineering_spark import memo
from spatial_data_engineering_spark.operators import dedup

from .conftest import SF_ORACLE  # single dataset knob: SPARK_GRAFT_TEST_SF

_DOCS = os.path.join(SF_ORACLE, "documents.parquet")


@pytest.fixture()
def cache_root(tmp_path, monkeypatch):
    root = tmp_path / "pair_cache"
    monkeypatch.setenv(memo.ROOT_ENV, str(root))
    yield str(root)


def _counts(tag):
    return memo.COUNTS[tag]["builds"], memo.COUNTS[tag]["disk_hits"]


def _stored(root, tag):
    return [p for p in glob.glob(os.path.join(root, f"{tag}-*"))
            if ".tmp-" not in p]


def _no_tmp_left(root):
    return [p for p in os.listdir(root) if ".tmp-" in p] == []


def _rows(df):
    return sorted((r.a_id, r.b_id) for r in df.collect())


def _recorded_memo_calls(*calls):
    """(tag, source fingerprints, params) of each dedup entry point's
    memo() call, without building anything."""
    seen = []

    def fake(spark, tag, sources, build, tier="session", params=()):
        seen.append((tag, [memo.fingerprint(s) for s in sources], params))
        return (None, None)

    orig, dedup.memo = dedup.memo, fake
    try:
        for call in calls:
            call()
    finally:
        dedup.memo = orig
    return seen


def test_second_session_reads_parquet_not_lsh(spark, cache_root):
    """The second session's near_dup_pairs is a disk read-back with
    identical content and zero LSH recompute."""
    memo.forget(spark, "pairs")
    c0, d0 = _counts("pairs")
    first = dedup.near_dup_pairs(spark, SF_ORACLE)
    assert _counts("pairs") == (c0 + 1, d0)  # cold: LSH ran once
    assert len(_stored(cache_root, "pairs")) == 1, "pair table not persisted"
    # the cold session already serves the parquet read-back
    assert "Scan parquet" in first._jdf.queryExecution().executedPlan() \
        .toString()

    memo.forget(spark, "pairs")  # "new session": parquet survives
    second = dedup.near_dup_pairs(spark, SF_ORACLE)
    assert _counts("pairs") == (c0 + 1, d0 + 1)  # NO second LSH run
    assert _rows(second) == _rows(first)  # parity unchanged


def test_fingerprint_invalidates_on_source_change(spark, tmp_path):
    """A regenerated source (new mtime/size) misses the memo, so a stale
    table can never be served; a missing source has no fingerprint."""
    dst = tmp_path / "documents.parquet"
    shutil.copyfile(_DOCS, dst)
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert memo.memo(spark, "fp_probe", [str(dst)], build) == 1
    assert memo.memo(spark, "fp_probe", [str(dst)], build) == 1  # hit
    os.utime(dst, ns=(1, 1))  # simulate regeneration
    assert memo.memo(spark, "fp_probe", [str(dst)], build) == 2
    assert memo.fingerprint(str(tmp_path / "nope")) is None
    # a directory source folds its part files: rewriting one changes it
    part = tmp_path / "dir" / "part-0.parquet"
    part.parent.mkdir()
    shutil.copyfile(_DOCS, part)
    fp1 = memo.fingerprint(str(part.parent))
    os.utime(part, ns=(1, 1))
    assert memo.fingerprint(str(part.parent)) != fp1
    memo.forget(spark, "fp_probe")


def test_cache_write_is_atomic_no_tmp_left(spark, cache_root):
    memo.forget(spark, "atomic_probe")
    out = memo.memo(spark, "atomic_probe", [_DOCS],
                    lambda: (spark.range(5), spark.range(3)), tier="disk")
    assert [f.count() for f in out] == [5, 3]
    assert len(_stored(cache_root, "atomic_probe")) == 1
    assert _no_tmp_left(cache_root)
    memo.forget(spark, "atomic_probe")


def test_disk_root_is_read_on_every_call(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_PAIR_CACHE switched mid-process takes effect on the
    next call: the table is written under the new root."""
    for name in ("a", "b"):
        monkeypatch.setenv(memo.ROOT_ENV, str(tmp_path / name))
        memo.forget(spark, "root_probe")
        memo.memo(spark, "root_probe", [_DOCS], lambda: (spark.range(2),),
                  tier="disk")
        assert len(_stored(str(tmp_path / name), "root_probe")) == 1
    memo.forget(spark, "root_probe")


def test_disk_write_failure_serves_pinned_build(spark, tmp_path,
                                                monkeypatch):
    """An unwritable root degrades to the session-pinned build."""
    blocker = tmp_path / "file"
    blocker.write_text("not a directory")
    monkeypatch.setenv(memo.ROOT_ENV, str(blocker))
    memo.forget(spark, "unwritable_probe")
    (out,) = memo.memo(spark, "unwritable_probe", [_DOCS],
                       lambda: (spark.range(4),), tier="disk")
    assert out.count() == 4
    memo.forget(spark, "unwritable_probe")


def test_legacy_counter_names_sum_to_table(spark, cache_root):
    """The pre-memo operators.dedup counter names read the table: each
    sums the COUNTS of the tags the old counter covered, and the span
    table counts once into the frame-memo total whether built or read
    back, as the old frame memo did."""
    for name, parts in memo.LEGACY_COUNTERS.items():
        assert getattr(dedup, name) == sum(memo.COUNTS[t][k]
                                           for t, k in parts)
    with pytest.raises(AttributeError):
        getattr(dedup, "_NO_SUCH_COUNTER")

    def legacy():
        return {n: getattr(dedup, n) for n in memo.LEGACY_COUNTERS}

    before = legacy()
    probe = dict(tier="disk", params=("legacy-probe",))
    memo.forget(spark, "spans")
    memo.memo(spark, "spans", [_DOCS], lambda: (spark.range(1),), **probe)
    memo.forget(spark, "spans")
    memo.memo(spark, "spans", [_DOCS], lambda: (spark.range(1),), **probe)
    after = legacy()
    assert {n: after[n] - before[n] for n in after if after[n] != before[n]} \
        == {"_SPAN_CACHE_COMPUTES": 1, "_SPAN_CACHE_DISK_HITS": 1,
            "_DOC_FRAME_COMPUTES": 2}
    memo.forget(spark, "spans")
    # the two session caches perfbench sizes are views of one tag each
    attr = {t: a for a, t in memo._LEGACY_ATTRS.items()}["kmeans_fit"]
    n0 = len(getattr(spark, attr))
    memo.memo(spark, "kmeans_fit", [_DOCS], lambda: "fit",
              params=("legacy-probe",))
    assert len(getattr(spark, attr)) == n0 + 1


# --------------------------------------------------------------------------
# Stored base-signature and exact-hash tables: admit_delta's base side.
# --------------------------------------------------------------------------


def test_sig_second_session_reads_parquet_not_rebuild(spark, cache_root):
    """Two sessions: the second persisted_shingle_bands call must be a
    disk read-back (zero signature recompute) with identical bands."""
    memo.forget(spark, "sigs")
    c0, d0 = _counts("sigs")
    sh1, b1 = dedup.persisted_shingle_bands(spark, _DOCS)
    assert _counts("sigs") == (c0 + 1, d0)  # cold: built once
    assert len(_stored(cache_root, "sigs")) == 1, "signatures not persisted"

    bands1 = sorted((r.doc_id, r.band) for r in b1.collect())
    n_sh1 = sh1.count()

    memo.forget(spark, "sigs")  # "new session"
    sh2, b2 = dedup.persisted_shingle_bands(spark, _DOCS)
    assert _counts("sigs") == (c0 + 1, d0 + 1)  # NO rebuild
    assert sorted((r.doc_id, r.band) for r in b2.collect()) == bands1
    assert sh2.count() == n_sh1
    # lineage is truncated at the parquet files: the read-back plan must
    # be a scan, not the shingle->minhash->band DAG
    plan = b2._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan


def test_sig_cache_feeds_admit_delta_identically(spark, cache_root):
    """admit_delta with disk-backed signatures admits exactly the same
    delta docs as with freshly built ones."""
    from spatial_data_engineering_spark.plans.curation import admit_delta

    base = spark.read.parquet(_DOCS).select("doc_id", "text")
    # delta: one exact dup of a base doc (must reject), one fresh doc
    sample = base.orderBy("doc_id").limit(1).collect()[0]
    delta = spark.createDataFrame(
        [(9_000_001, sample.text),
         (9_000_002, "a genuinely fresh delta document " * 6)],
        "doc_id bigint, text string")

    fresh = admit_delta(base, delta,
                        base_signatures=dedup.shingle_bands(base))
    memo.forget(spark, "sigs")
    dedup.persisted_shingle_bands(spark, _DOCS)        # write
    memo.forget(spark, "sigs")
    cached = admit_delta(base, delta,
                         base_signatures=dedup.persisted_shingle_bands(
                             spark, _DOCS))            # read-back
    ids_fresh = sorted(r.doc_id for r in fresh.collect())
    ids_cached = sorted(r.doc_id for r in cached.collect())
    assert ids_cached == ids_fresh
    assert 9_000_001 not in ids_cached  # the exact dup was rejected
    assert 9_000_002 in ids_cached


def test_sig_fingerprint_shared_with_pair_table(spark, tmp_path,
                                                monkeypatch):
    """Pairs, signatures and exact hashes key on the same source
    fingerprint and the same LSH algorithm version, so a source change or
    an LSH-parameter change moves all three together."""
    sf = tmp_path / "sf"
    sf.mkdir()
    dst = str(sf / "documents.parquet")
    shutil.copyfile(_DOCS, dst)

    def keys():
        return _recorded_memo_calls(
            lambda: dedup.near_dup_pairs(spark, str(sf)),
            lambda: dedup.persisted_shingle_bands(spark, dst),
            lambda: dedup.persisted_exact_hashes(spark, dst))

    k1 = keys()
    assert [t for t, _, _ in k1] == ["pairs", "sigs", "ehash"]
    assert len({(repr(f), p) for _, f, p in k1}) == 1  # one shared key
    os.utime(dst, ns=(1, 1))
    k2 = keys()
    assert all(a[1] != b[1] for a, b in zip(k1, k2))
    monkeypatch.setattr(dedup, "_Q47_THETA", 0.123456)
    k3 = keys()
    assert all(a[2] != b[2] for a, b in zip(k2, k3))  # algo change too


def test_sig_cache_write_is_atomic_no_tmp_left(spark, cache_root):
    memo.forget(spark, "sigs")
    dedup.persisted_shingle_bands(spark, _DOCS)
    assert _no_tmp_left(cache_root)


def test_exact_hash_cache_and_probe_equivalence(spark, cache_root):
    """The third stored table (base exact hashes): read-back serves the
    same admissions as computing hashes from the base corpus, and the
    broadcast collision probe is semantically the plain anti-join."""
    from spatial_data_engineering_spark.plans.curation import admit_delta

    base = spark.read.parquet(_DOCS).select("doc_id", "text")
    sample = base.orderBy("doc_id").limit(1).collect()[0]
    delta = spark.createDataFrame(
        [(9_100_001, sample.text),                     # exact dup: reject
         (9_100_002, "another wholly fresh doc " * 7),
         (9_100_003, "another wholly fresh doc " * 7)],  # in-delta dup of 2
        "doc_id bigint, text string")
    sigs = dedup.shingle_bands(base)

    plain = sorted(r.doc_id for r in
                   admit_delta(base, delta, base_signatures=sigs).collect())

    memo.forget(spark, "ehash")
    c0, d0 = _counts("ehash")
    dedup.persisted_exact_hashes(spark, _DOCS)         # build + write
    assert _counts("ehash") == (c0 + 1, d0)
    memo.forget(spark, "ehash")                        # "new session"
    eh = dedup.persisted_exact_hashes(spark, _DOCS)    # read-back
    assert _counts("ehash") == (c0 + 1, d0 + 1)

    stored = sorted(r.doc_id for r in
                    admit_delta(base, delta, base_signatures=sigs,
                                base_exact_hashes=eh).collect())
    assert stored == plain
    assert 9_100_001 not in stored        # exact dup vs base rejected
    assert 9_100_002 in stored            # fresh admitted
    assert 9_100_003 not in stored        # within-delta keep-first


def test_stored_tables_refresh_never_scans_base_corpus(spark, cache_root):
    """The zero-corpus-read property: with all base-side tables stored
    (signatures + exact hashes), admit_delta's physical plan contains
    NO scan of the base documents parquet — the refresh touches only
    the stored hash-sized tables plus the delta."""
    from spatial_data_engineering_spark.plans.curation import admit_delta

    base = spark.read.parquet(_DOCS).select("doc_id", "text")
    delta = spark.createDataFrame(
        [(9_200_001, "completely novel refresh document " * 6)],
        "doc_id bigint, text string")
    memo.forget(spark, "sigs", "ehash")
    dedup.persisted_shingle_bands(spark, _DOCS)
    dedup.persisted_exact_hashes(spark, _DOCS)
    memo.forget(spark, "sigs", "ehash")  # fresh session: read-back
    admitted = admit_delta(
        base, delta,
        base_signatures=dedup.persisted_shingle_bands(spark, _DOCS),
        base_exact_hashes=dedup.persisted_exact_hashes(spark, _DOCS))
    plan = admitted._jdf.queryExecution().executedPlan().toString()
    assert os.path.basename(_DOCS) not in plan, (
        "refresh plan still scans the base corpus parquet")
    assert [r.doc_id for r in admitted.collect()] == [9_200_001]


# --------------------------------------------------------------------------
# Stored span table: q224/q225 never re-run the corpus-chars-sized gram
# relation in a new session.
# --------------------------------------------------------------------------


def _span_rows(df):
    return sorted((r.doc_id, r.n_chars, r.s, r.e) for r in df.collect())


def test_span_table_second_session_reads_parquet(spark, cache_root):
    """Two sessions: the second build is a parquet read-back — zero
    gram-relation recompute, bit-identical spans, lineage truncated at
    the files."""
    memo.forget(spark, "spans")
    c0, d0 = _counts("spans")
    first = dedup.substring_dup_spans_cached(spark, SF_ORACLE)
    rows1 = _span_rows(first)
    assert _counts("spans") == (c0 + 1, d0)  # cold: gram walk ran
    assert len(_stored(cache_root, "spans")) == 1, "spans not persisted"

    memo.forget(spark, "spans")  # "new session"
    second = dedup.substring_dup_spans_cached(spark, SF_ORACLE)
    assert _counts("spans") == (c0 + 1, d0 + 1)  # NO second gram walk
    assert _span_rows(second) == rows1  # values bit-identical
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan  # not the posexplode/md5 gram DAG
    assert _no_tmp_left(cache_root)
    memo.forget(spark, "spans")


def test_span_cache_key_folds_anchor_length(spark, monkeypatch):
    """Changing _SPAN_L changes the span memo's key — a span table
    anchored at one L can never serve another."""
    def call():
        dedup.substring_dup_spans_cached(spark, SF_ORACLE)

    (tag, fp, p50), = _recorded_memo_calls(call)
    monkeypatch.setattr(dedup, "_SPAN_L", dedup._SPAN_L + 14)
    (_, fp2, p64), = _recorded_memo_calls(call)
    assert tag == "spans" and fp == fp2 and p50 != p64


def test_q224_q225_read_the_persisted_spans(spark, cache_root):
    """End-to-end: with the span parquet on disk and the memo cleared,
    both consumers still produce their exact pre-persistence rows."""
    from spatial_data_engineering_spark.operators.dedup import QUERIES

    memo.forget(spark, "spans")
    a1 = sorted(map(tuple, QUERIES["q224_exact_substring_dedup"](
        spark, SF_ORACLE).collect()))
    b1 = sorted(map(tuple, QUERIES["q225_substring_dedup_materialize"](
        spark, SF_ORACLE).collect()))
    memo.forget(spark, "spans")  # "new session": disk tier serves
    d0 = memo.COUNTS["spans"]["disk_hits"]
    a2 = sorted(map(tuple, QUERIES["q224_exact_substring_dedup"](
        spark, SF_ORACLE).collect()))
    b2 = sorted(map(tuple, QUERIES["q225_substring_dedup_materialize"](
        spark, SF_ORACLE).collect()))
    assert memo.COUNTS["spans"]["disk_hits"] == d0 + 1
    assert a1 == a2 and b1 == b2
    memo.forget(spark, "spans")
