"""Deduplication operators for large-scale training-data pipelines.

North-star surface (BASELINE.json): exact dedup, token-fingerprint dedup,
MinHash+LSH near-dup, SimHash bucketing.  All are single-DAG Spark jobs —
hash/groupBy for exact tiers, banded self-joins for the probabilistic ones.

Scale shape (100 TB): every variant reduces to groupBy/join on a *hash*,
so partitioning is uniform by construction (md5 output is uniform — no key
skew), map-side partial aggregation applies, and the LSH band join only
shuffles (doc_id, band) pairs, never document text.  Exact-Jaccard
verification of candidates re-joins the (small) candidate set back to the
token arrays.

Determinism: md5 is the portable hash (identical in Spark and DuckDB), so
every query here is fully oracle-checkable — including MinHash-LSH.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, load_spread, spread
from ..memo import legacy_counter, memo
from ..queries_registry import registrar

QUERIES, ORACLES, query = registrar()


# --------------------------------------------------------------------------
# q45 — exact dedup: content-hash groupBy, keep the lowest doc_id.
# --------------------------------------------------------------------------
@query(
    "q45_dedup_exact",
    """
    SELECT md5(text) AS h, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_doc_id
    FROM documents GROUP BY 1
    """,
)
def q45_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_doc_id")
    )


# --------------------------------------------------------------------------
# q46 — token-sort fingerprint dedup (bag-of-words collision): normalize to
# the sorted distinct token set, hash, group.  Catches reorderings /
# shuffled near-copies that exact hashing misses.
# --------------------------------------------------------------------------
@query(
    "q46_dedup_tokensort",
    """
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS h,
           COUNT(*) AS n_copies, MIN(doc_id) AS keeper_doc_id
    FROM documents GROUP BY 1
    """,
)
def q46_dedup_tokensort(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    h = _fp_spark()
    return d.groupBy(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_doc_id")
    )


# --------------------------------------------------------------------------
# q47 — MinHash + LSH near-dup detection, fully oracle-checkable.
#
# Pipeline: char-8-gram shingle set -> one md5 per shingle, folded to a
# 32-bit integer -> 16 MinHash values via a Carter-Wegman universal hash
# family h_i(x) = (a_i*x + b_i) mod p (p = 2^31 - 1) -> 2 bands of 8 ->
# band-bucket self-join for candidates -> exact shingle-Jaccard verify ->
# pairs with J >= 0.6.
#
# Design notes, learned by measurement at sf0.1 (5,000 docs):
# * Shingles are char-8-grams, NOT word tokens: the corpus draws from a
#   ~31-word vocabulary, so word-token sets collide pathologically (a band
#   of 4 word-minhashes put 2,692 of 5,000 docs in ONE bucket -> 5.2M
#   candidate pairs).  Char shingles cross word boundaries and restore set
#   diversity.  The same trap exists at 100 TB on boilerplate-heavy
#   crawls — shingle choice IS the scale knob.
# * One strong hash + a cheap integer family, not one md5 per (seed,
#   shingle): 16 md5s per shingle cost 24M md5 calls at sf0.1 (~25s);
#   folding one md5 to int and applying 16 linear transforms costs 1.5M
#   (~3s).  Classic MinHash practice, and it keeps the oracle exact —
#   integer arithmetic is identical in both engines.
# * min() is duplicate-insensitive, so the signature path needs no
#   distinct; the verify path reuses the distinct shingle sets.
#
# At scale: the band join is an equi-join on uniform bucket keys, the
# signature aggregation is a codegen'd map-side-partial min, and the exact
# verify only touches candidates.
# --------------------------------------------------------------------------
_N_HASHES = 16
_BAND_SIZE = 8
_Q47_THETA = 0.6  # exact-Jaccard verify threshold (part of the cache key)
_MH_P = 2_147_483_647  # 2^31 - 1; a*h stays < 2^62, no int64 overflow
_MH_A = [2 * i + 1 for i in range(_N_HASHES)]          # odd multipliers
_MH_B = [i * i + 17 for i in range(_N_HASHES)]


# Spark side uses an overlapping-lookahead regex scan, not
# transform(sequence, i -> substring(col, i, n)): UTF8String.substring
# counts chars from the string start, so the transform form is
# O(len^2) per document — harmless on 300-char bench docs, a real CPU
# bug on book-length ones.  The regex walk is linear and produces the
# IDENTICAL list (verified element-wise over the whole corpus): one
# capture at each position 1..len-n+1; sub-n-char docs keep the whole
# text as their single gram, like substring(col, 1, n) did.


def ngram_list_spark(col: str, n: int) -> str:
    """All overlapping char n-grams of ``col`` (with duplicates), as the
    quadratic transform+substring form produced them, in linear time."""
    return (f"(CASE WHEN {col} IS NULL THEN NULL"
            f" WHEN length({col}) >= {n} THEN "
            f"regexp_extract_all({col}, '(?s)(?=(.{{{n}}}))', 1)"
            f" ELSE array({col}) END)")


# .format(col=...) template twin of ngram_list_spark(col, 8) — the
# regex quantifier braces are doubled so str.format leaves them alone
_SHINGLES_SPARK = ("array_distinct((CASE WHEN {col} IS NULL THEN NULL"
                   " WHEN length({col}) >= 8 THEN "
                   "regexp_extract_all({col}, '(?s)(?=(.{{8}}))', 1)"
                   " ELSE array({col}) END))")
_SHINGLES_SQL = ("list_distinct(list_transform(generate_series(1, "
                 "greatest(length({col}) - 7, 1)), "
                 "i -> substr({col}, CAST(i AS INTEGER), 8)))")


def _hex_fold(engine: str, md5col: str) -> str:
    """First 8 hex chars of an md5 -> integer in [0, 2^32), then mod p —
    both engines agree bit-for-bit.

    Spark evaluates one conv() parse of the 8-char prefix (fits unsigned
    in a BIGINT); DuckDB keeps the strpos/arithmetic fold because its
    from_hex returns a blob, not an integer.  Measured on 270k tokens:
    0.58s -> 0.25s for the fold +
    min-agg stage, zero value mismatches — this single expression sits
    under every minhash signature, sketch bucket and md5-percent split
    in the engine, so the ~2.3x applies corpus-wide.
    """
    if engine == "spark":
        return (f"(CAST(conv(substring({md5col}, 1, 8), 16, 10) AS BIGINT)"
                f" % {_MH_P})")
    terms = " + ".join(
        f"CAST((strpos('0123456789abcdef', substr({md5col}, {c}, 1))) - 1"
        f" AS BIGINT) * CAST({16 ** (8 - c)} AS BIGINT)"
        for c in range(1, 9)
    )
    return f"(({terms}) % {_MH_P})"


def _sig_aggs(engine: str) -> list[str]:
    return [
        f"MIN(({_MH_A[i]} * h + {_MH_B[i]}) % {_MH_P}) AS mh{i}"
        for i in range(_N_HASHES)
    ]


def _band_keys(engine: str) -> list[str]:
    cast = "string" if engine == "spark" else "VARCHAR"
    out = []
    for b in range(_N_HASHES // _BAND_SIZE):
        parts = ", ".join(
            f"CAST(mh{i} AS {cast})"
            for i in range(b * _BAND_SIZE, (b + 1) * _BAND_SIZE)
        )
        out.append(f"md5(concat_ws('|', 'b{b}', {parts}))")
    return out


_ORACLE_Q47 = f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL.format(col='text')} AS tl
        FROM documents
    ),
    hx AS (
        SELECT doc_id, {_hex_fold('duckdb', 'md5(t)')} AS h
        FROM (SELECT doc_id, unnest(tl) AS t FROM sh)
    ),
    sig AS (
        SELECT doc_id, {', '.join(_sig_aggs('duckdb'))}
        FROM hx GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, unnest([{', '.join(_band_keys('duckdb'))}]) AS band
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id,
           ROUND(len(list_intersect(ta.tl, tb.tl)) * 1.0
                 / len(list_distinct(list_concat(ta.tl, tb.tl))), 6) AS jaccard
    FROM cand
    JOIN sh ta ON ta.doc_id = a_id
    JOIN sh tb ON tb.doc_id = b_id
    WHERE len(list_intersect(ta.tl, tb.tl)) * 1.0
          / len(list_distinct(list_concat(ta.tl, tb.tl))) >= {_Q47_THETA}
"""


@query("q47_minhash_lsh", _ORACLE_Q47)
def q47_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sh is consumed three times (signature build + ta/tb verify joins):
    # without pinning, each consumer re-runs the shingle transform from
    # the scan (measured warm medians at sf0.1: 6.9 s -> 1.2 s pinned).
    # Doc-count-sized with ~n_chars 8-gram strings per row, so the pin is
    # one corpus-×-k materialization — at 100 TB this is the written
    # shingle/signature table of the near_dup_pairs pattern, paid once
    # instead of three recomputes of the corpus's most expensive
    # transform.  Since round 15 the pinned frames come from the
    # session memo q156's estimator audit shares (shingle_frames_cached),
    # so the signature pipeline runs once per session, not per consumer.
    sh, _sig, bands = shingle_frames_cached(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    # prune=False: the candidate ids here are corpus-bounded — see
    # verified_pairs
    return verified_pairs(cand, sh, sh, prune=False)


def shingle_bands(d: DataFrame,
                  eager: bool = False) -> tuple[DataFrame, DataFrame]:
    """The q47 signature machinery over an ARBITRARY (doc_id, text)
    frame: returns (sh, bands) where sh = (doc_id, tl shingle list) and
    bands = (doc_id, band key), both checkpoint-pinned (sh feeds the
    verify joins; bands the candidate join — the q47 pin rationale).

    This is the frame-parameterized building block shared by q47, the
    pair-table build and incremental admission
    (plans/curation.admit_delta): one definition of the signature
    pipeline, so a shingle/band/hash change cannot silently diverge
    between the pair table and the admission path.  A delta batch's
    bands join a BASE corpus's bands without re-running the base LSH —
    at 100 TB the (sh, bands) pair is the stored signature table,
    written once alongside the pair table and read back per delta.

    ``eager`` pins sh immediately (q47's choice: sh feeds three
    consumers in one action); the lazy default materializes on first
    use — same values, one fewer job when the caller may not run."""
    sh = d.select(
        "doc_id", F.expr(_SHINGLES_SPARK.format(col="text")).alias("tl")
    ).localCheckpoint(eager=eager)
    hx = (
        sh.select("doc_id", F.explode("tl").alias("t"))
        .select("doc_id", F.expr(_hex_fold("spark", "md5(t)")).alias("h"))
    )
    sig = hx.groupBy("doc_id").agg(
        *[F.expr(e) for e in _sig_aggs("spark")])
    bands = sig.select(
        "doc_id",
        F.explode(F.expr(f"array({', '.join(_band_keys('spark'))})"))
        .alias("band"),
    ).localCheckpoint(eager=False)
    return sh, bands


def verified_pairs(cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame,
                   theta: float = _Q47_THETA,
                   prune: bool = True) -> DataFrame:
    """Exact shingle-Jaccard verification of (a_id, b_id) candidates
    against two shingle frames — q47's verify stage, candidates only.

    With ``prune`` (the delta-admission default) the shingle frames are
    pruned to the candidate ID sets with BROADCAST semi-joins before
    the verify joins: the candidate sets are delta-bounded while sh_b
    may be the full base signature table (corpus x shingle-list sized),
    and without the prune the verify join SHUFFLES that whole table to
    match a handful of rows (measured in the admit_delta stress at 400k
    base docs: 104 s -> seconds for a 4k-doc delta).  Corpus-wide
    callers (q47 itself, the pair-table build) pass ``prune=False``:
    their candidate ID set is corpus-bounded, so broadcasting it would
    be the anti-pattern the prune exists to avoid."""
    if prune:
        ids_a = cand.select(F.col("a_id").alias("doc_id")).distinct()
        ids_b = cand.select(F.col("b_id").alias("doc_id")).distinct()
        sh_a = sh_a.join(F.broadcast(ids_a), "doc_id")
        sh_b = sh_b.join(F.broadcast(ids_b), "doc_id")
    ta, tb = sh_a.alias("ta"), sh_b.alias("tb")
    j = (F.size(F.array_intersect(F.col("ta.tl"), F.col("tb.tl"))) * 1.0
         / F.size(F.array_distinct(F.concat(F.col("ta.tl"),
                                            F.col("tb.tl")))))
    return (
        cand.join(ta, F.col("ta.doc_id") == F.col("a_id"))
        .join(tb, F.col("tb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", j.alias("__j"))
        .filter(F.col("__j") >= theta)
        .select("a_id", "b_id", F.round("__j", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Shared intermediate tables, each one memo() entry (..memo): a tag, its
# source tables and a build function.
#
# The disk tier holds the stored LSH tables, so a later session reads
# them back instead of re-running the LSH DAG (q199-cold was >12 s at
# sf0.1): q47's near-dup pair EDGES, which q56 components, q86 PageRank
# and the curation DAG consume, and a base corpus's (sh, bands)
# SIGNATURES and exact hashes, which incremental admission
# (plans/curation.admit_delta) probes instead of rebuilding base
# minhashes on every refresh.  All three fold _lsh_algo_fingerprint()
# into their key, so they invalidate together on any source or
# algorithm change.
# --------------------------------------------------------------------------
def _lsh_algo_fingerprint() -> str:
    """Hash of every parameter that defines q47's pair semantics.

    Folded into the disk-cache key so ANY change to the LSH definition —
    shingle shape, hash family, banding, verify threshold — invalidates
    cached pair tables automatically instead of relying on a manual
    version-literal bump (round-6 advice: a forgotten bump would
    silently serve stale near-dup pairs to q56/q86/q199 forever).
    """
    return hashlib.md5("|".join([
        _SHINGLES_SPARK, str(_N_HASHES), str(_BAND_SIZE), str(_MH_P),
        str(_MH_A), str(_MH_B), str(_Q47_THETA),
    ]).encode()).hexdigest()[:12]


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a_id, b_id) confirmed near-dup pairs, built once per source corpus
    and read back from the disk tier after that.  The pair list is
    edge-sized, so it is stored as one file."""
    return memo(spark, "pairs", (os.path.join(sf_dir, "documents.parquet"),),
                lambda: (q47_minhash_lsh(spark, sf_dir)
                         .select("a_id", "b_id").repartition(1),),
                tier="disk", params=(_lsh_algo_fingerprint(),))[0]


def persisted_shingle_bands(spark: SparkSession,
                            src: str) -> tuple[DataFrame, DataFrame]:
    """(sh, bands) signature frames of the (doc_id, text) corpus parquet
    at ``src``, stored on the disk tier.  The read-back frames are parquet
    scans, so a delta admission's plan never contains the base signature
    DAG."""
    return memo(spark, "sigs", (src,),
                lambda: shingle_bands(
                    spark.read.parquet(src).select("doc_id", "text")),
                tier="disk", params=(_lsh_algo_fingerprint(),))


def persisted_exact_hashes(spark: SparkSession, src: str) -> DataFrame:
    """Distinct md5(text) hashes (column ``eh``) of the corpus parquet at
    ``src``, stored like the signatures: with both stored, ``admit_delta``
    never reads the base corpus."""
    return memo(spark, "ehash", (src,),
                lambda: (spark.read.parquet(src)
                         .select(F.md5("text").alias("eh")).distinct(),),
                tier="disk", params=(_lsh_algo_fingerprint(),))[0]


def _doc_frame_memo(spark: SparkSession, sf_dir: str, tag: str, build,
                    table: str | tuple[str, ...] = "documents"):
    """Session-tier memo of ``build()`` over sf_dir's ``table`` (a name or
    a tuple).  Name every table the build reads, or a change to an
    unnamed one would serve stale frames."""
    tables = (table,) if isinstance(table, str) else table
    return memo(spark, tag,
                [os.path.join(sf_dir, f"{t}.parquet") for t in tables], build)


def __getattr__(name: str):
    return legacy_counter(name)  # perfbench reads pre-memo counter names


def shingle_frames_cached(spark: SparkSession, sf_dir: str
                          ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Session-memoized (sh, sig, bands) for sf_dir's documents — the
    q47 signature machinery plus the 16-column minhash signature frame
    q156's estimator audit reads.  Definitions are byte-for-byte the
    shingle_bands pipeline (one extra handle on its internal sig), so
    q47 and q156 consume the same values they built standalone."""
    def build():
        d = load_spread(spark, sf_dir, "documents")
        # sh eager: it feeds three consumers in the FIRST caller's one
        # action (q47's measured pin rationale); sig/bands lazy — they
        # materialize inside whichever consumer runs first
        sh = d.select(
            "doc_id",
            F.expr(_SHINGLES_SPARK.format(col="text")).alias("tl")
        ).localCheckpoint(eager=True)
        hx = (sh.select("doc_id", F.explode("tl").alias("t"))
              .select("doc_id",
                      F.expr(_hex_fold("spark", "md5(t)")).alias("h")))
        sig = hx.groupBy("doc_id").agg(
            *[F.expr(e) for e in _sig_aggs("spark")]
        ).localCheckpoint(eager=False)
        bands = sig.select(
            "doc_id",
            F.explode(F.expr(f"array({', '.join(_band_keys('spark'))})"))
            .alias("band")).localCheckpoint(eager=False)
        return sh, sig, bands

    return _doc_frame_memo(spark, sf_dir, "minhash_frames", build)


def simhash_sig_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized 16-bit SimHash signature of sf_dir's documents
    (the _simhash_sig frame q48 and q167 both consume)."""
    return _doc_frame_memo(
        spark, sf_dir, "simhash16",
        lambda: _simhash_sig(load(spark, sf_dir, "documents"))
        .localCheckpoint(eager=False))


# --------------------------------------------------------------------------
# q54 — materialized dedup: the actual "keep" output a pipeline consumes.
# Each doc joins its token-sort fingerprint cluster (q46); only the
# cluster's min doc_id survives.  Output is the kept corpus metadata —
# at 100 TB this is one hash groupBy + one semi join, no text shuffle
# beyond the fingerprint.
# --------------------------------------------------------------------------
_FP_SQL = ("md5(array_to_string(list_sort(list_distinct("
           "string_split(text, ' '))), ' '))")


def _fp_spark():
    """Spark twin of _FP_SQL — the token-sort fingerprint used by
    q46/q54/q82; one definition so the dedup family's keys cannot
    silently desynchronize (incremental admission must match
    full-corpus dedup bit-for-bit)."""
    return F.md5(F.array_join(
        F.array_sort(F.array_distinct(F.split("text", " "))), " "))


@query(
    "q54_dedup_materialize",
    f"""
    WITH fp AS (
        SELECT doc_id, lang, source, n_chars, {_FP_SQL} AS h
        FROM documents
    ),
    keepers AS (
        SELECT h, MIN(doc_id) AS keeper FROM fp GROUP BY h
    )
    SELECT f.doc_id AS doc_id, f.lang AS lang, f.source AS source,
           f.n_chars AS n_chars
    FROM fp f JOIN keepers k ON f.h = k.h AND f.doc_id = k.keeper
    """,
)
def q54_dedup_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    h = _fp_spark()
    fp = d.select("doc_id", "lang", "source", "n_chars", h.alias("h"))
    # a doc survives iff it is its fingerprint group's keeper (min
    # doc_id); keeper ids are unique, so a LEFT SEMI on doc_id alone is
    # the whole predicate.  (The previous `fp.h == keepers.h` conjunct
    # self-resolved to a trivially-true h == h — Spark dedups the
    # attribute through the groupBy lineage — and only the doc_id
    # equality ever constrained the join.)
    keepers = fp.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    return (
        fp.join(keepers.select("doc_id"), "doc_id", "semi")
        .select("doc_id", "lang", "source", "n_chars")
    )


# --------------------------------------------------------------------------
# q48 — SimHash bucketing: 16-bit signature from per-token md5 bit votes.
# Tokens explode to (doc_id, token); 16 bit-sums aggregate per doc; docs
# sharing a signature are duplicate candidates (hamming-0 buckets).
# Bit arithmetic is div/mod on hex-digit values — portable to the oracle.
# --------------------------------------------------------------------------
def _digit(engine: str, c: int) -> str:
    # value 0..15 of hex char c (1-based) of md5(t)
    if engine == "spark":
        return f"(locate(substring(md5(t), {c}, 1), '0123456789abcdef') - 1)"
    return f"(strpos('0123456789abcdef', substr(md5(t), {c}, 1)) - 1)"


def _bit_sum_exprs(engine: str) -> list[str]:
    div = "div" if engine == "spark" else "//"
    out = []
    for b in range(16):
        c, k = b // 4 + 1, b % 4
        d = _digit(engine, c)
        if engine == "spark":
            out.append(f"SUM(2 * (({d} div {2 ** k}) % 2) - 1) AS s{b}")
        else:
            out.append(f"SUM(2 * (({d} {div} {2 ** k}) % 2) - 1) AS s{b}")
    return out


_SIMHASH_RECOMBINE = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(16)
)


def _bit_sum_exprs_from_word() -> list[str]:
    """Spark-side twin of _bit_sum_exprs over one conv()-parsed 16-bit
    value h0 (hex chars 1-4 of the token md5, one parse per token):
    hex char c sits at bit offset 4*(4-c), so bit k of digit c is
    (h0 >> (4*(4-c)+k)) & 1 == (d div 2^k) % 2 — identical values (the
    q153 microbench proves the shift/mask == div/mod identity on the
    wider 64-bit variant)."""
    out = []
    for b in range(16):
        c, k = b // 4 + 1, b % 4
        bit = f"(shiftright(h0, {4 * (4 - c) + k}) & 1)"
        out.append(f"SUM(2 * CAST({bit} AS BIGINT) - 1) AS s{b}")
    return out


def _simhash_sig(d: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT) — the 16-bit majority-vote SimHash
    signature shared by q48/q128/q167.

    Per-doc DISTINCT tokens are computed row-locally (array_distinct),
    which gives the same token set as a corpus-wide (doc_id, t)
    DISTINCT with zero shuffle; md5 is conv()-parsed once per token into
    one 16-bit integer so the 16 vote sums are pure shift/mask
    reductions.
    With the doc_id spread upstream the vote groupBy reuses that
    exchange — the whole signature phase runs shuffle-free.
    """
    tok = spread(d, "doc_id").select("doc_id", F.explode(
        F.array_distinct(F.split("text", " "))).alias("t"))
    dig = tok.select("doc_id", F.md5("t").alias("hh")).select(
        "doc_id",
        F.expr("CAST(conv(substring(hh, 1, 4), 16, 10) AS BIGINT)")
        .alias("h0"))
    sums = dig.groupBy("doc_id").agg(
        *[F.expr(e) for e in _bit_sum_exprs_from_word()])
    return sums.select(
        "doc_id",
        F.expr(f"CAST({_SIMHASH_RECOMBINE} AS BIGINT)").alias("simhash"))

_ORACLE_Q48 = f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    sums AS (
        SELECT doc_id, {', '.join(_bit_sum_exprs('duckdb'))}
        FROM tok GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id, CAST({_SIMHASH_RECOMBINE} AS BIGINT) AS simhash
        FROM sums
    )
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
    FROM sig GROUP BY simhash
"""


@query("q48_simhash", _ORACLE_Q48)
def q48_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = simhash_sig_cached(spark, sf_dir)  # shared with q167 (r15 memo)
    return sig.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id")
    )


# --------------------------------------------------------------------------
# q76 — exact set-similarity self-join (n-gram Jaccard) via an inverted
# index with a document-frequency cap — the EXACT counterpart to q47's
# probabilistic MinHash-LSH, sharing its char-8-gram shingle space.
#
# Pipeline: shingle sets -> explode to an inverted index (shingle,
# doc_id) -> global df per shingle -> candidate pairs = docs sharing at
# least one shingle with df <= cap -> exact full-set Jaccard >= 0.5.
#
# Contract (the scale story): the df cap bounds every index block to at
# most cap docs, so candidate generation is a self-equi-join producing
# <= df²/2 pairs per shingle — no quadratic stop-shingle blocks, uniform
# md5-like keys, and the expensive array intersect/union only touches
# candidates.  The trade is recall-by-contract: a pair is found iff it
# shares >= 1 rare shingle (measured at sf0.01: cap=10 finds every
# Jaccard>=0.5 pair that cap=50 finds, with 3x fewer candidates; at
# sf0.1 raising the cap still adds pairs — the cap is the recall/cost
# knob exactly as LSH band count is for q47).  The oracle applies the
# identical cap, so driver parity is exact at every sf.
#
# The shingle expression appears in several plan branches; measured at
# sf0.1, letting Spark's ReuseExchange carry the duplication beats a
# localCheckpoint of the token stream (13.5s vs 15-23s under identical
# load) — the checkpoint serializes 1.35M rows and severs the reused
# shuffle, so don't "fix" the recompute.
# --------------------------------------------------------------------------
_SSJ_DF_CAP = 10
_SSJ_THETA = 0.5

_ORACLE_Q76 = f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL.format(col='text')} AS tl
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(tl) AS t FROM sh),
    rare AS (
        SELECT t FROM tok GROUP BY t HAVING COUNT(*) <= {_SSJ_DF_CAP}
    ),
    rt AS (SELECT tok.t, tok.doc_id FROM tok JOIN rare ON tok.t = rare.t),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM rt a JOIN rt b ON a.t = b.t AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id,
           ROUND(len(list_intersect(ta.tl, tb.tl)) * 1.0
                 / len(list_distinct(list_concat(ta.tl, tb.tl))), 6) AS jaccard
    FROM cand
    JOIN sh ta ON ta.doc_id = a_id
    JOIN sh tb ON tb.doc_id = b_id
    WHERE len(list_intersect(ta.tl, tb.tl)) * 1.0
          / len(list_distinct(list_concat(ta.tl, tb.tl))) >= {_SSJ_THETA}
"""


def _ssj_candidates(d: DataFrame):
    """Shared df-capped inverted-index candidate generator for the exact
    set-similarity family (q76 Jaccard, q88 containment): returns the
    (shingle-set frame, candidate-pair frame) pair.  The cap bounds
    every index block to <= cap docs so candidates stay sub-quadratic;
    the recall-by-contract trade is documented at q76."""
    sh = d.select(
        "doc_id", F.expr(_SHINGLES_SPARK.format(col="text")).alias("tl")
    )
    return sh, _ssj_candidates_from_sh(sh)


def _ssj_candidates_from_sh(sh: DataFrame) -> DataFrame:
    """Candidate pairs from an existing (doc_id, tl) shingle frame —
    split out (r17 opt) so the registry path can feed the session-
    memoized checkpointed shingle table instead of re-running the gram
    walk; the frame-parameterized ``_ssj_candidates`` stays for the
    planted-corpus property tests."""
    tok = sh.select("doc_id", F.explode("tl").alias("t"))
    # df filter as a window-free agg + join: HAVING over the index keeps
    # the partial-aggregated path (no per-row window over the token list)
    rare = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df")) \
        .filter(F.col("df") <= _SSJ_DF_CAP).select("t")
    rt = tok.join(rare, "t")
    a, b = rt.alias("a"), rt.alias("b")
    cand = (
        a.join(b, (F.col("a.t") == F.col("b.t"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    return cand


def ssj_candidate_pairs(spark: SparkSession, sf_dir: str):
    """(shingle frame, candidate pairs) for the exact set-similarity
    family.  q76 and q88 share the same df-capped inverted-index
    candidates; the list is df-cap-bounded (~edge-sized), so it is a
    session-tier memo pinned by one localCheckpoint."""
    # The shingle frame is deliberately NOT memoized: rebuilding it is one
    # shuffle-free scan, and the verify-join sides need the scan-derived
    # frame.  A localCheckpoint-backed LogicalRDD has no statistics (it
    # estimates at spark.sql.defaultSizeInBytes), so feeding it to the
    # verify joins flipped the planner to shuffling the array payloads —
    # measured in-suite r17: q76 0.76 -> 9.98 s, q88 0.95 -> 4.90 s,
    # REVERTED same round.  The scan-derived frame keeps honest size
    # estimates and its duplication rides ReuseExchange (the standing
    # q76 note above).
    sh, _ = _ssj_candidates(load_spread(spark, sf_dir, "documents"))
    cand = memo(spark, "ssj_candidates",
                (os.path.join(sf_dir, "documents.parquet"),),
                lambda: _ssj_candidates(
                    load_spread(spark, sf_dir, "documents"))[1]
                .localCheckpoint(eager=True))
    return sh, cand


@query("q76_ngram_jaccard_join", _ORACLE_Q76)
def q76_ngram_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh, cand = ssj_candidate_pairs(spark, sf_dir)
    ta, tb = sh.alias("ta"), sh.alias("tb")
    j = (F.size(F.array_intersect(F.col("ta.tl"), F.col("tb.tl"))) * 1.0
         / F.size(F.array_distinct(F.concat(F.col("ta.tl"), F.col("tb.tl")))))
    # materialize Jaccard once pre-filter (HOF exprs are not CSE'd)
    return (
        cand.join(ta, F.col("ta.doc_id") == F.col("a_id"))
        .join(tb, F.col("tb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", j.alias("__j"))
        .filter(F.col("__j") >= _SSJ_THETA)
        .select("a_id", "b_id", F.round("__j", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# q81 — exact common-substring detection (containment/partial-copy dedup,
# the suffix-array-lite seed scheme): find document pairs sharing a long
# verbatim substring — the case shingle-set Jaccard under-weighs (one
# copied paragraph inside two otherwise-different docs).
#
# Scheme: side A enumerates EVERY char-64-gram; side B samples grams at
# stride 16 (seed-aligned).  Any common substring of length >=
# 64 + 16 - 1 = 79 chars must contain a stride-aligned 64-gram of the
# higher-id doc, which side A's full enumeration also holds — so the
# equi-join provably detects every >= 79-char shared substring, with B's
# enumeration cost cut 16x.  Grams join on md5(g): 16-byte keys instead
# of 64-char strings (shuffle width /4) while staying engine-portable and
# collision-free in practice; the seed count per pair rides along as
# verification surface.  At 100 TB this is the same uniform-key equi-join
# shape as q47/q76 — no quadratic blocks (a gram repeated across k docs
# yields k partners per seed, bounded by the corpus's true duplication).
# --------------------------------------------------------------------------
_SUB_L = 64     # gram length
_SUB_STRIDE = 16  # seed stride on the sampled side

_ORACLE_Q81 = f"""
    WITH grams AS (
        SELECT doc_id, md5(substr(text, CAST(i AS INTEGER), {_SUB_L})) AS h
        FROM documents,
             unnest(generate_series(1, greatest(length(text) - {_SUB_L - 1}, 1)))
                 AS t(i)
    ),
    seeds AS (
        SELECT doc_id, md5(substr(text, CAST(i AS INTEGER), {_SUB_L})) AS h
        FROM documents,
             unnest(generate_series(1, greatest(length(text) - {_SUB_L - 1}, 1),
                                    {_SUB_STRIDE})) AS t(i)
        WHERE length(substr(text, CAST(i AS INTEGER), {_SUB_L})) = {_SUB_L}
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           COUNT(DISTINCT a.h) AS n_shared_seeds
    FROM grams a JOIN seeds b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
"""


def substring_dup_pairs(d: DataFrame) -> DataFrame:
    """Core of q81 over any (doc_id, text) frame — kept callable so the
    >=79-char detection guarantee is property-testable on planted
    corpora (tests/test_plans.py)."""
    # dense side: linear regex gram walk (the explode(sequence) +
    # substring(text, i, L) form re-scans from the string head per
    # position — O(len^2); see _SHINGLES_SPARK)
    grams = (
        d.select("doc_id",
                 F.explode(F.expr(ngram_list_spark("text", _SUB_L)))
                 .alias("g"))
        .select("doc_id", F.md5("g").alias("h"))
    )
    seeds = (
        d.select("doc_id", "text",
                 F.explode(F.expr(
                     f"sequence(1, greatest(length(text) - {_SUB_L - 1}, 1),"
                     f" {_SUB_STRIDE})")).alias("i"))
        .select("doc_id", F.expr(f"substring(text, i, {_SUB_L})").alias("g"))
        .filter(F.length("g") == _SUB_L)
        .select("doc_id", F.md5("g").alias("h"))
    )
    a, b = grams.alias("a"), seeds.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"),
                 F.col("b.doc_id").alias("b_id"))
        .agg(F.countDistinct(F.col("a.h")).alias("n_shared_seeds"))
    )


@query("q81_substring_dup", _ORACLE_Q81)
def q81_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dup_pairs(
        load_spread(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# q88 — asymmetric containment join: C(A,B) = |A∩B| / min(|A|, |B|) over
# the q76 candidate scheme.  Jaccard (q76/q47) misses the quote/subset
# case — a short document wholly contained in a much longer one scores
# |A|/|B| ≈ 0 Jaccard but containment 1.0.  This is the near-SUBSET
# detector a curation pipeline runs alongside symmetric near-dup.
#
# Same df-capped inverted-index candidates as q76 (shared rare-shingle
# contract, same recall/cost knob), different verify score; the exact
# set arithmetic only touches candidates.  Threshold 0.8.
# --------------------------------------------------------------------------
_CONT_THETA = 0.8

_ORACLE_Q88 = f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL.format(col='text')} AS tl
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(tl) AS t FROM sh),
    rare AS (
        SELECT t FROM tok GROUP BY t HAVING COUNT(*) <= {_SSJ_DF_CAP}
    ),
    rt AS (SELECT tok.t, tok.doc_id FROM tok JOIN rare ON tok.t = rare.t),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM rt a JOIN rt b ON a.t = b.t AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id,
           ROUND(len(list_intersect(ta.tl, tb.tl)) * 1.0
                 / least(len(ta.tl), len(tb.tl)), 6) AS containment
    FROM cand
    JOIN sh ta ON ta.doc_id = a_id
    JOIN sh tb ON tb.doc_id = b_id
    WHERE len(list_intersect(ta.tl, tb.tl)) * 1.0
          / least(len(ta.tl), len(tb.tl)) >= {_CONT_THETA}
"""


@query("q88_containment_join", _ORACLE_Q88)
def q88_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh, cand = ssj_candidate_pairs(spark, sf_dir)
    ta, tb = sh.alias("ta"), sh.alias("tb")
    c = (F.size(F.array_intersect(F.col("ta.tl"), F.col("tb.tl"))) * 1.0
         / F.least(F.size(F.col("ta.tl")), F.size(F.col("tb.tl"))))
    return (
        cand.join(ta, F.col("ta.doc_id") == F.col("a_id"))
        .join(tb, F.col("tb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", c.alias("__c"))
        .filter(F.col("__c") >= _CONT_THETA)
        .select("a_id", "b_id", F.round("__c", 6).alias("containment"))
    )


# --------------------------------------------------------------------------
# q82 — incremental-batch dedup: the daily-ingest shape.  A new snapshot
# (docs with doc_id % 10 = 9 here; in production, today's crawl) is
# admitted only if neither its exact content hash NOR its token-sort
# fingerprint already exists in the standing corpus — two LEFT ANTI joins
# on md5 keys.
#
# This is deliberately a different plan shape from q45/q46's full-corpus
# groupBy: the increment is small relative to the corpus, so the corpus
# side reduces to its distinct key set (partial-agg'd) and the anti join
# shuffles only (key) pairs — never corpus text, never a full re-dedup of
# 100 TB to admit a 100 GB day.  With the corpus keys maintained as a
# bucketed table, the join is co-located and shuffle-free.
# --------------------------------------------------------------------------
_INC_MOD = 10
_INC_REM = 9


@query(
    "q82_incremental_dedup",
    f"""
    WITH corpus AS (
        SELECT md5(text) AS eh, {_FP_SQL} AS fh
        FROM documents WHERE doc_id % {_INC_MOD} <> {_INC_REM}
    ),
    batch AS (
        SELECT doc_id, lang, source, md5(text) AS eh, {_FP_SQL} AS fh
        FROM documents WHERE doc_id % {_INC_MOD} = {_INC_REM}
    )
    SELECT b.doc_id, b.lang, b.source
    FROM batch b
    -- NOT EXISTS, not NOT IN: NOT IN over a set containing NULL drops
    -- every row (three-valued logic), while Spark's left_anti keeps
    -- null-key rows — NOT EXISTS matches left_anti's null semantics
    -- exactly, so a NULL text row cannot make the engines diverge.
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.eh = b.eh)
      AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fh = b.fh)
    """,
)
def q82_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    eh = F.md5("text")
    fh = _fp_spark()
    is_batch = F.col("doc_id") % _INC_MOD == _INC_REM
    corpus = d.filter(~is_batch).select(eh.alias("eh"), fh.alias("fh"))
    batch = d.filter(is_batch).select(
        "doc_id", "lang", "source", eh.alias("eh"), fh.alias("fh"))
    return (
        batch.join(corpus.select("eh").distinct(), "eh", "left_anti")
        .join(corpus.select("fh").distinct(), "fh", "left_anti")
        .select("doc_id", "lang", "source")
    )


# --------------------------------------------------------------------------
# q226 — MinHash-tier incremental admission (round 16; VERDICT r15 task
# 5): the curation tier q82 was missing.  q82 admits the daily batch by
# exact hash + token-sort fingerprint only; a real ingest pipeline ALSO
# LSH-bands the batch against the standing signature/band tables so
# near-duplicates of the corpus (and within the batch) are rejected
# before they enter.  Three tiers, arrival keep-first:
#
#   1. exact/fingerprint vs corpus — q82_incremental_dedup itself;
#   2. near-dup vs corpus — tier-1 survivors' band keys (filtered out
#      of the STANDING full-table band relation, shingle_frames_cached
#      — the batch's signatures are already rows of the maintained
#      signature table, never recomputed) equi-join the corpus band
#      keys; candidates verify by exact shingle Jaccard >= theta
#      (q47's verified_pairs, candidate-pruned); verified batch docs
#      are rejected;
#   3. within-batch keep-first — tier-1 survivors' bands self-join
#      (a.doc_id < b.doc_id), verified pairs drop the HIGHER id
#      (admit_delta's drop-the-higher-id rule, regardless of a's own
#      tier-2 fate — the rule the streaming twin reproduces when docs
#      arrive in id order).
#
# Scale shape: the batch side is delta-bounded and BROADCAST into one
# scan of the corpus-sized band table (which never shuffles); the
# corpus side of the band relation is a map-side modulo filter on the
# standing table; verify joins are candidate-pruned (broadcast semi
# joins); the final drops broadcast delta-bounded id sets.  No stage
# touches corpus text except the shingle table that already exists.
# The streaming twin is streaming.windows.stream_admit_near_dedup,
# parity-tested against this batch form.
# --------------------------------------------------------------------------
_Q226_JACCARD_SQL = ("len(list_intersect(ta.tl, tb.tl)) * 1.0"
                     " / len(list_distinct(list_concat(ta.tl, tb.tl)))")


def _q226_oracle() -> str:
    return f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL.format(col='text')} AS tl
        FROM documents
    ),
    hx AS (
        SELECT doc_id, {_hex_fold('duckdb', 'md5(t)')} AS h
        FROM (SELECT doc_id, unnest(tl) AS t FROM sh)
    ),
    sig AS (
        SELECT doc_id, {', '.join(_sig_aggs('duckdb'))}
        FROM hx GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, unnest([{', '.join(_band_keys('duckdb'))}]) AS band
        FROM sig
    ),
    corpus AS (
        SELECT md5(text) AS eh, {_FP_SQL} AS fh
        FROM documents WHERE doc_id % {_INC_MOD} <> {_INC_REM}
    ),
    batch AS (
        SELECT doc_id, lang, source, md5(text) AS eh, {_FP_SQL} AS fh
        FROM documents WHERE doc_id % {_INC_MOD} = {_INC_REM}
    ),
    t1 AS (
        SELECT b.doc_id, b.lang, b.source
        FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.eh = b.eh)
          AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fh = b.fh)
    ),
    cand_base AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band
        WHERE a.doc_id IN (SELECT doc_id FROM t1)
          AND b.doc_id % {_INC_MOD} <> {_INC_REM}
    ),
    drop_base AS (
        SELECT DISTINCT a_id AS doc_id
        FROM cand_base
        JOIN sh ta ON ta.doc_id = a_id
        JOIN sh tb ON tb.doc_id = b_id
        WHERE {_Q226_JACCARD_SQL} >= {_Q47_THETA}
    ),
    cand_within AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.doc_id < b.doc_id
        WHERE a.doc_id IN (SELECT doc_id FROM t1)
          AND b.doc_id IN (SELECT doc_id FROM t1)
    ),
    drop_within AS (
        SELECT DISTINCT b_id AS doc_id
        FROM cand_within
        JOIN sh ta ON ta.doc_id = a_id
        JOIN sh tb ON tb.doc_id = b_id
        WHERE {_Q226_JACCARD_SQL} >= {_Q47_THETA}
    )
    SELECT t.doc_id, t.lang, t.source
    FROM t1 t
    WHERE NOT EXISTS (SELECT 1 FROM drop_base d WHERE d.doc_id = t.doc_id)
      AND NOT EXISTS (SELECT 1 FROM drop_within d
                      WHERE d.doc_id = t.doc_id)
"""


def _near_dup_admission(t1: DataFrame, b_bands: DataFrame,
                        c_bands: DataFrame, sh_a: DataFrame,
                        sh_b: DataFrame) -> DataFrame:
    """The LSH tiers (2+3) shared by q226, its streaming twin and
    ``curation.admit_delta``: reject ``t1`` rows that verify as
    near-dups of the corpus side, and the higher id of every verified
    within-batch pair.

    ``b_bands``/``sh_a`` cover the (delta-bounded) tier-1 survivors;
    ``c_bands``/``sh_b`` the corpus side.  The batch bands BROADCAST
    into the corpus band table (which therefore never shuffles), and
    verified_pairs' candidate prune keeps the verify joins
    delta-bounded on both sides."""
    cand_base = (F.broadcast(b_bands.alias("a"))
                 .join(c_bands.alias("b"), "band")
                 .select(F.col("a.doc_id").alias("a_id"),
                         F.col("b.doc_id").alias("b_id"))
                 .distinct())
    drop_base = (verified_pairs(cand_base, sh_a, sh_b)
                 .select(F.col("a_id").alias("doc_id")).distinct())
    within = (b_bands.alias("a")
              .join(F.broadcast(b_bands.alias("b")),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
              .select(F.col("a.doc_id").alias("a_id"),
                      F.col("b.doc_id").alias("b_id"))
              .distinct())
    drop_within = (verified_pairs(within, sh_a, sh_a)
                   .select(F.col("b_id").alias("doc_id")).distinct())
    return (t1.join(F.broadcast(drop_base), "doc_id", "left_anti")
            .join(F.broadcast(drop_within), "doc_id", "left_anti"))


@query("q226_incremental_near_dedup", _q226_oracle())
def q226_incremental_near_dedup(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    t1 = q82_incremental_dedup(spark, sf_dir)
    # the STANDING signature/band tables — the batch's rows are already
    # in them (a real pipeline maintains this table; a daily batch
    # appends its signatures), so neither side recomputes shingles
    sh, _sig, bands = shingle_frames_cached(spark, sf_dir)
    b_bands = bands.join(F.broadcast(t1.select("doc_id")), "doc_id")
    c_bands = bands.filter(F.col("doc_id") % _INC_MOD != _INC_REM)
    return (_near_dup_admission(t1, b_bands, c_bands, sh, sh)
            .select("doc_id", "lang", "source"))


# --------------------------------------------------------------------------
# q153 — SimHash Hamming-distance join (Manku et al., WWW'07): find all
# doc pairs whose 64-bit SimHash signatures differ in <= 3 bits.  q48
# only buckets EXACT signature matches (Hamming 0); real near-dups
# perturb a few bits, and the production trick is the pigeonhole band
# join — split the signature into 4 x 16-bit words; any pair within
# Hamming 3 must agree exactly on >= 1 word, so candidates come from an
# equi-join on (word_idx, word_value) and only candidates pay the
# bit_count(xor) verification.
#
# Band-width is the scale knob, and it is NOT free: the first cut used
# q48's 16-bit signature with 4-bit bands, and at a 300k-doc stress the
# 16-value band space collapsed into ~19k-doc buckets -> billions of
# candidate pairs (measured 328 s).  16-bit words give 65,536 values per
# band, so bucket size tracks true near-dup density instead of the
# corpus (same stress: seconds).  The signature lives as four 16-bit
# WORDS rather than one packed int64 — bands need no bit-slicing, and
# the 2^63 sign bit of a packed representation never becomes a problem.
#
# Scale shape: candidate blocks are bounded by word-value frequency (the
# same df-cap argument as q76); no all-pairs stage anywhere.  Output is
# the Hamming histogram over verified pairs — bounded (4 rows)
# regardless of corpus size.
# --------------------------------------------------------------------------
_HAM_WORDS = 4   # 4 words x 16 bits = 64-bit signature
_HAM_MAX = 3     # pigeonhole: ham <= 3 pairs share >= 1 of 4 words


def _q153_word_sums(engine: str) -> list[str]:
    """64 per-bit vote sums: word w bit k <- md5 hex char 4w + k//4 + 1,
    bit k%4 — the q48 _digit arithmetic extended to 16 hex chars."""
    div = "div" if engine == "spark" else "//"
    out = []
    for w in range(_HAM_WORDS):
        for k in range(16):
            c = 4 * w + k // 4 + 1
            j = k % 4
            d = _digit(engine, c)
            out.append(f"SUM(2 * (({d} {div} {2 ** j}) % 2) - 1) AS s{w}_{k}")
    return out


def _q153_word_sums_from_words() -> list[str]:
    """Spark-side twin of _q153_word_sums over two conv()-parsed 32-bit
    halves h1/h2 of the token md5 (hex chars 1-8 and 9-16): each of the
    64 vote sums reads one bit by shift+mask instead of re-deriving
    md5 -> substring -> locate per row inside the aggregate.  Hex char c
    sits at bit offset 4*(8-c) of h1 (or 4*(16-c) of h2), and bit j of
    digit d is (h >> (4*(8-c)+j)) & 1 == (d div 2^j) % 2 — identical
    values, measured at 1.30s -> 0.70s for the signature stage on 270k
    tokens with zero mismatches."""
    out = []
    for w in range(_HAM_WORDS):
        for k in range(16):
            c = 4 * w + k // 4 + 1
            j = k % 4
            if c <= 8:
                bit = f"(shiftright(h1, {4 * (8 - c) + j}) & 1)"
            else:
                bit = f"(shiftright(h2, {4 * (16 - c) + j}) & 1)"
            out.append(f"SUM(2 * CAST({bit} AS BIGINT) - 1) AS s{w}_{k}")
    return out


def _q153_words() -> list[str]:
    return [
        " + ".join(f"(CASE WHEN s{w}_{k} > 0 THEN {2 ** k} ELSE 0 END)"
                   for k in range(16))
        for w in range(_HAM_WORDS)
    ]


_Q153_HAM_SQL = " + ".join(
    f"bit_count(xor(a.w{w}, c.w{w}))" for w in range(_HAM_WORDS))
_Q153_HAM_SPARK = " + ".join(
    f"bit_count(aw{w} ^ bw{w})" for w in range(_HAM_WORDS))

_ORACLE_Q153 = f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    sums AS (
        SELECT doc_id, {', '.join(_q153_word_sums('duckdb'))}
        FROM tok GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id,
               {', '.join(f'CAST({e} AS BIGINT) AS w{w}'
                          for w, e in enumerate(_q153_words()))}
        FROM sums
    ),
    bands AS (
        SELECT doc_id, w0, w1, w2, w3, b.band,
               CASE b.band WHEN 0 THEN w0 WHEN 1 THEN w1
                           WHEN 2 THEN w2 ELSE w3 END AS bv
        FROM sig CROSS JOIN
             (SELECT UNNEST(range(0, {_HAM_WORDS})) AS band) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, c.doc_id AS b_id,
               {_Q153_HAM_SQL} AS hamming
        FROM bands a JOIN bands c
          ON a.band = c.band AND a.bv = c.bv AND a.doc_id < c.doc_id
        WHERE {_Q153_HAM_SQL} <= {_HAM_MAX}
    )
    SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM cand GROUP BY hamming
"""


@query("q153_simhash_hamming_join", _ORACLE_Q153)
def q153_simhash_hamming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _build_sig() -> DataFrame:
        d = load_spread(spark, sf_dir, "documents")
        # per-doc DISTINCT tokens computed row-locally (array_distinct) —
        # the same token set as the corpus-wide (doc_id, t) DISTINCT but
        # with zero shuffle, and the vote groupBy can then reuse the
        # doc_id-spread exchange, so the whole signature phase is local
        tok = d.select("doc_id", F.explode(
            F.array_distinct(F.split("text", " "))).alias("t"))
        dig = tok.select("doc_id", F.md5("t").alias("hh")).select(
            "doc_id",
            F.expr("CAST(conv(substring(hh, 1, 8), 16, 10) AS BIGINT)")
            .alias("h1"),
            F.expr("CAST(conv(substring(hh, 9, 8), 16, 10) AS BIGINT)")
            .alias("h2"))
        sums = dig.groupBy("doc_id").agg(
            *[F.expr(e) for e in _q153_word_sums_from_words()])
        return sums.select(
            "doc_id",
            *[F.expr(f"CAST({e} AS BIGINT)").alias(f"w{w}")
              for w, e in enumerate(_q153_words())]
        ).localCheckpoint(eager=False)

    # session memo (r15): the 64-bit signature is the query's expensive
    # phase and is deterministic per corpus — the doc-count-sized sig
    # frame pins once per session instead of per run
    sig = _doc_frame_memo(spark, sf_dir, "simhash64", _build_sig)
    bands = (sig.withColumn("band", F.explode(
                 F.expr(f"sequence(0, {_HAM_WORDS - 1})")))
             .withColumn("bv", F.expr(
                 "CASE band WHEN 0 THEN w0 WHEN 1 THEN w1"
                 " WHEN 2 THEN w2 ELSE w3 END")))
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "bv",
                     *[F.col(f"w{w}").alias(f"aw{w}")
                       for w in range(_HAM_WORDS)])
    c = bands.select(F.col("doc_id").alias("b_id"), "band", "bv",
                     *[F.col(f"w{w}").alias(f"bw{w}")
                       for w in range(_HAM_WORDS)])
    cand = (a.join(c, ["band", "bv"])
            .filter(F.col("a_id") < F.col("b_id"))
            .withColumn("hamming", F.expr(_Q153_HAM_SPARK))
            .filter(F.col("hamming") <= _HAM_MAX)
            .select("a_id", "b_id", "hamming").distinct())
    return cand.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"))


# --------------------------------------------------------------------------
# q156 — MinHash estimator audit: for every LSH candidate pair, compare
# the signature-agreement estimate (matching components / 16) against the
# exact shingle Jaccard, grouped by agreement count.  This is the
# calibration report that justifies q47's banded threshold: it shows the
# estimator's bias/MAE on exactly the pairs the bands surface, and it is
# the number to re-check whenever _N_HASHES/_BAND_SIZE change.
#
# Shape: reuses the q47 DAG up to candidates, then two signature lookups
# (16-int rows) and two shingle-set lookups join candidate-side only —
# never corpus x corpus.  Output is <= 17 rows (one per agreement count).
# Cross-engine floats: jaccard and |est - jac| are identical per-row
# doubles, summed through round-9 decimals.
# --------------------------------------------------------------------------
def _q156_oracle() -> str:
    n_match = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(_N_HASHES))
    return f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL.format(col='text')} AS tl
        FROM documents
    ),
    hx AS (
        SELECT doc_id, {_hex_fold('duckdb', 'md5(t)')} AS h
        FROM (SELECT doc_id, unnest(tl) AS t FROM sh)
    ),
    sig AS (
        SELECT doc_id, {', '.join(_sig_aggs('duckdb'))}
        FROM hx GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, unnest([{', '.join(_band_keys('duckdb'))}]) AS band
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.a_id, c.b_id, ({n_match}) AS n_match
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a_id
        JOIN sig sb ON sb.doc_id = c.b_id
    ),
    ex AS (
        SELECT e.n_match,
               len(list_intersect(ta.tl, tb.tl)) * 1.0
                   / len(list_distinct(list_concat(ta.tl, tb.tl))) AS jac
        FROM est e
        JOIN sh ta ON ta.doc_id = e.a_id
        JOIN sh tb ON tb.doc_id = e.b_id
    )
    SELECT n_match, ROUND(n_match / {_N_HASHES}.0, 6) AS estimate,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(ROUND(jac, 9) AS DECIMAL(30,9))) AS DOUBLE)
               / COUNT(*) AS avg_exact,
           CAST(SUM(CAST(ROUND(abs(n_match / {_N_HASHES}.0 - jac), 9)
                         AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*) AS mae
    FROM ex GROUP BY n_match
    """


@query("q156_minhash_estimate_audit", _q156_oracle())
def q156_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sh joins back twice (ta/tb) and sig three times (bands + sa/sb) —
    # without pinning, each self-join re-runs the whole shingle/explode
    # DAG (measured 12.8 s -> ~5 s at sf0.1).  Both are doc-count-sized
    # (shingle arrays / 16-int signatures), so the checkpoint pins are
    # cheap; at 100 TB they are written tables (the near_dup_pairs
    # pattern).  Since round 15 the pinned frames come from the session
    # memo shared with q47 (shingle_frames_cached) — the audit reads the
    # SAME signature table it audits, by construction.
    sh, sig, bands = shingle_frames_cached(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("a_id"),
                    F.col("b.doc_id").alias("b_id")).distinct())
    n_match = sum(
        F.when(F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}"), 1).otherwise(0)
        for i in range(_N_HASHES))
    est = (cand.join(sig.alias("sa"), F.col("sa.doc_id") == F.col("a_id"))
           .join(sig.alias("sb"), F.col("sb.doc_id") == F.col("b_id"))
           .select("a_id", "b_id", n_match.alias("n_match")))
    jac = (F.size(F.array_intersect(F.col("ta.tl"), F.col("tb.tl"))) * 1.0
           / F.size(F.array_distinct(F.concat(F.col("ta.tl"),
                                              F.col("tb.tl")))))
    ex = (est.join(sh.alias("ta"), F.col("ta.doc_id") == F.col("a_id"))
          .join(sh.alias("tb"), F.col("tb.doc_id") == F.col("b_id"))
          .select("n_match", jac.alias("jac")))
    estimate = F.col("n_match") / float(_N_HASHES)
    dec9 = lambda c: (F.sum(F.round(c, 9).cast("decimal(30,9)"))  # noqa: E731
                      .cast("double"))
    return (ex.groupBy("n_match")
            .agg(F.round(F.max(estimate), 6).alias("estimate"),
                 F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 (dec9(F.col("jac")) / F.count(F.lit(1))).alias("avg_exact"),
                 (dec9(F.abs(estimate - F.col("jac")))
                  / F.count(F.lit(1))).alias("mae"))
            .select("n_match", "estimate", "n_pairs", "avg_exact", "mae"))


# --------------------------------------------------------------------------
# q167 — dedup-strategy Venn audit: per document, whether each of the
# three cheap dedup tiers flags it (exact text hash, token-sort
# fingerprint, SimHash bucket), aggregated into the 2³ Venn cells.  The
# dashboard that justifies a tier ordering: cells where a looser tier
# fires without the stricter ones measure what each tier uniquely
# catches (q128's kappa summarizes two detectors; this is the full
# contingency over three).
#
# Shape: three window-free groupBy-count lookups over the same corpus
# scan, joined back by their own keys (all uniform hashes), then an
# 8-cell aggregate.  Integer counts only.
# --------------------------------------------------------------------------
def _q167_oracle() -> str:
    return f"""
    WITH base AS (
        SELECT doc_id, md5(text) AS eh, {_FP_SQL} AS fh
        FROM documents
    ),
    sig AS (
        SELECT doc_id, CAST({_SIMHASH_RECOMBINE} AS BIGINT) AS sh FROM (
            SELECT doc_id, {', '.join(_bit_sum_exprs('duckdb'))}
            FROM (SELECT DISTINCT doc_id,
                         unnest(string_split(text, ' ')) AS t
                  FROM documents)
            GROUP BY doc_id
        )
    ),
    ec AS (SELECT eh, COUNT(*) AS n FROM base GROUP BY eh),
    fc AS (SELECT fh, COUNT(*) AS n FROM base GROUP BY fh),
    sc AS (SELECT sh, COUNT(*) AS n FROM sig GROUP BY sh),
    flags AS (
        SELECT b.doc_id,
               CASE WHEN ec.n > 1 THEN 1 ELSE 0 END AS f_exact,
               CASE WHEN fc.n > 1 THEN 1 ELSE 0 END AS f_tokensort,
               CASE WHEN sc.n > 1 THEN 1 ELSE 0 END AS f_simhash
        FROM base b
        JOIN ec ON b.eh = ec.eh
        JOIN fc ON b.fh = fc.fh
        JOIN sig ON b.doc_id = sig.doc_id
        JOIN sc ON sig.sh = sc.sh
    )
    SELECT f_exact, f_tokensort, f_simhash,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM flags GROUP BY f_exact, f_tokensort, f_simhash
    """


@query("q167_dedup_strategy_venn", _q167_oracle())
def q167_dedup_strategy_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", F.md5("text").alias("eh"),
                    _fp_spark().alias("fh"))
    sig = (simhash_sig_cached(spark, sf_dir)  # shared with q48 (r15 memo)
           .select("doc_id", F.col("simhash").alias("sh")))
    # tier-frequency lookups as partitionBy windows, not groupBy+join-
    # back: the join form branched base 3x and sig 2x, re-running the
    # token-sort fingerprint / simhash vote — the corpus's expensive
    # transforms — per branch.  Chained windows keep ONE linear lineage
    # (each transform evaluates once) and shuffle the narrow hash frame
    # by near-unique content-hash keys — skew-free at any scale.
    # Measured sf0.1 warm medians: 2.83 s -> 0.72 s, values identical.
    from pyspark.sql.window import Window as W
    wbase = (base
             .withColumn("en", F.count(F.lit(1)).over(W.partitionBy("eh")))
             .withColumn("fn", F.count(F.lit(1)).over(W.partitionBy("fh"))))
    wsig = sig.withColumn("sn", F.count(F.lit(1)).over(W.partitionBy("sh")))
    flags = (wbase.join(wsig, "doc_id")
             .select(
                 F.when(F.col("en") > 1, 1).otherwise(0).alias("f_exact"),
                 F.when(F.col("fn") > 1, 1).otherwise(0)
                 .alias("f_tokensort"),
                 F.when(F.col("sn") > 1, 1).otherwise(0)
                 .alias("f_simhash")))
    return (flags.groupBy("f_exact", "f_tokensort", "f_simhash")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))


# --------------------------------------------------------------------------
# q168 — df-cap cost model for the exact set-similarity join: for each
# candidate df cap, the shingle-df histogram implies exactly how many
# index blocks survive and an upper bound on candidate pairs
# (sum over shingles of C(min(df, cap), 2)).  This is the planner query
# run BEFORE q76 at a new scale to pick its cap — predicted cost from a
# one-pass histogram instead of a trial run.
#
# Shape: one inverted-index groupBy (shingle-df), then a 4-row explode
# of cap values over the vocab-sized df table with a decimal-safe
# integer sum.  Nothing quadratic runs — the quadratic is only PREDICTED.
# --------------------------------------------------------------------------
_Q168_CAPS = (5, 10, 20, 50)

_ORACLE_Q168 = f"""
    WITH df AS (
        SELECT sh, COUNT(DISTINCT doc_id) AS df
        FROM (SELECT doc_id,
                     UNNEST({_SHINGLES_SQL.format(col='text')}) AS sh
              FROM documents)
        GROUP BY sh
    ),
    caps AS (SELECT UNNEST([{', '.join(map(str, _Q168_CAPS))}]) AS cap)
    SELECT cap,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(CASE WHEN df > cap THEN 1 END) AS BIGINT)
               AS n_blocked,
           CAST(SUM(LEAST(df, cap) * (LEAST(df, cap) - 1) / 2) AS BIGINT)
               AS max_candidate_pairs
    FROM df CROSS JOIN caps
    GROUP BY cap
"""


@query("q168_dedup_cost_model", _ORACLE_Q168)
def q168_dedup_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 opt (guide §8 reuse the heavy proxy): read the session-memoized
    # checkpointed shingle frame instead of re-running the corpus's
    # heaviest transform (the char-8-gram walk) for this one histogram.
    # tl is array_distinct per doc, so every exploded (doc_id, sh) pair
    # is unique and COUNT(*) == COUNT(DISTINCT doc_id) — the plain count
    # keeps map-side partial aggregation where the distinct-agg rewrite
    # EXPANDs rows (values identical, oracle keeps COUNT(DISTINCT)).
    sh, _sig, _bands = shingle_frames_cached(spark, sf_dir)
    df = (sh.select("doc_id", F.explode("tl").alias("sh"))
          .groupBy("sh").agg(F.count(F.lit(1)).alias("df")))
    caps = F.explode(F.array(*[F.lit(c) for c in _Q168_CAPS])).alias("cap")
    m = F.least(F.col("df"), F.col("cap"))
    return (df.select("df", caps)
            .groupBy("cap")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
                 F.count(F.when(F.col("df") > F.col("cap"), 1))
                 .cast("bigint").alias("n_blocked"),
                 F.sum((m * (m - 1) / 2).cast("long")).cast("bigint")
                 .alias("max_candidate_pairs")))


# --------------------------------------------------------------------------
# q187 — dedup survivor bias report: do the documents dedup REMOVES
# differ systematically from the keepers?  Per language: removal rate
# under the q46 token-sort fingerprint policy plus mean length of
# removed vs kept.  A dedup pass that disproportionately drops one
# language silently reshapes the mix — this is the check before
# shipping a dedup config.
#
# Shape: the q46 keeper rule (min doc_id per fingerprint) as a window
# flag, then one lang-sized rollup.  Counts and exact integer lengths.
# --------------------------------------------------------------------------
@query(
    "q187_dedup_survivor_bias",
    f"""
    WITH fp AS (
        SELECT doc_id, lang, n_chars, {_FP_SQL} AS h FROM documents
    ),
    flagged AS (
        SELECT lang, n_chars,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY h)
                    THEN 1 ELSE 0 END AS kept
        FROM fp
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_removed,
           ROUND(CAST(COUNT(*) - SUM(kept) AS DOUBLE) / COUNT(*), 6)
               AS removal_rate,
           CAST(SUM(CASE WHEN kept = 1 THEN n_chars END) AS DOUBLE)
               / SUM(kept) AS avg_len_kept,
           CASE WHEN COUNT(*) - SUM(kept) > 0
                THEN CAST(SUM(CASE WHEN kept = 0 THEN n_chars END)
                          AS DOUBLE) / (COUNT(*) - SUM(kept)) END
               AS avg_len_removed
    FROM flagged GROUP BY lang
    """,
)
def q187_dedup_survivor_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    fp = d.select("doc_id", "lang", "n_chars", _fp_spark().alias("h"))
    kept = F.when(
        F.col("doc_id") == F.min("doc_id").over(W.partitionBy("h")), 1
    ).otherwise(0)
    flagged = fp.select("lang", "n_chars", kept.alias("kept"))
    removed = F.count(F.lit(1)) - F.sum("kept")
    return (flagged.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 removed.cast("bigint").alias("n_removed"),
                 F.round(removed.cast("double") / F.count(F.lit(1)), 6)
                 .alias("removal_rate"),
                 (F.sum(F.when(F.col("kept") == 1, F.col("n_chars")))
                  .cast("double") / F.sum("kept")).alias("avg_len_kept"),
                 F.when(removed > 0,
                        F.sum(F.when(F.col("kept") == 0, F.col("n_chars")))
                        .cast("double") / removed)
                 .alias("avg_len_removed")))


# --------------------------------------------------------------------------
# q190 — prefix-duplicate detection: documents sharing their first 80
# characters.  Catches shared boilerplate headers (site templates, OCR
# covers) that full-text and token-set hashing both miss once bodies
# diverge — the complement to q81's substring scheme at the cheapest
# possible price (one hash per doc).
#
# Shape: exactly the q45 groupBy on a prefix hash; integer counts and a
# length-of-overlap report per group.
# --------------------------------------------------------------------------
_PREFIX_LEN = 80

@query(
    "q190_prefix_dup",
    f"""
    SELECT md5(substr(text, 1, {_PREFIX_LEN})) AS ph,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper_doc_id,
           CAST(MIN(length(text)) AS BIGINT) AS min_len,
           CAST(MAX(length(text)) AS BIGINT) AS max_len
    FROM documents
    WHERE length(text) >= {_PREFIX_LEN}
    GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def q190_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(
        F.length("text") >= _PREFIX_LEN)
    return (d.groupBy(F.md5(F.substring("text", 1, _PREFIX_LEN))
                      .alias("ph"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.min("doc_id").alias("keeper_doc_id"),
                 F.min(F.length("text")).cast("bigint").alias("min_len"),
                 F.max(F.length("text")).cast("bigint").alias("max_len"))
            .filter(F.col("n_docs") > 1))


# --------------------------------------------------------------------------
# q214 — URL / registered-domain dedup (round-11 inventory growth, the
# highest-value training-pipeline gap per VERDICT r10 task 6a).
#
# Web-crawl curation dedups documents by REGISTERED domain + normalized
# path, not raw host: www.example.co.uk and blog.example.co.uk are the
# same publisher, while example.co.uk and sample.co.uk are not — and the
# boundary between "subdomain" and "registrable domain" is the public-
# suffix list (publicsuffix.org), not a fixed label count ("co.uk" is a
# suffix, "github.io" is a suffix, "example.com"'s suffix is one label).
#
# Spark-first shape: suffix matching is LONGEST-MATCH over a compile-time
# constant rules table, so it compiles to a pure CASE/element_at
# expression — no UDF, no join, no shuffle before the final bounded
# aggregate; whole-stage codegen end to end, which is exactly what you
# want applied to 1e11 crawl records.  The rules below are a
# representative snapshot of the public-suffix list's two shapes
# (multi-label ccTLD/hosting suffixes + plain TLDs); a deployment swaps
# in the full published list the same way (it is ~9k literals — still a
# compile-time IN list or a broadcast dim, never a shuffle).
#
# The documents table carries no URL column, so the query derives one
# deterministically from (doc_id) with pure modular arithmetic — the
# SAME arithmetic in Spark and DuckDB, so the oracle checks the whole
# pipeline: derivation -> host extraction -> suffix match -> registered
# domain -> (domain, path) dedup counts.  ~1/31 of rows get a bare
# public-suffix host (github.io) which must parse to NULL and land in
# the '(none)' bucket — the PSL edge case pinned in-query.
# --------------------------------------------------------------------------
_PSL_TWO = ("co.uk", "ac.uk", "org.uk", "com.au", "net.au", "co.jp",
            "com.br", "github.io", "web.app")
_PSL_ONE = ("com", "org", "net", "io", "edu", "gov", "de", "fr", "jp",
            "uk", "au", "br", "us", "ca", "in")
# The PSL's two remaining rule shapes, so the whole published grammar is
# provably expression-compilable: wildcard rules (`*.ck` — EVERY direct
# label under the TLD is itself a public suffix) and exception rules
# (`!www.ck` — carved back out of the wildcard; the exception label IS
# the registrable domain).  Real examples from the published list.
_PSL_WILD = ("ck", "bd")
_PSL_EXC = ("www.ck",)


def _sql_in(vals) -> str:
    return "(" + ", ".join(f"'{v}'" for v in vals) + ")"


def registered_domain_spark(host: str) -> str:
    """Spark SQL expression: registered domain of ``host`` under the
    snapshot rules, NULL when the host IS a public suffix or matches no
    rule.  try_element_at keeps short hosts NULL-safe under ANSI mode;
    concat is null-intolerant in Spark, so missing labels propagate.
    The host is lowercased first — PSL matching is case-insensitive per
    spec (r12 review: keeps this hand-written twin in lockstep with the
    psl.py loader, which test_psl_loader certifies as one truth)."""
    host = f"lower({host})"
    arr = f"split({host}, '\\\\.')"
    l1 = f"try_element_at({arr}, -1)"
    l2 = f"try_element_at({arr}, -2)"
    l3 = f"try_element_at({arr}, -3)"
    last2 = f"concat({l2}, '.', {l1})"
    last3 = f"concat({l3}, '.', {last2})"
    return (f"CASE WHEN {last2} IN {_sql_in(_PSL_EXC)} THEN {last2} "
            f"WHEN {l1} IN {_sql_in(_PSL_WILD)} THEN {last3} "
            f"WHEN {last2} IN {_sql_in(_PSL_TWO)} THEN {last3} "
            f"WHEN {l1} IN {_sql_in(_PSL_ONE)} "
            f"THEN concat({l2}, '.', {l1}) "
            f"ELSE NULL END")


def registered_domain_sql(host: str) -> str:
    """DuckDB twin of :func:`registered_domain_spark` (|| is
    null-intolerant where concat() is not; negative list indexes return
    NULL out of range).  Lowercased like the Spark twin and the
    loader."""
    host = f"lower({host})"
    arr = f"string_split({host}, '.')"
    l1, l2, l3 = f"{arr}[-1]", f"{arr}[-2]", f"{arr}[-3]"
    last2 = f"({l2} || '.' || {l1})"
    last3 = f"({l3} || '.' || {last2})"
    return (f"CASE WHEN {last2} IN {_sql_in(_PSL_EXC)} THEN {last2} "
            f"WHEN {l1} IN {_sql_in(_PSL_WILD)} THEN {last3} "
            f"WHEN {last2} IN {_sql_in(_PSL_TWO)} THEN {last3} "
            f"WHEN {l1} IN {_sql_in(_PSL_ONE)} "
            f"THEN ({l2} || '.' || {l1}) "
            f"ELSE NULL END")


# deterministic URL derivation — identical modular arithmetic in both
# engines (no engine hash functions), exercising subdomain collapse,
# two-label + one-label suffixes, and the bare-suffix NULL edge
_URL_SUFFIX = ("CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' "
               "WHEN 2 THEN 'github.io' ELSE 'org' END")
_URL_SUB = ("CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.' "
            "ELSE '' END")


def _url_expr() -> str:
    # engine-portable: concat() and CAST(.. AS STRING) parse identically
    # in Spark and DuckDB, and every argument is non-null, so the two
    # engines' concat null-semantics difference never applies
    host_bare = (f"concat('https://', {_URL_SUFFIX}, '/p', "
                 f"CAST(doc_id % 7 AS STRING))")
    host_full = (f"concat('https://', {_URL_SUB}, 'site', "
                 f"CAST(doc_id % 13 AS STRING), '.', {_URL_SUFFIX}, "
                 f"'/p', CAST(doc_id % 7 AS STRING))")
    # exception-rule hosts (www.ck) and wildcard-rule hosts (zoneN.ck,
    # optionally subdomained) so the oracle exercises the full PSL
    # grammar, including the bare-wildcard-suffix -> NULL edge
    host_exc = "concat('https://www.ck/p', CAST(doc_id % 7 AS STRING))"
    host_wild = (f"concat('https://', {_URL_SUB}, 'zone', "
                 f"CAST(doc_id % 5 AS STRING), '.ck/p', "
                 f"CAST(doc_id % 7 AS STRING))")
    return (f"CASE WHEN doc_id % 31 = 0 THEN {host_bare} "
            f"WHEN doc_id % 37 = 0 THEN {host_exc} "
            f"WHEN doc_id % 29 = 0 THEN {host_wild} "
            f"ELSE {host_full} END")


_HOST_RE = "'^[a-z]+://(?:[^@/]*@)?([^/:]+)'"

_ORACLE_Q214 = f"""
    WITH urls AS (
        SELECT doc_id,
               {_url_expr()} AS url
        FROM documents
    ),
    hosts AS (
        SELECT doc_id, url,
               regexp_extract(url, {_HOST_RE}, 1) AS host,
               regexp_extract(url, '://[^/]+(/.*)$', 1) AS path
        FROM urls
    ),
    reg AS (
        SELECT doc_id, host, path,
               COALESCE({registered_domain_sql('host')}, '(none)')
                   AS registered_domain
        FROM hosts
    )
    SELECT registered_domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(COUNT(DISTINCT path) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - COUNT(DISTINCT path) AS BIGINT) AS n_dropped
    FROM reg
    GROUP BY registered_domain
"""


@query("q214_url_domain_dedup", _ORACLE_Q214)
def q214_url_domain_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    urls = d.select("doc_id", F.expr(_url_expr()).alias("url"))
    hosts = urls.select(
        "doc_id", "url",
        F.regexp_extract("url", _HOST_RE.strip("'"), 1).alias("host"),
        F.regexp_extract("url", "://[^/]+(/.*)$", 1).alias("path"))
    reg = hosts.select(
        "doc_id", "host", "path",
        F.coalesce(F.expr(registered_domain_spark("host")),
                   F.lit("(none)")).alias("registered_domain"))
    return (reg.groupBy("registered_domain")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("host").cast("bigint").alias("n_hosts"),
                 F.countDistinct("path").cast("bigint").alias("n_kept"),
                 (F.count(F.lit(1)) - F.countDistinct("path"))
                 .cast("bigint").alias("n_dropped")))


# --------------------------------------------------------------------------
# q224 — span-level exact substring dedup (round 15; the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" ExactSubstr
# operator, public paper).  Unlike every other tier here — which decides
# per DOCUMENT or per PAIR — this finds the duplicated SPANS inside each
# document: maximal character ranges covered by some length-L substring
# that occurs >= 2 times anywhere in the corpus (other documents OR
# elsewhere in the same one), i.e. exactly the text ExactSubstr would cut
# before training.  Output is the per-doc span report a curation run
# acts on: span count, duplicated chars, longest span, duplicated
# fraction.
#
# Spark-first shape (the paper uses a single-node suffix array; a 100 TB
# corpus can't): length-L gram anchoring.  Every length-L gram is keyed
# by md5; a gram is duplicated iff its corpus-wide occurrence count is
# >= 2; the union of duplicated-gram positions, interval-merged per
# document, IS the set of duplicated spans (a shared substring of length
# s >= L contributes exactly its s - L + 1 grams, which merge back into
# one [start, start+s) span — anchoring + within-doc extension with no
# suffix array).  Plan: one gram relation (linear regex walk, corpus-
# chars-sized, lazily checkpoint-pinned because both the count and the
# filter branch consume it — at 100 TB it is a written table like the
# LSH signature tables), a count groupBy on uniform md5 keys (map-side
# partials absorb hot grams — a boilerplate string repeated 10^9 times
# partial-aggregates per task, which is why this is NOT a count-over-
# window: a window partitioned by gram hash would put all 10^9 copies
# in one straggler partition), an equi-join of the gram relation to the
# duplicated-key set, then per-DOCUMENT windows (bounded by document
# length, never global) for the classic gaps-and-islands interval merge.
#
# Divergence from the paper, documented: grams are L=50 CHARS (not 50 BPE
# tokens — no tokenizer in the container) and the report COUNTS the
# duplicated text rather than rewriting documents; the rewrite is a
# substr splice over the same span table.
# --------------------------------------------------------------------------
_SPAN_L = 50

_ORACLE_Q224 = f"""
    WITH grams AS (
        SELECT doc_id, length(text) AS n_chars, CAST(i AS INTEGER) AS pos,
               md5(substr(text, CAST(i AS INTEGER), {_SPAN_L})) AS h
        FROM documents,
             unnest(generate_series(1, length(text) - {_SPAN_L - 1}))
                 AS t(i)
        WHERE length(text) >= {_SPAN_L}
    ),
    dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2),
    dpos AS (
        SELECT g.doc_id, g.n_chars, g.pos FROM grams g JOIN dup USING (h)
    ),
    brk AS (
        SELECT doc_id, n_chars, pos,
               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos) <= {_SPAN_L}
                    THEN 0 ELSE 1 END AS is_new
        FROM dpos
    ),
    isl AS (
        SELECT doc_id, n_chars, pos,
               SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
        FROM brk
    ),
    spans AS (
        SELECT doc_id, n_chars,
               MIN(pos) AS s, MAX(pos) + {_SPAN_L - 1} AS e
        FROM isl GROUP BY doc_id, n_chars, island
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
           CAST(MAX(e - s + 1) AS BIGINT) AS max_span_chars,
           ROUND(SUM(e - s + 1) * 1.0 / n_chars, 6) AS dup_ratio
    FROM spans GROUP BY doc_id, n_chars
"""


def substring_dup_spans(d: DataFrame, L: int = _SPAN_L) -> DataFrame:
    """(doc_id, n_chars, s, e) merged duplicated spans over any
    (doc_id, text) frame — the shared core of q224 (span report) and
    q225 (materialized splice); kept frame-parameterized so the
    anchoring guarantee (every shared substring of length >= L merges
    to exactly one span) is property-testable on planted corpora."""
    from pyspark.sql.window import Window as W

    g = (d.filter(F.length("text") >= L)
         .select("doc_id", F.length("text").alias("n_chars"),
                 F.posexplode(F.expr(ngram_list_spark("text", L)))
                 .alias("p0", "g"))
         .select("doc_id", "n_chars", (F.col("p0") + 1).alias("pos"),
                 F.md5("g").alias("h"))
         # consumed by BOTH the occurrence count and the position filter;
         # unpinned, each branch re-runs the regex gram walk (the corpus's
         # expensive transform).  Lazy pin: corpus-chars-sized — at 100 TB
         # this is the written gram table, the near_dup_pairs pattern.
         .localCheckpoint(eager=False))
    dup = (g.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= 2).select("h"))
    dpos = g.join(dup, "h", "left_semi")
    w = W.partitionBy("doc_id").orderBy("pos")
    brk = dpos.withColumn(
        "is_new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= L, 0).otherwise(1))
    isl = brk.withColumn(
        "island",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)))
    return (isl.groupBy("doc_id", "n_chars", "island")
            .agg(F.min("pos").alias("s"),
                 (F.max("pos") + (L - 1)).alias("e"))
            .select("doc_id", "n_chars", "s", "e"))


def substring_dup_spans_cached(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """sf_dir's substring-dup span table, which q224 and q225 both read,
    stored on the disk tier: the corpus-chars-sized gram relation runs
    once per corpus, and later sessions read the doc-span-sized table
    back.  The key folds the anchor length ``_SPAN_L``."""
    return memo(spark, "spans", (os.path.join(sf_dir, "documents.parquet"),),
                lambda: (substring_dup_spans(
                    load_spread(spark, sf_dir, "documents")),),
                tier="disk", params=(_SPAN_L,))[0]


def substring_span_stats(d: DataFrame, L: int = _SPAN_L) -> DataFrame:
    """q224's per-doc report over any (doc_id, text) frame."""
    return _span_report(substring_dup_spans(d, L))


def _span_report(spans: DataFrame) -> DataFrame:
    chars = F.col("e") - F.col("s") + 1
    return (spans.groupBy("doc_id", "n_chars")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
                 F.sum(chars).cast("bigint").alias("dup_chars"),
                 F.max(chars).cast("bigint").alias("max_span_chars"))
            .select("doc_id", "n_dup_spans", "dup_chars", "max_span_chars",
                    F.round(F.col("dup_chars") * 1.0 / F.col("n_chars"), 6)
                    .alias("dup_ratio")))


@query("q224_exact_substring_dedup", _ORACLE_Q224)
def q224_exact_substring_dedup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    return _span_report(substring_dup_spans_cached(spark, sf_dir))


# --------------------------------------------------------------------------
# q225 — materialized substring dedup: the SPLICED corpus q224 reports
# on.  q224 is the observability half (how much is duplicated); this is
# the half a pipeline actually consumes — every duplicated span cut out
# of every document, exactly the ExactSubstr rewrite (Lee et al. 2022
# §4.1: cut the duplicated character ranges; the aggressive all-copies
# variant, documented).  Completes q224 the way q54 (materialize)
# completes q46 (report).
#
# Spark shape: the session-memoized span table (doc-span-sized) groups
# to one sorted spans array per doc (collect_list bounded by document
# length — never a corpus-wide collect), LEFT-joins the corpus, and one
# JVM-side higher-order aggregate() fold splices the kept segments —
# linear in document length, zero Python, no window.  The oracle
# rebuilds the splice as an uncovered-position string_agg — a different
# construction of the same string, so the two engines cross-check the
# splice arithmetic, not a shared implementation.
# --------------------------------------------------------------------------
def _q225_oracle() -> str:
    # The final join is LEFT + COALESCE (r15 advice): a document with
    # empty ('' or NULL) text produces zero rows in the chars CTE —
    # generate_series(1, 0) is empty — so it never reaches clean, and an
    # inner join would drop it while the Spark side keeps it with
    # clean_text = text.  COALESCE(clean_text, text) restores exactly
    # that row ('' stays '', NULL stays NULL — matching Spark's
    # when(sp.isNull, text) branch, whose length arithmetic is also
    # NULL-propagating).
    spans_body = _ORACLE_Q224.rsplit("SELECT doc_id,", 1)[0].rstrip()
    assert spans_body.endswith(")")  # the WITH chain through spans
    return f"""{spans_body},
    covered AS (
        SELECT DISTINCT doc_id, CAST(j AS INTEGER) AS i
        FROM spans, unnest(generate_series(s, e)) AS t(j)
    ),
    chars AS (
        SELECT doc_id, CAST(i AS INTEGER) AS i,
               substr(text, CAST(i AS INTEGER), 1) AS ch
        FROM documents,
             unnest(generate_series(1, length(text))) AS t(i)
    ),
    clean AS (
        SELECT c.doc_id,
               COALESCE(string_agg(CASE WHEN cv.i IS NULL THEN c.ch END,
                                   '' ORDER BY c.i), '') AS clean_text
        FROM chars c LEFT JOIN covered cv
             ON cv.doc_id = c.doc_id AND cv.i = c.i
        GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(length(d.text)
                - length(COALESCE(cl.clean_text, d.text)) AS BIGINT)
               AS n_chars_removed,
           COALESCE(cl.clean_text, d.text) AS clean_text
    FROM documents d LEFT JOIN clean cl ON cl.doc_id = d.doc_id
"""


def substring_dedup_splice(d: DataFrame, spans: DataFrame) -> DataFrame:
    """(doc_id, n_chars_removed, clean_text): ``d`` with every span in
    ``spans`` cut out — one aggregate() fold over the per-doc sorted
    span array."""
    sp = (spans.groupBy("doc_id")
          .agg(F.array_sort(F.collect_list(
              F.struct(F.col("s").alias("s"), F.col("e").alias("e"))))
              .alias("sp")))
    spliced = F.expr(
        "aggregate(sp, named_struct('pos', 1, 'acc', ''),"
        " (st, x) -> named_struct("
        "   'pos', x.e + 1,"
        "   'acc', concat(st.acc, substring(text, st.pos, x.s - st.pos))),"
        " st -> concat(st.acc,"
        "   substring(text, st.pos, length(text) - st.pos + 1)))")
    clean = F.when(F.col("sp").isNull(), F.col("text")).otherwise(spliced)
    return (d.join(sp, "doc_id", "left")
            .select("doc_id", "text", clean.alias("clean_text"))
            .select("doc_id",
                    (F.length("text") - F.length("clean_text"))
                    .cast("bigint").alias("n_chars_removed"),
                    "clean_text"))


@query("q225_substring_dedup_materialize", _q225_oracle())
def q225_substring_dedup_materialize(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    return substring_dedup_splice(
        load(spark, sf_dir, "documents"),
        substring_dup_spans_cached(spark, sf_dir))
