"""Text-analysis operators for large-scale training-data pipelines.

North-star surface (BASELINE.json): language-ID, quality scoring, token
counting, document fingerprinting — all as single-pass vectorized column
expressions (JVM-side, whole-stage codegen; no Python in the hot path).

Determinism notes: every score is integer/ratio arithmetic or md5 over
strings, so the DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, require_unique_doc_ids, table_rows_cached
from .common import (davg, fround6, sql_davg, sql_dvar_expr, sql_fround6,
                     sql_spark_pct)

QUERIES: dict = {}
ORACLES: dict = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


from .dedup import _MH_P as _FOLD_P, _hex_fold as _fold

_HEX_FOLD_SPARK = _fold("spark", "md5(cast(doc_id as string))")
_HEX_FOLD_DUCK = _fold("duckdb", "md5(cast(doc_id as varchar))")


from .dedup import _FP_SQL as _FP_SQL_T
from .dedup import _SHINGLES_SQL as _SHINGLES_SQL_T

_SHINGLES_DUCK_Q139 = _SHINGLES_SQL_T.format(col="text")


# Tokenization used across all text operators: plain space split.  The
# documents fixture is space-separated ASCII; a BPE-ish regex tokenizer for
# real corpora lives in token_count below.
_TOKENS = "split(text, ' ')"


# --------------------------------------------------------------------------
# q40 — per-language corpus quality statistics: doc counts, length moments,
# mean tokens/doc, type-token ratio, punctuation density.  One scan, one
# small shuffle on lang.
# --------------------------------------------------------------------------
@query(
    "q40_text_stats",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           {sql_davg('n_chars', 'avg_chars')},
           {sql_davg("len(string_split(text, ' '))", 'avg_tokens')},
           {sql_davg("len(list_distinct(string_split(text, ' ')))", 'avg_distinct_tokens')},
           {sql_davg("(length(text) - length(replace(replace(text, '.', ''), ',', ''))) * 1.0"
                     " / greatest(length(text), 1)", 'punct_ratio')}
    FROM documents GROUP BY lang
    """,
)
def q40_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.expr(_TOKENS)
    punct = (
        (F.length("text")
         - F.length(F.regexp_replace(F.regexp_replace("text", r"\.", ""), ",", "")))
        * 1.0 / F.greatest(F.length("text"), F.lit(1))
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars", "avg_chars"),
        davg(F.size(toks).cast("double"), "avg_tokens"),
        davg(F.size(F.array_distinct(toks)).cast("double"), "avg_distinct_tokens"),
        davg(punct, "punct_ratio"),
    )


# --------------------------------------------------------------------------
# q41 — token counting: whitespace tokens plus a BPE-ish sub-word estimate
# (4 chars/token heuristic), and corpus-level distinct-token counts per
# source via explode (the UDTF-shaped path).  At 100 TB the explode feeds a
# partial-agg so only (source, token) pairs shuffle.
# --------------------------------------------------------------------------
@query(
    "q41_token_count",
    f"""
    WITH per_doc AS (
        SELECT source,
               len(string_split(text, ' ')) AS n_ws,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
        FROM documents
    ),
    vocab AS (
        SELECT source, COUNT(DISTINCT t) AS n_distinct_tokens
        FROM (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY source
    )
    SELECT p.source AS source,
           CAST(SUM(n_ws) AS BIGINT) AS total_tokens,
           CAST(SUM(n_bpe_est) AS BIGINT) AS total_bpe_est,
           MAX(v.n_distinct_tokens) AS n_distinct_tokens
    FROM per_doc p JOIN vocab v ON p.source = v.source
    GROUP BY p.source
    """,
)
def q41_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.expr(_TOKENS)
    per_doc = d.select(
        "source",
        F.size(toks).alias("n_ws"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_bpe_est"),
    )
    vocab = (
        d.select("source", F.explode(toks).alias("t"))
        .groupBy("source")
        .agg(F.countDistinct("t").alias("n_distinct_tokens"))
    )
    return (
        per_doc.groupBy("source")
        .agg(F.sum("n_ws").cast("bigint").alias("total_tokens"),
             F.sum("n_bpe_est").cast("bigint").alias("total_bpe_est"))
        .join(vocab, "source")
        .select("source", "total_tokens", "total_bpe_est", "n_distinct_tokens")
    )


# --------------------------------------------------------------------------
# q42 — language identification via marker-token scoring (n-gram heuristic
# class; real models would be a pandas_udf — the scoring plumbing is what
# the engine provides).  Scores are token-set intersections, argmax via
# greatest + CASE; confusion matrix (actual x predicted) is the output.
# --------------------------------------------------------------------------
_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
    "es": ("el", "los", "las", "y"),
}


def _score_sql(lang: str) -> str:
    lits = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return (f"len(list_filter(list_distinct(string_split(text, ' ')),"
            f" t -> t IN ({lits})))")


def _score_spark(lang: str):
    lits = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return F.expr(
        f"size(filter(array_distinct(split(text, ' ')), t -> t IN ({lits})))"
    )


@query(
    "q42_lang_id",
    f"""
    WITH scored AS (
        SELECT lang,
               {_score_sql('en')} AS s_en, {_score_sql('de')} AS s_de,
               {_score_sql('fr')} AS s_fr, {_score_sql('es')} AS s_es
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                    WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
                    WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
                    WHEN s_fr >= s_es THEN 'fr'
                    ELSE 'es' END AS pred_lang
        FROM scored
    )
    SELECT lang, pred_lang, COUNT(*) AS n_docs
    FROM pred GROUP BY lang, pred_lang
    """,
)
def q42_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id_confusion(load(spark, sf_dir, "documents"))


_LANG_ORDER = ("en", "de", "fr", "es")


def lang_id_confusion(d: DataFrame, score_cols=None) -> DataFrame:
    """q42's scoring plumbing with a pluggable scorer.

    ``score_cols``: callable taking the text Column and returning one
    score Column per language in ``_LANG_ORDER``.  Default is the JVM
    marker-token expressions (zero Python in the hot path); a real
    language-ID model drops in as an Arrow ``pandas_udf`` returning
    ``array<double>`` whose elements are unpacked with ``element_at`` —
    tests/test_scorer_integration.py drives exactly that path and pins
    matrix equality with the JVM scorer.  Everything downstream (argmax
    CASE, 'und' zero-rule, confusion-matrix groupBy) is shared, so
    swapping the model cannot change the aggregation semantics.
    """
    if score_cols is None:
        cols = [_score_spark(lang) for lang in _LANG_ORDER]
    else:
        cols = score_cols(F.col("text"))
        if len(cols) != len(_LANG_ORDER):
            # zip() below would silently truncate a wrong-arity scorer,
            # yielding a confusion matrix missing languages
            raise ValueError(
                f"score_cols must return {len(_LANG_ORDER)} columns "
                f"(one per language in {_LANG_ORDER}), got {len(cols)}")
    scored = d.select(
        "lang",
        *[c.alias(f"s_{lang}") for lang, c in zip(_LANG_ORDER, cols)],
    )
    pred = scored.select(
        "lang",
        F.when(F.greatest("s_en", "s_de", "s_fr", "s_es") == 0, "und")
        .when(F.col("s_en") >= F.greatest("s_de", "s_fr", "s_es"), "en")
        .when(F.col("s_de") >= F.greatest("s_fr", "s_es"), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
        .alias("pred_lang"),
    )
    return pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# q43 — document fingerprinting: rolling-window minimum hash over char
# 8-grams (Rabin-Karp/winnowing-lite; md5 as the portable rolling hash).
# The fingerprint is robust to local edits — the standard near-dup
# prefilter for crawl corpora.
# --------------------------------------------------------------------------
@query(
    "q43_fingerprint",
    """
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
    FROM (
        SELECT doc_id,
               list_min(list_transform(
                   generate_series(1, greatest(length(text) - 7, 1)),
                   i -> md5(substr(text, CAST(i AS INTEGER), 8)))) AS fp
        FROM documents
    ) GROUP BY fp
    """,
)
def q43_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _spread_docs

    d = _spread_docs(load(spark, sf_dir, "documents"))
    from .dedup import ngram_list_spark

    # linear regex gram walk, not the O(len^2) transform+substring form
    # (min over the gram list is duplicate-insensitive, so the
    # undeduplicated list is equivalent)
    fp = F.expr(
        f"array_min(transform({ngram_list_spark('text', 8)},"
        " s -> md5(s)))"
    )
    return (
        d.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
    )


# --------------------------------------------------------------------------
# q57 — text normalization (cleaning pass before dedup/tokenization):
# lowercase, strip punctuation, collapse whitespace; fingerprint the
# normalized form.  NB the oracle passes 'g' to regexp_replace — DuckDB
# replaces only the first match by default, Spark replaces all.
# --------------------------------------------------------------------------
@query(
    "q57_normalize_text",
    """
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[.,!?;:]', '', 'g'), '\\s+', ' ', 'g')) AS ntext
        FROM documents
    )
    SELECT CAST(length(ntext) AS BIGINT) % 10 AS len_mod,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(ntext)) AS n_distinct
    FROM norm GROUP BY 1
    """,
)
def q57_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ntext = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[.,!?;:]", ""), r"\s+", " "))
    norm = d.select("doc_id", ntext.alias("ntext"))
    return norm.groupBy(
        (F.length("ntext").cast("bigint") % 10).alias("len_mod")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("ntext")).alias("n_distinct"),
    )


# --------------------------------------------------------------------------
# q58 — edit-distance near-dup (Levenshtein on 40-char prefixes; both
# engines implement the classic integer DP).  The prefix cap bounds the
# O(m*n) cost; at scale this runs as a verify stage after LSH candidate
# generation, exactly like q47's Jaccard verify.
# --------------------------------------------------------------------------
@query(
    "q58_edit_distance",
    """
    WITH p AS (
        SELECT doc_id, substr(text, 1, 40) AS pre
        FROM documents WHERE doc_id < 120
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           levenshtein(a.pre, b.pre) AS dist
    FROM p a JOIN p b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.pre, b.pre) <= 20
    """,
)
def q58_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    p = (d.filter(F.col("doc_id") < 120)
         .select("doc_id", F.substring("text", 1, 40).alias("pre")))
    a = p.select(F.col("doc_id").alias("a_id"), F.col("pre").alias("a_pre"))
    b = p.select(F.col("doc_id").alias("b_id"), F.col("pre").alias("b_pre"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id",
                F.levenshtein("a_pre", "b_pre").alias("dist"))
        .filter(F.col("dist") <= 20)
    )


# --------------------------------------------------------------------------
# q65 — blocklist/safety filtering: drop documents containing any term
# from a (broadcast) blocklist; report kept/removed per lang.  At scale
# the blocklist is a broadcast variable and the match is a token-set
# intersection — no join, no shuffle before the final rollup.
# --------------------------------------------------------------------------
_BLOCKLIST = "'slow', 'error', 'drop'"


@query(
    "q65_blocklist_filter",
    f"""
    WITH flagged AS (
        SELECT lang,
               len(list_filter(list_distinct(string_split(text, ' ')),
                               t -> t IN ({_BLOCKLIST}))) > 0 AS blocked
        FROM documents
    )
    SELECT lang,
           COUNT(*) FILTER (WHERE NOT blocked) AS n_kept,
           COUNT(*) FILTER (WHERE blocked) AS n_removed
    FROM flagged GROUP BY lang
    """,
)
def q65_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    blocked = F.expr(
        f"size(filter(array_distinct(split(text, ' ')),"
        f" t -> t IN ({_BLOCKLIST}))) > 0"
    )
    return (
        d.select("lang", blocked.alias("blocked"))
        .groupBy("lang")
        .agg(F.count(F.when(~F.col("blocked"), 1)).alias("n_kept"),
             F.count(F.when(F.col("blocked"), 1)).alias("n_removed"))
    )


# --------------------------------------------------------------------------
# q66 — repetition/boilerplate detection: the most frequent word and its
# share of the document; high shares flag templated/spammy text (the
# complement of q44's distinct-token ratio).  One explode + two grouped
# aggregations, both map-side-combinable.
# --------------------------------------------------------------------------
@query(
    "q66_repetition",
    """
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    freq AS (
        SELECT doc_id, lang, t, COUNT(*) AS c
        FROM tok GROUP BY doc_id, lang, t
    ),
    per_doc AS (
        SELECT doc_id, lang, MAX(c) AS max_rep,
               CAST(SUM(c) AS BIGINT) AS n_tokens
        FROM freq GROUP BY doc_id, lang
    )
    SELECT lang,
           COUNT(*) FILTER (WHERE max_rep * 1.0 / n_tokens > 0.2)
               AS n_boilerplate,
           COUNT(*) AS n_docs,
           CAST(MAX(max_rep) AS BIGINT) AS worst_repetition
    FROM per_doc GROUP BY lang
    """,
)
def q66_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("t"))
    freq = tok.groupBy("doc_id", "lang", "t").agg(F.count(F.lit(1)).alias("c"))
    per_doc = freq.groupBy("doc_id", "lang").agg(
        F.max("c").alias("max_rep"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.when(F.col("max_rep") * 1.0 / F.col("n_tokens") > 0.2, 1))
        .alias("n_boilerplate"),
        F.count(F.lit(1)).alias("n_docs"),
        F.max("max_rep").cast("bigint").alias("worst_repetition"),
    )


# --------------------------------------------------------------------------
# q44 — quality scoring: composite per-doc quality from length, punctuation
# density, stopword ratio and repetition (distinct/total tokens), bucketed
# into keep/review/drop tiers — the standard pretraining filter shape.
# --------------------------------------------------------------------------
_STOPWORDS = "'the', 'a', 'of', 'and', 'to', 'in'"


# Shared scored-quality relation: (doc_id, lang, quality), one definition
# per engine — q44 tiers it, q80 threshold-filters it.
_SCORED_SQL = f"""
    WITH feats AS (
        SELECT doc_id, lang,
               length(text) AS n,
               len(string_split(text, ' ')) AS nt,
               len(list_distinct(string_split(text, ' '))) AS ndt,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ({_STOPWORDS}))) AS nstop
        FROM documents
    ),
    scored AS (
        -- floor(x*1e6 + 0.5)/1e6, NOT ROUND(x, 6): the plain IEEE ops
        -- give BOTH engines the same halfway semantics on the exact
        -- binary value.  Spark's ROUND works on the double's SHORTEST
        -- decimal repr (BigDecimal.valueOf) where DuckDB rounds the
        -- binary value — at sf1 three docs land exactly on a .5e-6
        -- boundary and the engines disagreed by 1e-6 (caught by
        -- scripts/sf1_parity.py, round 11).  sf0.01 values unchanged.
        SELECT doc_id, lang,
               floor((  0.25 * least(n / 400.0, 1.0)
                      + 0.25 * least(nstop * 4.0 / nt, 1.0)
                      + 0.50 * (ndt * 1.0 / nt)) * 1000000.0 + 0.5)
                   / 1000000.0 AS quality
        FROM feats
    )
"""


def _scored_quality(d: DataFrame, keep: tuple = ()) -> DataFrame:
    """(doc_id, lang, quality[, *keep]) — the Spark twin of ``_SCORED_SQL``.

    ``keep`` names extra input columns carried through the projection.
    The scorer is a pure 1:1 map of the document frame, so a consumer
    that needs quality NEXT TO another document column can take it here
    instead of re-joining the corpus to itself on doc_id — the join on
    the unique key is value-identical to the projection, but at scale it
    is a corpus-wide shuffle/broadcast this keeps out of the plan
    (r17; guide §3 — removed from q127/q163/q176/q188/q209).
    """
    clash = set(keep) & {"doc_id", "lang", "quality", "n", "nt", "ndt",
                         "nstop"}
    if clash:
        raise ValueError(f"keep= collides with scorer columns: {sorted(clash)}")
    feats = d.select(
        "doc_id", "lang", *keep,
        F.length("text").alias("n"),
        F.expr(f"size({_TOKENS})").alias("nt"),
        F.expr(f"size(array_distinct({_TOKENS}))").alias("ndt"),
        F.expr(f"size(filter({_TOKENS}, t -> t IN ({_STOPWORDS})))").alias("nstop"),
    )
    # floor-device, not F.round — see the _SCORED_SQL comment (engines
    # must share halfway semantics on the exact binary value)
    quality = F.floor(
        (0.25 * F.least(F.col("n") / 400.0, F.lit(1.0))
         + 0.25 * F.least(F.col("nstop") * 4.0 / F.col("nt"), F.lit(1.0))
         + 0.50 * (F.col("ndt") * 1.0 / F.col("nt"))) * 1000000.0 + 0.5
    ) / 1000000.0
    return feats.select("doc_id", "lang", quality.alias("quality"), *keep)


@query(
    "q44_quality_score",
    f"""
    {_SCORED_SQL}
    SELECT CASE WHEN quality > 0.6 THEN 'keep'
                WHEN quality > 0.4 THEN 'review'
                ELSE 'drop' END AS tier,
           COUNT(*) AS n_docs,
           ROUND(MIN(quality), 6) AS min_q,
           ROUND(MAX(quality), 6) AS max_q
    FROM scored GROUP BY 1
    """,
)
def q44_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_tiers(load(spark, sf_dir, "documents"))


def quality_tiers(d: DataFrame, scorer=None) -> DataFrame:
    """q44's tiering plumbing with a pluggable scorer: ``scorer`` maps
    the document frame to (doc_id, lang, quality) — default is the JVM
    feature formula (``_scored_quality``); a model-based scorer drops in
    as a pandas_udf-backed callable with the same output contract
    (tests/test_scorer_integration.py drives one)."""
    scored = (scorer or _scored_quality)(d)
    return (
        scored.withColumn(
            "tier",
            F.when(F.col("quality") > 0.6, "keep")
            .when(F.col("quality") > 0.4, "review")
            .otherwise("drop"),
        )
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.min("quality"), 6).alias("min_q"),
             F.round(F.max("quality"), 6).alias("max_q"))
    )


# --------------------------------------------------------------------------
# q68 — sliding-window document chunking: the step that turns cleaned
# documents into fixed-size training examples (64-token chunks, stride 48
# => 16-token overlap).  Pure built-in array ops — split/filter once,
# sequence+explode for starts, slice+array_join per chunk — all JVM-side;
# chunking is a flatMap, no shuffle at all.  Oracle mirrors it with
# unnest(range(...)) + 1-based list slicing.
# --------------------------------------------------------------------------
_CHUNK_W, _CHUNK_S = 64, 48


@query(
    "q68_chunk_documents",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ),
    starts AS (
        SELECT doc_id, t,
               unnest(range(1, len(t) + 1, {_CHUNK_S})) AS start
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST((start - 1) / {_CHUNK_S} AS INTEGER) AS chunk_id,
           array_to_string(
               t[start:least(start + {_CHUNK_W} - 1, len(t))], ' ')
               AS chunk_text,
           CAST(least({_CHUNK_W}, len(t) - start + 1) AS BIGINT) AS n_tokens
    FROM starts
    """,
)
def q68_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # module-standard plain-space tokenization (textops convention): Java's
    # \s and DuckDB/RE2's \s disagree on \x0B, so a regex class here would
    # be a latent cross-engine divergence
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split("text", " ", -1), lambda x: x != F.lit("")).alias("t"),
    ).filter(F.size("t") > 0)
    starts = toks.select(
        "doc_id", "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(_CHUNK_S))
        ).alias("start"),
    )
    return starts.select(
        "doc_id",
        (F.col("start") / _CHUNK_S).cast("int").alias("chunk_id"),
        F.array_join(
            F.slice("t", F.col("start") + 1, F.lit(_CHUNK_W)), " "
        ).alias("chunk_text"),
        F.least(F.lit(_CHUNK_W), F.size("t") - F.col("start"))
        .cast("long").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# q73 — deterministic train/val/test split: the assignment a training
# pipeline keys on must be a pure function of the stable doc id (never
# rand()), so reruns, backfills and engines all agree.  Bucket =
# md5(doc_id) folded to an integer, mod 100 -> 80/10/10.  The md5-fold is
# the same strpos arithmetic both engines compute bit-for-bit (dedup.py's
# MinHash uses it for the same reason).
# --------------------------------------------------------------------------
def _md5_bucket(engine: str, col: str) -> str:
    from .dedup import _hex_fold
    md5 = (f"md5(CAST({col} AS STRING))" if engine == "spark"
           else f"md5(CAST({col} AS VARCHAR))")
    return f"({_hex_fold(engine, md5)} % 100)"


@query(
    "q73_hash_split",
    f"""
    WITH assigned AS (
        SELECT lang, n_chars,
               CASE WHEN {_md5_bucket('duckdb', 'doc_id')} < 80 THEN 'train'
                    WHEN {_md5_bucket('duckdb', 'doc_id')} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           {sql_davg('n_chars', 'avg_chars')}
    FROM assigned GROUP BY split, lang
    """,
)
def q73_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = F.expr(_md5_bucket("spark", "doc_id"))
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val").otherwise("test"))
    return (d.withColumn("split", split)
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 davg("n_chars", "avg_chars")))


# --------------------------------------------------------------------------
# q74 — vocabulary extraction: corpus-wide token frequencies, top 20 by
# (count desc, token asc) — the deterministic tie-break makes the LIMIT
# reproducible across engines.  Scale shape: explode -> codegen'd
# map-side-partial count -> tiny global top-k (the aggregated vocabulary,
# not the corpus, is what gets sorted).
# --------------------------------------------------------------------------
@query(
    "q74_vocab_topk",
    """
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY n_occurrences DESC, token ASC
    LIMIT 20
    """,
)
def q74_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = (d.select("doc_id",
                     F.explode(F.split("text", " ", -1)).alias("token"))
            .filter(F.col("token") != ""))
    return (toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy(F.desc("n_occurrences"), F.asc("token"))
            .limit(20))


# --------------------------------------------------------------------------
# q77 — greedy sequence packing: assign documents to fixed-capacity token
# bins, first-fit in doc_id order — the batch-construction step of an LLM
# training pipeline (pack short docs together so each 512-token sequence
# wastes minimal padding).
#
# Semantics (by contract): within each shard (doc_id % N_SHARDS), walk
# docs in doc_id order keeping a running token total; when adding a doc
# would exceed the capacity, close the bin and start the next.  A doc
# longer than the capacity gets a bin of its own.  Packing is inherently
# sequential, so the SHARD is the unit of parallelism — the Spark side is
# one applyInPandas pass per shard (each group walks its rows once in
# Arrow batch memory), exactly how production packers chunk work per
# writer task.  At 100 TB you raise N_SHARDS to match writer parallelism;
# results stay deterministic because the shard function and the walk
# order are part of the contract, not the physical plan.
#
# N_SHARDS is a fixed semantic constant: the shard function is part of
# the output, so it must not follow the host's core count (the round-4
# bench charged 8 shards 3.6 s on 32 cores; 32 shards keep a 32-core
# host busy).  The oracle f-string and every downstream consumer
# (curation DAG, invariants test) read this constant.
#
# The oracle replays the same walk as a recursive CTE (the q56 pattern):
# row r's bin state derives from row r-1's — a linear recursion DuckDB
# evaluates exactly.
# --------------------------------------------------------------------------
_PACK_CAP = 512
_PACK_SHARDS = 32


@query(
    "q77_pack_sequences",
    f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    ord AS (
        SELECT doc_id, shard, n_tokens,
               row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        FROM toks
    ),
    packed AS (
        SELECT shard, rn, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS bin_idx, n_tokens AS cum
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
               CASE WHEN p.cum + o.n_tokens > {_PACK_CAP}
                    THEN p.bin_idx + 1 ELSE p.bin_idx END,
               CASE WHEN p.cum + o.n_tokens > {_PACK_CAP}
                    THEN o.n_tokens ELSE p.cum + o.n_tokens END
        FROM packed p JOIN ord o ON o.shard = p.shard AND o.rn = p.rn + 1
    )
    SELECT doc_id, shard, bin_idx, n_tokens FROM packed
    """,
)
def q77_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        bin_idx, cum = 0, 0
        for i, n in enumerate(pdf["n_tokens"]):
            if i == 0:
                cum = n
            elif cum + n > _PACK_CAP:
                bin_idx += 1
                cum = n
            else:
                cum += n
            bins.append(bin_idx)
        pdf["bin_idx"] = pd.Series(bins, dtype="int64")
        return pdf[["doc_id", "shard", "bin_idx", "n_tokens"]]

    return toks.groupBy("shard").applyInPandas(
        pack, schema="doc_id bigint, shard bigint, bin_idx bigint, "
                     "n_tokens bigint")


# --------------------------------------------------------------------------
# q78 — deterministic corpus balancing: thin over-represented languages to
# a per-language document budget by hash-rate sampling.  keep-probability
# = min(1, K/count(lang)); a doc survives iff its md5-fold key — a pure
# function of doc_id, uniform over [0, 2^31-1) — falls under
# ceil(rate * 2^31-1).
#
# The threshold lives in the FULL fold domain, not a coarse bucket grid:
# with B buckets, floor(rate*B) hits 0 once count > K*B and the language
# silently vanishes (caught in round-3 review); ceil over the 2^31 domain
# keeps the threshold >= 1 and the expected sample within one doc of K
# for any count below 2^31.
#
# This is the scale-safe shape for group-capped sampling: NO per-group
# window/rank (a rank over `lang` puts each language on one partition —
# the skew bottleneck), just a tiny per-group rate table broadcast back
# and a stateless per-row hash test.  The sample is reproducible across
# runs/partitionings by construction (never rand()), and the realized
# sample size concentrates around K (binomial, not exact-K — the
# documented trade for a one-pass stateless plan; q84/q85 are the
# exact-K variants).
# --------------------------------------------------------------------------
_BALANCE_K = 100
_HASH_DOMAIN = 2_147_483_647  # dedup._MH_P — the md5-fold key domain


def _doc_key(engine: str) -> str:
    """md5-fold of doc_id -> uniform key in [0, _HASH_DOMAIN): the
    q47/q73 portable-hash pattern (hex digits -> integer -> mod p)."""
    from .dedup import _hex_fold

    cast = ("CAST(doc_id AS STRING)" if engine == "spark"
            else "CAST(doc_id AS VARCHAR)")
    return _hex_fold(engine, f"md5({cast})")


@query(
    "q78_balance_corpus",
    f"""
    WITH rates AS (
        SELECT lang,
               least(1.0, {_BALANCE_K} * 1.0 / COUNT(*)) AS rate
        FROM documents GROUP BY 1
    ),
    keyed AS (
        SELECT doc_id, lang, n_chars, {_doc_key('duckdb')} AS u
        FROM documents
    )
    SELECT k.doc_id, k.lang, k.n_chars
    FROM keyed k JOIN rates r ON k.lang = r.lang
    WHERE k.u < CAST(ceil(r.rate * {_HASH_DOMAIN}) AS BIGINT)
    """,
)
def q78_balance_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return balance_corpus(load(spark, sf_dir, "documents"))


def balance_corpus(d: DataFrame, k: int = _BALANCE_K) -> DataFrame:
    """q78's core over an arbitrary (doc_id, lang, n_chars, ...) frame —
    rates are computed on EXACTLY the rows passed in, so pipeline stages
    (plans/curation.py) can balance the curated survivors rather than the
    raw corpus."""
    rates = d.groupBy("lang").agg(
        F.least(F.lit(1.0),
                F.lit(float(k)) / F.count(F.lit(1))).alias("rate"))
    keyed = d.select(
        "doc_id", "lang", "n_chars",
        F.expr(_doc_key("spark")).alias("u"),
    )
    return (
        keyed.join(F.broadcast(rates), "lang")
        .filter(F.col("u")
                < F.ceil(F.col("rate") * _HASH_DOMAIN).cast("bigint"))
        .select("doc_id", "lang", "n_chars")
    )


# --------------------------------------------------------------------------
# q79 — benchmark decontamination: flag training documents whose char-8-
# gram shingle overlap with a held-out benchmark set exceeds a threshold
# (the n-gram-overlap decontamination standard for LLM training corpora).
#
# Benchmark set (by contract here): docs with doc_id % 97 == 0 — in a real
# pipeline this is the eval-suite text.  Plan shape: the benchmark's
# distinct shingle set is small and BROADCAST; corpus shingles explode,
# hash-join against it (map-side, no corpus shuffle), per-doc match counts
# aggregate with map-side partials, ratio = matched/|set| >= 0.45 flags.
# At 100 TB the corpus side never shuffles its text — only (doc_id, 1)
# match rows after the broadcast join.
# --------------------------------------------------------------------------
_DECON_THETA = 0.45
_DECON_MOD = 97

from .dedup import _SHINGLES_SQL  # noqa: E402


@query(
    "q79_decontaminate",
    f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL.format(col='text')} AS tl
        FROM documents
    ),
    bench AS (
        SELECT DISTINCT unnest(tl) AS t FROM sh
        WHERE doc_id % {_DECON_MOD} = 0
    ),
    doc_tok AS (
        SELECT doc_id, unnest(tl) AS t FROM sh
        WHERE doc_id % {_DECON_MOD} <> 0
    ),
    m AS (
        SELECT d.doc_id, COUNT(*) AS n_matched
        FROM doc_tok d JOIN bench b ON d.t = b.t GROUP BY 1
    ),
    sz AS (
        SELECT doc_id, len(tl) AS n_shingles FROM sh
        WHERE doc_id % {_DECON_MOD} <> 0
    )
    SELECT s.doc_id, s.n_shingles, m.n_matched,
           ROUND(m.n_matched * 1.0 / s.n_shingles, 6) AS overlap
    FROM sz s JOIN m ON s.doc_id = m.doc_id
    WHERE m.n_matched * 1.0 / s.n_shingles >= {_DECON_THETA}
    """,
)
def q79_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import shingle_frames_cached

    # r17 opt: both branches (bench shingles + doc tokens) read the
    # session-memoized checkpointed shingle table — the gram walk, the
    # corpus's heaviest transform, no longer re-runs per branch per call
    sh, _sig, _bands = shingle_frames_cached(spark, sf_dir)
    is_bench = F.col("doc_id") % _DECON_MOD == 0
    bench = (sh.filter(is_bench)
             .select(F.explode("tl").alias("t")).distinct())
    # carry size(tl) through the explode so the per-doc shingle count
    # rides the same scan branch as the match count — one fewer full
    # shingle-materializing pass and no sz-side join (matched docs only
    # ever reach the output, same as the inner join it replaces)
    doc_tok = (sh.filter(~is_bench)
               .select("doc_id",
                       F.size("tl").cast("bigint").alias("n_shingles"),
                       F.explode("tl").alias("t")))
    m = (doc_tok.join(F.broadcast(bench), "t")
         .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_matched"),
                                F.min("n_shingles").alias("n_shingles")))
    ratio = F.col("n_matched") * 1.0 / F.col("n_shingles")
    return (
        m.filter(ratio >= _DECON_THETA)
        .select("doc_id", "n_shingles", "n_matched",
                F.round(ratio, 6).alias("overlap"))
    )


# --------------------------------------------------------------------------
# q80 — per-language quality-threshold filtering: keep documents at or
# above their language's 25th quality percentile — the curation step that
# drops each language's worst quartile WITHOUT letting a high-resource
# language's score distribution set the bar for a low-resource one.
#
# Plan shape: the scored relation aggregates to one exact p25 per
# language (tiny), which broadcasts back for a stateless per-row filter —
# no per-group window over the corpus.  Exact `percentile` keeps the
# oracle bit-matched (the q33 contract: Spark percentile and DuckDB
# quantile_cont interpolate identically); at 100 TB the same operator
# takes approx_percentile thresholds (q34's sketch path) since a
# curation cut tolerates sketch error.
# --------------------------------------------------------------------------
_QF_P = 0.25


@query(
    "q80_quality_filter",
    f"""
    {_SCORED_SQL},
    {sql_spark_pct('scored', 'quality', [(str(_QF_P), 'p25')],
                   part=['lang'], prefix='thr')}
    SELECT s.doc_id, s.lang, s.quality, {sql_fround6('t.p25')} AS p25
    FROM scored s JOIN thr t ON s.lang = t.lang
    WHERE s.quality >= t.p25
    """,
)
def q80_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_filter(load(spark, sf_dir, "documents"))


def quality_filter(d: DataFrame, p: float = _QF_P, scorer=None) -> DataFrame:
    """q80's core over an arbitrary (doc_id, lang, text, ...) frame —
    percentiles reflect EXACTLY the rows passed in, so pipeline stages
    (plans/curation.py) can cut on the deduped/decontaminated survivors'
    distribution rather than the raw corpus's.  ``scorer`` swaps the
    quality model (same contract as ``quality_tiers``)."""
    scored = (scorer or _scored_quality)(d)
    thr = scored.groupBy("lang").agg(
        F.expr(f"percentile(quality, {p})").alias("p25"))
    return (
        scored.join(F.broadcast(thr), "lang")
        .filter(F.col("quality") >= F.col("p25"))
        # fround6, not F.round: the interpolated p25 can land exactly on
        # a .5e-6 boundary where Spark's shortest-decimal ROUND and
        # DuckDB's binary ROUND split by 1e-6 (ADVICE r11 — same trap
        # the r11 sf1 sweep caught on the quality score itself)
        .select("doc_id", "lang", "quality",
                fround6(F.col("p25")).alias("p25"))
    )


# --------------------------------------------------------------------------
# q84 — exact-K deterministic sample per group: the eval-set construction
# op.  q78's hash-rate thinning is stateless and scales without a window,
# but its realized size is binomial around K; building a benchmark/eval
# split needs EXACTLY K docs per language, reproducibly.  Rank docs
# within each language by (md5(doc_id), doc_id) — a uniform, data-
# independent order — and keep rank <= K.
#
# Scale trade (documented, the q78 contrast): the rank window serializes
# each language onto one partition, acceptable when groups are bounded
# (languages, sources) and WRONG for unbounded keys — there, use q78's
# thinning to ~2K then exact-rank the survivors (two-phase top-K), which
# this operator composes with.
# --------------------------------------------------------------------------
_EXACT_K = 40


@query(
    "q84_sample_exact_k",
    f"""
    WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk
        FROM documents
    )
    SELECT doc_id, lang, n_chars, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_EXACT_K}
    """,
)
def q84_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        d.select("doc_id", "lang", "n_chars",
                 F.row_number().over(w).cast("bigint").alias("rk"))
        .filter(F.col("rk") <= _EXACT_K)
    )


# --------------------------------------------------------------------------
# q85 — two-phase exact top-K per group: the SCALE-SAFE form of q84.
# Phase 1 thins each language to ~2K expected survivors with the q78
# stateless hash test (rate = 2K/count, same fine md5-fold key u); phase
# 2 exact-ranks only the survivors by (u, doc_id).  The window now runs
# over ~2K rows per group instead of the whole corpus slice — per-group
# serialization stops being a scale concern while the result stays
# EXACTLY the K smallest-(u, doc_id) docs per group whenever >= K docs
# survive phase 1 (expected survivors 2K; shortfall probability falls
# exponentially in the oversample factor — raise it for tighter bounds).
# The threshold uses ceil over the full 2^31 fold domain (see q78's
# note): a coarse bucket grid quantized the rate to 0 for groups larger
# than K*buckets, which silently broke both the oversample margin and
# the exactness guarantee (round-3 review).  Equivalence to the direct
# single-window rank is asserted in tests/test_plans.py on the fixture
# corpus AND on a 300k-row single-group frame (the regime the old
# bucket-grid version got wrong).
# --------------------------------------------------------------------------
_TP_K = 40


def twophase_topk(d: DataFrame, k: int = _TP_K) -> DataFrame:
    """Two-phase exact top-K over a (doc_id, lang, n_chars) frame —
    module-level so tests can drive it with synthetic large groups."""
    from pyspark.sql.window import Window as W

    keyed = d.select(
        "doc_id", "lang", "n_chars",
        F.expr(_doc_key("spark")).alias("u"),
    )
    rates = d.groupBy("lang").agg(
        F.least(F.lit(1.0),
                F.lit(2.0 * k) / F.count(F.lit(1))).alias("rate"))
    survivors = (
        keyed.join(F.broadcast(rates), "lang")
        .filter(F.col("u")
                < F.ceil(F.col("rate") * _HASH_DOMAIN).cast("bigint"))
    )
    w = W.partitionBy("lang").orderBy("u", "doc_id")
    return (
        survivors.select("doc_id", "lang", "n_chars",
                         F.row_number().over(w).cast("bigint").alias("rk"))
        .filter(F.col("rk") <= k)
    )


@query(
    "q85_twophase_topk",
    f"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars, {_doc_key('duckdb')} AS u
        FROM documents
    ),
    rates AS (
        SELECT lang,
               least(1.0, 2.0 * {_TP_K} / COUNT(*)) AS rate
        FROM documents GROUP BY 1
    ),
    survivors AS (
        SELECT k.doc_id, k.lang, k.n_chars, k.u
        FROM keyed k JOIN rates r ON k.lang = r.lang
        WHERE k.u < CAST(ceil(r.rate * {_HASH_DOMAIN}) AS BIGINT)
    ),
    ranked AS (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY u, doc_id)
                   AS rk
        FROM survivors
    )
    SELECT doc_id, lang, n_chars, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_TP_K}
    """,
)
def q85_twophase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return twophase_topk(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# q87 — n-gram novelty / boilerplate scoring: the fraction of a document's
# distinct char-8-gram shingles that appear in NO other document (corpus
# document frequency == 1).  Low novelty = template/boilerplate-heavy
# documents — the standard complement to dedup in crawl curation (a page
# can be globally unique yet 95% navigation chrome).
#
# Plan shape at 100 TB: the token stream shuffles ONCE — a df==1
# shingle has exactly one owner, so MIN(doc_id) inside the df groupBy
# carries that owner through the same aggregation, and per-doc unique
# counts reduce the (already vocabulary-sized) df==1 set.  No join back
# against the token stream (the naive tok JOIN df formulation shuffles
# the full index twice and joins big-big); per-doc totals come straight
# from size(tl) on the un-exploded side, shuffle-free.
# --------------------------------------------------------------------------
@query(
    "q87_ngram_novelty",
    f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES_SQL.format(col='text')} AS tl
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(tl) AS t FROM sh),
    nu AS (
        SELECT doc_id, COUNT(*) AS n_unique FROM (
            SELECT MIN(doc_id) AS doc_id
            FROM tok GROUP BY t HAVING COUNT(*) = 1
        ) GROUP BY doc_id
    ),
    sz AS (SELECT doc_id, len(tl) AS n_shingles FROM sh)
    SELECT sz.doc_id, sz.n_shingles,
           CAST(COALESCE(nu.n_unique, 0) AS BIGINT) AS n_unique,
           ROUND(COALESCE(nu.n_unique, 0) * 1.0 / sz.n_shingles, 6)
               AS novelty
    FROM sz LEFT JOIN nu ON sz.doc_id = nu.doc_id
    """,
)
def q87_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import shingle_frames_cached

    # two consumers (token explode for the df index, per-doc size) —
    # r17 opt: read the session-memoized checkpointed shingle table
    # instead of building and pinning a PRIVATE copy of the same frame
    # per call (one gram walk and one storage copy per session, shared
    # with the whole dedup family; at 100 TB this is the written
    # shingle table)
    sh, _sig, _bands = shingle_frames_cached(spark, sf_dir)
    tok = sh.select("doc_id", F.explode("tl").alias("t"))
    nu = (tok.groupBy("t")
          .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("doc_id"))
          .filter(F.col("df") == 1)
          .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_unique")))
    sz = sh.select("doc_id", F.size("tl").cast("bigint").alias("n_shingles"))
    n_unique = F.coalesce("n_unique", F.lit(0))
    return (
        sz.join(nu, "doc_id", "left")
        .select("doc_id", "n_shingles",
                n_unique.cast("bigint").alias("n_unique"),
                F.round(n_unique * 1.0 / F.col("n_shingles"), 6)
                .alias("novelty"))
    )


# --------------------------------------------------------------------------
# q89 — bigram collocation lift: top-20 adjacent token pairs by
# association strength lift(a,b) = p(ab) / (p(a)·p(b)) with a minimum
# pair count — corpus phrase/collocation mining (the PMI family; lift is
# PMI's argument, kept un-logged so Spark and DuckDB agree bit-for-bit —
# log implementations may differ in the last ulp, pure division cannot).
#
# Plan shape: bigrams via transform(sequence) (a flatMap, no shuffle),
# one groupBy per gram size with partial aggs, totals via a 1-row
# broadcast cross join; top-20 is a TakeOrdered, never a full sort.
# --------------------------------------------------------------------------
_LIFT_MIN_COUNT = 5
_LIFT_K = 20


@query(
    "q89_bigram_lift",
    f"""
    WITH toks AS (
        SELECT string_split(text, ' ') AS ts FROM documents
    ),
    uni AS (
        SELECT t, COUNT(*) AS c FROM (SELECT unnest(ts) AS t FROM toks)
        GROUP BY t
    ),
    bi AS (
        SELECT bg, COUNT(*) AS c FROM (
            SELECT unnest(list_transform(
                generate_series(1, len(ts) - 1),
                i -> ts[i] || ' ' || ts[i + 1])) AS bg
            FROM toks
        ) GROUP BY bg
    ),
    n1 AS (SELECT SUM(c) * 1.0 AS n FROM uni),
    n2 AS (SELECT SUM(c) * 1.0 AS n FROM bi)
    SELECT bi.bg AS bigram, bi.c AS n_pair,
           ROUND((bi.c * 1.0 / n2.n)
                 / ((ua.c * 1.0 / n1.n) * (ub.c * 1.0 / n1.n)), 6)
               AS lift
    FROM bi, n1, n2
    JOIN uni ua ON ua.t = split_part(bi.bg, ' ', 1)
    JOIN uni ub ON ub.t = split_part(bi.bg, ' ', 2)
    WHERE bi.c >= {_LIFT_MIN_COUNT}
    ORDER BY lift DESC, bigram ASC
    LIMIT {_LIFT_K}
    """,
)
def q89_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("ts"))
    uni = (toks.select(F.explode("ts").alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    bi = (toks.select(F.explode(F.expr(
            "transform(sequence(1, size(ts) - 1),"
            " i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1)))"
          )).alias("bg"))
          .groupBy("bg").agg(F.count(F.lit(1)).alias("c_ab")))
    n1 = uni.agg((F.sum("c") * 1.0).alias("n1"))
    n2 = bi.agg((F.sum("c_ab") * 1.0).alias("n2"))
    ua, ub = uni.alias("ua"), uni.alias("ub")
    lift = ((F.col("c_ab") * 1.0 / F.col("n2"))
            / ((F.col("ua.c") * 1.0 / F.col("n1"))
               * (F.col("ub.c") * 1.0 / F.col("n1"))))
    return (
        bi.filter(F.col("c_ab") >= _LIFT_MIN_COUNT)
        .crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
        # no broadcast hint on the unigram sides: Catalyst size-gates the
        # build side, so a toy vocabulary broadcasts while a 100 TB
        # corpus's billion-token vocabulary degrades to a shuffle join
        # instead of OOMing the driver
        .join(ua, F.col("ua.t") == F.element_at(F.split("bg", " "), 1))
        .join(ub, F.col("ub.t") == F.element_at(F.split("bg", " "), 2))
        .select(F.col("bg").alias("bigram"),
                F.col("c_ab").alias("n_pair"),
                F.round(lift, 6).alias("lift"))
        .orderBy(F.desc("lift"), F.asc("bigram"))
        .limit(_LIFT_K)
    )


# --------------------------------------------------------------------------
# q90 — pattern redaction scan: count and redact a configured pattern
# list (PII shapes: emails, long digit runs; plus a named-entity
# stand-in that actually fires on the fixture corpus) and emit per-doc
# match counts with the md5 of the redacted text.  The production form
# of q65's blocklist filter — redact-in-place instead of drop, so
# downstream token counts stay comparable.
#
# All JVM-side: regexp_count + nested regexp_replace, one projection, no
# shuffle before the per-doc output.  The pattern list is the config
# surface; patterns are chosen from the RE2 ∩ java.util.regex common
# subset so the oracle is bit-identical.
# --------------------------------------------------------------------------
_REDACT_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("digits", "[0-9]{6,}"),
    ("entity", "customer( customer)*"),  # fixture stand-in for NER spans
)
_REDACT_TOKEN = "[REDACTED]"


@query(
    "q90_pattern_redact",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_REDACT_PATTERNS[0][1]}'))
                AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '{_REDACT_PATTERNS[1][1]}'))
                AS BIGINT) AS n_digits,
           CAST(len(regexp_extract_all(text, '{_REDACT_PATTERNS[2][1]}'))
                AS BIGINT) AS n_entity,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{_REDACT_PATTERNS[0][1]}', '{_REDACT_TOKEN}', 'g'),
               '{_REDACT_PATTERNS[1][1]}', '{_REDACT_TOKEN}', 'g'),
               '{_REDACT_PATTERNS[2][1]}', '{_REDACT_TOKEN}', 'g'))
               AS redacted_md5
    FROM documents
    WHERE len(regexp_extract_all(text, '{_REDACT_PATTERNS[0][1]}'))
          + len(regexp_extract_all(text, '{_REDACT_PATTERNS[1][1]}'))
          + len(regexp_extract_all(text, '{_REDACT_PATTERNS[2][1]}')) > 0
    """,
)
def q90_pattern_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pats = [p for _, p in _REDACT_PATTERNS]
    counts = [F.regexp_count("text", F.lit(p)).cast("bigint") for p in pats]
    red = F.col("text")
    for p in pats:
        red = F.regexp_replace(red, p, _REDACT_TOKEN)
    return (
        d.select(
            "doc_id",
            counts[0].alias("n_email"),
            counts[1].alias("n_digits"),
            counts[2].alias("n_entity"),
            F.md5(red).alias("redacted_md5"),
        )
        .filter(F.col("n_email") + F.col("n_digits") + F.col("n_entity") > 0)
    )


# --------------------------------------------------------------------------
# q91 — temperature-based corpus mixture sampling (the mT5/T5 alpha-
# sampling shape): resample languages to p_l ∝ c_l^alpha so low-resource
# languages are up-weighted relative to their raw counts, with a total
# document budget.  alpha is fixed at 0.5 BY DESIGN: sqrt is correctly
# rounded in IEEE 754 (bit-identical across Spark and DuckDB) where a
# general pow(x, alpha) can differ in the last ulp and flip a hash-
# threshold comparison — the determinism contract picks the alpha.
#
# Same stateless plan as q78: a tiny per-language rate table (keep-rate
# = budget share / count, capped at 1) broadcasts back over the corpus
# and each doc passes a pure md5-fold hash test — no window, no rand(),
# reproducible on any partitioning.
# --------------------------------------------------------------------------
_TEMP_BUDGET = 300


@query(
    "q91_temperature_sample",
    f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(sqrt(c * 1.0)) AS z FROM counts),
    rates AS (
        SELECT lang,
               least(1.0, {_TEMP_BUDGET} * (sqrt(c * 1.0) / tot.z) / c)
                   AS rate
        FROM counts, tot
    ),
    keyed AS (
        SELECT doc_id, lang, n_chars, {_doc_key('duckdb')} AS u
        FROM documents
    )
    SELECT k.doc_id, k.lang, k.n_chars
    FROM keyed k JOIN rates r ON k.lang = r.lang
    WHERE k.u < CAST(ceil(r.rate * {_HASH_DOMAIN}) AS BIGINT)
    """,
)
def q91_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(F.sum(F.sqrt(F.col("c") * 1.0)).alias("z"))
    rates = (counts.crossJoin(F.broadcast(tot))
             .select("lang",
                     F.least(F.lit(1.0),
                             F.lit(float(_TEMP_BUDGET))
                             * (F.sqrt(F.col("c") * 1.0) / F.col("z"))
                             / F.col("c")).alias("rate")))
    keyed = d.select("doc_id", "lang", "n_chars",
                     F.expr(_doc_key("spark")).alias("u"))
    return (
        keyed.join(F.broadcast(rates), "lang")
        .filter(F.col("u")
                < F.ceil(F.col("rate") * _HASH_DOMAIN).cast("bigint"))
        .select("doc_id", "lang", "n_chars")
    )


# --------------------------------------------------------------------------
# q95 — exact-proportion stratified split: assign every document to
# train/val/test with EXACT 80/10/10 counts per language stratum.  The
# q73 hash split is stateless but binomial (realized proportions wobble);
# eval-set construction wants the ratios exact per stratum, reproducibly.
# Rank docs within each language by the q84 uniform order (md5(doc_id),
# doc_id), then pure-integer threshold arithmetic (rk*10 <= n*8 -> train)
# — no floating point anywhere near the boundary, so the engines cannot
# disagree on a cutoff row.
#
# Scale trade: same per-group window as q84 — acceptable for bounded
# strata (languages), WRONG for unbounded keys; there the q85 two-phase
# pattern or q73's stateless split applies.  The count is carried by a
# window aggregate over the same partition, so one sort serves both.
# --------------------------------------------------------------------------
@query(
    "q95_stratified_split",
    """
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk,
           CASE WHEN rk * 10 <= n * 8 THEN 'train'
                WHEN rk * 10 <= n * 9 THEN 'val'
                ELSE 'test' END AS split
    FROM ranked
    """,
)
def q95_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    wall = W.partitionBy("lang")
    ranked = d.select(
        "doc_id", "lang",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(wall).alias("n"))
    return ranked.select(
        "doc_id", "lang", "rk",
        F.when(F.col("rk") * 10 <= F.col("n") * 8, "train")
        .when(F.col("rk") * 10 <= F.col("n") * 9, "val")
        .otherwise("test").alias("split"))


# --------------------------------------------------------------------------
# q96 — per-document LM-quality proxy: mean bigram lift of the document's
# adjacent token pairs under the CORPUS bigram statistics (the q89
# collocation table, un-filtered).  Documents whose transitions are
# corpus-typical score high; token-salad / shuffled text scores near 1
# (independence) — the classic cheap stand-in for model-based perplexity
# filtering, computable without any trained artifact.
#
# Plan shape: corpus unigram/bigram stats are one explode + groupBy each
# (the q89 DAG); the per-doc pass joins doc bigram OCCURRENCES to the
# vocabulary-bounded lift table on the bigram key and reduces per doc —
# Catalyst size-gates the lift-table broadcast exactly as q89 documents.
# Per-element lifts are identical IEEE doubles on both engines (division
# only); the per-doc mean sums them through DECIMAL(30,12) so the reduce
# is order-independent (the q08/q75 contract).
# --------------------------------------------------------------------------
_BG_EXPR_SQL = ("list_transform(generate_series(1, len(ts) - 1),"
                " i -> ts[i] || ' ' || ts[i + 1])")
_BG_EXPR_SPARK = ("transform(sequence(1, size(ts) - 1),"
                  " i -> concat_ws(' ', element_at(ts, i),"
                  " element_at(ts, i + 1)))")


@query(
    "q96_doc_bigram_lift",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    uni AS (
        SELECT t, COUNT(*) AS c FROM (SELECT unnest(ts) AS t FROM toks)
        GROUP BY t
    ),
    bi AS (
        SELECT bg, COUNT(*) AS c FROM (
            SELECT unnest({_BG_EXPR_SQL}) AS bg FROM toks
        ) GROUP BY bg
    ),
    n1 AS (SELECT SUM(c) * 1.0 AS n FROM uni),
    n2 AS (SELECT SUM(c) * 1.0 AS n FROM bi),
    lift AS (
        SELECT bi.bg,
               (bi.c * 1.0 / n2.n)
               / ((ua.c * 1.0 / n1.n) * (ub.c * 1.0 / n1.n)) AS lift
        FROM bi, n1, n2
        JOIN uni ua ON ua.t = split_part(bi.bg, ' ', 1)
        JOIN uni ub ON ub.t = split_part(bi.bg, ' ', 2)
    ),
    docbg AS (
        SELECT doc_id, unnest({_BG_EXPR_SQL}) AS bg FROM toks
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(CAST(l.lift AS DECIMAL(30,12))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_lift
    FROM docbg d JOIN lift l ON l.bg = d.bg
    GROUP BY d.doc_id
    """,
)
def q96_doc_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ts"))
    uni = (toks.select(F.explode("ts").alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    bi = (toks.select(F.explode(F.expr(_BG_EXPR_SPARK)).alias("bg"))
          .groupBy("bg").agg(F.count(F.lit(1)).alias("c_ab")))
    n1 = uni.agg((F.sum("c") * 1.0).alias("n1"))
    n2 = bi.agg((F.sum("c_ab") * 1.0).alias("n2"))
    ua, ub = uni.alias("ua"), uni.alias("ub")
    lift_val = ((F.col("c_ab") * 1.0 / F.col("n2"))
                / ((F.col("ua.c") * 1.0 / F.col("n1"))
                   * (F.col("ub.c") * 1.0 / F.col("n1"))))
    lift = (
        bi.crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
        # no broadcast hint on the unigram sides — q89's size-gating note
        .join(ua, F.col("ua.t") == F.element_at(F.split("bg", " "), 1))
        .join(ub, F.col("ub.t") == F.element_at(F.split("bg", " "), 2))
        .select("bg", lift_val.alias("lift")))
    docbg = toks.select("doc_id", F.explode(F.expr(_BG_EXPR_SPARK)).alias("bg"))
    return (
        docbg.join(lift, "bg")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
             (F.sum(F.col("lift").cast("decimal(30,12)")).cast("double")
              / F.count(F.lit(1))).alias("__avg"))
        .select("doc_id", "n_bigrams", F.round("__avg", 6).alias("avg_lift"))
    )


# --------------------------------------------------------------------------
# q107 — line-level corpus deduplication (the C4/RefinedWeb recipe: drop
# every repeated line corpus-wide, keeping only its first occurrence).
# The fixture has no newlines, so a "line" is a fixed 10-token chunk —
# deterministic in both engines; on a real corpus the chunker is
# split('\n') and everything downstream is unchanged.
#
# Ownership = global MIN(doc_id) per distinct line; a document keeps the
# distinct lines it owns.  Per doc: total line instances and kept count.
#
# Scale: explode is a pure flatMap (no shuffle); ownership is one groupBy
# on the line hash (uniform key — lines ARE the dedup unit) and the join
# back is on the same key, so AQE reuses the exchange.  At 100 TB the line
# strings never need to shuffle twice: hash the line once and carry
# (line_hash, doc_id) only — done here via the md5 of the chunk.
# --------------------------------------------------------------------------
@query(
    "q107_line_dedup",
    """
    WITH ex AS (
        SELECT doc_id,
               md5(array_to_string(words[(i*10+1):(i*10+10)], ' ')) AS line_h
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             UNNEST(generate_series(0, CAST(ceil(len(words)/10.0) AS INT) - 1))
                 AS t(i)
    ),
    owner AS (SELECT line_h, MIN(doc_id) AS owner_doc FROM ex GROUP BY line_h)
    SELECT ex.doc_id,
           COUNT(*) AS n_lines,
           COUNT(DISTINCT CASE WHEN o.owner_doc = ex.doc_id
                               THEN ex.line_h END) AS n_kept
    FROM ex JOIN owner o ON ex.line_h = o.line_h
    GROUP BY ex.doc_id
    """,
)
def q107_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_chunks = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.md5(F.array_join(F.slice(words, i * 10 + 1, 10), " ")),
    )
    ex = d.select("doc_id", F.explode(chunks).alias("line_h"))
    owner = ex.groupBy("line_h").agg(F.min("doc_id").alias("owner_doc"))
    return (
        ex.join(owner, "line_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct(
                F.when(F.col("owner_doc") == F.col("doc_id"),
                       F.col("line_h"))).alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# q108 — TF-IDF keyword extraction: the top-scoring term per document,
# score = tf * ln(N / df).  The ordering key is ROUND(score, 6): ln() may
# differ by one ulp between java.lang.Math and libm, and an unrounded
# order-by could flip ranks between engines on near-equal scores; rounding
# absorbs the ulp, and exact ties fall to the term-ascending tiebreak
# (same rule both engines).
#
# Scale: tf is a (doc, term) groupBy — the natural shuffle; df is a
# term-level aggregate of the SAME grouped frame (no second pass over raw
# text), and at |vocab| << |corpus| the df map broadcasts.  The final
# per-doc argmax is max_by on the doc-partitioned frame — a groupBy, not a
# global sort.
# --------------------------------------------------------------------------
@query(
    "q108_tfidf_keywords",
    """
    WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term <> ''
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
                   AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term AS top_term, tf, df, score
    FROM (SELECT *, ROW_NUMBER() OVER
              (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
          FROM scored)
    WHERE rk = 1
    """,
)
def q108_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    terms = (d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
             .filter(F.col("term") != ""))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # driver scalar: one number, not a collect of rows
    scored = (
        tf.join(F.broadcast(df_), "term")
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")),
                    6))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("doc_id", F.col("term").alias("top_term"),
                    "tf", "df", "score"))


# --------------------------------------------------------------------------
# q116 — population-stability-index drift detection between two corpus
# snapshots (here: even/odd doc_id halves standing in for yesterday's and
# today's crawl): per-language PSI contribution
# (p_cur - p_ref) * ln(p_cur / p_ref), plus each side's share.  The
# standard "did my training-mix shift" gate before a data refresh ships.
#
# The shares are exact rationals evaluated identically in both engines;
# ln() may differ in the last ulp between java and libm, so contributions
# are ROUND(·, 6) — the q108 rule.
#
# Shape: one scan, one 5-key groupBy with conditional partial counts, a
# broadcast of the 1-row totals — no data shuffle at all.
# --------------------------------------------------------------------------
@query(
    "q116_psi_drift",
    """
    WITH counts AS (
        SELECT lang,
               COUNT(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS n_ref,
               COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_cur
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts)
    SELECT lang,
           ROUND(CAST(n_ref AS DOUBLE) / t_ref, 6) AS p_ref,
           ROUND(CAST(n_cur AS DOUBLE) / t_cur, 6) AS p_cur,
           ROUND((CAST(n_cur AS DOUBLE) / t_cur
                  - CAST(n_ref AS DOUBLE) / t_ref)
                 * ln((CAST(n_cur AS DOUBLE) / t_cur)
                      / (CAST(n_ref AS DOUBLE) / t_ref)), 6)
               AS psi_contrib
    FROM counts CROSS JOIN tot
    """,
)
def q116_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(
        F.count(F.when(F.col("doc_id") % 2 == 0, 1)).alias("n_ref"),
        F.count(F.when(F.col("doc_id") % 2 == 1, 1)).alias("n_cur"),
    )
    tot = counts.agg(F.sum("n_ref").alias("t_ref"),
                     F.sum("n_cur").alias("t_cur"))
    p_ref = F.col("n_ref").cast("double") / F.col("t_ref")
    p_cur = F.col("n_cur").cast("double") / F.col("t_cur")
    return (counts.crossJoin(F.broadcast(tot))  # 5 rows x 1 row
            .select("lang",
                    F.round(p_ref, 6).alias("p_ref"),
                    F.round(p_cur, 6).alias("p_cur"),
                    F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6)
                    .alias("psi_contrib")))


# --------------------------------------------------------------------------
# q118 — weighted sampling without replacement (Efraimidis–Spirakis): per
# source stratum, draw 3 documents with inclusion probability ∝ n_chars.
# The ES key u^(1/w) is rank-equivalent to ln(u)/w, which is what both
# engines order by; u is a deterministic uniform from the md5 fold
# ((h+1)/(P+1) ∈ (0,1]), so the "randomness" is reproducible across
# runs, engines and retried tasks — the q102/q73 hash-sampling doctrine
# extended to weighted draws.
#
# ln() is the one transcendental: the ordering key is ROUND(·, 12) so a
# last-ulp java-vs-libm divergence cannot flip ranks (q108 rule; 12
# digits because keys are O(1e-4) and need headroom before the
# tiebreak).  Shape: one window per stratum — same as q102.
# --------------------------------------------------------------------------
@query(
    "q118_weighted_sample",
    f"""
    SELECT source, doc_id, n_chars
    FROM (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY ROUND(
                       ln(({_HEX_FOLD_DUCK} + 1.0) / 2147483648.0)
                       / n_chars, 12) DESC, doc_id) AS rk
        FROM documents WHERE n_chars > 0
    ) WHERE rk <= 3
    """,
)
def q118_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (F.expr(_HEX_FOLD_SPARK) + 1.0) / 2147483648.0
    key = F.round(F.log(u) / F.col("n_chars"), 12)
    w = W.partitionBy("source").orderBy(key.desc(), F.col("doc_id"))
    return (d.select("source", "doc_id", "n_chars",
                     F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= 3).drop("rk"))


# --------------------------------------------------------------------------
# q121 — token-distribution Shannon entropy per language: H = -Σ p ln p
# over each language's token frequencies, plus the perplexity-style
# exp(H) "effective vocabulary".  The corpus-health metric next to PSI
# (q116): entropy collapse flags template spam before training sees it.
# ln rounding per the q108 rule; p is an exact rational.
#
# Shape: (lang, term) groupBy with map-side partials, then a per-lang
# fold — the per-row p*ln(p) terms must be rounded BEFORE the sum (both
# engines sum identical rounded doubles via decimal accumulation).
# --------------------------------------------------------------------------
@query(
    "q121_token_entropy",
    """
    WITH tf AS (
        SELECT lang, term, COUNT(*) AS n
        FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term <> '' GROUP BY lang, term
    ),
    tot AS (SELECT lang, SUM(n) AS t FROM tf GROUP BY lang)
    SELECT tf.lang,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(-ROUND((CAST(tf.n AS DOUBLE) / tot.t)
                                * ln(CAST(tf.n AS DOUBLE) / tot.t), 9)
                         AS DECIMAL(30,9))) AS DOUBLE) AS entropy
    FROM tf JOIN tot ON tf.lang = tot.lang
    GROUP BY tf.lang
    """,
)
def q121_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tf = (d.select("lang", F.explode(F.split("text", " ")).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n")))
    tot = tf.groupBy("lang").agg(F.sum("n").alias("t"))
    p = F.col("n").cast("double") / F.col("t")
    term = (-F.round(p * F.log(p), 9)).cast("decimal(30,9)")
    return (tf.join(F.broadcast(tot), "lang")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
                 F.sum(term).cast("double").alias("entropy")))


# --------------------------------------------------------------------------
# q127 — quality-score calibration curve: bucket the corpus into score
# deciles (ntile over (quality, doc_id) — the doc_id tiebreak makes the
# decile boundaries deterministic) and report each decile's mean score
# and its rate of an independent "gold" proxy (docs longer than the
# corpus median).  The standard check that a filter score is monotone
# against an external signal before its threshold ships; reuses the
# shared _SCORED_SQL relation, so the score is the production one.
# --------------------------------------------------------------------------
@query(
    "q127_score_calibration",
    f"""
    {_SCORED_SQL},
    {sql_spark_pct('documents', 'n_chars', [('0.5', 'm')], prefix='med')},
    labeled AS (
        SELECT s.doc_id, s.quality,
               CASE WHEN d.n_chars > med.m THEN 1 ELSE 0 END AS gold
        FROM scored s JOIN documents d ON s.doc_id = d.doc_id
        CROSS JOIN med
    ),
    bucketed AS (
        SELECT quality, gold,
               NTILE(10) OVER (ORDER BY quality, doc_id) AS decile
        FROM labeled
    )
    SELECT decile, COUNT(*) AS n_docs,
           ROUND(AVG(quality), 6) AS avg_quality,
           ROUND(AVG(CAST(gold AS DOUBLE)), 6) AS gold_rate
    FROM bucketed GROUP BY decile
    """,
)
def q127_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import global_ntile

    require_unique_doc_ids(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    # keep=: the scorer carries n_chars through its 1:1 projection, so
    # the old corpus self-join on doc_id is gone (r17, guide §3)
    scored = _scored_quality(d, keep=("n_chars",))
    med = d.agg(F.expr("percentile(n_chars, 0.5)").alias("m"))
    labeled = (scored
               .crossJoin(F.broadcast(med))
               .select("doc_id", "quality",
                       F.when(F.col("n_chars") > F.col("m"), 1)
                       .otherwise(0).alias("gold")))
    # scale-safe ntile: two-pass range-partitioned bucketing above 1M
    # rows, plain window below (bit-identical — doc_id tiebreak).
    # labeled is row-for-row the documents table (1:1 score + 1:1 join +
    # 1-row cross), so the zero-column parquet count stands in for the
    # probe scan of the whole scoring pipeline.
    bucketed = global_ntile(
        labeled, 10, [("quality", True), ("doc_id", True)], "decile",
        n_rows=table_rows_cached(spark, sf_dir, "documents"))
    return (bucketed.groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("quality"), 6).alias("avg_quality"),
                 F.round(F.avg(F.col("gold").cast("double")), 6)
                 .alias("gold_rate")))


# --------------------------------------------------------------------------
# q128 — dup-detector agreement (Cohen's kappa): how much do the SimHash
# (q48) and MinHash-LSH (q47) near-dup detectors agree beyond chance?
# Each doc is labeled "flagged" by a detector if it appears in any of
# that detector's candidate pairs; kappa = (po - pe) / (1 - pe) from the
# 2x2 confusion table.  Both detectors are deterministic hash pipelines,
# so the whole diagnostic — table and kappa — hash-matches DuckDB.
# The operator generalizes to any pair of labeling pipelines (model A vs
# model B, heuristic vs classifier).
# --------------------------------------------------------------------------
def _q128_oracle() -> str:
    from .dedup import (ORACLES as dedup_oracles, _SIMHASH_RECOMBINE,
                        _bit_sum_exprs)

    return f"""
    WITH mh AS (
        SELECT DISTINCT a_id AS doc_id
        FROM ({dedup_oracles['q47_minhash_lsh']})
        UNION SELECT DISTINCT b_id FROM ({dedup_oracles['q47_minhash_lsh']})
    ),
    tok128 AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    sums128 AS (
        SELECT doc_id, {', '.join(_bit_sum_exprs('duckdb'))}
        FROM tok128 GROUP BY doc_id
    ),
    sig128 AS (
        SELECT doc_id, CAST({_SIMHASH_RECOMBINE} AS BIGINT) AS simhash
        FROM sums128
    ),
    sh AS (
        SELECT doc_id FROM sig128
        WHERE simhash IN (SELECT simhash FROM sig128
                          GROUP BY simhash HAVING COUNT(*) >= 2)
    ),
    lab AS (
        SELECT d.doc_id,
               CASE WHEN mh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS a,
               CASE WHEN sh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS b
        FROM documents d
        LEFT JOIN mh ON d.doc_id = mh.doc_id
        LEFT JOIN sh ON d.doc_id = sh.doc_id
    ),
    cm AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11,
               SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n10,
               SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n01,
               SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00
        FROM lab
    )
    SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           ROUND((CAST(n11 + n00 AS DOUBLE) / n
                  - (CAST((n11+n10) AS DOUBLE)*(n11+n01)
                     + CAST((n01+n00) AS DOUBLE)*(n10+n00)) / (CAST(n AS DOUBLE)*n))
                 / (1.0 - (CAST((n11+n10) AS DOUBLE)*(n11+n01)
                           + CAST((n01+n00) AS DOUBLE)*(n10+n00))
                          / (CAST(n AS DOUBLE)*n)), 6) AS kappa
    FROM cm
    """


@query("q128_detector_agreement", _q128_oracle())
def q128_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near_dup_pairs = the SESSION-SHARED checkpointed q47 pair set
    # (consumed by q56/q86/q94 too) — calling q47 directly would re-run
    # the whole LSH DAG per invocation (measured 8.1 s vs 4.6 s at sf0.1)
    from .dedup import near_dup_pairs, simhash_sig_cached

    d = load(spark, sf_dir, "documents")
    mh_pairs = near_dup_pairs(spark, sf_dir)
    mh = (mh_pairs.select(F.col("a_id").alias("doc_id"))
          .unionByName(mh_pairs.select(F.col("b_id").alias("doc_id")))
          .distinct())
    sig = simhash_sig_cached(spark, sf_dir)  # shared with q48/q167 (r15)
    from pyspark.sql.window import Window as W
    sh = (sig.withColumn("n_bucket",
                         F.count(F.lit(1)).over(W.partitionBy("simhash")))
          .filter(F.col("n_bucket") >= 2).select("doc_id"))
    lab = (d.select("doc_id")
           .join(mh.withColumn("a", F.lit(1)), "doc_id", "left")
           .join(sh.withColumn("b", F.lit(1)), "doc_id", "left")
           .select(F.coalesce("a", F.lit(0)).alias("a"),
                   F.coalesce("b", F.lit(0)).alias("b")))
    cm = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)).alias("n11"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0)).alias("n10"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0)).alias("n01"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0)).alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = ((F.col("n11") + F.col("n10")).cast("double")
          * (F.col("n11") + F.col("n01"))
          + (F.col("n01") + F.col("n00")).cast("double")
          * (F.col("n10") + F.col("n00"))) / (n * n)
    return cm.select(
        F.col("n11").cast("bigint").alias("n11"),
        F.col("n10").cast("bigint").alias("n10"),
        F.col("n01").cast("bigint").alias("n01"),
        F.col("n00").cast("bigint").alias("n00"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"))


# --------------------------------------------------------------------------
# q139 — split-contamination audit: after the q73 hash split, how much of
# the held-out sets' char-8-gram shingle mass already appears in train?
# The hygiene check a split must pass before eval numbers mean anything
# (high overlap here = the template-duplicate structure leaking across
# splits; the q79 decontamination operator is the remedy).  Shares the
# q47/q76 shingle space and the q73 bucket function, so the audit
# measures exactly what the production operators see.
# --------------------------------------------------------------------------
@query(
    "q139_split_contamination",
    f"""
    WITH assigned AS (
        SELECT doc_id, text,
               CASE WHEN {_md5_bucket('duckdb', 'doc_id')} < 80 THEN 'train'
                    WHEN {_md5_bucket('duckdb', 'doc_id')} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    shingles AS (
        SELECT DISTINCT split, UNNEST({_SHINGLES_DUCK_Q139}) AS sh
        FROM assigned
    ),
    train_sh AS (SELECT sh FROM shingles WHERE split = 'train')
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(CASE WHEN sh IN (SELECT sh FROM train_sh)
                           THEN 1 END) AS BIGINT) AS n_in_train,
           ROUND(CAST(COUNT(CASE WHEN sh IN (SELECT sh FROM train_sh)
                                 THEN 1 END) AS DOUBLE) / COUNT(*), 6)
               AS contamination
    FROM shingles WHERE split <> 'train'
    GROUP BY split
    """,
)
def q139_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import shingle_frames_cached

    bucket = F.expr(_md5_bucket("spark", "doc_id"))
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val").otherwise("test"))
    # Single-pass shape: the former distinct -> train/held branches ->
    # left join re-ran the gram explode per branch and shuffled three
    # times (distinct, join, final agg).  Per-shingle split-presence
    # flags need ONE groupBy(sh) over the raw explode (max-of-indicator
    # == distinct presence), and the contamination report is then a
    # 1-row global aggregate stacked to (split, metrics) rows — nothing
    # downstream is bigger than the distinct-shingle table.  r17 opt:
    # the gram arrays come from the session-memoized checkpointed
    # shingle table (the split key derives from doc_id, which rides the
    # memo frame), so the corpus's heaviest transform no longer re-runs
    # here at all.
    sh_memo, _sig, _bands = shingle_frames_cached(spark, sf_dir)
    grams = sh_memo.select(split.alias("split"),
                           F.explode("tl").alias("sh"))
    per = grams.groupBy("sh").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias("tr"),
        F.max(F.when(F.col("split") == "val", 1).otherwise(0)).alias("va"),
        F.max(F.when(F.col("split") == "test", 1).otherwise(0)).alias("te"))
    tot = per.agg(
        F.sum("va").alias("va_n"),
        F.sum(F.col("va") * F.col("tr")).alias("va_hit"),
        F.sum("te").alias("te_n"),
        F.sum(F.col("te") * F.col("tr")).alias("te_hit"))
    return (tot.selectExpr(
        "stack(2, 'val', va_n, va_hit, 'test', te_n, te_hit)"
        " AS (split, n_shingles, n_in_train)")
        .filter(F.col("n_shingles") > 0)  # empty split: no row, as before
        .select("split",
                F.col("n_shingles").cast("bigint").alias("n_shingles"),
                F.col("n_in_train").cast("bigint").alias("n_in_train"),
                F.round(F.col("n_in_train").cast("double")
                        / F.col("n_shingles"), 6).alias("contamination")))


# --------------------------------------------------------------------------
# q141 — unigram-LM log-probability (perplexity proxy).  Train a unigram
# model on the whole corpus (token relative frequencies), score every doc
# as mean negative log-likelihood per token, report per-source corpus
# perplexity statistics.  This is the classic CCNet-style quality signal,
# minus the external KenLM: the LM is the corpus itself.
#
# Shape: one token explode -> vocab-sized groupBy (map-side partials);
# token->freq join is an equi-join on the token (uniform key; at 100 TB
# the vocab table is GBs and broadcast-able); the per-doc reduce shuffles
# on doc_id once.  ln() per row is IEEE-identical across engines; the
# cross-engine sum uses the round-9 + decimal trick from q121.
# --------------------------------------------------------------------------
def _q141_round(places: int, div: str) -> str:
    """Half-up rounding of the per-doc mean nll ``s / c`` to ``places``
    decimals, in units of 10^-places, where ``s`` is the doc's exact
    term sum in units of 10^-9.  Integer arithmetic (``div`` is the
    engine's integer division), so both engines round the exact
    quotient: rounding a double mean first let DuckDB and Spark split
    on a value like 3.4367709674999998."""
    k = 10 ** (9 - places)
    return f"(2 * s + {k} * c) {div} ({2 * k} * c)"


@query(
    "q141_unigram_logprob",
    f"""
    WITH tok AS (
        SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS t
        FROM documents
    ),
    tokf AS (SELECT doc_id, source, t FROM tok WHERE t <> ''),
    freq AS (SELECT t, COUNT(*) AS n FROM tokf GROUP BY t),
    tot AS (SELECT SUM(n) AS tot FROM freq),
    perdoc AS (
        SELECT doc_id, source,
               SUM(CAST(CAST(ROUND(-ln(CAST(freq.n AS DOUBLE) / tot.tot), 9)
                             AS DECIMAL(30,9)) * 1000000000 AS BIGINT)) AS s,
               COUNT(*) AS c
        FROM tokf JOIN freq ON tokf.t = freq.t CROSS JOIN tot
        GROUP BY doc_id, source
    ),
    r AS (
        SELECT source, {_q141_round(9, "//")} AS r9,
               {_q141_round(6, "//")} AS r6
        FROM perdoc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r9) AS DOUBLE) / 1e9 / COUNT(*) AS avg_nll,
           CAST(MIN(r6) AS DOUBLE) / 1e6 AS min_nll,
           CAST(MAX(r6) AS DOUBLE) / 1e6 AS max_nll
    FROM r GROUP BY source
    """,
)
def q141_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = (d.select("doc_id", "source",
                    F.explode(F.split("text", " ")).alias("t"))
           .filter(F.col("t") != ""))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.agg(F.sum("n").alias("tot"))  # 1 row — broadcast crossJoin
    p = F.col("n").cast("double") / F.col("tot")
    # exact term in units of 10^-9: decimal(18,9) x 10^9 keeps full scale
    term = (F.round(-F.log(p), 9).cast("decimal(18,9)")
            * 1000000000).cast("bigint")
    perdoc = (tok.join(freq, "t")
              .crossJoin(F.broadcast(tot))
              .groupBy("doc_id", "source")
              .agg(F.sum(term).alias("s"), F.count(F.lit(1)).alias("c"))
              .select("source", F.expr(_q141_round(9, "div")).alias("r9"),
                      F.expr(_q141_round(6, "div")).alias("r6")))
    return (perdoc.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 (F.sum("r9").cast("double") / 1e9
                  / F.count(F.lit(1))).alias("avg_nll"),
                 (F.min("r6").cast("double") / 1e6).alias("min_nll"),
                 (F.max("r6").cast("double") / 1e6).alias("max_nll")))


# --------------------------------------------------------------------------
# q142 — data-driven stopword discovery: tokens whose document frequency
# exceeds half the corpus.  The output is the seed list a curation pipeline
# feeds back into quality scoring (q40/q44 use a hand-picked list; this is
# how that list is derived at corpus scale).
#
# Shape: explode -> DISTINCT (doc_id, token) -> vocab-sized groupBy.  The
# distinct and the groupBy hash on the same key pair/prefix; the scalar
# doc count broadcasts.  Integer counts only — no float drift.
# --------------------------------------------------------------------------
@query(
    "q142_stopword_discovery",
    """
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    df AS (
        SELECT t, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
        FROM tok WHERE t <> '' GROUP BY t
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT t AS token, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
           ROUND(CAST(df AS DOUBLE) / nd.n_docs, 6) AS df_ratio
    FROM df CROSS JOIN nd
    WHERE df * 2 > nd.n_docs
    """,
)
def q142_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = (d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
           .filter(F.col("t") != ""))
    df = tok.groupBy("t").agg(
        F.countDistinct("doc_id").alias("df"), F.count(F.lit(1)).alias("cf"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (df.crossJoin(F.broadcast(nd))
            .filter(F.col("df") * 2 > F.col("n_docs"))
            .select(F.col("t").alias("token"),
                    F.col("df").cast("bigint").alias("df"),
                    F.col("cf").cast("bigint").alias("cf"),
                    F.round(F.col("df").cast("double") / F.col("n_docs"), 6)
                    .alias("df_ratio")))


# --------------------------------------------------------------------------
# q143 — BPE merge-candidate counting: one iteration of byte-pair-encoding
# vocabulary induction.  Every adjacent character pair inside every word,
# counted corpus-wide; the top pair is the next BPE merge.  Tokenizer
# training is a corpus-scale counting job — exactly this shape, iterated.
#
# Shape: two explodes (words, then positions via a codegen'd sequence —
# no Python), one vocab-of-pairs groupBy, then a top-20 over the pair
# vocabulary (ORDER BY count DESC with a lexicographic tiebreak; the pair
# vocabulary is <= alphabet^2 rows, so the final window is trivially
# small — the corpus-sized stages are all hash-partitioned).
# --------------------------------------------------------------------------
@query(
    "q143_bpe_pair_counts",
    """
    WITH words AS (
        SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    pairs AS (
        SELECT UNNEST(list_transform(range(1, len(w)),
                                     i -> substr(w, i, 2))) AS pair
        FROM words WHERE len(w) >= 2
    ),
    counted AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
    SELECT pair, CAST(n AS BIGINT) AS n, CAST(rk AS INTEGER) AS rk
    FROM (SELECT pair, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk
          FROM counted)
    WHERE rk <= 20
    """,
)
def q143_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    words = (d.select(F.explode(F.split("text", " ")).alias("w"))
             .filter(F.length("w") >= 2))
    pairs = words.select(F.explode(F.expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
    )).alias("pair"))
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    rk = F.row_number().over(
        W.orderBy(F.desc("n"), F.asc("pair"))).alias("rk")
    return (counted.select("pair", F.col("n").cast("bigint").alias("n"), rk)
            .filter(F.col("rk") <= 20)
            .select("pair", "n", F.col("rk").cast("int").alias("rk")))


# --------------------------------------------------------------------------
# q144 — deterministic training order: the global document shuffle a
# trainer consumes.  Each doc hashes to one of 8 shards; within a shard
# docs are ordered by their md5 fold (doc_id tiebreak), and the global
# step interleaves shards round-robin.  Pure hash arithmetic — re-running
# on any partitioning or cluster yields byte-identical curricula.
#
# Shape: the window partitions BY SHARD, so at 100 TB each shard's sort is
# an independent range-partitioned sort (shard count scales with the
# cluster); no global single-partition window anywhere.
# --------------------------------------------------------------------------
@query(
    "q144_training_order",
    f"""
    WITH h AS (
        SELECT doc_id, {_HEX_FOLD_DUCK} AS hv FROM documents
    ),
    ranked AS (
        SELECT doc_id, hv % 8 AS shard,
               ROW_NUMBER() OVER (PARTITION BY hv % 8
                                  ORDER BY hv, doc_id) AS rk
        FROM h
    )
    SELECT doc_id, CAST(shard AS INTEGER) AS shard,
           CAST((rk - 1) * 8 + shard AS BIGINT) AS step
    FROM ranked
    """,
)
def q144_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    h = d.select("doc_id", F.expr(_HEX_FOLD_SPARK).alias("hv"))
    shard = (F.col("hv") % 8).alias("shard")
    rk = F.row_number().over(
        W.partitionBy(F.col("hv") % 8).orderBy("hv", "doc_id"))
    return (h.select("doc_id", shard, rk.alias("rk"))
            .select("doc_id", F.col("shard").cast("int").alias("shard"),
                    ((F.col("rk") - 1) * 8 + F.col("shard"))
                    .cast("bigint").alias("step")))


# --------------------------------------------------------------------------
# q145 — curriculum staging: order the corpus by the production quality
# score (shared _SCORED relation) and cut it into 4 stages — train on
# cleanest data first.  Stage boundaries come from NTILE over
# (quality, doc_id); the doc_id tiebreak pins boundaries exactly, the
# same determinism contract as q127's deciles.
#
# Scale note: NTILE over an unpartitioned window is the oracle-parity
# form; the production cut at 100 TB is the two-phase quantile-boundary
# bucket (compute 3 boundaries exactly via grouped_percentiles, then a
# stateless range bucket per row) — same outputs when scores are distinct,
# and the boundary form never materializes a global sort.
# --------------------------------------------------------------------------
@query(
    "q145_curriculum_stages",
    f"""
    {_SCORED_SQL},
    staged AS (
        SELECT lang, quality,
               NTILE(4) OVER (ORDER BY quality DESC, doc_id) AS stage
        FROM scored
    )
    SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(MIN(quality), 6) AS min_q,
           ROUND(MAX(quality), 6) AS max_q,
           {sql_davg('quality', 'avg_q')}
    FROM staged GROUP BY stage
    """,
)
def q145_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import global_ntile

    d = load(spark, sf_dir, "documents")
    scored = _scored_quality(d)
    staged = global_ntile(scored.select("lang", "quality", "doc_id"), 4,
                          [("quality", False), ("doc_id", True)], "stage",
                          n_rows=table_rows_cached(spark, sf_dir, "documents"))  # scored is 1:1 with documents
    return (staged.select("lang", "quality", "stage")
            .groupBy("stage")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.round(F.min("quality"), 6).alias("min_q"),
                 F.round(F.max("quality"), 6).alias("max_q"),
                 davg("quality", "avg_q")))


# --------------------------------------------------------------------------
# q146 — cross-source vocabulary overlap: pairwise Jaccard between the
# distinct-token sets of every source pair.  The corpus-mixing diagnostic:
# two sources with near-identical vocabularies are redundant; near-zero
# overlap flags a domain (or a language mislabel) the mix under-weights.
#
# Shape: one DISTINCT (source, token) projection (vocab-sized), then an
# equi-join ON TOKEN between source pairs — never a cross join of
# vocabularies.  Set sizes broadcast (one row per source).
# --------------------------------------------------------------------------
@query(
    "q146_vocab_overlap",
    """
    WITH st AS (
        SELECT DISTINCT source, UNNEST(string_split(text, ' ')) AS t
        FROM documents
    ),
    stf AS (SELECT source, t FROM st WHERE t <> ''),
    sizes AS (SELECT source, COUNT(*) AS sz FROM stf GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        FROM stf a JOIN stf b ON a.t = b.t AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
           ROUND(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def q146_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    stf = (d.select("source", F.explode(F.split("text", " ")).alias("t"))
           .filter(F.col("t") != "").distinct())
    sizes = stf.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = stf.select(F.col("source").alias("src_a"), "t")
    b = stf.select(F.col("source").alias("src_b"), "t")
    inter = (a.join(b, ["t"])
             .filter(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    sa = F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                  F.col("sz").alias("sz_a")))
    sb = F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                  F.col("sz").alias("sz_b")))
    return (inter.join(sa, "src_a").join(sb, "src_b")
            .select("src_a", "src_b",
                    F.col("n_common").cast("bigint").alias("n_common"),
                    F.round(F.col("n_common").cast("double")
                            / (F.col("sz_a") + F.col("sz_b")
                               - F.col("n_common")), 6).alias("jaccard")))


# --------------------------------------------------------------------------
# q147 — chi-squared keyword extraction: per language, the 5 tokens most
# over-represented vs the rest of the corpus by the chi² statistic over
# the 2x2 (token x language) contingency table.  The classic supervised
# keyword / domain-signature extractor.
#
# Shape: one (lang, token) groupBy; marginals are lang-count (broadcast)
# and token-count (vocab-sized equi-join).  chi² per row is fixed-order
# double arithmetic — IEEE-identical on both engines; the top-5 window
# partitions by lang over the vocab-sized score table.
# --------------------------------------------------------------------------
@query(
    "q147_chi2_keywords",
    """
    WITH tok AS (
        SELECT lang, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    tokf AS (SELECT lang, t FROM tok WHERE t <> ''),
    lt AS (SELECT lang, t, COUNT(*) AS a FROM tokf GROUP BY lang, t),
    tmarg AS (SELECT t, COUNT(*) AS tn FROM tokf GROUP BY t),
    lmarg AS (SELECT lang, COUNT(*) AS ln_ FROM tokf GROUP BY lang),
    tot AS (SELECT COUNT(*) AS n FROM tokf),
    cells AS (
        SELECT lt.lang, lt.t,
               CAST(lt.a AS DOUBLE) AS a,
               CAST(tmarg.tn - lt.a AS DOUBLE) AS b,
               CAST(lmarg.ln_ - lt.a AS DOUBLE) AS c,
               CAST(tot.n - tmarg.tn - lmarg.ln_ + lt.a AS DOUBLE) AS d,
               CAST(tot.n AS DOUBLE) AS n
        FROM lt JOIN tmarg ON lt.t = tmarg.t
                JOIN lmarg ON lt.lang = lmarg.lang
                CROSS JOIN tot
    ),
    scored AS (
        SELECT lang, t,
               ROUND(n * (a * d - b * c) * (a * d - b * c)
                     / ((a + b) * (c + d) * (a + c) * (b + d)), 6) AS chi2
        FROM cells WHERE a * d > b * c
    )
    SELECT lang, t AS token, chi2, CAST(rk AS INTEGER) AS rk
    FROM (SELECT lang, t, chi2,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY chi2 DESC, t) AS rk
          FROM scored)
    WHERE rk <= 5
    """,
)
def q147_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    tokf = (d.select("lang", F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != ""))
    lt = tokf.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("a0"))
    tmarg = tokf.groupBy("t").agg(F.count(F.lit(1)).alias("tn"))
    lmarg = tokf.groupBy("lang").agg(F.count(F.lit(1)).alias("ln_"))
    tot = tokf.agg(F.count(F.lit(1)).alias("n0"))
    cells = (lt.join(tmarg, "t").join(F.broadcast(lmarg), "lang")
             .crossJoin(F.broadcast(tot))
             .select("lang", "t",
                     F.col("a0").cast("double").alias("a"),
                     (F.col("tn") - F.col("a0")).cast("double").alias("b"),
                     (F.col("ln_") - F.col("a0")).cast("double").alias("c"),
                     (F.col("n0") - F.col("tn") - F.col("ln_") + F.col("a0"))
                     .cast("double").alias("d"),
                     F.col("n0").cast("double").alias("n")))
    chi2 = F.round(
        F.col("n") * (F.col("a") * F.col("d") - F.col("b") * F.col("c"))
        * (F.col("a") * F.col("d") - F.col("b") * F.col("c"))
        / ((F.col("a") + F.col("b")) * (F.col("c") + F.col("d"))
           * (F.col("a") + F.col("c")) * (F.col("b") + F.col("d"))), 6)
    scored = (cells.filter(F.col("a") * F.col("d") > F.col("b") * F.col("c"))
              .select("lang", "t", chi2.alias("chi2")))
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(F.desc("chi2"), F.asc("t")))
    return (scored.select("lang", F.col("t").alias("token"), "chi2",
                          rk.alias("rk"))
            .filter(F.col("rk") <= 5)
            .select("lang", "token", "chi2", F.col("rk").cast("int").alias("rk")))


# --------------------------------------------------------------------------
# q155 — windowed PMI co-occurrence (the word2vec/GloVe preprocessing
# counts): token pairs co-occurring within a forward window of 3
# positions, scored by pointwise mutual information against the unigram
# margins; top-20 collocations with support >= 5.
#
# Shape: posexplode -> offset equi-join ON (doc_id, position + k) for
# k in 1..window.  This produces EXACTLY the O(len * window) pairs —
# never the O(len²) per-doc enumeration a band-predicate self-join pays
# before filtering (measured at 300k x 41-token docs: the predicate form
# enumerates 504M pairs, the offset form emits 37M).  Pair and margin
# tables are vocab-sized with map-side partials.  PMI's ln() is rounded
# to 6 for cross-engine parity (identical doubles in, identical rounds
# out); top-20 is a window over the vocab²-bounded pair table with
# (pmi, pair) tiebreak.  The oracle keeps the equivalent band-predicate
# SQL (positions are unique per doc, so the two forms emit the same
# pair multiset).
# --------------------------------------------------------------------------
_PMI_WINDOW = 3
_PMI_MIN_N = 5

_ORACLE_Q155 = f"""
    WITH pos AS (
        SELECT doc_id, t.i AS i, t.tok AS tok
        FROM (SELECT doc_id,
                     UNNEST(list_transform(string_split(text, ' '),
                                           (x, i) -> struct_pack(i := i,
                                                                 tok := x)))
                         AS t
              FROM documents)
        WHERE t.tok <> ''
    ),
    pairs AS (
        SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS n_ab
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id
         AND b.i > a.i AND b.i <= a.i + {_PMI_WINDOW}
        GROUP BY a.tok, b.tok
    ),
    marg AS (SELECT tok, COUNT(*) AS n FROM pos GROUP BY tok),
    tot AS (SELECT SUM(n_ab) AS t_pairs FROM pairs),
    totm AS (SELECT SUM(n) AS t_tok FROM marg),
    scored AS (
        SELECT w1, w2, n_ab,
               ROUND(ln((CAST(n_ab AS DOUBLE) / tot.t_pairs)
                        / ((CAST(ma.n AS DOUBLE) / totm.t_tok)
                           * (CAST(mb.n AS DOUBLE) / totm.t_tok))), 6)
                   AS pmi
        FROM pairs
        JOIN marg ma ON pairs.w1 = ma.tok
        JOIN marg mb ON pairs.w2 = mb.tok
        CROSS JOIN tot CROSS JOIN totm
        WHERE n_ab >= {_PMI_MIN_N}
    )
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab, pmi,
           CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rk
          FROM scored)
    WHERE rk <= 20
"""


@query("q155_pmi_collocations", _ORACLE_Q155)
def q155_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    pos = (d.select("doc_id",
                    F.posexplode(F.split("text", " ")).alias("i", "tok"))
           .filter(F.col("tok") != ""))
    a = (pos.select("doc_id", F.col("i").alias("ia"),
                    F.col("tok").alias("w1"),
                    F.explode(F.expr(f"sequence(1, {_PMI_WINDOW})"))
                    .alias("k"))
         .withColumn("ib", F.col("ia") + F.col("k")))
    b = pos.select("doc_id", F.col("i").alias("ib"), F.col("tok").alias("w2"))
    all_pairs = (a.join(b, ["doc_id", "ib"])
                 .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab")))
    # margins/totals are over ALL pairs; min-support only gates the output
    pairs = all_pairs.filter(F.col("n_ab") >= _PMI_MIN_N)
    marg = pos.groupBy(F.col("tok")).agg(F.count(F.lit(1)).alias("n"))
    tot = all_pairs.agg(F.sum("n_ab").alias("t_pairs"))
    totm = marg.agg(F.sum("n").alias("t_tok"))
    ma = marg.select(F.col("tok").alias("w1"), F.col("n").alias("na"))
    mb = marg.select(F.col("tok").alias("w2"), F.col("n").alias("nb"))
    pmi = F.round(F.log(
        (F.col("n_ab").cast("double") / F.col("t_pairs"))
        / ((F.col("na").cast("double") / F.col("t_tok"))
           * (F.col("nb").cast("double") / F.col("t_tok")))), 6)
    scored = (pairs.join(ma, "w1").join(mb, "w2")
              .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(totm))
              .select("w1", "w2", "n_ab", pmi.alias("pmi")))
    rk = F.row_number().over(
        W.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")))
    return (scored.withColumn("rk", rk).filter(F.col("rk") <= 20)
            .select("w1", "w2", F.col("n_ab").cast("bigint").alias("n_ab"),
                    "pmi", F.col("rk").cast("int").alias("rk")))


# --------------------------------------------------------------------------
# q157 — source-mix rebalancing plan: given a uniform target mix across
# sources, compute each source's keep rate (cap 1.0 — never upsample) and
# the resulting expected token counts/shares.  This is the planning step
# that feeds q78/q91's hash-rate thinning: the rates computed here ARE
# the thresholds those operators apply statelessly, so the plan and the
# sampler share one definition of "share".
#
# Shape: one token-count groupBy (source-sized), then arithmetic on the
# 5-row aggregate with 1-row totals broadcast.  Integer token counts;
# the only doubles are per-row ratios rounded to 6.
# --------------------------------------------------------------------------
@query(
    "q157_mix_rebalance",
    """
    WITH st AS (
        SELECT source,
               SUM(len(list_filter(string_split(text, ' '),
                                   x -> x <> ''))) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS k FROM st)
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / tot.t, 6) AS share,
           ROUND(LEAST(1.0, (CAST(tot.t AS DOUBLE) / tot.k) / n_tokens), 6)
               AS keep_rate,
           CAST(LEAST(CAST(n_tokens AS DOUBLE),
                      CAST(tot.t AS DOUBLE) / tot.k) AS BIGINT)
               AS expected_tokens
    FROM st CROSS JOIN tot
    """,
)
def q157_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    st = (d.groupBy("source")
          .agg(F.sum(F.expr(
              f"size(filter({_TOKENS}, x -> x <> ''))")).alias("n_tokens")))
    tot = st.agg(F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("k"))
    target = F.col("t").cast("double") / F.col("k")
    return (st.crossJoin(F.broadcast(tot))
            .select("source",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.round(F.col("n_tokens").cast("double") / F.col("t"), 6)
                    .alias("share"),
                    F.round(F.least(F.lit(1.0), target / F.col("n_tokens")),
                            6).alias("keep_rate"),
                    F.least(F.col("n_tokens").cast("double"), target)
                    .cast("bigint").alias("expected_tokens")))


# --------------------------------------------------------------------------
# q159 — BM25 retrieval scoring: Okapi BM25 (k1=1.2, b=0.75) for the
# fixed query {hash, join, merge}, top-10 documents.  The retrieval
# ranker a RAG training pipeline runs to mine positives — q108's TF-IDF
# with the saturation and length normalization that make it the
# production default.
#
# Shape: the term filter lands BEFORE any aggregation, so the per-doc tf
# table holds only query-term postings (|q| * df rows, not the corpus);
# df and avgdl are tiny broadcast aggregates; doc lengths come from the
# same single corpus scan.  ln/pow per row are IEEE-identical; scores
# round to 6 with doc_id tiebreak.
# --------------------------------------------------------------------------
_BM25_TERMS = ("hash", "join", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75

_Q159_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_ORACLE_Q159 = f"""
    WITH dl AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS dlen
        FROM documents
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, t, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t IN ({_Q159_TERMS_SQL}) GROUP BY doc_id, t
    ),
    df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    scored AS (
        SELECT tf.doc_id,
               SUM(CAST(ROUND(
                   ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * ({_BM25_K1} + 1.0))
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * dl.dlen / stats.avgdl)), 9)
                   AS DECIMAL(30,9))) AS s
        FROM tf
        JOIN df ON tf.t = df.t
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(CAST(s AS DOUBLE), 6) AS bm25,
           CAST(rk AS INTEGER) AS rk
    FROM (SELECT doc_id, s,
                 ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rk
          FROM scored)
    WHERE rk <= 10
"""


@query("q159_bm25_topk", _ORACLE_Q159)
def q159_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.expr(
        f"size(filter({_TOKENS}, x -> x <> ''))").alias("dlen"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   (F.sum("dlen").cast("double")
                    / F.count(F.lit(1))).alias("avgdl"))
    tf = (d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
          .filter(F.col("t").isin(*_BM25_TERMS))
          .groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    term = F.round(
        idf * (F.col("tf") * (_BM25_K1 + 1.0))
        / (F.col("tf") + _BM25_K1 * (1.0 - _BM25_B
           + _BM25_B * F.col("dlen") / F.col("avgdl"))), 9
    ).cast("decimal(30,9)")
    scored = (tf.join(F.broadcast(df), "t")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id").agg(F.sum(term).alias("s")))
    rk = F.row_number().over(W.orderBy(F.desc("s"), F.asc("doc_id")))
    return (scored.withColumn("rk", rk).filter(F.col("rk") <= 10)
            .select("doc_id",
                    F.round(F.col("s").cast("double"), 6).alias("bm25"),
                    F.col("rk").cast("int").alias("rk")))


# --------------------------------------------------------------------------
# q160 — language-label consistency audit: token-fingerprint groups (the
# q46 key — shared definition) that carry MORE THAN ONE language label.
# Exact/near copies with conflicting lang metadata are mislabels: they
# poison per-language statistics (q40/q121) and let contamination slip
# through language-filtered decontamination.  Cross-lang duplicate
# detection by hash is exactly how these are caught at corpus scale.
#
# Shape: one fingerprint groupBy (the q46 shuffle), HAVING over per-group
# distinct-lang counts; output is the conflict groups only (sorted label
# list, so aggregation order cannot leak into the value hash).
# --------------------------------------------------------------------------
@query(
    "q160_lang_mislabel",
    f"""
    SELECT {_FP_SQL_T} AS fp,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           array_to_string(list_sort(list_distinct(list(lang))), ',')
               AS langs,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY 1 HAVING COUNT(DISTINCT lang) > 1
    """,
)
def q160_lang_mislabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _fp_spark

    d = load(spark, sf_dir, "documents")
    return (d.groupBy(_fp_spark().alias("fp"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("lang").cast("bigint").alias("n_langs"),
                 F.array_join(F.array_sort(F.collect_set("lang")), ",")
                 .alias("langs"),
                 F.min("doc_id").alias("keeper_doc_id"))
            .filter(F.col("n_langs") > 1))


# --------------------------------------------------------------------------
# q163 — quality-score AUC (Mann-Whitney rank-sum): how well the
# production quality score separates the q127 gold proxy (docs longer
# than the corpus median).  AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos *
# n_neg) over ranks in (quality, doc_id) order — the doc_id tiebreak
# pins every rank, so the statistic is exact and engine-identical
# (integer sums; one final double division).
#
# Scale note: the rank is a single ordered window at oracle scale; the
# 100 TB form is the two-phase rank (per-partition rank + offset merge,
# the q10 sequential-id machinery) — same output by construction.
# --------------------------------------------------------------------------
@query(
    "q163_score_auc",
    f"""
    {_SCORED_SQL},
    {sql_spark_pct('documents', 'n_chars', [('0.5', 'm')], prefix='med')},
    labeled AS (
        SELECT s.doc_id, s.quality,
               CASE WHEN d.n_chars > med.m THEN 1 ELSE 0 END AS gold
        FROM scored s JOIN documents d ON s.doc_id = d.doc_id
        CROSS JOIN med
    ),
    ranked AS (
        SELECT gold,
               ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS rnk
        FROM labeled
    )
    SELECT CAST(SUM(gold) AS BIGINT) AS n_pos,
           CAST(COUNT(*) - SUM(gold) AS BIGINT) AS n_neg,
           -- AUC is undefined when either class is empty (a degenerate
           -- gold proxy, e.g. constant doc length): NULL, never an error
           CASE WHEN SUM(gold) = 0 OR COUNT(*) = SUM(gold) THEN NULL
                ELSE ROUND((SUM(CASE WHEN gold = 1 THEN rnk ELSE 0 END)
                            - SUM(gold) * (SUM(gold) + 1) / 2.0)
                           / (CAST(SUM(gold) AS DOUBLE)
                              * (COUNT(*) - SUM(gold))), 6) END AS auc
    FROM ranked
    """,
)
def q163_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import global_row_number

    require_unique_doc_ids(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    # keep=: n_chars rides the scorer's 1:1 projection — no corpus
    # self-join (r17, guide §3)
    scored = _scored_quality(d, keep=("n_chars",))
    med = d.agg(F.percentile("n_chars", F.lit(0.5)).alias("m"))
    labeled = (scored
               .crossJoin(F.broadcast(med))
               .select("doc_id", "quality",
                       F.when(F.col("n_chars") > F.col("m"), 1)
                       .otherwise(0).alias("gold")))
    # scale-safe global rank (two-pass range partition above 1M rows);
    # labeled is 1:1 with documents -> parquet count replaces the probe
    ranked = global_row_number(
        labeled, [("quality", True), ("doc_id", True)], "rnk",
        n_rows=table_rows_cached(spark, sf_dir, "documents"))
    npos = F.sum("gold")
    nneg = F.count(F.lit(1)) - npos
    auc = F.round((F.sum(F.when(F.col("gold") == 1, F.col("rnk"))
                         .otherwise(0))
                   - npos * (npos + 1) / 2.0)
                  / (npos.cast("double") * nneg), 6)
    return ranked.agg(
        npos.cast("bigint").alias("n_pos"),
        nneg.cast("bigint").alias("n_neg"),
        # degenerate gold proxy (one class empty) -> NULL, never a
        # divide-by-zero under ANSI mode
        F.when((npos > 0) & (nneg > 0), auc).alias("auc"))


# --------------------------------------------------------------------------
# q169 — vocabulary coverage curve: what fraction of corpus token MASS
# the top-k most frequent types cover, for the candidate vocab sizes a
# tokenizer would pick.  The vocab-size planning number: where this
# curve flattens is where a bigger vocabulary stops paying.
#
# Shape: vocab-sized frequency table, then ONE global rank+cumsum over
# it via the two-pass range-partitioned kernel
# (relational.global_rank_cumsum).  The frequency table is vocab-sized,
# not corpus-sized — but vocabulary itself grows with the corpus
# (Heaps' law: ~K·N^0.5, hundreds of millions of types at 100 TB), so
# since round 9 this is NOT excused as a bounded domain: the rank and
# the cumulative mass route through the same auto-switching kernel as
# the exact-rank statistics family (plain window below 1M types, range
# exchange + mapInPandas above).  Rank ties break by token.
# --------------------------------------------------------------------------
_Q169_CUTOFFS = (10, 100, 1000, 10000)

_ORACLE_Q169 = f"""
    WITH tf AS (
        SELECT t, COUNT(*) AS n
        FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
        WHERE t <> '' GROUP BY t
    ),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, t) AS rk,
               SUM(n) OVER (ORDER BY n DESC, t
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM tf
    ),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_types FROM tf)
    SELECT k.k AS vocab_size,
           CAST(MAX(CASE WHEN rk <= k.k THEN cum END) AS BIGINT)
               AS tokens_covered,
           ROUND(CAST(MAX(CASE WHEN rk <= k.k THEN cum END) AS DOUBLE)
                 / tot.total, 6) AS coverage,
           CAST(tot.n_types AS BIGINT) AS n_types
    FROM ranked
    CROSS JOIN (SELECT UNNEST([{', '.join(map(str, _Q169_CUTOFFS))}]) AS k) k
    CROSS JOIN tot
    GROUP BY k.k, tot.total, tot.n_types
"""


@query("q169_vocab_coverage", _ORACLE_Q169)
def q169_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import global_rank_cumsum

    d = load(spark, sf_dir, "documents")
    # r17 opt: tf feeds THREE evaluations (the rank kernel's strategy
    # probe, the ranked pass, and the totals agg) — pin the vocab-sized
    # table lazily so the explode+groupBy runs once per call (A/B 0.67
    # -> 0.61 s median; at 100 TB this is the written vocab table).  A
    # bound-fed big path was also tried and LOST (1.30 s — the two-pass
    # kernel costs more than probe+window at vocab size).
    tf = (d.select(F.explode(F.split("text", " ")).alias("t"))
          .filter(F.col("t") != "")
          .groupBy("t").agg(F.count(F.lit(1)).alias("n"))
          .localCheckpoint(eager=False))
    ranked = (global_rank_cumsum(tf, "n", [("n", False), ("t", True)],
                                 rn_col="rk", cum_col="cum")
              .select("n", "rk", "cum"))
    tot = tf.agg(F.sum("n").alias("total"),
                 F.count(F.lit(1)).alias("n_types"))
    ks = F.explode(F.array(*[F.lit(k) for k in _Q169_CUTOFFS])).alias("k")
    covered = F.max(F.when(F.col("rk") <= F.col("k"), F.col("cum")))
    return (ranked.select("rk", "cum", ks)
            .crossJoin(F.broadcast(tot))
            .groupBy(F.col("k").alias("vocab_size"), "total", "n_types")
            .agg(covered.cast("bigint").alias("tokens_covered"),
                 F.round(covered.cast("double") / F.col("total"), 6)
                 .alias("coverage"))
            .select("vocab_size", "tokens_covered", "coverage",
                    F.col("n_types").cast("bigint").alias("n_types")))


# --------------------------------------------------------------------------
# q172 — Zipf fit: OLS of ln(freq) on ln(rank) over the top-1000 token
# types.  Natural language sits near slope -1; synthetic/templated
# corpora (like this fixture) sit much shallower — the "does this look
# like real text" forensic, run before training on a scraped source.
#
# Shape: vocab-sized rank window, then a 5-moment closed-form OLS (the
# q131 pattern): every ln() is rounded to 9 and summed through decimals,
# so the slope/intercept/r² are engine-identical.
# --------------------------------------------------------------------------
_Q172_TOP = 1000

_D9 = "CAST(SUM(CAST(ROUND({x}, 9) AS DECIMAL(30,9))) AS DOUBLE)"

_ORACLE_Q172 = f"""
    WITH tf AS (
        SELECT t, COUNT(*) AS n
        FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
        WHERE t <> '' GROUP BY t
    ),
    ranked AS (
        SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, t) AS DOUBLE))
                   AS x,
               ln(CAST(n AS DOUBLE)) AS y,
               ROW_NUMBER() OVER (ORDER BY n DESC, t) AS rk
        FROM tf
    ),
    m AS (
        SELECT COUNT(*) AS n,
               {_D9.format(x='x')} AS sx, {_D9.format(x='y')} AS sy,
               {_D9.format(x='x * x')} AS sxx,
               {_D9.format(x='y * y')} AS syy,
               {_D9.format(x='x * y')} AS sxy
        FROM ranked WHERE rk <= {_Q172_TOP}
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 6) AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
"""


@query("q172_zipf_fit", _ORACLE_Q172)
def q172_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    tf = (d.select(F.explode(F.split("text", " ")).alias("t"))
          .filter(F.col("t") != "")
          .groupBy("t").agg(F.count(F.lit(1)).alias("n")))
    rk = F.row_number().over(W.orderBy(F.desc("n"), F.asc("t")))
    ranked = (tf.select(rk.alias("rk"), F.col("n"))
              .filter(F.col("rk") <= _Q172_TOP)
              .select(F.log(F.col("rk").cast("double")).alias("x"),
                      F.log(F.col("n").cast("double")).alias("y")))
    d9 = lambda c: (F.sum(F.round(c, 9).cast("decimal(30,9)"))  # noqa: E731
                    .cast("double"))
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        d9(F.col("x")).alias("sx"), d9(F.col("y")).alias("sy"),
        d9(F.col("x") * F.col("x")).alias("sxx"),
        d9(F.col("y") * F.col("y")).alias("syy"),
        d9(F.col("x") * F.col("y")).alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.cast("bigint").alias("n_types"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        .alias("r2"))


@query(
    "q176_score_normalization",
    f"""
    {_SCORED_SQL},
    src AS (
        SELECT d.source, s.quality
        FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    ),
    {sql_spark_pct('src', 'quality',
                   [('0.5', 'raw_p50'), ('0.9', 'raw_p90')],
                   part=['source'])},
    stats AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(MIN(quality), 6) AS raw_min,
               ROUND(MAX(quality), 6) AS raw_max
        FROM src GROUP BY source
    )
    SELECT s.source, s.n_docs, p.raw_p50, p.raw_p90,
           s.raw_min, s.raw_max
    FROM stats s JOIN pct p ON p.source = s.source
    """,
)
def q176_score_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import grouped_percentiles

    require_unique_doc_ids(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    # keep=: source rides the scorer's 1:1 projection — no corpus
    # self-join (r17, guide §3)
    src = _scored_quality(d, keep=("source",))
    q = grouped_percentiles(src, ["source"], "quality",
                            [0.5, 0.9], ["raw_p50", "raw_p90"], exact=True)
    stats = (src.groupBy("source")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                  F.round(F.min("quality"), 6).alias("raw_min"),
                  F.round(F.max("quality"), 6).alias("raw_max")))
    return (stats.join(q, "source")
            .select("source", "n_docs", "raw_p50", "raw_p90",
                    "raw_min", "raw_max"))


# --------------------------------------------------------------------------
# q179 — hapax ratio per source: the share of a source's token
# occurrences that are corpus-wide hapax legomena (frequency 1).  High
# hapax mass means unique long-tail content (or OCR noise); near-zero
# means templated text.  Pairs with q172's Zipf slope as the
# naturalness forensics.
#
# Shape: corpus-wide frequency table (vocab-sized) joined back to the
# per-source token stream on the token — the q141 join shape; counts
# only, no float drift.
# --------------------------------------------------------------------------
@query(
    "q179_hapax_ratio",
    """
    WITH tok AS (
        SELECT source, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    tokf AS (SELECT source, t FROM tok WHERE t <> ''),
    freq AS (SELECT t, COUNT(*) AS n FROM tokf GROUP BY t)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(CASE WHEN freq.n = 1 THEN 1 END) AS BIGINT)
               AS n_hapax,
           ROUND(CAST(COUNT(CASE WHEN freq.n = 1 THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_ratio
    FROM tokf JOIN freq ON tokf.t = freq.t
    GROUP BY source
    """,
)
def q179_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tokf = (d.select("source", F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != ""))
    # one instance shuffle total (the (source, t) groupBy); freq derives
    # from the pre-aggregated counts and the join is vocab x vocab — the
    # q209 shape.  A hapax (n == 1) occupies exactly one (source, t) row
    # with c == 1, so the row count IS the instance count.
    st = tokf.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    freq = st.groupBy("t").agg(F.sum("c").alias("n"))
    return (st.join(freq, "t")
            .groupBy("source")
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.count(F.when(F.col("n") == 1, 1)).cast("bigint")
                 .alias("n_hapax"),
                 F.round(F.count(F.when(F.col("n") == 1, 1)).cast("double")
                         / F.sum("c"), 6).alias("hapax_ratio")))


# --------------------------------------------------------------------------
# q182 — sub-word diversity (compression-ratio proxy): per source, the
# average ratio of distinct char-4-grams to total 4-grams per document.
# Low diversity = highly compressible = repeated boilerplate, the
# sub-word complement of q66's word-level repetition rules.
#
# Shape: pure per-row array expressions inside codegen (no explode —
# the 4-gram sets never leave the row), one source-sized groupBy with
# decimal-exact means.
# --------------------------------------------------------------------------
# linear-scan regex, not transform+substring (which is O(len^2) per
# doc — see _SHINGLES_SPARK in dedup.py); identical list incl.
# duplicates, with the same whole-text fallback for sub-4-char docs
_Q182_GRAMS_SPARK = ("(CASE WHEN text IS NULL THEN NULL "
                     "WHEN length(text) >= 4 THEN "
                     "regexp_extract_all(text, '(?s)(?=(.{4}))', 1) "
                     "ELSE array(text) END)")
_Q182_GRAMS_DUCK = ("list_transform(generate_series(1, "
                    "greatest(length(text) - 3, 1)), "
                    "i -> substr(text, CAST(i AS INTEGER), 4))")


@query(
    "q182_subword_diversity",
    f"""
    WITH per_doc AS (
        SELECT source,
               ROUND(CAST(len(list_distinct({_Q182_GRAMS_DUCK})) AS DOUBLE)
                     / len({_Q182_GRAMS_DUCK}), 9) AS diversity
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(diversity AS DECIMAL(30,9))) AS DOUBLE)
               / COUNT(*) AS avg_diversity,
           ROUND(MIN(diversity), 6) AS min_diversity
    FROM per_doc GROUP BY source
    """,
)
def q182_subword_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _spread_docs

    # per-doc char-4-gram materialization is a ~300x row-width blowup —
    # without the spread it runs inside the single parquet scan task
    # (measured 1.74s -> 0.63s at sf0.1 once spread; no-op at scale
    # where the scan already has splits)
    d = _spread_docs(load(spark, sf_dir, "documents"))
    grams = _Q182_GRAMS_SPARK
    diversity = F.round(
        F.expr(f"size(array_distinct({grams}))").cast("double")
        / F.expr(f"size({grams})"), 9)
    per_doc = d.select("source", diversity.alias("diversity"))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 (F.sum(F.col("diversity").cast("decimal(30,9)"))
                  .cast("double") / F.count(F.lit(1)))
                 .alias("avg_diversity"),
                 F.round(F.min("diversity"), 6).alias("min_diversity")))


# --------------------------------------------------------------------------
# q185 — bigram conditional entropy H(next | prev): how predictable the
# next token is given the current one.  Natural text sits well below
# its unigram entropy (q121); templated corpora collapse toward zero.
# Completes the information-theoretic forensics triple with q121
# (unigram H) and q172 (Zipf).
#
# Shape: adjacent-pair counts via the q155 offset equi-join (window=1),
# vocab-sized margins, round-9 decimal ln sums.
# --------------------------------------------------------------------------
@query(
    "q185_bigram_cond_entropy",
    """
    WITH pos AS (
        SELECT doc_id, t.i AS i, t.tok AS tok
        FROM (SELECT doc_id,
                     UNNEST(list_transform(string_split(text, ' '),
                                           (x, i) -> struct_pack(i := i,
                                                                 tok := x)))
                         AS t
              FROM documents)
        WHERE t.tok <> ''
    ),
    big AS (
        SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS n_ab
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND b.i = a.i + 1
        GROUP BY a.tok, b.tok
    ),
    marg AS (SELECT w1, SUM(n_ab) AS n_a FROM big GROUP BY w1),
    tot AS (SELECT SUM(n_ab) AS t FROM big)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(ROUND(-(CAST(n_ab AS DOUBLE) / tot.t)
                                * ln(CAST(n_ab AS DOUBLE) / marg.n_a), 9)
                         AS DECIMAL(30,9))) AS DOUBLE) AS cond_entropy
    FROM big JOIN marg ON big.w1 = marg.w1 CROSS JOIN tot
    """,
)
def q185_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pos = (d.select("doc_id",
                    F.posexplode(F.split("text", " ")).alias("i", "tok"))
           .filter(F.col("tok") != ""))
    a = (pos.select("doc_id", F.col("i").alias("ia"),
                    F.col("tok").alias("w1"))
         .withColumn("ib", F.col("ia") + 1))
    b = pos.select("doc_id", F.col("i").alias("ib"),
                   F.col("tok").alias("w2"))
    big = (a.join(b, ["doc_id", "ib"])
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab")))
    marg = big.groupBy("w1").agg(F.sum("n_ab").alias("n_a"))
    tot = big.agg(F.sum("n_ab").alias("t"))
    term = F.round(
        -(F.col("n_ab").cast("double") / F.col("t"))
        * F.log(F.col("n_ab").cast("double") / F.col("n_a")), 9
    ).cast("decimal(30,9)")
    return (big.join(marg, "w1").crossJoin(F.broadcast(tot))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.sum(term).cast("double").alias("cond_entropy")))


# --------------------------------------------------------------------------
# q186 — negative-sampling distribution (word2vec's unigram^0.75): each
# token's smoothed sampling probability, top-20 by probability.  The
# table a contrastive trainer draws negatives from; the 3/4 power is the
# standard frequency flattening.
#
# Cross-engine float note: pow(n, 0.75) is libm- vs JVM-dependent at the
# last ulp, so each term is rounded to 9 decimals BEFORE the decimal
# normalization sum — the q50 round-before-compare contract applied to
# pow.
# --------------------------------------------------------------------------
@query(
    "q186_negative_sampling",
    """
    WITH tf AS (
        SELECT t, COUNT(*) AS n
        FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
        WHERE t <> '' GROUP BY t
    ),
    powed AS (
        SELECT t, n, ROUND(pow(CAST(n AS DOUBLE), 0.75), 9) AS w
        FROM tf
    ),
    z AS (SELECT CAST(SUM(CAST(w AS DECIMAL(30,9))) AS DOUBLE) AS z
          FROM powed)
    SELECT t AS token, CAST(n AS BIGINT) AS n,
           ROUND(w / z.z, 9) AS p_negative,
           CAST(rk AS INTEGER) AS rk
    FROM (SELECT t, n, w,
                 ROW_NUMBER() OVER (ORDER BY w DESC, t) AS rk
          FROM powed) CROSS JOIN z
    WHERE rk <= 20
    """,
)
def q186_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    tf = (d.select(F.explode(F.split("text", " ")).alias("t"))
          .filter(F.col("t") != "")
          .groupBy("t").agg(F.count(F.lit(1)).alias("n")))
    powed = tf.select(
        "t", "n", F.round(F.pow(F.col("n").cast("double"), 0.75), 9)
        .alias("w"))
    z = powed.agg(
        F.sum(F.col("w").cast("decimal(30,9)")).cast("double").alias("z"))
    rk = F.row_number().over(W.orderBy(F.desc("w"), F.asc("t")))
    return (powed.withColumn("rk", rk).filter(F.col("rk") <= 20)
            .crossJoin(F.broadcast(z))
            .select(F.col("t").alias("token"),
                    F.col("n").cast("bigint").alias("n"),
                    F.round(F.col("w") / F.col("z"), 9).alias("p_negative"),
                    F.col("rk").cast("int").alias("rk")))


# --------------------------------------------------------------------------
# q188 — A/A test of the hash splitter: split documents into two arms by
# md5 parity (the q73 machinery) and compare mean quality with Welch's
# t-statistic.  An honest splitter yields |t| ~ O(1); a biased hash (or
# a score correlated with the key) shows up here BEFORE an A/B test
# ships on the same splitter.
#
# Shape: one scan, per-arm decimal moments, closed-form t — the q08/q75
# variance contract on two partitions of the corpus.
# --------------------------------------------------------------------------
@query(
    "q188_aa_test",
    f"""
    {_SCORED_SQL},
    armed AS (
        SELECT CAST({_md5_bucket('duckdb', 'doc_id')} % 2 AS BIGINT) AS arm,
               quality
        FROM scored
    ),
    m AS (
        SELECT arm, COUNT(*) AS n,
               {sql_davg('quality', 'mu')},
               {sql_dvar_expr('quality')} AS var
        FROM armed GROUP BY arm
    )
    SELECT a.n AS n_a, b.n AS n_b,
           ROUND(a.mu, 6) AS mean_a, ROUND(b.mu, 6) AS mean_b,
           ROUND((a.mu - b.mu)
                 / sqrt(a.var / a.n + b.var / b.n), 6) AS t_stat
    FROM m a JOIN m b ON a.arm = 0 AND b.arm = 1
    """,
)
def q188_aa_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .common import davg, dvar_samp

    require_unique_doc_ids(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    scored = _scored_quality(d)
    arm = (F.expr(_md5_bucket("spark", "doc_id")) % 2).cast("bigint")
    # the old join(d.select("doc_id")) was an identity join on the
    # unique key — scored already carries doc_id (r17, guide §3)
    armed = scored.select(arm.alias("arm"), "quality")
    m = armed.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        davg("quality", "mu"),
        dvar_samp("quality").alias("var"))
    a = m.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("mu").alias("mu_a"),
        F.col("var").alias("var_a"))
    b = m.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("mu").alias("mu_b"),
        F.col("var").alias("var_b"))
    t = ((F.col("mu_a") - F.col("mu_b"))
         / F.sqrt(F.col("var_a") / F.col("n_a")
                  + F.col("var_b") / F.col("n_b")))
    # both sides are 1-row aggregates; the broadcast hint keeps the plan
    # a BroadcastNestedLoopJoin instead of a CartesianProduct (harmless
    # at 1x1 but the wrong default under unknown stats at scale)
    return (a.crossJoin(F.broadcast(b))
            .select("n_a", "n_b",
                    F.round("mu_a", 6).alias("mean_a"),
                    F.round("mu_b", 6).alias("mean_b"),
                    F.round(t, 6).alias("t_stat")))


# --------------------------------------------------------------------------
# q189 — Wald–Wolfowitz runs test on ingestion order: is the language
# sequence over doc_id random, or did ingestion batch one language at a
# time?  Batched layouts break sampled-prefix assumptions (a "random"
# head sample of a batched corpus is monolingual) — this is the check.
# Binarized to the majority language; z = (R - E[R]) / sd(R).
#
# Shape: one lag window over doc_id (run boundaries), counts only until
# the closed-form moments.  The doc_id global window is doc-sized at
# oracle scale; at 100 TB the same statistic accumulates per ordered
# shard and merges (runs split at shard joints, a documented +shards-1
# correction).
# --------------------------------------------------------------------------
@query(
    "q189_runs_test",
    """
    WITH maj AS (
        SELECT lang FROM (
            SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
            ORDER BY c DESC, lang LIMIT 1)
    ),
    seq AS (
        SELECT doc_id,
               CASE WHEN lang = (SELECT lang FROM maj) THEN 1 ELSE 0 END
                   AS x
        FROM documents
    ),
    runs AS (
        SELECT x, CASE WHEN LAG(x) OVER (ORDER BY doc_id) IS NULL
                         OR LAG(x) OVER (ORDER BY doc_id) <> x
                       THEN 1 ELSE 0 END AS boundary
        FROM seq
    ),
    m AS (
        SELECT CAST(SUM(boundary) AS DOUBLE) AS r,
               CAST(SUM(x) AS DOUBLE) AS n1,
               CAST(COUNT(*) - SUM(x) AS DOUBLE) AS n2
        FROM runs
    )
    SELECT CAST(r AS BIGINT) AS n_runs,
           CAST(n1 AS BIGINT) AS n_majority,
           CAST(n2 AS BIGINT) AS n_other,
           ROUND(1.0 + 2.0 * n1 * n2 / (n1 + n2), 6) AS expected_runs,
           ROUND((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6)
               AS z_stat
    FROM m
    """,
)
def q189_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import global_lag

    d = load(spark, sf_dir, "documents")
    maj = (d.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
           .orderBy(F.desc("c"), F.asc("lang")).limit(1)
           .select(F.col("lang").alias("mlang")))
    seq = (d.crossJoin(F.broadcast(maj))
           .select("doc_id",
                   F.when(F.col("lang") == F.col("mlang"), 1).otherwise(0)
                   .alias("x")))
    # scale-safe global lag: partition-boundary values injected from the
    # predecessor partition above 1M rows, plain window below
    lagged = global_lag(seq, "x", [("doc_id", True)], "lx",
                        n_rows=table_rows_cached(spark, sf_dir, "documents"))  # seq is 1:1 with documents
    lx = F.col("lx")
    runs = lagged.select(
        "x", F.when(lx.isNull() | (lx != F.col("x")), 1).otherwise(0)
        .alias("boundary"))
    m = runs.agg(F.sum("boundary").cast("double").alias("r"),
                 F.sum("x").cast("double").alias("n1"),
                 (F.count(F.lit(1)) - F.sum("x")).cast("double")
                 .alias("n2"))
    r, n1, n2 = F.col("r"), F.col("n1"), F.col("n2")
    er = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    sd = F.sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))
    return m.select(r.cast("bigint").alias("n_runs"),
                    n1.cast("bigint").alias("n_majority"),
                    n2.cast("bigint").alias("n_other"),
                    F.round(er, 6).alias("expected_runs"),
                    F.round((r - er) / sd, 6).alias("z_stat"))


# --------------------------------------------------------------------------
# q193 — vocabulary growth (Heaps' law): distinct types seen within the
# first k token occurrences (doc_id, position order) at doubling
# cutoffs.  Natural corpora grow V ~ k^0.7; a flattening curve means
# the source has exhausted its vocabulary (template spam).  Completes
# the q172/q179/q185 naturalness forensics.
#
# Shape: one global occurrence index (rank window at oracle scale; the
# q10 two-pass id is the 100 TB form), then per-cutoff first-occurrence
# counting — a token's contribution is decided by its FIRST index only,
# so the distinct-per-prefix reduces to one vocab-sized aggregate, not
# a per-cutoff distinct scan.
# --------------------------------------------------------------------------
_Q193_CUTOFFS = (1000, 2000, 4000, 8000, 16000)

_ORACLE_Q193 = f"""
    WITH pos AS (
        SELECT doc_id, t.i AS i, t.tok AS tok
        FROM (SELECT doc_id,
                     UNNEST(list_transform(string_split(text, ' '),
                                           (x, i) -> struct_pack(i := i,
                                                                 tok := x)))
                         AS t
              FROM documents)
        WHERE t.tok <> ''
    ),
    idx AS (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY doc_id, i) AS rn FROM pos
    ),
    firsts AS (SELECT tok, MIN(rn) AS first_rn FROM idx GROUP BY tok)
    SELECT k.k AS n_tokens,
           CAST(COUNT(CASE WHEN first_rn <= k.k THEN 1 END) AS BIGINT)
               AS n_types
    FROM firsts
    CROSS JOIN (SELECT UNNEST([{', '.join(map(str, _Q193_CUTOFFS))}]) AS k) k
    GROUP BY k.k
"""


@query("q193_heaps_law", _ORACLE_Q193)
def q193_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import global_row_number

    d = load(spark, sf_dir, "documents")
    pos = (d.select("doc_id",
                    F.posexplode(F.split("text", " ")).alias("i", "tok"))
           .filter(F.col("tok") != ""))
    # the occurrence index is over EVERY token position — the q10
    # two-pass kernel is mandatory here, not an optimization: a plain
    # window would sort the whole corpus token stream in one task.
    # (r17: an n_chars-sum upper bound for the probe was A/B'd and
    # REJECTED — chars >> tokens, so the bound forced the two-pass path
    # where the probe correctly picks the window: 0.84 -> 1.41 s.)
    idx = global_row_number(pos, [("doc_id", True), ("i", True)], "rn")
    firsts = (idx.select("tok", "rn")
              .groupBy("tok").agg(F.min("rn").alias("first_rn")))
    ks = F.explode(F.array(*[F.lit(k) for k in _Q193_CUTOFFS])).alias("k")
    return (firsts.select("first_rn", ks)
            .groupBy("k")
            .agg(F.count(F.when(F.col("first_rn") <= F.col("k"), 1))
                 .cast("bigint").alias("n_types"))
            .select(F.col("k").alias("n_tokens"), "n_types"))


# --------------------------------------------------------------------------
# q194 — context-length planning: token mass lost if every document is
# truncated at T tokens, per source, for candidate context lengths.
# The number that picks a training sequence length — pair with q77's
# packing, which then fills the chosen T.
#
# Shape: per-row length arithmetic only (no explode), a source x T
# rollup of decimal-exact integer sums.
# --------------------------------------------------------------------------
_Q194_LENGTHS = (32, 64, 128)

@query(
    "q194_truncation_loss",
    f"""
    WITH dl AS (
        SELECT source,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tok
        FROM documents
    )
    SELECT source, t.t AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN n_tok > t.t THEN n_tok - t.t ELSE 0 END)
                AS BIGINT) AS lost_tokens,
           ROUND(CAST(SUM(CASE WHEN n_tok > t.t THEN n_tok - t.t
                               ELSE 0 END) AS DOUBLE) / SUM(n_tok), 6)
               AS loss_frac,
           CAST(COUNT(CASE WHEN n_tok > t.t THEN 1 END) AS BIGINT)
               AS n_truncated
    FROM dl
    CROSS JOIN (SELECT UNNEST([{', '.join(map(str, _Q194_LENGTHS))}]) AS t) t
    GROUP BY source, t.t
    """,
)
def q194_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    dl = d.select("source", F.expr(
        f"size(filter({_TOKENS}, x -> x <> ''))").alias("n_tok"))
    ts = F.explode(F.array(*[F.lit(t) for t in _Q194_LENGTHS])).alias("t")
    lost = F.sum(F.when(F.col("n_tok") > F.col("t"),
                        F.col("n_tok") - F.col("t")).otherwise(0))
    return (dl.select("source", "n_tok", ts)
            .groupBy("source", F.col("t").alias("max_len"))
            .agg(F.sum("n_tok").cast("bigint").alias("total_tokens"),
                 lost.cast("bigint").alias("lost_tokens"),
                 F.round(lost.cast("double") / F.sum("n_tok"), 6)
                 .alias("loss_frac"),
                 F.count(F.when(F.col("n_tok") > F.col("t"), 1))
                 .cast("bigint").alias("n_truncated")))


# --------------------------------------------------------------------------
# q195 — dedup-aware effective token budget: per language, raw vs
# post-dedup (q46 keeper rule) token counts — the number that converts
# "we crawled N tokens" into "we can train on M".  Token-mass twin of
# q187's doc-count bias view, same keeper definition by construction.
# --------------------------------------------------------------------------
@query(
    "q195_effective_tokens",
    f"""
    WITH fp AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tok,
               {_FP_SQL_T} AS h
        FROM documents
    ),
    flagged AS (
        SELECT lang, n_tok,
               CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY h)
                    THEN 1 ELSE 0 END AS kept
        FROM fp
    )
    SELECT lang,
           CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
           CAST(SUM(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT)
               AS effective_tokens,
           ROUND(CAST(SUM(CASE WHEN kept = 1 THEN n_tok ELSE 0 END)
                      AS DOUBLE) / SUM(n_tok), 6) AS retention
    FROM flagged GROUP BY lang
    """,
)
def q195_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from .dedup import _fp_spark

    d = load(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "lang",
        F.expr(f"size(filter({_TOKENS}, x -> x <> ''))").alias("n_tok"),
        _fp_spark().alias("h"))
    kept = F.when(
        F.col("doc_id") == F.min("doc_id").over(W.partitionBy("h")), 1
    ).otherwise(0)
    flagged = fp.select("lang", "n_tok", kept.alias("kept"))
    eff = F.sum(F.when(F.col("kept") == 1, F.col("n_tok")).otherwise(0))
    return (flagged.groupBy("lang")
            .agg(F.sum("n_tok").cast("bigint").alias("raw_tokens"),
                 eff.cast("bigint").alias("effective_tokens"),
                 F.round(eff.cast("double") / F.sum("n_tok"), 6)
                 .alias("retention")))


# --------------------------------------------------------------------------
# q196 — cross-split LM transfer: train a unigram LM on the q73 train
# split only, score the val split.  The leakage-free version of q141's
# corpus-as-LM: train/val NLL gap and val OOV rate are the actual
# generalization signals (q141's self-scoring flatters every source).
# OOV tokens are excluded from NLL and reported as their own rate —
# explicit, rather than hidden behind a smoothing constant.
#
# Shape: two passes over one scan (split assignment is the stateless q73
# hash); the train-vocab table is vocab-sized and joins the val token
# stream on the token.  Round-9 decimal ln sums as everywhere.
# --------------------------------------------------------------------------
@query(
    "q196_crosssplit_perplexity",
    f"""
    WITH assigned AS (
        SELECT doc_id, text,
               CASE WHEN {_md5_bucket('duckdb', 'doc_id')} < 80 THEN 'train'
                    WHEN {_md5_bucket('duckdb', 'doc_id')} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    tok AS (
        SELECT split, doc_id, UNNEST(string_split(text, ' ')) AS t
        FROM assigned
    ),
    tokf AS (SELECT split, doc_id, t FROM tok WHERE t <> ''),
    freq AS (
        SELECT t, COUNT(*) AS n FROM tokf WHERE split = 'train' GROUP BY t
    ),
    tot AS (SELECT SUM(n) AS tot FROM freq),
    val AS (
        SELECT v.t, freq.n FROM tokf v
        LEFT JOIN freq ON v.t = freq.t
        WHERE v.split = 'val'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_val_tokens,
           CAST(COUNT(CASE WHEN n IS NULL THEN 1 END) AS BIGINT)
               AS n_oov,
           ROUND(CAST(COUNT(CASE WHEN n IS NULL THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate,
           CAST(SUM(CASE WHEN n IS NOT NULL THEN
                CAST(ROUND(-ln(CAST(n AS DOUBLE) / tot.tot), 9)
                     AS DECIMAL(30,9)) END) AS DOUBLE) / COUNT(n)
               AS val_nll
    FROM val CROSS JOIN tot
    """,
)
def q196_crosssplit_perplexity(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = F.expr(_md5_bucket("spark", "doc_id"))
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val").otherwise("test"))
    tokf = (d.withColumn("split", split)
            .select("split", "doc_id",
                    F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != ""))
    freq = (tokf.filter(F.col("split") == "train")
            .groupBy("t").agg(F.count(F.lit(1)).alias("n")))
    tot = freq.agg(F.sum("n").alias("tot"))
    # pre-aggregate the val stream by token: the left join against the
    # train vocab is vocab x vocab, never val-INSTANCES x vocab (the
    # q209 shape).  Weighted sums reproduce the per-instance values
    # exactly: c * decimal-nll is the c-fold decimal sum, OOV/non-OOV
    # instance counts are c-sums over the null split.
    vt = (tokf.filter(F.col("split") == "val")
          .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    val = (vt.join(freq, "t", "left")
           .crossJoin(F.broadcast(tot)))
    # decimal(18,9) x decimal(19,0): exact product at scale 9 (see q209)
    nll_term = F.when(
        F.col("n").isNotNull(),
        F.round(-F.log(F.col("n").cast("double") / F.col("tot")), 9)
        .cast("decimal(18,9)"))
    n_oov = F.coalesce(
        F.sum(F.when(F.col("n").isNull(), F.col("c"))), F.lit(0))
    n_known = F.coalesce(
        F.sum(F.when(F.col("n").isNotNull(), F.col("c"))), F.lit(0))
    return val.agg(
        F.sum("c").cast("bigint").alias("n_val_tokens"),
        n_oov.cast("bigint").alias("n_oov"),
        F.round(n_oov.cast("double") / F.sum("c"), 6).alias("oov_rate"),
        (F.sum(F.col("c").cast("decimal(19,0)") * nll_term)
         .cast("double") / n_known).alias("val_nll"))


# --------------------------------------------------------------------------
# q199 — duplicate/quality linkage: mean production quality score for
# docs that are near-duplicated (member of any q47 pair) vs unique.
# If duplicates score LOWER, dedup doubles as a quality filter; if they
# score the same, the two filters are independent and both earn their
# cost.  The measured answer to "can we skip one of them".
#
# Shape: the doc-sized dup-member set (distinct over the shared q47
# pair list) semi/anti-splits the scored table; decimal-exact means and
# a variance-scaled gap for judgment.
# --------------------------------------------------------------------------
def _q199_oracle() -> str:
    from .dedup import ORACLES as dedup_oracles

    return f"""
    WITH pairs AS (
        SELECT a_id, b_id FROM ({dedup_oracles['q47_minhash_lsh']}) q
    ),
    members AS (
        SELECT DISTINCT a_id AS doc_id FROM pairs
        UNION
        SELECT DISTINCT b_id FROM pairs
    ),
    {_SCORED_SQL.replace('WITH ', '')},
    labeled AS (
        SELECT s.quality,
               CASE WHEN m.doc_id IS NOT NULL THEN 'dup' ELSE 'unique' END
                   AS status
        FROM scored s LEFT JOIN members m ON s.doc_id = m.doc_id
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_davg('quality', 'avg_quality')},
           ROUND(MIN(quality), 6) AS min_quality,
           ROUND(MAX(quality), 6) AS max_quality
    FROM labeled GROUP BY status
    """


@query("q199_dup_quality_link", _q199_oracle())
def q199_dup_quality_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import near_dup_pairs

    d = load(spark, sf_dir, "documents")
    pairs = near_dup_pairs(spark, sf_dir)
    members = (pairs.selectExpr("a_id AS doc_id")
               .union(pairs.selectExpr("b_id AS doc_id")).distinct()
               .withColumn("__m", F.lit(1)))
    scored = _scored_quality(d)
    labeled = (scored.join(members, "doc_id", "left")
               .select("quality",
                       F.when(F.col("__m").isNotNull(), "dup")
                       .otherwise("unique").alias("status")))
    return (labeled.groupBy("status")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 davg("quality", "avg_quality"),
                 F.round(F.min("quality"), 6).alias("min_quality"),
                 F.round(F.max("quality"), 6).alias("max_quality")))


# --------------------------------------------------------------------------
# q200 — corpus stats summary: the SHOW STATS table every engine fronts
# its catalog with — documents, token mass, distinct types, languages,
# sources, exact-dup groups and length moments in one (stat, value)
# relation.  One scan for the row-level stats plus one vocab-sized
# aggregate; everything integer-exact.
# --------------------------------------------------------------------------
@query(
    "q200_corpus_stats",
    """
    WITH base AS (
        SELECT doc_id, lang, source, length(text) AS n_chars_real,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tok,
               md5(text) AS eh
        FROM documents
    ),
    vocab AS (
        SELECT COUNT(DISTINCT t) AS n_types
        FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
        WHERE t <> ''
    )
    SELECT 'n_documents' AS stat, CAST(COUNT(*) AS BIGINT) AS value
    FROM base
    UNION ALL
    SELECT 'n_tokens', CAST(SUM(n_tok) AS BIGINT) FROM base
    UNION ALL
    SELECT 'n_types', CAST(n_types AS BIGINT) FROM vocab
    UNION ALL
    SELECT 'n_languages', CAST(COUNT(DISTINCT lang) AS BIGINT) FROM base
    UNION ALL
    SELECT 'n_sources', CAST(COUNT(DISTINCT source) AS BIGINT) FROM base
    UNION ALL
    SELECT 'n_exact_dup_groups',
           CAST(COUNT(*) AS BIGINT)
    FROM (SELECT eh FROM base GROUP BY eh HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'max_doc_tokens', CAST(MAX(n_tok) AS BIGINT) FROM base
    UNION ALL
    SELECT 'min_doc_tokens', CAST(MIN(n_tok) AS BIGINT) FROM base
    UNION ALL
    SELECT 'total_chars', CAST(SUM(n_chars_real) AS BIGINT) FROM base
    """,
)
def q200_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "lang", "source",
        F.length("text").alias("n_chars_real"),
        F.expr(f"size(filter({_TOKENS}, x -> x <> ''))").alias("n_tok"),
        F.md5("text").alias("eh"))
    vocab = (d.select(F.explode(F.split("text", " ")).alias("t"))
             .filter(F.col("t") != "")
             .agg(F.countDistinct("t").alias("n_types")))
    dupg = (base.groupBy("eh").agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .agg(F.count(F.lit(1)).alias("g")))

    def stat(name, col):
        return F.lit(name).alias("stat"), col.cast("bigint").alias("value")

    rows = [
        base.agg(F.count(F.lit(1)).alias("v")).select(*stat("n_documents", F.col("v"))),
        base.agg(F.sum("n_tok").alias("v")).select(*stat("n_tokens", F.col("v"))),
        vocab.select(*stat("n_types", F.col("n_types"))),
        base.agg(F.countDistinct("lang").alias("v")).select(*stat("n_languages", F.col("v"))),
        base.agg(F.countDistinct("source").alias("v")).select(*stat("n_sources", F.col("v"))),
        dupg.select(*stat("n_exact_dup_groups", F.col("g"))),
        base.agg(F.max("n_tok").alias("v")).select(*stat("max_doc_tokens", F.col("v"))),
        base.agg(F.min("n_tok").alias("v")).select(*stat("min_doc_tokens", F.col("v"))),
        base.agg(F.sum("n_chars_real").alias("v")).select(*stat("total_chars", F.col("v"))),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# q209 — per-source scorecard: the side-by-side table a curation review
# reads — token mass and share, hapax ratio, sub-word diversity, mean
# quality and mean NLL per source, in one relation.  Each column is the
# same definition its standalone query uses (shared expressions), so
# the scorecard cannot drift from the per-metric reports.
#
# Shape: two corpus scans (row-level stats; token-level joins for hapax
# and NLL margins) feeding one source-sized join tree — all the heavy
# lifting is reused aggregate machinery.
# --------------------------------------------------------------------------
@query(
    "q209_source_scorecard",
    f"""
    WITH tokf AS (
        SELECT source, doc_id, t
        FROM (SELECT source, doc_id,
                     UNNEST(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t <> ''
    ),
    freq AS (SELECT t, COUNT(*) AS n FROM tokf GROUP BY t),
    tot AS (SELECT SUM(n) AS tot FROM freq),
    tokstats AS (
        SELECT source,
               COUNT(*) AS n_tokens,
               COUNT(CASE WHEN freq.n = 1 THEN 1 END) AS n_hapax,
               CAST(SUM(CAST(ROUND(-ln(CAST(freq.n AS DOUBLE) / tot.tot),
                                   9) AS DECIMAL(30,9))) AS DOUBLE)
                   / COUNT(*) AS avg_nll
        FROM tokf JOIN freq ON tokf.t = freq.t CROSS JOIN tot
        GROUP BY source
    ),
    {_SCORED_SQL.replace('WITH ', '')},
    rowstats AS (
        SELECT d.source,
               COUNT(*) AS n_docs,
               {sql_davg('s.quality', 'avg_quality')},
               CAST(SUM(CAST(ROUND(
                   CAST(len(list_distinct({_Q182_GRAMS_DUCK})) AS DOUBLE)
                   / len({_Q182_GRAMS_DUCK}), 9) AS DECIMAL(30,9)))
                   AS DOUBLE) / COUNT(*) AS avg_diversity
        FROM documents d JOIN scored s ON d.doc_id = s.doc_id
        GROUP BY d.source
    ),
    alltok AS (SELECT SUM(n_tokens) AS t FROM tokstats)
    SELECT r.source,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(tk.n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(tk.n_tokens AS DOUBLE) / alltok.t, 6)
               AS token_share,
           ROUND(CAST(tk.n_hapax AS DOUBLE) / tk.n_tokens, 6)
               AS hapax_ratio,
           ROUND(r.avg_diversity, 6) AS avg_diversity,
           ROUND(r.avg_quality, 6) AS avg_quality,
           ROUND(tk.avg_nll, 6) AS avg_nll
    FROM rowstats r
    JOIN tokstats tk ON r.source = tk.source
    CROSS JOIN alltok
    """,
)
def q209_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _spread_docs

    # three branches (token explode, q182-gram diversity, quality score)
    # all fan out of this scan; spreading it parallelizes every branch
    # off ONE reused exchange (measured 2.6s -> 1.9s at sf0.1)
    require_unique_doc_ids(spark, sf_dir)
    d = _spread_docs(load(spark, sf_dir, "documents"))
    tokf = (d.select("source", "doc_id",
                     F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != ""))
    # pre-aggregate to (source, token) COUNTS and derive the vocab
    # frequency table FROM them: token instances shuffle exactly once
    # (the (source, t) groupBy); the freq re-aggregation and the join
    # both run over vocab-sized tables.  The old shape joined token
    # INSTANCES x vocab — at 100 TB that shuffles the whole exploded
    # corpus on the token key.  Values are bit-identical: the
    # per-instance decimal nll sum equals c * nll exactly (decimal
    # multiply by an integer count), hapax rows have c == 1 by
    # definition, and n_tokens is the sum of the counts.  Measured
    # same-session at sf0.1: 2.2 -> 1.8 s warm (and the removed
    # instance-shuffle is the part that grows with corpus size).
    st = tokf.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    freq = st.groupBy("t").agg(F.sum("c").alias("n"))
    tot = freq.agg(F.sum("n").alias("tot"))
    # decimal(18,9) term x decimal(19,0) count -> decimal(38,9): full
    # scale survives Spark's precision-loss rule, so c * nll is EXACTLY
    # the c-fold decimal sum (a (30,9) term would force the product's
    # scale down to 6 and diverge from the oracle's per-instance sum)
    nll_term = F.round(
        -F.log(F.col("n").cast("double") / F.col("tot")), 9
    ).cast("decimal(18,9)")
    cdec = F.col("c").cast("decimal(19,0)")
    tokstats = (st.join(freq, "t").crossJoin(F.broadcast(tot))
                .groupBy("source")
                .agg(F.sum("c").alias("n_tokens"),
                     F.count(F.when(F.col("n") == 1, 1)).alias("n_hapax"),
                     (F.sum(cdec * nll_term).cast("double")
                      / F.sum("c")).alias("avg_nll")))
    # keep=: source and text ride the scorer's 1:1 projection, so the
    # row-stats branch is one map-side pass over the (spread) scan —
    # the old d ⋈ scored corpus self-join on doc_id is gone (r17,
    # guide §3; at 100 TB that join shuffled/broadcast the corpus)
    scored = _scored_quality(d, keep=("source", "text"))
    diversity = F.round(
        F.expr(f"size(array_distinct({_Q182_GRAMS_SPARK}))").cast("double")
        / F.expr(f"size({_Q182_GRAMS_SPARK})"), 9).cast("decimal(30,9)")
    rowstats = (scored
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     davg("quality", "avg_quality"),
                     (F.sum(diversity).cast("double")
                      / F.count(F.lit(1))).alias("avg_diversity")))
    alltok = tokstats.agg(F.sum("n_tokens").alias("t"))
    return (rowstats.join(tokstats, "source")
            .crossJoin(F.broadcast(alltok))
            .select("source",
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.round(F.col("n_tokens").cast("double")
                            / F.col("t"), 6).alias("token_share"),
                    F.round(F.col("n_hapax").cast("double")
                            / F.col("n_tokens"), 6).alias("hapax_ratio"),
                    F.round("avg_diversity", 6).alias("avg_diversity"),
                    F.round("avg_quality", 6).alias("avg_quality"),
                    F.round("avg_nll", 6).alias("avg_nll")))


# --------------------------------------------------------------------------
# q210 — word-length distribution: corpus-wide histogram of token
# lengths.  The byte-per-token planning stat (tokenizer compression
# starts from this curve) and an OCR-noise tell (a fat tail of 1-char
# tokens).  One explode, one tiny histogram groupBy.
# --------------------------------------------------------------------------
@query(
    "q210_word_length_hist",
    """
    WITH tok AS (
        SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
    )
    SELECT CAST(length(t) AS BIGINT) AS word_len,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tok WHERE t <> '' GROUP BY length(t)
    """,
)
def q210_word_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (d.select(F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != "")
            .groupBy(F.length("t").cast("bigint").alias("word_len"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens")))


# --------------------------------------------------------------------------
# q216 — DSIR-style importance resampling (round-12 inventory growth):
# select source-corpus documents whose unigram distribution looks like a
# TARGET domain, by log-likelihood ratio under two smoothed unigram LMs
# — the published Data Selection via Importance Resampling recipe
# (Xie et al. 2023, arXiv:2302.03169; method description only) with the
# paper's Gumbel resampling replaced by a deterministic top-N so the
# result is reproducible and oracle-checkable.  The target domain here
# is lang='en' (the corpus's majority language standing in for "looks
# like Wikipedia"); the source LM is the whole corpus.
#
# Per doc: w(d) = sum_t ln( p_tgt(t) / p_src(t) ) over its tokens, with
# add-1 smoothing over the SOURCE vocab (target vocab is a subset by
# construction).  Selected = top _DSIR_N docs by (w DESC, doc_id).
#
# Plan shape at 100 TB: one token explode feeds BOTH LM aggregations
# (vocab-sized groupBys with map-side partials); the per-token
# log-ratio dim joins back on the token (uniform key, broadcast-able
# vocab at dim scale); one doc_id-keyed reduce; the top-N is
# TakeOrderedAndProject (no global window — K rows through one reduce,
# never the corpus).  Cross-engine floats: each token's log-ratio is
# rounded to 9dp then decimal-summed (the q141 ln() device), so the
# doc weights are bit-identical and the top-N boundary cannot split
# the engines; reported means go through fround6.
# --------------------------------------------------------------------------
_DSIR_TARGET_LANG = "en"
_DSIR_N = 120


@query(
    "q216_dsir_importance",
    f"""
    WITH tok AS (
        SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS t
        FROM documents
    ),
    tokf AS (SELECT doc_id, lang, t FROM tok WHERE t <> ''),
    src AS (SELECT t, COUNT(*) AS ns FROM tokf GROUP BY t),
    tgt AS (SELECT t, COUNT(*) AS nt FROM tokf
            WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY t),
    tots AS (
        SELECT (SELECT SUM(ns) FROM src) AS ts,
               (SELECT COALESCE(SUM(nt), 0) FROM tgt) AS tt,
               (SELECT COUNT(*) FROM src) AS v
    ),
    ratio AS (
        SELECT src.t,
               ROUND(ln(((COALESCE(tgt.nt, 0) + 1.0) / (tots.tt + tots.v))
                        / ((src.ns + 1.0) / (tots.ts + tots.v))), 9)
                   AS lr
        FROM src LEFT JOIN tgt ON src.t = tgt.t CROSS JOIN tots
    ),
    weights AS (
        SELECT tokf.doc_id, tokf.lang,
               CAST(SUM(CAST(lr AS DECIMAL(30,9))) AS DOUBLE) AS w
        FROM tokf JOIN ratio ON tokf.t = ratio.t
        GROUP BY tokf.doc_id, tokf.lang
    ),
    selected AS (
        SELECT doc_id, lang, w FROM weights
        ORDER BY w DESC, doc_id LIMIT {_DSIR_N}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           {{avg_w}} AS avg_weight,
           {{min_w}} AS min_weight
    FROM selected GROUP BY lang
    """.format(
        avg_w=("(floor((CAST(SUM(CAST(ROUND(w, 9) AS DECIMAL(30,9))) "
               "AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0)"),
        min_w="(floor(MIN(w) * 1000000.0 + 0.5) / 1000000.0)",
    ),
)
def q216_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = (d.select("doc_id", "lang",
                    F.explode(F.split("text", " ")).alias("t"))
           .filter(F.col("t") != ""))
    src = tok.groupBy("t").agg(F.count(F.lit(1)).alias("ns"))
    tgt = (tok.filter(F.col("lang") == _DSIR_TARGET_LANG)
           .groupBy("t").agg(F.count(F.lit(1)).alias("nt")))
    tots = (src.agg(F.sum("ns").alias("ts"),
                    F.count(F.lit(1)).alias("v"))
            .crossJoin(tgt.agg(
                F.coalesce(F.sum("nt"), F.lit(0)).alias("tt"))))
    # smoothed per-token log-ratio dim: vocab-sized, the 9dp-round +
    # decimal-sum ln() device from q141
    lr = F.round(F.log(
        ((F.coalesce(F.col("nt"), F.lit(0)) + 1.0)
         / (F.col("tt") + F.col("v")))
        / ((F.col("ns") + 1.0) / (F.col("ts") + F.col("v")))), 9)
    ratio = (src.join(tgt, "t", "left")
             .crossJoin(F.broadcast(tots))
             .select("t", lr.alias("lr")))
    weights = (tok.join(ratio, "t")
               .groupBy("doc_id", "lang")
               .agg(F.sum(F.col("lr").cast("decimal(30,9)"))
                    .cast("double").alias("w")))
    # deterministic top-N: TakeOrderedAndProject, never a global window
    selected = weights.orderBy(F.desc("w"), F.asc("doc_id")).limit(_DSIR_N)
    from .common import fround6
    return (selected.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_selected"),
                 fround6(F.sum(F.round(F.col("w"), 9)
                               .cast("decimal(30,9)")).cast("double")
                         / F.count(F.lit(1))).alias("avg_weight"),
                 fround6(F.min("w")).alias("min_weight")))


# --------------------------------------------------------------------------
# q217 — per-domain quota sampling (round-12 inventory growth): cap how
# many documents any one REGISTERED DOMAIN contributes to the training
# corpus, keeping each domain's highest-quality docs — the standard
# web-crawl balance step (a single hyper-crawled site must not dominate
# the mix), composing q214's registered-domain extraction with q44's
# quality score.  Within a domain, rank by (quality DESC, doc_id) and
# keep rank <= _DOMAIN_QUOTA; report per-domain kept/dropped and the
# kept docs' mean quality.  (Lives here, not in dedup.py, because it
# needs _SCORED_SQL at module-eval time and textops already imports
# dedup's builders — the reverse import would be circular.)
#
# Plan shape at 100 TB: the URL->domain derivation is pure codegen
# (q214's expression — no UDF, no join); quality is a per-row formula;
# the only shuffle is the domain-keyed rank window, which is
# partition-parallel across millions of domains (keys are many and the
# per-key group is crawl-bounded; for a pathological mega-domain the
# q85 two-phase thinning composes in front).  Output is domain-count
# rows.  Floats: quality already uses the engine-neutral floor-device;
# the mean goes through decimal accumulation + fround6.
# --------------------------------------------------------------------------
_DOMAIN_QUOTA = 6

from .dedup import _HOST_RE as _Q217_HOST_RE  # noqa: E402
from .dedup import _url_expr as _q217_url_expr  # noqa: E402
from .dedup import registered_domain_spark as _q217_rd_spark  # noqa: E402
from .dedup import registered_domain_sql as _q217_rd_sql  # noqa: E402

_ORACLE_Q217 = f"""
    {_SCORED_SQL},
    -- the synthetic URL is a pure function of doc_id, so the domain
    -- derives on the scored relation directly: ZERO joins in the whole
    -- query (one scan, one window, one groupBy)
    reg AS (
        SELECT doc_id,
               COALESCE({_q217_rd_sql(
                   f"regexp_extract({_q217_url_expr()}, "
                   f"{_Q217_HOST_RE}, 1)")}, '(none)')
                   AS registered_domain,
               quality
        FROM scored
    ),
    ranked AS (
        SELECT doc_id, registered_domain, quality,
               ROW_NUMBER() OVER (PARTITION BY registered_domain
                                  ORDER BY quality DESC, doc_id) AS rk
        FROM reg
    )
    SELECT registered_domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN rk <= {_DOMAIN_QUOTA} THEN 1 END)
                AS BIGINT) AS n_kept,
           CAST(COUNT(CASE WHEN rk > {_DOMAIN_QUOTA} THEN 1 END)
                AS BIGINT) AS n_dropped,
           (floor((CAST(SUM(CASE WHEN rk <= {_DOMAIN_QUOTA}
                              THEN CAST(ROUND(quality, 9) AS DECIMAL(30,9))
                              END) AS DOUBLE)
                   / COUNT(CASE WHEN rk <= {_DOMAIN_QUOTA} THEN 1 END))
                  * 1000000.0 + 0.5) / 1000000.0) AS avg_kept_quality
    FROM ranked GROUP BY registered_domain
"""


@query("q217_domain_quota_sample", _ORACLE_Q217)
def q217_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from .common import fround6

    d = load(spark, sf_dir, "documents")
    # url (hence domain) is a pure function of doc_id — derive it on the
    # scored frame: one scan, no join (mirrors the oracle)
    reg = _scored_quality(d).select(
        "doc_id",
        F.coalesce(
            F.expr(_q217_rd_spark(
                f"regexp_extract({_q217_url_expr()}, "
                f"{_Q217_HOST_RE}, 1)")),
            F.lit("(none)")).alias("registered_domain"),
        "quality")
    w = W.partitionBy("registered_domain").orderBy(
        F.desc("quality"), F.asc("doc_id"))
    ranked = reg.withColumn("rk", F.row_number().over(w))
    kept = F.col("rk") <= _DOMAIN_QUOTA
    return (ranked.groupBy("registered_domain")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count(F.when(kept, 1)).cast("bigint").alias("n_kept"),
                 F.count(F.when(~kept, 1)).cast("bigint")
                 .alias("n_dropped"),
                 fround6(
                     F.sum(F.when(kept, F.round(F.col("quality"), 9)
                                  .cast("decimal(30,9)"))).cast("double")
                     / F.count(F.when(kept, 1)))
                 .alias("avg_kept_quality")))


# --------------------------------------------------------------------------
# q221 — Gopher-style quality-rule filter (round 13; new capability).
# The published rule family from Rae et al. 2021 ("Scaling Language
# Models: ... Gopher", appendix A1.1 — public paper), re-parameterized
# for the synthetic corpus and applied per document:
#   R1 word count within [_GR_MIN_WORDS, _GR_MAX_WORDS];
#   R2 mean word length within [3.9, 5.1]  (paper: [3, 10]);
#   R3 repetition: distinct-token ratio >= 0.5 (the paper's
#      duplicate-n-gram family collapsed to its unigram form);
#   R4 at least _GR_MIN_STOP of the 6-word stop list present (the
#      paper's "stop word" rule).
# Output: per-language rule-failure counts + docs passing ALL rules —
# the shape a curation dashboard consumes (which rule bites where).
#
# Engine neutrality by construction: every rule is an INTEGER
# comparison (mean-word-length and distinct-ratio thresholds are
# cross-multiplied: sum_len*10 >= 39*n rather than sum_len/n >= 3.9),
# so no float ever crosses an engine boundary except the final
# kept_frac, which goes through the fround6 device on identical
# integer operands.  All per-row work is codegen higher-order
# functions over one split() — zero joins, zero windows; the only
# shuffle is the 5-group final aggregate.  At 100 TB this is a pure
# map-side scan (the same shape as q80/q44).
# --------------------------------------------------------------------------
_GR_MIN_WORDS, _GR_MAX_WORDS = 20, 90
# mean-word-length band [3.9, 5.1], stored x10 so the rule stays an
# integer cross-multiplication (sum_len*10 vs LO10/HI10 * n)
_GR_WLEN_LO10, _GR_WLEN_HI10 = 39, 51
_GR_MIN_STOP = 1
_GR_STOP_SQL = "('the', 'a', 'of', 'and', 'to', 'in')"


def _gopher_flags(dialect: str) -> dict[str, str]:
    """rule name -> boolean SQL (TRUE = rule FAILED), shared text shape
    across engines; only the list-function spellings differ."""
    if dialect == "spark":
        toks = "split(text, ' ')"
        n = f"size({toks})"
        sumlen = (f"aggregate({toks}, 0, (a, x) -> a + length(x))")
        ndist = f"size(array_distinct({toks}))"
        nstop = f"size(filter({toks}, x -> x IN {_GR_STOP_SQL}))"
    else:
        toks = "string_split(text, ' ')"
        n = f"len({toks})"
        sumlen = f"list_sum(list_transform({toks}, x -> length(x)))"
        ndist = f"len(list_distinct({toks}))"
        nstop = f"len(list_filter({toks}, x -> x IN {_GR_STOP_SQL}))"
    return {
        "wordcount": f"({n} < {_GR_MIN_WORDS} OR {n} > {_GR_MAX_WORDS})",
        "wordlen": f"({sumlen} * 10 < {_GR_WLEN_LO10} * {n}"
                   f" OR {sumlen} * 10 > {_GR_WLEN_HI10} * {n})",
        "repetition": f"(2 * {ndist} < {n})",
        "stopwords": f"({nstop} < {_GR_MIN_STOP})",
    }


def _gopher_oracle() -> str:
    f = _gopher_flags("duckdb")
    fails = " OR ".join(f.values())
    cols = ", ".join(
        f"CAST(SUM(CASE WHEN {expr} THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS fail_{name}" for name, expr in f.items())
    return (f"SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, {cols}, "
            f"CAST(SUM(CASE WHEN NOT ({fails}) THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_kept, "
            + sql_fround6(
                f"SUM(CASE WHEN NOT ({fails}) THEN 1 ELSE 0 END) * 1.0 "
                f"/ COUNT(*)")
            + " AS kept_frac FROM documents GROUP BY lang")


@query("q221_gopher_rules", _gopher_oracle())
def q221_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    flags = _gopher_flags("spark")
    flagged = d.select(
        "lang", *[F.expr(expr).alias(f"_f_{name}")
                  for name, expr in flags.items()])
    passed = ~sum((F.col(f"_f_{n}").cast("int") for n in flags),
                  F.lit(0)).cast("boolean")
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[F.sum(F.col(f"_f_{n}").cast("int")).cast("bigint")
          .alias(f"fail_{n}") for n in flags],
        F.sum(passed.cast("int")).cast("bigint").alias("n_kept"),
        fround6(F.sum(passed.cast("int")) * 1.0 / F.count(F.lit(1)))
        .alias("kept_frac"))


# --------------------------------------------------------------------------
# q222 — CCNet-style bigram-LM perplexity bucketing (round 14; new
# capability).  The canonical CCNet curation step (Wenzek et al. 2020,
# "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
# Data" — public paper): score every document with a language model
# trained on a TARGET-QUALITY reference corpus, then split each
# language's documents into head/middle/tail perplexity tertiles (the
# buckets downstream pipelines sample from).  Differences from the
# unigram q141/q196 family: the LM is CONDITIONAL (Laplace-smoothed
# bigram P(w2|w1) = (c2+1)/(c1+V)), it is trained on a reference slice
# (here the 'en' subset standing in for CCNet's Wikipedia) and scores
# ALL languages including out-of-reference bigrams (smoothing floor
# 1/V), and the output is CCNet's per-language tertile buckets rather
# than corpus summary stats.
#
# Engine neutrality: counts are integers; each probability is an exact
# double ratio of <2^53 integers (identical IEEE division both sides);
# ln goes through the q141 round-9 + decimal-sum device; per-doc nll is
# then bit-identical, so the tertile THRESHOLDS — Spark's exact
# percentile, mirrored by sql_spark_pct — and the <= bucket comparisons
# agree exactly; displayed aggregates use the fround6 device.
#
# Plan shape at 100 TB: the reference LM tables are bigram-vocab-sized
# groupBys (map-side partials); scoring is two equi-joins on the bigram
# key (Catalyst size-gates the build side: a toy LM broadcasts, a
# billion-bigram LM degrades to shuffle join instead of OOMing the
# driver — the q89 argument); V is a 1-row broadcast.  The per-lang
# tertile thresholds are the one scale-sensitive step: exact
# percentile() is per-group-memory-bounded, correct at test scale and
# oracle-matched; at fleet scale the documented swap is
# approx_percentile(nll, ..., accuracy) with CCNet's own tolerance (the
# buckets are statistical by design), keeping everything else
# unchanged.  Bucket labeling is a map-side CASE against the 5-row
# broadcast threshold table — no global window anywhere.
# --------------------------------------------------------------------------
_BLM_REF_LANG = "en"
# repr(1/3) / repr(2/3): parse to the same double in both engines
_BLM_P1, _BLM_P2 = "0.3333333333333333", "0.6666666666666666"

# Fleet-scale tertile mode (round 15; VERDICT r14 task 4 — the swap the
# r14 plan-shape note documented is now a tested code path, the
# SPARK_GRAFT_SRP_PLANES env pattern).  "exact" (default, oracle-
# matched) computes per-language thresholds with Spark's exact
# percentile() — per-group-memory-bounded, correct at any tested SF;
# "approx" swaps in approx_percentile(nll, ..., accuracy) so a
# billion-doc language never materializes its full nll set in one
# aggregation buffer.  CCNet's buckets are statistical by design, so
# the approximate thresholds are within the operator's own tolerance —
# tests/test_q222_pct_modes.py pins bucket-count stability between the
# two modes at sf0.01.
_Q222_PCT_ACCURACY = 10000


def _q222_pct_mode() -> str:
    import os as _os

    raw = _os.environ.get("SPARK_GRAFT_Q222_PCT", "exact")
    if raw not in ("exact", "approx"):
        raise ValueError(
            f"SPARK_GRAFT_Q222_PCT={raw!r}: expected 'exact' or 'approx'")
    return raw

_ORACLE_Q222 = f"""
    WITH doc AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    docb AS (SELECT doc_id, lang, ts FROM doc WHERE len(ts) >= 2),
    bg AS (
        SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM (
            SELECT doc_id, lang,
                   unnest(list_transform(generate_series(1, len(ts) - 1),
                       i -> {{'w1': ts[i], 'w2': ts[i + 1]}})) AS b
            FROM docb)
    ),
    ref2 AS (
        SELECT w1, w2, COUNT(*) AS c2 FROM bg
        WHERE lang = '{_BLM_REF_LANG}' GROUP BY w1, w2
    ),
    ref1 AS (SELECT w1, SUM(c2) AS c1 FROM ref2 GROUP BY w1),
    vocab AS (
        SELECT COUNT(DISTINCT t) AS v FROM (
            SELECT unnest(ts) AS t FROM doc
            WHERE lang = '{_BLM_REF_LANG}')
    ),
    scored AS (
        SELECT g.doc_id, g.lang,
               CAST(SUM(CAST(ROUND(-ln(
                   (CAST(COALESCE(r2.c2, 0) AS DOUBLE) + 1.0)
                   / (CAST(COALESCE(r1.c1, 0) AS DOUBLE)
                      + CAST(vocab.v AS DOUBLE))), 9)
                   AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*) AS nll
        FROM bg g LEFT JOIN ref2 r2 ON r2.w1 = g.w1 AND r2.w2 = g.w2
                  LEFT JOIN ref1 r1 ON r1.w1 = g.w1
                  CROSS JOIN vocab
        GROUP BY g.doc_id, g.lang
    ),
    {sql_spark_pct('scored', 'nll',
                   [(_BLM_P1, 't1'), (_BLM_P2, 't2')],
                   part=['lang'], prefix='thr')},
    lab AS (
        SELECT s.lang,
               CASE WHEN s.nll <= thr.t1 THEN 'head'
                    WHEN s.nll <= thr.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               s.nll
        FROM scored s JOIN thr ON thr.lang = s.lang
    )
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_fround6("CAST(SUM(CAST(ROUND(nll, 9) AS DECIMAL(30,9)))"
                        " AS DOUBLE) / COUNT(*)")} AS avg_nll,
           {sql_fround6('MAX(nll)')} AS max_nll
    FROM lab GROUP BY lang, bucket
"""


@query("q222_bigram_lm_buckets", _ORACLE_Q222)
def q222_bigram_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    doc = d.select(
        "doc_id", "lang",
        F.expr("filter(split(text, ' '), t -> t <> '')").alias("ts"))
    docb = doc.filter(F.size("ts") >= 2)
    bg = (docb.select(
            "doc_id", "lang",
            F.explode(F.expr(
                "transform(sequence(1, size(ts) - 1),"
                " i -> named_struct('w1', element_at(ts, i),"
                " 'w2', element_at(ts, i + 1)))")).alias("b"))
          .select("doc_id", "lang",
                  F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")))
    ref2 = (bg.filter(F.col("lang") == _BLM_REF_LANG)
            .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")))
    ref1 = ref2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (doc.filter(F.col("lang") == _BLM_REF_LANG)
             .select(F.explode("ts").alias("t"))
             .agg(F.countDistinct("t").alias("v")))
    p = ((F.coalesce(F.col("c2"), F.lit(0)).cast("double") + 1.0)
         / (F.coalesce(F.col("c1"), F.lit(0)).cast("double")
            + F.col("v").cast("double")))
    term = F.round(-F.log(p), 9).cast("decimal(30,9)")
    scored = (bg.join(ref2, ["w1", "w2"], "left")
              .join(ref1, "w1", "left")
              .crossJoin(F.broadcast(vocab))
              .groupBy("doc_id", "lang")
              .agg((F.sum(term).cast("double") / F.count(F.lit(1)))
                   .alias("nll")))
    # NOT pinned: the threshold branch and the final labeling both
    # recompute scored (8 parquet scans / 0 ReusedExchange in the
    # plan), but a localCheckpoint pin A/B'd as a no-op at sf0.1
    # (pinned [2.07, 2.42, 1.64] vs unpinned [2.21, 1.58] s — the
    # eager materialization job cancels the saved recompute; README
    # rule 6, SCALE_NOTES r14).  At fleet scale the documented swap is
    # persisting scored (3 narrow columns) alongside the
    # approx_percentile threshold swap.
    pct_fn = ("percentile" if _q222_pct_mode() == "exact"
              else "approx_percentile")
    acc = ("" if _q222_pct_mode() == "exact"
           else f", {_Q222_PCT_ACCURACY}")
    thr = (scored.groupBy("lang")
           .agg(F.expr(
               f"{pct_fn}(nll, array(cast({_BLM_P1} as double),"
               f" cast({_BLM_P2} as double)){acc})").alias("_ps"))
           .select("lang", F.col("_ps")[0].alias("t1"),
                   F.col("_ps")[1].alias("t2")))
    bucket = (F.when(F.col("nll") <= F.col("t1"), "head")
              .when(F.col("nll") <= F.col("t2"), "middle")
              .otherwise("tail"))
    return (scored.join(F.broadcast(thr), "lang")
            .select("lang", bucket.alias("bucket"), "nll")
            .groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 fround6(F.sum(F.round(F.col("nll"), 9)
                               .cast("decimal(30,9)")).cast("double")
                         / F.count(F.lit(1))).alias("avg_nll"),
                 fround6(F.max("nll")).alias("max_nll")))
