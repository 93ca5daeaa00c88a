"""Physical-plan invariants (SURVEY.md §4): pushdown, pruning, broadcast.

These pin the *plan shape*, not timings — a regression that silently turns
a broadcast join into a shuffle join or un-pushes a filter is a scale bug
long before it is a local slowdown.
"""

from __future__ import annotations

import pytest

from .conftest import SF_ORACLE


def _plan(spark, name: str) -> str:
    from spatial_data_engineering_spark.queries_registry import all_queries

    df = all_queries()[name](spark, SF_ORACLE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_q01_filter_pushdown_and_column_pruning(spark):
    plan = _plan(spark, "q01_pricing_summary")
    # temporal predicate reaches the parquet scan (C4 -> row-group skip)
    assert "LessThanOrEqual(l_shipdate" in plan
    # scan reads only the 6 needed columns of 11 (ColumnPruning)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_shipdate" in read


def test_q03_dimension_broadcast(spark):
    plan = _plan(spark, "q03_join_enrich")
    # nation and region broadcast; the customer fact side never shuffles
    # for the join
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q06_column_pruning(spark):
    plan = _plan(spark, "q06_monthly_revenue")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # exactly the 3 needed columns
    assert ("l_extendedprice" in read and "l_discount" in read
            and "l_shipdate" in read)
    assert "l_quantity" not in read and "l_returnflag" not in read


def _per_row_spatial_udfs(plan: str) -> list[str]:
    return [u for u in ("st_grid_cells", "st_contains", "st_intersects")
            if u in plan]


def test_q60_spatial_join_is_broadcast_point_kernel(spark):
    plan = _plan(spark, "q60_point_in_polygon")
    # the 25 nation boxes are within the broadcast threshold, so each
    # customer point meets them in one vectorized UDF pass and the matches
    # join back by build ordinal: no per-row grid-cell UDF, no
    # per-candidate predicate, never a cartesian product
    assert _per_row_spatial_udfs(plan) == []
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_golden_location_join_is_broadcast_point_kernel(spark, tmp_path):
    from spatial_data_engineering_spark.fixtures import write_fixtures
    from spatial_data_engineering_spark.plans import golden

    write_fixtures(str(tmp_path), seed=42)
    dissolved = golden.mangrove_dissolve(spark, str(tmp_path))
    pixels = spark.read.parquet(f"{tmp_path}/landsat_pixels.parquet")
    df = golden.monthly_ndvi(pixels, dissolved)
    assert _per_row_spatial_udfs(
        df._jdf.queryExecution().executedPlan().toString()) == []
    # st_point runs on the distinct locations, not on every pixel row:
    # the join's probe dedupe does not merge with the distinct below it
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    below = plan[plan.index("st_point"):]
    assert "Aggregate" in below[:below.index("Relation")], plan


def test_golden_location_join_is_broadcast_without_arrow(spark, tmp_path):
    # the driver's plain session may leave Arrow off; the dissolve must
    # still be a local relation with real size statistics there (a
    # pandas input without Arrow is an RDD scan estimated at
    # Long.MaxValue), so the location join keeps its broadcast path
    from spatial_data_engineering_spark.fixtures import write_fixtures
    from spatial_data_engineering_spark.plans import golden

    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        write_fixtures(str(tmp_path), seed=42)
        dissolved = golden.mangrove_dissolve(spark, str(tmp_path))
        pixels = spark.read.parquet(f"{tmp_path}/landsat_pixels.parquet")
        plan = (golden.monthly_ndvi(pixels, dissolved)
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set(key, saved)
    assert "st_grid_cells" not in plan and "st_contains" not in plan, plan


def test_q49_broadcasts_query_side(spark):
    plan = _plan(spark, "q49_cosine_topk")
    # non-equi self join: acceptable ONLY as broadcast NLJ with the tiny
    # query side as build side
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q47_band_join_no_cartesian(spark):
    plan = _plan(spark, "q47_minhash_lsh")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["q04_semi_join", "q05_anti_join"])
def test_semi_anti_never_materialize(spark, name):
    plan = _plan(spark, name)
    assert ("LeftSemi" in plan) or ("LeftAnti" in plan)


def test_q10_row_id_scale_path_no_single_partition(spark, monkeypatch):
    # F1 at scale: the two-pass partition-offset row id (forced here by a
    # zero kernel threshold — auto mode short-circuits small inputs to a
    # plain window) must not collapse the table onto one partition the
    # way a global window would.  The eager localCheckpoint truncates the
    # explained lineage (the range exchange runs at construction), so pin
    # the property itself: output stays spread across partitions and is
    # enumerated by MapInPandas.
    from spatial_data_engineering_spark.operators import relational as R

    monkeypatch.setattr(R, "_ROW_ID_WINDOW_THRESHOLD", 0)
    df = R.q10_row_number(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "SinglePartition" not in plan
    assert "MapInPandas" in plan
    assert df.rdd.getNumPartitions() > 1


def test_q10_row_id_paths_agree(spark, monkeypatch):
    # The auto-selected small-input window path and the forced two-pass
    # scale path must enumerate identically.
    from spatial_data_engineering_spark.operators import relational as R

    small = R.q10_row_number(spark, SF_ORACLE)
    monkeypatch.setattr(R, "_ROW_ID_WINDOW_THRESHOLD", 0)
    scale = R.q10_row_number(spark, SF_ORACLE)
    assert sorted(map(tuple, small.collect())) == \
        sorted(map(tuple, scale.collect()))


def test_q62_union_agg_two_phase(spark):
    # E1 at scale: partial dissolve per Arrow batch (MapInPandas combiner)
    # before the shuffle, final grouped dissolve after — raw geometries
    # never shuffle, and no pandas group sees a whole group's rows
    plan = _plan(spark, "q62_dissolve_area")
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert plan.index("MapInPandas") > plan.index("FlatMapGroupsInPandas")


def test_q68_chunking_is_pure_flatmap(spark):
    # chunking must stay a shuffle-free flatMap: split -> explode starts
    # -> slice, all within one stage
    plan = _plan(spark, "q68_chunk_documents")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode


def test_q76_ssjoin_no_cartesian(spark):
    # candidate generation must be an equi-join on the shingle key; the
    # df cap keeps blocks bounded but must not change the join shape
    plan = _plan(spark, "q76_ngram_jaccard_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q77_packing_invariants(spark):
    # contract invariants beyond the value oracle: bins are contiguous
    # per shard, no bin exceeds capacity unless it holds a single
    # over-long doc, and every doc appears exactly once
    from spatial_data_engineering_spark.operators.textops import (
        _PACK_CAP, _PACK_SHARDS)
    from spatial_data_engineering_spark.queries_registry import all_queries

    rows = all_queries()["q77_pack_sequences"](spark, SF_ORACLE).collect()
    assert len(rows) == len({r["doc_id"] for r in rows}) > 0
    by_shard: dict = {}
    for r in rows:
        assert r["shard"] == r["doc_id"] % _PACK_SHARDS
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        bins = [r["bin_idx"] for r in rs]
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
        fill: dict = {}
        for r in rs:
            fill[r["bin_idx"]] = fill.get(r["bin_idx"], 0) + r["n_tokens"]
        for b, tot in fill.items():
            n_docs = sum(1 for r in rs if r["bin_idx"] == b)
            assert tot <= _PACK_CAP or n_docs == 1


def test_q78_balance_no_window_broadcast_rates(spark):
    # group-capped sampling must stay stateless per row: a rank/window
    # over lang would serialize each language onto one partition
    plan = _plan(spark, "q78_balance_corpus")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_q79_decontaminate_broadcasts_benchmark(spark):
    # the benchmark shingle set broadcasts; the corpus side never
    # sort-merge-shuffles its exploded text
    plan = _plan(spark, "q79_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q81_detection_guarantee(spark):
    # the seed-scheme contract: ANY shared substring of length
    # >= _SUB_L + _SUB_STRIDE - 1 (79 chars) must be detected, wherever
    # it lands in either document — planted-copy property test across
    # alignments, including the id-asymmetric direction
    import random

    from spatial_data_engineering_spark.operators.dedup import (
        _SUB_L, _SUB_STRIDE, substring_dup_pairs)

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789 "

    def rand_text(n):
        return "".join(rng.choice(alpha) for _ in range(n))

    shared_len = _SUB_L + _SUB_STRIDE - 1  # 79: the guaranteed minimum
    rows, expected = [], set()
    doc_id = 0
    for trial in range(8):
        shared = rand_text(shared_len)
        # plant at awkward offsets in both docs (including offset 0 and
        # deep inside), order the ids both ways across trials
        off_a, off_b = rng.randrange(0, 200), rng.randrange(0, 200)
        a_txt = rand_text(off_a) + shared + rand_text(rng.randrange(0, 150))
        b_txt = rand_text(off_b) + shared + rand_text(rng.randrange(0, 150))
        rows += [(doc_id, a_txt), (doc_id + 1, b_txt)]
        expected.add((doc_id, doc_id + 1))
        doc_id += 2
    # decoys with no long shared run
    for _ in range(6):
        rows.append((doc_id, rand_text(300)))
        doc_id += 1

    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["a_id"], r["b_id"])
           for r in substring_dup_pairs(d).collect()}
    missed = expected - got
    assert not missed, f"guaranteed pairs missed: {missed}"


def test_q82_incremental_is_anti_join(spark):
    # incremental admission must be anti joins on hash keys — never a full
    # corpus re-dedup, never corpus text in the shuffle
    plan = _plan(spark, "q82_incremental_dedup")
    assert plan.count("LeftAnti") >= 2


def test_spread_docs_guard(spark):
    # the spread is a no-op once the scan already has enough splits —
    # no unconditional corpus shuffle at scale
    from spatial_data_engineering_spark.catalog import spread

    p = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).withColumnRenamed("id", "doc_id") \
        .repartition(p + 4)
    assert spread(wide, "doc_id") is wide
    narrow = spark.range(1000).withColumnRenamed("id", "doc_id").coalesce(1)
    assert spread(narrow, "doc_id").rdd.getNumPartitions() == p


def test_q77_packing_random_frames(spark):
    # hypothesis-style sweep over random token-count frames: the
    # distributed pack must equal a sequential reference walk exactly,
    # for every shard, at several sizes/seeds
    import random

    from spatial_data_engineering_spark.operators.textops import _PACK_CAP

    def reference_pack(rows):
        # rows: [(doc_id, shard, n_tokens)] -> {doc_id: bin_idx}
        out = {}
        by_shard: dict = {}
        for r in sorted(rows):
            by_shard.setdefault(r[1], []).append(r)
        for shard, rs in by_shard.items():
            bin_idx, cum = 0, 0
            for k, (doc_id, _, n) in enumerate(rs):
                if k == 0:
                    cum = n
                elif cum + n > _PACK_CAP:
                    bin_idx += 1
                    cum = n
                else:
                    cum += n
                out[doc_id] = bin_idx
        return out

    import pandas as pd

    for seed, n_docs, n_shards in ((0, 97, 4), (1, 400, 8), (2, 33, 16)):
        rng = random.Random(seed)
        rows = [(i, i % n_shards,
                 rng.choice([5, 60, 200, _PACK_CAP, _PACK_CAP + 50]))
                for i in range(n_docs)]
        pdf = spark.createDataFrame(rows, ["doc_id", "shard", "n_tokens"])

        def pack(p: pd.DataFrame) -> pd.DataFrame:
            p = p.sort_values("doc_id").reset_index(drop=True)
            bins, bin_idx, cum = [], 0, 0
            for k, n in enumerate(p["n_tokens"]):
                if k == 0:
                    cum = n
                elif cum + n > _PACK_CAP:
                    bin_idx += 1
                    cum = n
                else:
                    cum += n
                bins.append(bin_idx)
            p["bin_idx"] = pd.Series(bins, dtype="int64")
            return p[["doc_id", "shard", "bin_idx", "n_tokens"]]

        got = {r["doc_id"]: r["bin_idx"]
               for r in pdf.groupBy("shard").applyInPandas(
                   pack, schema="doc_id bigint, shard bigint, "
                                "bin_idx bigint, n_tokens bigint").collect()}
        assert got == reference_pack(rows), f"seed {seed} diverged"


def _direct_topk(spark, d, k):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from spatial_data_engineering_spark.operators.textops import _doc_key

    keyed = d.select("doc_id", "lang", F.expr(_doc_key("spark")).alias("u"))
    w = W.partitionBy("lang").orderBy("u", "doc_id")
    return (keyed.select("doc_id", "lang",
                         F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= k))


def test_q85_twophase_equals_direct_rank(spark):
    # the two-phase top-K must equal the direct single-window rank over
    # the FULL corpus slice — the thinning threshold (2K expected
    # survivors) contains the K smallest u whenever >= K docs survive,
    # which the test also asserts per group
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.operators.textops import _TP_K
    from spatial_data_engineering_spark.queries_registry import all_queries
    from spatial_data_engineering_spark.catalog import load

    two = all_queries()["q85_twophase_topk"](spark, SF_ORACLE)
    got = {(r["lang"], r["rk"]): r["doc_id"] for r in two.collect()}

    d = load(spark, SF_ORACLE, "documents")
    want = {(r["lang"], r["rk"]): r["doc_id"]
            for r in _direct_topk(spark, d, _TP_K).collect()}
    assert got == want

    # precondition that makes the equivalence exact on this corpus:
    # every language keeps >= K survivors after thinning
    per_lang = {r["lang"]: r["n"] for r in
                two.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
                .collect()}
    assert all(n == _TP_K for n in per_lang.values()), per_lang


def test_q85_twophase_large_group_regime(spark):
    # the regime the old bucket-grid threshold got wrong: one group far
    # larger than any bucket grid (300k docs; old floor(rate*10000) gave
    # threshold 2 -> ~60 expected survivors < K -> silent wrong answer).
    # With the fine-domain ceil threshold, two-phase must still equal the
    # direct rank exactly and produce a full K rows.
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.operators.textops import (
        _TP_K, twophase_topk)

    d = (spark.range(300_000)
         .select(F.col("id").alias("doc_id"), F.lit("xx").alias("lang"),
                 F.lit(0).alias("n_chars")))
    two = twophase_topk(d)
    got = [(r["rk"], r["doc_id"]) for r in two.collect()]
    want = [(r["rk"], r["doc_id"])
            for r in _direct_topk(spark, d, _TP_K).collect()]
    assert len(got) == _TP_K
    assert sorted(got) == sorted(want)


def test_q87_novelty_no_cartesian_one_index_join(spark):
    # novelty joins the token stream back to its df table on the shingle
    # key — must stay an equi-join (no cartesian) with partial aggs on
    # both the df groupBy and the per-doc rollup
    plan = _plan(spark, "q87_ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_q88_containment_no_cartesian(spark):
    # candidate generation shares q76's df-capped inverted-index shape
    plan = _plan(spark, "q88_containment_join")
    assert "CartesianProduct" not in plan


def test_q89_lift_takeordered_and_broadcast(spark):
    # top-20 must be a TakeOrdered (never a global sort of the bigram
    # table) and the vocabulary-sized unigram table must broadcast
    plan = _plan(spark, "q89_bigram_lift")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q90_redact_no_shuffle(spark):
    # pattern scan is a pure projection + filter: no exchange at all
    plan = _plan(spark, "q90_pattern_redact")
    assert "Exchange" not in plan


def test_q95_split_exact_proportions(spark):
    # every doc in exactly one split; per-lang counts follow the exact
    # integer thresholds (train = floor(8n/10), train+val = floor(9n/10))
    from spatial_data_engineering_spark.queries_registry import all_queries

    rows = all_queries()["q95_stratified_split"](spark, SF_ORACLE).collect()
    assert len(rows) == len({r["doc_id"] for r in rows}) > 0
    per_lang: dict = {}
    for r in rows:
        per_lang.setdefault(r["lang"], []).append(r["split"])
    for lang, splits in per_lang.items():
        n = len(splits)
        from collections import Counter

        c = Counter(splits)
        assert c["train"] == (8 * n) // 10, (lang, c)
        assert c["train"] + c["val"] == (9 * n) // 10, (lang, c)
        assert c["test"] == n - (9 * n) // 10, (lang, c)


def test_q96_lift_covers_all_multi_token_docs(spark):
    # inner join against the unfiltered corpus lift table must cover
    # every adjacent pair: n_bigrams == n_tokens - 1 per doc, lift > 0
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.queries_registry import all_queries

    got = {r["doc_id"]: r for r in
           all_queries()["q96_doc_bigram_lift"](spark, SF_ORACLE).collect()}
    toks = {r["doc_id"]: r["nt"] for r in
            load(spark, SF_ORACLE, "documents")
            .select("doc_id", F.size(F.split("text", " ")).alias("nt"))
            .collect()}
    for doc_id, nt in toks.items():
        if nt >= 2:
            assert got[doc_id]["n_bigrams"] == nt - 1, doc_id
            assert got[doc_id]["avg_lift"] > 0
        else:
            assert doc_id not in got


def test_ssj_candidates_materialized_once(spark):
    """q76/q88 must share ONE materialization of the df-capped candidate
    pair set per (session, corpus) — each was re-running the token
    explode + df groupBy + index self-join cold (the near_dup_pairs
    finding, applied to the exact set-similarity family)."""
    from spatial_data_engineering_spark import memo
    from spatial_data_engineering_spark.operators import dedup

    memo.forget(spark, "ssj_candidates")
    before = memo.COUNTS["ssj_candidates"]["builds"]

    _, c1 = dedup.ssj_candidate_pairs(spark, SF_ORACLE)
    _, c2 = dedup.ssj_candidate_pairs(spark, SF_ORACLE)
    assert c2 is c1
    assert memo.COUNTS["ssj_candidates"]["builds"] == before + 1

    n76 = dedup.q76_ngram_jaccard_join(spark, SF_ORACLE).count()
    n88 = dedup.q88_containment_join(spark, SF_ORACLE).count()
    assert n76 > 0 and n88 > 0
    assert memo.COUNTS["ssj_candidates"]["builds"] == before + 1


def test_q106_bloom_prunes_before_shuffle(spark):
    """The bloom pre-filter must (a) be a strict superset of the exact
    semi-join keeper set, (b) prune a meaningful fraction of lineitem
    map-side, and (c) stay whole-stage-codegen (no Python eval)."""
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.operators import subqueries

    # reproduce the internal pruned frame by re-running the builder on a
    # copy of the query body up to the semi-join
    li = load(spark, SF_ORACLE, "lineitem")
    o = load(spark, SF_ORACLE, "orders")
    keep = (o.filter(o.o_orderpriority.ilike("%urgent%")
                     & (o.o_totalprice > 150000)).select("o_orderkey"))
    exact_keys = {r[0] for r in keep.collect()}
    total = li.count()
    exact_rows = li.join(keep, li.l_orderkey == keep.o_orderkey,
                         "left_semi").count()

    plan = _plan(spark, "q106_bloom_semi_join")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    df = subqueries.q106_bloom_semi_join(spark, SF_ORACLE)
    out_rows = df.agg(F.sum("n_items")).collect()[0][0]
    # exactness: the semi-join removes every bloom false positive
    assert out_rows == exact_rows
    # the bloom itself must prune: with ~2k keys in 128K bits / k=3 the
    # FPR is well under 1%, so the pruned frame should be close to exact
    assert 0 < exact_rows < total


def test_q99_broadcasts_stats_no_corpus_shuffle(spark):
    """The per-type stats frame must broadcast back onto events — the
    events stream itself never shuffles for the join."""
    plan = _plan(spark, "q99_zscore_anomaly")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q103_left_join_preserves_zero_counts(spark):
    """Q13 shape: the priority predicate must live in the LEFT JOIN
    condition (outer-preserving), not a post-join filter."""
    plan = _plan(spark, "q103_order_count_distribution")
    assert "LeftOuter" in plan
    # zero-order customers must survive to the histogram
    from spatial_data_engineering_spark.queries_registry import all_queries
    rows = {r.c_count: r.n_customers
            for r in all_queries()["q103_order_count_distribution"](
                spark, SF_ORACLE).collect()}
    assert 0 in rows and rows[0] > 0


def test_q104_broadcasts_customer_dim(spark):
    plan = _plan(spark, "q104_large_volume_orders")
    assert "BroadcastHashJoin" in plan


def test_q113_sketch_is_fixed_size(spark):
    """The CMS counter table must be exactly d*w rows no matter the
    corpus — the property that makes the shuffle fixed-size at 100 TB."""
    from pyspark.sql import functions as F

    from spatial_data_engineering_spark.catalog import load
    from spatial_data_engineering_spark.operators.sketches import (
        _CMS_D, _CMS_W, _hex_fold, _pos_exprs)

    d = load(spark, SF_ORACLE, "documents")
    tf = (d.select(F.explode(F.split("text", " ")).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("term").agg(F.count(F.lit(1)).alias("n"))
          .withColumn("h", F.expr(_hex_fold("spark", "md5(term)"))))
    poss = _pos_exprs("spark", "h")
    cells = tf.select(F.explode(F.array(*[
        F.struct(F.lit(i).alias("row_i"), F.expr(poss[i]).alias("pos"))
        for i in range(_CMS_D)])).alias("c")).select("c.row_i", "c.pos")
    n_cells = cells.distinct().count()
    assert n_cells <= _CMS_D * _CMS_W
    # all four rows populated
    assert cells.select("row_i").distinct().count() == _CMS_D


def test_q120_is_single_window_no_join(spark):
    """The forward as-of must be one window pass — zero joins in the
    plan (the shape that cannot skew)."""
    plan = _plan(spark, "q120_asof_forward")
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_q148_semdedup_no_cartesian_prune_is_equijoin(spark):
    plan = _plan(spark, "q148_semdedup")
    # assignment crossJoin is a broadcast NLJ of the 16-row centroid
    # table (appears once per self-join branch of `member` — 3 sites, all
    # 16-row builds); the O(|c|^2) prune phase must be an equi-join on
    # the cluster id, never a corpus-level cartesian product
    assert "CartesianProduct" not in plan
    # formatted explain prints each site twice (tree + details): 3 sites
    assert plan.count("BroadcastNestedLoopJoin") <= 6
    assert "SortMergeJoin Inner" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_q151_returnflag_pushdown_and_dim_broadcast(spark):
    plan = _plan(spark, "q151_returned_revenue")
    # the returnflag filter reaches the lineitem scan; customer/nation
    # dims broadcast rather than shuffling the fact side
    assert "EqualTo(l_returnflag,R)" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q141_vocab_join_not_cartesian(spark):
    plan = _plan(spark, "q141_unigram_logprob")
    # token->freq lookup is an equi-join on the token; the only NLJ-ish
    # site is the 1-row total broadcast
    assert "CartesianProduct" not in plan


def test_q144_training_order_no_global_single_partition_sort(spark):
    plan = _plan(spark, "q144_training_order")
    # the window partitions by shard — there must be no SinglePartition
    # exchange anywhere (the global-sort trap)
    assert "SinglePartition" not in plan


def test_q146_vocab_overlap_equijoin_on_token(spark):
    plan = _plan(spark, "q146_vocab_overlap")
    # the pairwise-overlap join keys on the token column (hash or SMJ by
    # size; at sf0.01 one side broadcasts) — never a vocab cross product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q159_bm25_term_filter_before_aggregation(spark):
    plan = _plan(spark, "q159_bm25_topk")
    # the IN-list term filter must appear (pushed toward the scan), so
    # the postings table is |q|-sized, and no join may be a cartesian
    assert "hash" in plan and "join" in plan.lower()
    assert "CartesianProduct" not in plan


def test_q164_rfm_windows_over_aggregate_not_fact(spark):
    plan = _plan(spark, "q164_rfm_segments")
    # NTILE windows must sit above the per-customer aggregate: exactly
    # one aggregate pass over the fact table feeding the windows
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # 1-row horizon x2


def test_q165_dims_broadcast_fact_join_on_orderkey(spark):
    plan = _plan(spark, "q165_nation_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    # shipdate range reaches the lineitem scan
    assert "l_shipdate" in [ln for ln in plan.splitlines()
                            if "PushedFilters" in ln][0]


def test_q166_part_type_prunes_before_broadcast(spark):
    plan = _plan(spark, "q166_market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_q153_band_join_is_equijoin(spark):
    plan = _plan(spark, "q153_simhash_hamming_join")
    # candidates come from the (band, bv) equi-join — any build strategy,
    # never a nested-loop over signatures
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q155_pmi_offset_equijoin_no_band_predicate(spark):
    plan = _plan(spark, "q155_pmi_collocations")
    # the offset explode makes the pair join a pure equi-join on
    # (doc_id, position): a range predicate in the join condition would
    # resurrect the len^2 enumeration.  The only NLJ sites allowed are
    # the two 1-row total crossJoins (x2 in formatted explain's
    # tree+details double print).
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    # the pair join itself is an equi-join carrying both keys
    assert "doc_id" in plan and plan.count("BroadcastHashJoin") >= 2
