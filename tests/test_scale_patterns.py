"""Scale-pattern evidence tests: physical-plan assertions for the
patterns the 100 TB design leans on — salted joins spread hot keys,
bucketed tables join without an exchange, filters reach the parquet
scan, and dimension joins broadcast."""

import pytest
from pyspark.sql import functions as F

from chain_sync_spark.operators.skew import salted_join
from chain_sync_spark.plans.audit import executed_plan as _plan
from chain_sync_spark.plans.audit import has_pushed_filter


def test_salted_join_matches_plain_join(spark):
    big = spark.range(10_000).select(
        F.col("id"),
        F.when(F.col("id") % 100 < 98, "hot").otherwise("cold").alias("k"),
    )
    small = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, v int")
    plain = big.join(small, "k").groupBy("k", "v").count()
    salted = salted_join(big, small, ["k"], F.col("id"), n_salts=8).groupBy(
        "k", "v"
    ).count()
    assert sorted(map(str, plain.collect())) == sorted(map(str, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    """Every salt value must actually receive rows of the hot key —
    the whole point of the pattern."""
    big = spark.range(1000).select(F.col("id"), F.lit("hot").alias("k"))
    small = spark.createDataFrame([("hot", 1)], "k string, v int")
    big_s = big.withColumn("_s", F.pmod(F.xxhash64(F.col("id")), F.lit(8)).cast("int"))
    spread = big_s.groupBy("_s").count().collect()
    assert len(spread) == 8
    # and the salted join still returns every row exactly once
    assert salted_join(big, small, ["k"], F.col("id"), 8).count() == 1000


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-bucketed tables sort-merge join without a shuffle — the
    layout the posts/accounts stores map to on a real warehouse."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a")
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("b")
        )
        for name, df in [("bk_left", left), ("bk_right", right)]:
            df.write.mode("overwrite").option(
                "path", str(tmp_path / name)
            ).bucketBy(8, "k").sortBy("k").saveAsTable(name)
        joined = spark.table("bk_left").join(spark.table("bk_right"), "k")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_filter_pushdown_reaches_scan(spark):
    from chain_sync_spark.operators.relational import filter_project_events
    df = filter_project_events(spark, "/root/testdata/sf0.001")
    assert has_pushed_filter(df, "EqualTo(event_type,purchase)")


def test_dimension_join_broadcasts(spark):
    from chain_sync_spark.operators.relational import join_broadcast_dims
    df = join_broadcast_dims(spark, "/root/testdata/sf0.001")
    assert "BroadcastHashJoin" in _plan(df)


def test_q5_plan_broadcasts_dims_and_pushes_dates(spark):
    """TPC-H Q5: every dimension side (supplier, customer, nation ⋈
    region) joins as broadcast-hash — the fact tables must never
    shuffle for a dim — and the order-date range predicate reaches
    the parquet scan."""
    from chain_sync_spark.operators.relational import tpch_q5_local_supplier_volume
    from chain_sync_spark.plans.audit import broadcasts

    df = tpch_q5_local_supplier_volume(spark, "/root/testdata/sf0.001")
    assert broadcasts(df) >= 3, _plan(df)
    assert has_pushed_filter(df, "o_orderdate"), _plan(df)


def test_ivf_topk_probe_join_broadcasts(spark):
    """IVF probe search: centroids and the bounded query/probe set
    broadcast, so the corpus is never shuffled for the candidate
    join."""
    from chain_sync_spark.operators.llm_pipeline import embedding_ivf_topk

    df = embedding_ivf_topk(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # two broadcast nested passes over the centroids + the broadcast
    # probe join on centroid_id — three broadcast sides in total
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "BroadcastHashJoin" in plan, plan


def test_tpch_completion_plans(spark):
    """The 13 TPC-H completion shapes (operators/tpch.py): no
    cartesian products anywhere; Q2's only wide op is the cost
    aggregation (every join broadcast); Q21's EXISTS/NOT EXISTS
    rewrite reads lineitem at most twice (the semi+anti formulation
    would read it three times); Q4/Q12 push their date ranges to the
    scan."""
    from chain_sync_spark.operators import tpch

    sf = "/root/testdata/sf0.001"
    q2 = _plan(tpch.tpch_q2_min_cost_supplier(spark, sf))
    assert "SortMergeJoin" not in q2 and "CartesianProduct" not in q2, q2
    assert q2.count("BroadcastHashJoin") >= 2, q2

    q21 = _plan(tpch.tpch_q21_waiting_suppliers(spark, sf))
    assert q21.count("lineitem.parquet") <= 2, q21

    q4 = tpch.tpch_q4_order_priority(spark, sf)
    assert has_pushed_filter(q4, "o_orderdate"), _plan(q4)
    q12 = tpch.tpch_q12_ship_class_priority(spark, sf)
    assert has_pushed_filter(q12, "l_shipdate"), _plan(q12)


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A date-partitioned table read with a partition predicate must
    prune at planning time: the scan's PartitionFilters carry the
    predicate and the non-matching partitions' files are never
    listed into the plan — the layout posts/events map to at 100 TB
    (partitionBy year/month resp. date)."""
    ev = spark.range(1000).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 10).cast("int")).alias("d"),
    )
    path = str(tmp_path / "ev")
    ev.write.mode("overwrite").partitionBy("d").parquet(path)
    df = spark.read.parquet(path).filter(F.col("d") == "2024-01-03")
    plan = _plan(df)
    assert "PartitionFilters" in plan and "2024-01-03" in plan, plan
    # only the one matching partition's rows are read
    assert df.count() == 100


def test_exact_k_sample_plan_is_two_phase_salted(spark):
    """The top-k-per-group scale pattern: phase 1 must window over
    (lang, spark_partition_id) — a hot language spreads across the
    cluster instead of pinning one task — phase 1.5 bounds the
    per-lang fan-in at 64 hash buckets x k (the r11 global_topk_desc
    bound applied to the grouped form), and only those bounded
    survivors reach the per-lang phase-2 window."""
    from chain_sync_spark.operators.llm_pipeline import (
        sample_exact_k_per_lang,
    )

    plan = (
        sample_exact_k_per_lang(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    windows = [
        ln for ln in plan.splitlines() if ln.lstrip().startswith("+- Window [")
        or ln.lstrip().startswith("Window [")
    ]
    assert len(windows) == 3
    # the inner (phase-1) window is salted by the scan partition id
    assert "SPARK_PARTITION_ID" in plan or "spark_partition_id" in plan
    # Spark's rank-limit pushdown kicked in: each window phase prunes
    # to top-k via WindowGroupLimit before the full per-key sort
    assert plan.count("WindowGroupLimit") == 3


def test_keep_first_by_key_equals_window_form(spark):
    """The round-10 hardening primitive: min-struct keep-first must
    equal the ROW_NUMBER-window form on data with a heavy hot key
    (the case the window form cannot split), and its physical plan
    must contain a partial (map-side) aggregate and NO window."""
    from pyspark.sql import Window

    from chain_sync_spark.operators.skew import keep_first_by_key

    rows = [("hot", i % 7, i, f"p{i}") for i in range(200)]
    rows += [(f"k{i}", 0, i, f"q{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "key string, o1 int, o2 int, payload string")

    got = {
        tuple(r)
        for r in keep_first_by_key(df, ["key"], ["o1", "o2"])
        .select("key", "o1", "o2", "payload")
        .collect()
    }
    w = Window.partitionBy("key").orderBy("o1", "o2")
    want = {
        tuple(r)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "o1", "o2", "payload")
        .collect()
    }
    assert got == want and len(got) == 51

    plan = keep_first_by_key(df, ["key"], ["o1", "o2"])._jdf.queryExecution()\
        .executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan


def test_attach_group_count_equals_window_form(spark):
    """count-over-window replacement: same values, no Window node,
    join visible to AQE."""
    from pyspark.sql import Window

    from chain_sync_spark.operators.skew import attach_group_count

    rows = [("hot", i) for i in range(300)] + [(f"k{i}", i) for i in range(20)]
    df = spark.createDataFrame(rows, "key string, v int")
    got = {
        (r.key, r.v, r.df)
        for r in attach_group_count(df, ["key"], "df").collect()
    }
    w = Window.partitionBy("key")
    want = {
        (r.key, r.v, r.df)
        for r in df.withColumn("df", F.count(F.lit(1)).over(w)).collect()
    }
    assert got == want
    plan = attach_group_count(df, ["key"], "df")._jdf.queryExecution()\
        .executedPlan().toString()
    assert "Window" not in plan


def test_new_entrant_plan_shapes(spark):
    """Plan pins for the round-9 continuation entrants: the fused
    Gopher profile runs ONE generate (explode) and no Window at all;
    the mixture weights run no Window and exactly one corpus
    aggregate feeding a broadcast total; the KMV audit's only
    windows are the two-phase salted bottom-k (never a window over
    the raw hash without the partition salt)."""
    from chain_sync_spark.registry import all_queries

    q = all_queries()
    sf = "/root/testdata/sf0.001"

    gopher = _plan(q["gopher_dup_ngram_profile"](spark, sf))
    assert gopher.count("Generate") == 1          # fused single explode
    assert "Window" not in gopher                 # no window anywhere

    mix = _plan(q["mixture_temperature_weights"](spark, sf))
    assert "Window" not in mix
    assert "BroadcastExchange" in mix             # 1-row totals broadcast

    kmv = _plan(q["kmv_distinct_shingles"](spark, sf))
    # both windows carry the salt or the post-salt survivor bound:
    # partitionBy lists must mention source; the phase-1 window also
    # carries the partition id (the anti-hot-source salt)
    assert kmv.count("Window") >= 1
    assert "pid" in kmv                           # salted phase present


def test_prefix_filter_df_swap_is_value_identical(spark):
    """Pre-verification of the round-10 hardening swap for
    neardup_prefix_filter_pairs: its token-df count-over-window
    replaced by attach_group_count yields an IDENTICAL prefix
    relation (doc_id, n, tok, rn) on the real corpus — everything
    downstream (length filter, positional filter, verify) is a pure
    function of this relation, so the swap is value-identical by
    construction once this holds."""
    from pyspark.sql import Window

    from chain_sync_spark.operators import llm_pipeline as lp
    from chain_sync_spark.operators.skew import attach_group_count

    sf = "/root/testdata/sf0.001"
    t = lp.PREFIX_MIN_JACCARD
    shingled = lp._docs_shingled(spark, sf)
    tok = shingled.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("tok")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefix_bound = F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1

    wdf = Window.partitionBy("tok")
    pref_window = (
        tok.withColumn("df", F.count(F.lit(1)).over(wdf))
        .withColumn("rn", F.row_number().over(wdoc))
        .filter(F.col("rn") <= prefix_bound)
        .select("doc_id", "n", "tok", "rn")
    )
    pref_agg = (
        attach_group_count(tok, ["tok"], "df")
        .withColumn("rn", F.row_number().over(wdoc))
        .filter(F.col("rn") <= prefix_bound)
        .select("doc_id", "n", "tok", "rn")
    )
    a = {tuple(r) for r in pref_window.collect()}
    b = {tuple(r) for r in pref_agg.collect()}
    assert a == b and len(a) > 100


def test_incremental_batch_keepfirst_swap_is_value_identical(spark):
    """Round-11 queue pre-verification (dedup_incremental_batch):
    the content_md5 keep-first window replaced by keep_first_by_key
    yields identical survivors on the real corpus relation."""
    from pyspark.sql import Window

    from chain_sync_spark.operators import corpus_ops as co
    from chain_sync_spark.operators.skew import keep_first_by_key
    from chain_sync_spark.tables import table as tbl

    sf = "/root/testdata/sf0.001"
    docs = tbl(spark, sf, "documents")
    is_new = F.col("doc_id") % co.BATCH_MOD == 0
    fresh = docs.filter(is_new)
    recrawl = docs.filter(F.col("doc_id") % co.RECRAWL_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + co.RECRAWL_ID_OFFSET
    )
    batch = fresh.unionByName(recrawl).withColumn("content_md5", F.md5("text"))
    old = docs.filter(~is_new).select(F.md5("text").alias("content_md5")).distinct()
    candidates = batch.join(old, "content_md5", "left_anti")

    w = Window.partitionBy("content_md5").orderBy(F.asc("doc_id"))
    a = {
        (r.content_md5, r.doc_id)
        for r in candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("content_md5", "doc_id")
        .collect()
    }
    b = {
        (r.content_md5, r.doc_id)
        for r in keep_first_by_key(
            candidates.select("content_md5", "doc_id"), ["content_md5"], ["doc_id"]
        ).collect()
    }
    assert a == b and len(a) > 10


def test_tfidf_df_swap_value_identity_and_cost_note(spark):
    """Round-11 queue pre-verification (tfidf_top_terms): term-df by
    window vs attach_group_count are value-identical on the real tf
    relation.  NOTE for the r11 decision: the current window form
    was itself chosen over the join-back for one fewer shuffle (the
    docstring records it); the swap trades that shuffle back for
    AQE-splittable term groups — at local SF the cost is noise, at
    100 TB the stopword window group is the hazard."""
    from pyspark.sql import Window

    from chain_sync_spark.operators import corpus_ops as co
    from chain_sync_spark.operators.skew import attach_group_count

    sf = "/root/testdata/sf0.001"
    tok = co._docs_words(spark, sf).select(
        "doc_id", F.explode("w").alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    wterm = Window.partitionBy("term")
    cols = ["doc_id", "term", "tf", "df"]
    a = {
        tuple(r)
        for r in tf.withColumn("df", F.count(F.lit(1)).over(wterm))
        .select(*cols).collect()
    }
    b = {
        tuple(r)
        for r in attach_group_count(tf, ["term"], "df").select(*cols).collect()
    }
    assert a == b and len(a) > 100


def test_segment_rewrite_keepfirst_swap_is_value_identical(spark):
    """Round-11 queue pre-verification (dedup_segment_rewrite): the
    seg_md5 first-occurrence window replaced by keep_first_by_key
    yields identical kept segments on the real corpus (also A/B
    timed in BENCH.md: the aggregate form is ~12% faster locally
    before the hot-key payoff can even show)."""
    from pyspark.sql import Window

    from chain_sync_spark.operators import corpus_ops as co
    from chain_sync_spark.operators.skew import keep_first_by_key

    sf = "/root/testdata/sf0.001"
    d = co._docs_words(spark, sf)
    seg_tail = F.expr(
        f"transform(array(w), ww -> struct("
        f" if(size(ww) >= {co.SEG_WORDS},"
        f"    transform(sequence(1, size(ww) div {co.SEG_WORDS}),"
        f"      i -> array_join(slice(ww, (i - 1) * {co.SEG_WORDS} + 1,"
        f"                            {co.SEG_WORDS}), ' ')),"
        f"    array()) AS segs,"
        f" array_join(slice(ww, (size(ww) div {co.SEG_WORDS}) * {co.SEG_WORDS}"
        f"                  + 1, size(ww)), ' ') AS tail))[0]"
    )
    segrows = (
        d.select("doc_id", seg_tail.alias("st"))
        .select("doc_id", F.posexplode("st.segs").alias("idx", "seg"))
        .withColumn("seg_md5", F.md5("seg"))
    )
    w = Window.partitionBy("seg_md5").orderBy("doc_id", "idx")
    a = {
        (r.seg_md5, r.doc_id, r.idx, r.seg)
        for r in segrows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .collect()
    }
    b = {
        (r.seg_md5, r.doc_id, r.idx, r.seg)
        for r in keep_first_by_key(
            segrows, ["seg_md5"], ["doc_id", "idx"]
        ).collect()
    }
    assert a == b and len(a) > 100


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def _window_lines(plan):
    # join branches render as ":- Window [" / ":  +- Window [" — match
    # the node name anywhere in the line, not just top-of-tree prefixes
    return [ln for ln in plan.splitlines() if "Window [" in ln]


def test_hardened_production_plans_have_no_content_key_window(spark):
    """The round-10 hardening swaps, asserted on the PRODUCTION
    queries (not just the primitives): no plan may window over a raw
    content key (tok / term / content_md5 / seg_md5 — the
    unsplittable-hot-group class).  The only windows left are
    per-doc / per-key-bounded ones."""
    from chain_sync_spark.operators.corpus_ops import (
        dedup_incremental_batch,
        dedup_segment_rewrite,
        tfidf_top_terms,
    )
    from chain_sync_spark.operators.llm_pipeline import (
        neardup_prefix_filter_pairs,
    )

    sf = "/root/testdata/sf0.001"

    # prefix filter: every remaining window partitions by doc_id (the
    # per-doc rank; the self-join shows it twice), never by tok — the
    # partition columns are the leading windowspecdefinition args
    wins = _window_lines(_optimized(neardup_prefix_filter_pairs(spark, sf)))
    assert wins and all("windowspecdefinition(doc_id#" in w for w in wins), wins

    # tfidf: only the per-doc top-K window remains, never one over term
    wins = _window_lines(_optimized(tfidf_top_terms(spark, sf)))
    assert wins and all("windowspecdefinition(doc_id#" in w for w in wins), wins

    # the two keep-first dedups: no window at all
    assert not _window_lines(_optimized(dedup_incremental_batch(spark, sf)))
    assert not _window_lines(_optimized(dedup_segment_rewrite(spark, sf)))


def test_attach_group_count_nullsafe_join_stays_hash_join(spark):
    """The null-safe join-back (``<=>``) must still plan as a HASH
    join: Spark rewrites EqualNullSafe into the composite key
    (coalesce(k), isnull(k)), so the count relation joins by hash /
    broadcast exactly like a plain equi-join — if a refactor or an
    engine change ever degraded it to BroadcastNestedLoopJoin, every
    consumer (tfidf term-df, prefix-filter token-df, novelty
    shingle-df) would go quadratic at scale."""
    from chain_sync_spark.operators.skew import attach_group_count

    df = spark.range(5_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    plan = _plan(attach_group_count(df, ["k"], "cnt"))
    assert "HashJoin" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_global_topk_swaps_leave_no_partitionless_window(spark):
    """Round-11 hardening (VERDICT r10 item 2): the last three
    vocabulary-sized global top-k sites — bm25's final top-k, the
    vocab top-V cut, the CMS heavy-hitter rank — must run the
    two-phase salted plan.  Every window left in their plans is a
    salted bounded one (_gtk_pid phase 1 / _gtk_mid constant-fan-in
    phase 1.5); the global rank is a bounded sort-slice aggregate,
    so NO partition-less WindowExec survives anywhere.  bm25's
    term-df window is also gone (attach_group_count, the tfidf r10
    class)."""
    from chain_sync_spark.operators.corpus_ops import (
        bm25_topk_documents,
        heavy_hitters_cms,
        vocab_coverage_oov,
    )

    sf = "/root/testdata/sf0.001"
    for fn in (bm25_topk_documents, vocab_coverage_oov, heavy_hitters_cms):
        plan = _optimized(fn(spark, sf))
        wins = _window_lines(plan)
        assert wins, f"{fn.__name__}: phase-1 salted window missing"
        bad = [w for w in wins if "_gtk_pid" not in w and "_gtk_mid" not in w]
        assert not bad, f"{fn.__name__}: partition-less window left: {bad}"


def test_global_topk_desc_equals_window_form(spark):
    """Value identity of skew.global_topk_desc against the
    partition-less ROW_NUMBER window it replaces, on a relation with
    duplicate measures (ties broken by the unique tiebreak) across
    repartitionings — the salt must shape only the plan."""
    from pyspark.sql import Window

    from chain_sync_spark.operators.skew import global_topk_desc

    df = spark.range(10_000).select(
        (F.col("id") % 37).alias("m"),
        F.col("id").cast("string").alias("key"),
        (F.col("id") * 7 % 11).alias("payload"),
    )
    w = Window.orderBy(F.desc("m"), F.asc("key"))
    want = [
        (r.m, r.key, r.payload, r.rk)
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 25)
        .collect()
    ]
    for parts in (1, 7):
        got = [
            (r.m, r.key, r.payload, r.rk)
            for r in global_topk_desc(
                df.repartition(parts), "m", "key", 25
            ).collect()
        ]
        assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError):
        global_topk_desc(df.withColumnRenamed("payload", "rk"), "m", "key", 5)
