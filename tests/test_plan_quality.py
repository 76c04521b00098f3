"""Physical-plan regression tests: the properties that make these plans
survive a 100x scale-up, asserted on the actual Catalyst output.

If one of these breaks, the query still returns correct rows — but the
plan stopped being the plan we'd want on a 1000-executor cluster
(broadcast flipped to sort-merge, a pushdown was lost, a top-k started
materializing the full sort), so fail loudly here.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from irstats2_spark import catalog


@pytest.fixture(scope="module")
def queries():
    return catalog.queries()


SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_set_join_broadcasts_dimension(spark, queries):
    plan = plan_of(queries["ctx_set_series"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_grouping_join_broadcasts_dimension(spark, queries):
    plan = plan_of(queries["ctx_grouping_top"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dimension_filter_pushed_to_scan(spark, queries):
    plan = plan_of(queries["ctx_set_series"](spark, SF))
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_column_pruning_reaches_scan(spark, queries):
    # A1 projects 5 lineitem columns; the scan must not read the rest
    plan = plan_of(queries["a1_grouped_sum"](spark, SF))
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_shipmode" not in read


def test_topn_compiles_to_take_ordered(spark, queries):
    plan = plan_of(queries["o3_topn"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_semi_join_stays_semi(spark, queries):
    plan = plan_of(queries["p7_semi_join"](spark, SF))
    assert "LeftSemi" in plan


def test_repeat_filter_single_shuffle(spark, queries):
    # exact repeat semantics: one exchange hash-partitions the dedup key,
    # one belongs to the final groupBy — nothing else; and the key sort
    # stays partition-local (global=false), never a global sort
    plan = plan_of(queries["repeat_filter_exact"](spark, SF))
    tree = plan.split("\n\n")[0]  # the indented operator tree
    assert tree.count("Exchange") == 2
    sort_detail = plan.split(") Sort")[1].split("\n\n")[0]
    assert "false, 0" in sort_detail  # partition-local sort, never global


def test_geoip_is_hash_join_not_nested_loop(spark, queries):
    plan = plan_of(queries["geoip_range_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_cartesian_and_no_row_udfs_anywhere(spark, queries):
    """Catalog-wide scale guard: no query may plan a CartesianProduct
    (an unbounded |A|x|B| shuffle-free blowup) or a row-at-a-time Python
    UDF (BatchEvalPython — per-row pickling; Arrow batch operators like
    MapInPandas/FlatMapGroupsInPandas are the sanctioned Python path).
    Intentional broadcast cross joins (ANN scoring against a broadcast
    query/centroid set) plan as BroadcastNestedLoopJoin and stay legal."""
    for name, fn in queries.items():
        plan = plan_of(fn(spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_exact_sums_partials_are_long_not_decimal(spark, queries):
    # the big map-side combine of a1 must aggregate long partials; the
    # decimal merge may only appear after the tiny per-split shuffle
    import re

    plan = plan_of(queries["a1_grouped_sum"](spark, SF))
    aggs = {}  # node number -> detail block
    for block in re.split(r"\n\n", plan):
        m = re.match(r"\((\d+)\) HashAggregate", block)
        if m:
            aggs[int(m.group(1))] = block
    scan_side = aggs[min(aggs)]
    assert "partial_sum" in scan_side
    assert "bigint" in scan_side and "decimal" not in scan_side
    assert "decimal(38,0)" in aggs[max(aggs)]  # exact merge at the top


def test_sampling_filter_is_map_side_only(spark, queries):
    # deterministic sampling must stay a scan + filter/project: no
    # shuffle, no UDF — the bucket is a pure column expression
    plan = plan_of(queries["sample_stratified"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "BatchEvalPython" not in plan


def test_curation_shuffle_never_carries_text(spark, queries):
    # keeper selection shuffles by md5(text); the text column itself must
    # be pruned below the exchange (at 100 TB the shuffle carries ids and
    # counters, not document bodies)
    import re

    plan = plan_of(queries["pipeline_curation_summary"](spark, SF))
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "text#" not in block, block


def test_sessionize_single_exchange(spark, queries):
    # lag + running-sum windows and BOTH downstream groupBys must all ride
    # the one hash partitioning on user_id — a second exchange here would
    # re-shuffle the full event stream at 100 TB
    plan = plan_of(queries["events_sessionize"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    sort_detail = plan.split(") Sort")[1].split("\n\n")[0]
    assert "false, 0" in sort_detail  # partition-local sort, never global


def test_chunk_dedup_shuffle_never_carries_chunks(spark, queries):
    # ownership shuffles on md5(chunk); chunk text must be pruned below
    # the exchange — ids, indexes and hashes only
    import re

    plan = plan_of(queries["text_chunk_dedup"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 2  # hash window + per-doc rollup
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "chunk#" not in block and "text#" not in block, block


def test_vocab_topk_two_phase_distinct_and_take_ordered(spark, queries):
    # countDistinct must plan as partial agg on (token, doc_id) before the
    # per-token shuffle (the stopword-skew mitigation), and the top-k must
    # be TakeOrderedAndProject, not a global sort
    plan = plan_of(queries["text_vocab_topk"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    assert tree.count("Exchange") == 2  # (token, doc) partial + token final
    assert "Sort " not in tree  # no global sort operator


def test_rollup_single_pass(spark, queries):
    # rollup = Expand + ONE aggregation exchange — never one job per level
    plan = plan_of(queries["agg_rollup_monthly"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Expand" in tree
    assert tree.count("Exchange") == 1
    assert tree.count("Scan parquet") == 1


def test_unique_visitors_two_phase_distinct(spark, queries):
    # distinct agg: partial on (day, user) first, so a day with 10^9
    # events shuffles |distinct users|, not |events|
    plan = plan_of(queries["events_unique_visitors"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 2
    assert tree.count("HashAggregate") == 4


def test_asof_join_single_exchange_no_explosion(spark, queries):
    # as-of = tagged union + one window: ONE exchange, no join operator at
    # all (a range-join formulation would explode |left|x|right| per key)
    plan = plan_of(queries["events_asof_prior"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Join" not in tree
    assert "Union" in tree


def test_anti_join_broadcasts(spark, queries):
    plan = plan_of(queries["join_anti_no_purchase"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree and "LeftAnti" in plan
    assert "SortMergeJoin" not in tree


def test_topk_per_group_single_exchange(spark, queries):
    # ranked-window top-k: one hash exchange on the group key, sort stays
    # partition-local
    plan = plan_of(queries["agg_topk_per_group"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    sort_detail = plan.split(") Sort")[1].split("\n\n")[0]
    assert "false, 0" in sort_detail


def test_pivot_single_scan_two_phase(spark, queries):
    # explicit pivot values: no distinct-discovery job (one scan); Spark
    # pre-aggregates on (month, type) before pivoting -> exactly 2
    # exchanges, both carrying |months x types| rows, not events
    plan = plan_of(queries["agg_pivot_monthly"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert tree.count("Exchange") == 2


def test_headline_queries_compile_without_codegen_fallback(spark, queries):
    # janino failures (e.g. a fused whole-stage method growing past the
    # JVM's 64KB bytecode limit) normally degrade SILENTLY to interpreted
    # execution, retrying the compile on every task batch (~25x slower on
    # expression-heavy stages). codegen.fallback=false turns that into a
    # hard error, so this test fails when ANY catalog query stops
    # compiling — the invisible perf cliff becomes a visible regression.
    # (bench.py now runs the whole catalog too, so catalog == headline.)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name, fn in queries.items():
            fn(spark, SF).collect()
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")


def test_embedding_ivf_dedup_has_no_driver_collect(spark, queries):
    """The IVF embedding-dedup scale path must be a pure distributed plan:
    building the DataFrame must not run ANY Spark job (embedding_cosine_dups
    runs a toPandas() collect at build time — exactly the driver-side
    bottleneck this operator exists to remove), and the per-cluster GEMM
    must plan as FlatMapGroupsInPandas over one grouping exchange."""
    from irstats2_spark.pipeline.dedup import embedding_dups_ivf
    from irstats2_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", SF)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    df = embedding_dups_ivf(emb, cents, threshold=0.45)
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    # embedding_cosine_dups would fail here: its toPandas() collect runs
    # on EVERY build; the IVF path must not touch the driver at all
    assert jobs_after == jobs_before, "operator ran a job at build time"
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_embedding_ivf_probe_dedup_stays_distributed(spark):
    """The multi-probe dedup keeps the single-probe scale contract: no
    job at OPERATOR build time (no driver collect — the parquet read's
    own schema-inference job happens outside the measured window, like
    the single-probe test above), the per-cluster GEMM plans as
    FlatMapGroupsInPandas, no CartesianProduct, and the probe explode is
    map-side (Generate below the grouping exchange, corpus never
    window-sorted)."""
    from irstats2_spark.pipeline.dedup import embedding_dups_ivf_probe
    from irstats2_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", SF)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    df = embedding_dups_ivf_probe(emb, cents, threshold=0.45, n_probe=2)
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after == jobs_before, "operator ran a job at build time"
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the posexplode of the probe array
    assert "Window" not in plan  # corpus-side assign is the pure-map fold


def test_aqe_splits_skewed_fact_join(spark):
    """The J1/J2 fact-join shape under a Zipfian key, with broadcast
    disabled (the not-broadcastable-dimension regime): AQE's skew-join
    must split the hot key's shuffle partition at runtime (skew=true in
    the final adaptive SortMergeJoin) instead of landing ~all rows on one
    reducer. Thresholds are lowered to make a local-scale fixture skew."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") < 180_000, 0)
            .otherwise(F.col("id") % 100 + 1)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 101).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        # global agg, not groupBy(k): a downstream hash-partitioning on k
        # would be broken by splitting the skewed partition, so AQE only
        # rewrites the join when nothing downstream reuses its partitioning
        # (or under forceOptimizeSkewedJoin) — the common fact-join regime.
        joined = fact.join(dim, "k").agg(F.sum("v").alias("sv"))
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_matches_plain_join_and_splits_hot_key(spark):
    """operators.skew.salted_join: result identical to the unsalted join;
    the physical shape replicates the right side (explode) and joins on
    (key, salt) so a hot key spreads over `buckets` reducers."""
    from pyspark.sql import functions as F

    from irstats2_spark.pipeline.skew import salted_join

    fact = spark.range(0, 50_000).select(
        F.when(F.col("id") < 45_000, 0).otherwise(F.col("id") % 50 + 1).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(0, 51).select(F.col("id").alias("k"), (F.col("id") * 7).alias("w"))
    salted = salted_join(fact, dim, "k", buckets=8)
    plain = fact.join(dim, "k")
    assert salted.columns == plain.columns
    agg = lambda df: sorted(  # noqa: E731
        df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
                            F.sum("w").alias("sw")).collect()
    )
    assert agg(salted) == agg(plain)


def test_salted_grouped_sum_matches_plain(spark):
    from pyspark.sql import functions as F

    from irstats2_spark.pipeline.skew import salted_grouped_sum

    df = spark.range(0, 30_000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("v")
    )
    salted = salted_grouped_sum(df, ["g"], {"sv": "v"}, buckets=8)
    plain = df.groupBy("g").agg(F.sum("v").alias("sv"))
    assert sorted(salted.collect()) == sorted(plain.collect())


def test_salted_grouped_sum_accepts_column_exprs(spark):
    """sums values may be Column expressions — COUNT is F.lit(1), not the
    string '1' (which would resolve as a column named '1')."""
    from pyspark.sql import functions as F

    from irstats2_spark.pipeline.skew import salted_grouped_sum

    df = spark.range(0, 10_000).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("v")
    )
    salted = salted_grouped_sum(
        df, ["g"], {"n": F.lit(1), "sv2": F.col("v") * 2}, buckets=4
    )
    plain = df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("v") * 2).alias("sv2")
    )
    assert sorted(salted.collect()) == sorted(plain.collect())


def test_ivf_assign_is_pure_map_over_corpus(spark):
    """ivf_assign must fuse into the corpus scan: the argmax is a per-row
    fold over a broadcast centroid ARRAY, so the plan has no Sort anywhere
    and exactly one Exchange — the |centroids|-row collect_list aggregate
    on the broadcast side. (Both the row_number-window and max_by/struct-
    max formulations sort or shuffle |corpus| x |centroids| scored rows.)"""
    from irstats2_spark.pipeline.similarity import ivf_assign
    from irstats2_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", SF)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    plan = plan_of(ivf_assign(emb, cents))
    tree = plan.split("\n\n")[0]
    assert "Sort (" not in tree
    assert tree.count("Exchange") == 2  # centroid agg shuffle + its broadcast
    assert "BroadcastExchange" in tree


def test_silver_pipeline_robots_fused_into_scan(spark, queries):
    """The end-to-end silver pass must keep the robots filter in the scan
    stage (a Filter below the repeat filter's key exchange — never a
    separate pass over the events), and plan exactly two exchanges: the
    repeat key repartition and the final fact aggregation."""
    plan = plan_of(queries["etl_silver_views_fact"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 2
    assert tree.count("MapInPandas") == 1  # the exact repeat fold
    # the robots rlike filter sits under the first exchange, fused with
    # the parquet scan's stage
    first_exchange_pos = tree.index("Exchange")
    assert "Filter" in tree[first_exchange_pos:], tree


def test_salted_join_replicates_right_side(spark, queries):
    """join_salted_skew: the right side is exploded buckets-fold
    (Generate) and the join keys include the salt — never a cartesian."""
    plan = plan_of(queries["join_salted_skew"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Generate" in tree  # the salt explode on the replicated side
    assert "CartesianProduct" not in tree
    assert "__salt" in plan


def test_salted_join_bounds_skew_without_aqe(spark):
    """The salted join is the a-priori skew bound for engines/configs
    WITHOUT AQE: with adaptive execution and broadcast both disabled, the
    plan is a shuffle join whose keys include the salt (so a hot key
    spreads over `buckets` reducers) and the result still matches the
    plain join exactly."""
    from pyspark.sql import functions as F

    from irstats2_spark.pipeline.skew import salted_join

    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 20_000).select(
            F.when(F.col("id") < 18_000, 0).otherwise(F.col("id") % 20 + 1).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 21).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("w")
        )
        salted = salted_join(fact, dim, "k", buckets=8)
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "__salt" in plan  # salt is part of the join keys
        assert "AdaptiveSparkPlan" not in plan
        agg = lambda df: sorted(  # noqa: E731
            df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()
        )
        assert agg(salted) == agg(fact.join(dim, "k"))
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_repetition_score_is_shuffle_free(spark, queries):
    """Intra-doc repetition is per-row array math: no KEYED exchange may
    appear — a hashpartitioning would mean the per-doc signal
    accidentally became a cross-doc aggregate. (The one permitted
    Exchange is ensure_parallelism's round-robin spread of an
    under-split local input — a no-op at real scale.)"""
    plan = plan_of(queries["text_repetition_score"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "hashpartitioning" not in plan
    assert tree.count("Exchange") <= 1  # only the round-robin spread


def test_mix_by_rates_broadcasts_the_rates_side(spark, queries):
    """Data mixing joins the corpus to a |strata|-row rates table: the
    join must be a BroadcastHashJoin (corpus never shuffled); the only
    exchanges belong to computing the tiny rates aggregate itself."""
    plan = plan_of(queries["mix_by_source_cap"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_meta_json_extract_is_single_agg_exchange(spark, queries):
    """VARIANT parse + path extraction are per-row expressions fused into
    the scan: the whole query plans with exactly the aggregation's two
    exchanges-halves (partial/final), no Python UDF, no extra shuffle."""
    plan = plan_of(queries["meta_json_extract"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1  # the groupBy(site) shuffle only
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree


def test_pq_encode_codebook_join_broadcasts(spark, queries):
    """PQ encode joins the exploded corpus to an m-row codebook-array
    table: that join must broadcast (never sort-merge shuffle the
    corpus), so encoding stays a pure map over the scan. The fit side
    contains its own small shuffles (the codebook update aggregations);
    what matters is the CORPUS side reaches its join without one."""
    plan = plan_of(queries["similarity_pq_encode"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_pq_adc_scoring_broadcasts_query_tables(spark, queries):
    """ADC search touches only the corpus CODES: the per-query distance
    tables join in as a broadcast (BroadcastNestedLoopJoin over the
    few-row table side is the sanctioned cross-join shape) and the
    corpus codes reach scoring without a sort-merge join."""
    plan = plan_of(queries["similarity_pq_topk"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_batch_never_shuffled(spark, queries):
    """The Bloom bitmap folds into ONE broadcast map row (built once,
    not once per hash function) and the probe is a pure projection after
    the broadcast: the batch side goes scan -> filter -> project into
    the result with no Exchange, no sort-merge join, and all k position
    checks fused map-side."""
    plan = plan_of(queries["dedup_bloom_prefilter"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" not in tree
    # every shuffle belongs to the one bitmap build (distinct hashes,
    # bit_or agg, map fold); the probe side contributes none — the
    # batch scan's subtree must be exchange-free
    batch_side = tree.split("BroadcastExchange")[0]
    assert "Exchange" not in batch_side
    assert tree.count("Exchange hashpartitioning") <= 3


def test_ivfpq_search_joins_broadcast_only(spark, queries):
    """IVF-PQ search: the corpus codes join the per-(query, probe) ADC
    tables via broadcast on (centroid_id, subspace, code) — never a
    sort-merge join or cartesian product; the corpus side's only
    shuffles are the candidate-sized score rollup and top-k window."""
    plan = plan_of(queries["similarity_ivfpq_topk"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_source_stats_shuffle_never_carries_text(spark, queries):
    """source_stats shuffles on md5(text) for keeper identity; document
    bodies must be pruned below every exchange — only ids, the hash key,
    and the small counters may flow."""
    import re

    plan = plan_of(queries["corpus_source_stats"](spark, SF))
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "text#" not in block, block


def test_simhash_hamming_streams_pairs_through_banded_join(spark, queries):
    """SimHash Hamming pairs must come from the banded (band, key)
    self-JOIN — which streams in-bucket pairs through codegen and lets
    AQE split hot semantic buckets — never a CartesianProduct and never
    the collect-a-bucket-array groupBy (a hot bucket of N docs would
    build an N^2 struct array inside one aggregation row; that shape
    cost 60 s of a 220 s bench run before this plan was pinned). The
    Hamming filter must sit ON the join (join condition / post-join
    filter), so only output-sized pairs reach the dedup groupBy; no
    non-repartition exchange may carry document text.

    Pinned on the underlying builder (not the catalog query): the
    catalog's dedup_simhash_hamming serves the memoized shared prefix
    (queries_pipeline._simhash_banded_pairs), whose returned plan is the
    checkpoint scan — this is the plan that memo MATERIALIZES."""
    import re

    from irstats2_spark.pipeline.dedup import simhash_hamming_pairs
    from irstats2_spark.sources.testdata import load_table

    plan = plan_of(simhash_hamming_pairs(load_table(spark, "documents", SF)))
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # banded self-join, not array explosion
    assert "collect_set" not in plan and "collect_list" not in plan
    for block in plan.split("\n\n"):
        # REPARTITION_BY_NUM is ensure_parallelism's small-input guard —
        # a no-op at real scale (inputs already >= cores partitions)
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "text#" not in block, block


def test_snapshot_diff_shuffles_hashes_not_bodies(spark, queries):
    """The snapshot diff's full-outer join moves (doc_id, md5) rows; at
    100 TB neither side's document text may reach an exchange."""
    import re

    plan = plan_of(queries["corpus_snapshot_diff"](spark, SF))
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "text#" not in block, block


def test_dsir_scoring_broadcasts_the_bucket_table(spark, queries):
    """DSIR's n_buckets-row score table must broadcast onto the exploded
    corpus tokens (never a shuffle join against the corpus), and no
    exchange may carry document text — only token buckets and integer
    partials flow."""
    import re

    plan = plan_of(queries["select_dsir_weights"](spark, SF))
    assert "BroadcastHashJoin" in plan
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "text#" not in block, block


def test_bpe_pair_counts_single_groupby_take_ordered(spark, queries):
    """BPE round-1 pair counting: word-table groupBy + pair groupBy are
    the only exchanges, the top-20 is TakeOrderedAndProject (never a
    global sort), and no exchange carries document text."""
    import re

    plan = plan_of(queries["bpe_pair_counts"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "text#" not in block, block


def test_bpe_segmentation_is_zero_shuffle_map(spark, queries):
    """Applying a learned merge table is a pure map over the corpus: the
    segmentation plan must contain no Exchange at all (the merge table is
    collected — tiny by contract — and baked into the fold expression)."""
    from irstats2_spark.pipeline.bpe import bpe_segment, bpe_train
    from irstats2_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF)
    merges = bpe_train(docs, n_merges=3)
    plan = plan_of(bpe_segment(docs, merges))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree


def test_lm_nll_reference_tables_broadcast(spark, queries):
    """The bigram/unigram reference tables must broadcast onto the
    corpus bigrams (never a shuffle join against the corpus), and no
    non-repartition exchange may carry document text."""
    import re

    plan = plan_of(queries["text_lm_nll_score"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "text#" not in block, block


def test_sign_projection_is_zero_shuffle_map(spark, queries):
    """Random projection must fuse into the scan: no Exchange at all in
    the projection query below the final explode."""
    plan = plan_of(queries["embedding_random_projection"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree


def test_select_e2e_shuffles_scores_not_text(spark, queries):
    """The selection e2e moves integer scores and ids through its rank
    window and mix join; document text must never reach a non-repartition
    exchange anywhere in the chain."""
    import re

    plan = plan_of(queries["pipeline_select_e2e"](spark, SF))
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "text#" not in block, block


def test_containment_single_shingle_shuffle_no_text(spark, queries):
    """Containment reuses the one-shuffle shingle co-occurrence shape;
    exchanges carry shingles/ids/counts only."""
    import re

    plan = plan_of(queries["dedup_ngram_containment"](spark, SF))
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "text#" not in block, block


def test_chunk_windows_is_zero_shuffle_map(spark, queries):
    """RAG chunking is pure map-side array arithmetic — no Exchange."""
    plan = plan_of(queries["text_chunk_windows"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree


def test_shard_manifest_shuffles_hashes_not_text(spark, queries):
    """The manifest's one groupBy moves (shard, md5, count) — document
    bodies are projected away below the exchange."""
    import re

    plan = plan_of(queries["corpus_shard_manifest"](spark, SF))
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "text#" not in block, block


def test_remove_frequent_chunks_broadcasts_frequent_set(spark, queries):
    """The cross-doc rewrite's membership tagging must plan as a
    broadcast join on the chunk hash — the frequent set is small by
    contract (boilerplate only), and a sort-merge join here would
    shuffle the corpus chunks a second time. Since the r12 fusion the
    drop is a LEFT marker join (the NULL-marker count equals the old
    LeftAnti's count) feeding ONE doc-keyed aggregation, so the plan
    must show the broadcast LeftOuter and exactly one exchange carrying
    doc_id partials — not the old second groupBy + spine-join pair."""
    plan = plan_of(queries["text_remove_frequent_chunks"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_encode_probe_side_never_shuffles_positions(spark, queries):
    """The encode join must be map-side: the vocab (TakeOrdered top-K)
    broadcasts, and no exchange may carry the exploded (pos, token)
    stream — only the vocab-build count partials shuffle."""
    import re

    plan = plan_of(queries["text_vocab_encode"](spark, SF))
    assert "BroadcastHashJoin" in plan
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "pos#" not in block, block


def test_shard_manifest_hierarchical_shuffles_hashes_not_text(spark, queries):
    """The chunked variant adds a per-shard window sort and a second
    (chunk-digest-sized) groupBy — every exchange still carries only
    (shard, md5, count): document bodies never cross the wire."""
    import re

    plan = plan_of(queries["corpus_shard_manifest_hierarchical"](spark, SF))
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "text#" not in block, block


def test_rag_index_e2e_exchanges_never_carry_chunk_text(spark, queries):
    """After the embed stage, only (vec_id, dim, value) rows shuffle —
    neither document text nor chunk text may reach an exchange. Pinned
    on the lazy builder: the catalog query checkpoints this exact plan
    and releases the embed pin (pipeline.lifecycle)."""
    import re

    from irstats2_spark.queries_pipeline import _rag_index_lazy

    lazy, vecs = _rag_index_lazy(spark, SF)
    plan = plan_of(lazy)
    vecs.unpersist()
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "text#" not in block and "chunk_text#" not in block, block


def test_temperature_mix_broadcasts_rates(spark, queries):
    """Temperature mixing must stay the sample_by_rates shape: the tiny
    computed-rates side broadcasts onto the corpus; the corpus is never
    shuffled for the join."""
    plan = plan_of(queries["mix_by_temperature"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_epoch_replication_broadcasts_rates_and_never_shuffles_corpus(spark, queries):
    """Fractional-epoch upsampling: the rates side broadcasts, the copy
    explosion is map-side — the corpus must reach the output with no
    exchange at all beyond ensure_parallelism's small-input guard."""
    import re

    plan = plan_of(queries["mix_with_epochs"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    tree = plan.split("\n\n")[0]
    assert not re.search(r"Exchange hashpartitioning.*text", tree)


def test_pq_rerank_hydration_broadcasts_shortlist(spark, queries):
    """pq_rerank_exact: the full-vector hydration must be broadcast
    joins pruning the embeddings scan (the shortlist is n_queries x
    shortlist rows by construction) — a SortMergeJoin here means the
    corpus is shuffling for a handful of candidate reads."""
    plan = plan_of(queries["similarity_pq_rerank_topk"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_edit_distance_single_dp_per_pair(spark, queries):
    """dedup_edit_distance: exactly ONE levenshtein evaluation per
    candidate pair in the final plan (the first version computed it
    inside the filter AND the projection), and no CartesianProduct —
    candidates come from the winnowing co-occurrence join."""
    plan = plan_of(queries["dedup_edit_distance"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    # one Project computes __d; the details section shows levenshtein
    # once in that Project and once in the Filter REFERENCING __d only
    # if it re-evaluates — assert the expression appears exactly once
    assert plan.count("levenshtein") == 2  # details list Project+output
    assert "levenshtein(levenshtein" not in plan


def test_compaction_plan_is_metadata_only(spark, queries):
    """corpus_compaction_plan: ONE corpus scan builds the shard
    manifest; everything after operates on the shard-count-sized
    aggregate (single-partition windows over metadata, never the
    corpus)."""
    plan = plan_of(queries["corpus_compaction_plan"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1


def test_quality_funnel_single_output_row_explode(spark, queries):
    """pipeline_quality_funnel_e2e: the stage table comes from ONE
    aggregate row exploded to 5 — no per-stage corpus re-scans beyond
    the component operators' own (gate, classifier, dedup, simhash)."""
    plan = plan_of(queries["pipeline_quality_funnel_e2e"](spark, SF))
    tree = plan.split("\n\n")[0]
    # documents feeds: ids, gate, classifier tokens + 2 seed slices +
    # vocab totals, exact-dedup md5, simhash words (both vote halves) —
    # a FIXED count set by the component operators, not per-stage
    assert tree.count("Scan parquet") <= 10
    assert "CartesianProduct" not in tree


def test_zonemap_audit_is_one_mapside_aggregation(spark, queries):
    """Zone-map metadata + selectivity reduce in ONE hash aggregation:
    a partial HashAggregate below the exchange (map-side combine), one
    exchange carrying n_shards scalar rows, plus the output sort."""
    plan = plan_of(queries["corpus_zonemap_prune_audit"](spark, SF))
    tree = plan.split("\n\n")[0]
    # one hash exchange for the groupBy + one range exchange for ORDER BY
    assert tree.count("Exchange") == 2
    assert "hashpartitioning(shard" in plan


def test_zorder_value_is_pure_projection(spark, queries):
    """The Z-value and file assignment are projections given broadcast
    bounds — the layout stats plan has only the stats groupBy exchange
    (+ output sort); no exchange may carry document text."""
    import re

    plan = plan_of(queries["corpus_zorder_layout"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 2  # groupBy(file_id) + ORDER BY
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "text#" not in block, block


def test_zorder_prune_gain_reads_metadata_sized_rows(spark, queries):
    """Both layout audits aggregate map-side; no exchange carries text,
    and there is no join at all (the union is of two independent
    aggregations)."""
    import re

    plan = plan_of(queries["corpus_zorder_prune_gain"](spark, SF))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "text#" not in block, block


def test_covariance_shuffles_scalar_partials_only(spark, queries):
    """The covariance's single wide op is the (i, j) partial-sum groupBy;
    the finalization joins on the d^2-sized frame must broadcast, and no
    exchange may carry the embedding arrays."""
    import re

    plan = plan_of(queries["embedding_covariance"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "embedding#" not in block, block


def test_pca_projection_is_zero_shuffle_map(spark):
    """With the component matrix fit eagerly (driver eigh over the
    distributed covariance) and closed over, the projection itself is
    scan -> Arrow map: no Exchange anywhere in the projection plan.
    (Asserted on the operator — the catalog query is now the derived
    Pythagoras AUDIT, whose tiny final agg legitimately exchanges.)"""
    from irstats2_spark.pipeline.linalg import pca_project
    from irstats2_spark.sources.testdata import load_table

    df = pca_project(load_table(spark, "embeddings", SF), k=8)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "ArrowEvalPython" in tree or "MapInPandas" in tree


def test_pca_audit_shuffles_scalars_only(spark, queries):
    """The gated PCA audit reduces per-partition SCALAR partials — its
    exchange must carry the handful of energy sums, never embeddings."""
    import re

    plan = plan_of(queries["embedding_pca_project"](spark, SF))
    assert "MapInPandas" in plan
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "embedding#" not in block, block


def test_top_paths_is_takeordered_over_one_session_window(spark, queries):
    """The prefix rank rides the sessionize window's partitioning and the
    top-k never materializes a full sort."""
    plan = plan_of(queries["events_top_paths"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_covisit_totals_broadcast(spark, queries):
    """Per-type totals and the session count are broadcast-sized; only
    the (session, type) self-join is allowed to plan wide."""
    plan = plan_of(queries["events_covisit_lift"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_interval_overlap_plans_equi_join_not_nested_loop(spark, queries):
    """The range predicate must reach Catalyst as a bucket EQUI-join —
    a BroadcastNestedLoopJoin/CartesianProduct here is the quadratic
    plan the bucket expansion exists to avoid."""
    plan = plan_of(queries["events_interval_overlap"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_encoding_anomaly_is_zero_shuffle_scan(spark, queries):
    """The three regexp counts fuse into the scan projection."""
    plan = plan_of(queries["text_encoding_anomaly"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree


def test_curriculum_order_single_corpus_exchange(spark, queries):
    """One (bucket, shard)-keyed exchange for the per-tier rank; the
    offsets table joins back as a broadcast — the corpus is never
    globally sorted on a single partition."""
    import re

    plan = plan_of(queries["corpus_curriculum_order"](spark, SF))
    assert "BroadcastHashJoin" in plan
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "text#" not in block, block


def test_class_separation_single_corpus_pass(spark, queries):
    """One (label, dim) integer aggregation over the corpus; the d-row
    global rollup joins back broadcast; no exchange carries vectors."""
    import re

    plan = plan_of(queries["embedding_class_separation"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "embedding#" not in block, block


def test_cluster_purity_assignment_stays_map_side(spark, queries):
    """ivf_assign fuses into the scan (broadcast centroid array); the
    only exchanges aggregate |cells| x |labels| count rows."""
    import re

    plan = plan_of(queries["similarity_cluster_purity"](spark, SF))
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "embedding#" not in block, block


def test_vocab_roundtrip_both_id_tables_broadcast(spark, queries):
    """Encode and decode joins must both be map-side: the vocab and its
    inverse are TakeOrdered broadcast sides; no exchange carries the
    exploded (pos, token) stream."""
    import re

    plan = plan_of(queries["text_vocab_decode_roundtrip"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and "REPARTITION_BY_NUM" not in block:
            assert "pos#" not in block, block


def test_trending_window_runs_on_aggregated_rows(spark, queries):
    """The LAG window sorts |weeks| x |types| aggregated rows, never raw
    events — the pre-aggregation must sit below the window exchange."""
    import re

    plan = plan_of(queries["events_trending_types"](spark, SF))
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "event_id#" not in block and "user_id#" not in block, block


def test_release_e2e_manifest_shuffle_carries_hashes_not_text(spark, queries):
    """After the keeper window, the manifest aggregation moves (shard,
    md5, counts) — document text never reaches the manifest exchange."""
    import re

    plan = plan_of(queries["pipeline_release_e2e"](spark, SF))
    blocks = [
        b for b in plan.split("\n\n") if re.match(r"\(\d+\) Exchange", b)
    ]
    # the sole text-bearing exchange is the keeper window's
    text_bearing = [b for b in blocks if "text#" in b]
    assert len(text_bearing) <= 1, text_bearing


def test_shingle_build_evaluates_split_once(spark):
    """Regression guard for the lambda-binding idiom: the optimized plan
    of a shingle explode must contain exactly ONE split(normalize) call.
    Inlined (un-bound), the word array is referenced by the per-shingle
    slice and the expression re-evaluates per element — the quadratic
    map stage the binding exists to prevent."""
    from irstats2_spark.pipeline.dedup import shingle_array

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = (
        df.select(F.explode(shingle_array(F.col("text"))).alias("s"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan


def test_pq_subvectors_quantize_once(spark):
    """Same guard for the PQ subvector stage: one quantize transform in
    the plan, not one per subspace."""
    from irstats2_spark.pipeline.pq import pq_subvectors
    from irstats2_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", SF)
    plan = (
        pq_subvectors(emb, dim=64, m=8)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("FLOOR(") <= 2, plan  # 1 quantize (+1 in a cast guard)


def test_pq_encode_vec_quantize_once(spark):
    """And for the vectorized encode path, which shares
    _bound_subvector_slices with pq_subvectors: the row vector must be
    quantized once, not once per subspace (codebook requantization adds
    its own single FLOOR on the broadcast side)."""
    from irstats2_spark.pipeline.pq import pq_encode_vec, pq_fit
    from irstats2_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", SF)
    cb = pq_fit(emb, dim=64, m=8, n_codes=2, max_iter=1)
    plan = (
        pq_encode_vec(emb, cb, dim=64, m=8)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("FLOOR(") <= 3, plan


def test_streaming_minhash_projection_keeps_hoisted_shingles(spark):
    """The streaming near-dup path hoists the shingle array with
    withColumn before the 16-64 per-slot MinHash references; this relies
    on CollapseProject NOT re-inlining a non-cheap multi-referenced
    alias. If that optimizer contract (or the hoist) breaks, the split
    shows up once per hash slot and the per-row cost multiplies."""
    from irstats2_spark.pipeline.dedup import minhash_row_cols, shingle_array

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    sig = df.withColumn("__shingles", shingle_array(F.col("text"), 3)).select(
        F.col("doc_id"), *minhash_row_cols(F.col("__shingles"), 16)
    )
    plan = sig._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan


def test_suffix_windows_build_is_shuffle_free(spark):
    """The suffix-window explode (the corpus-sized stage of the SA
    miner) must be a pure projection: no Exchange, no Python — it fuses
    into the scan, so at 100 TB it costs one pass over the text."""
    from irstats2_spark.pipeline.suffix import suffix_windows
    from irstats2_spark.sources.testdata import load_table

    plan = plan_of(suffix_windows(load_table(spark, "documents", SF)))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_repeated_substrings_has_no_single_task_stage(spark):
    """Since r9 the SA miner has NO single-task stage at all; since r12
    the adjacency pairs and the sweep's stretch-key rank come from
    BUCKET-keyed windows (sa_idx >> 16 buckets, size-bounded by
    construction) instead of the sa_idx self-join + range-sorted
    _dense_index — one exchange each instead of two — so keyed Window
    nodes are expected, but a SinglePartition exchange (the signature
    of a global-ordered pass, the r8 verdict's one `weak` finding)
    must never appear. Also catalog-wide contracts: no
    CartesianProduct, no row-at-a-time Python."""
    import re

    from irstats2_spark.pipeline.suffix import repeated_substrings
    from irstats2_spark.sources.testdata import load_table

    df = repeated_substrings(
        load_table(spark, "documents", SF), min_len=6, max_span=12
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    for block in re.split(r"\n\n", plan):
        if re.match(r"\(\d+\) Exchange", block):
            assert "SinglePartition" not in block, block
        if re.match(r"\(\d+\) Window", block):
            # keyed windows only: a global-ordered window has an empty
            # partition spec and funnels through one task
            assert "windowspecdefinition(__b" in block, block
    assert df.count() >= 0  # the plan executes end-to-end


def test_exactsubstr_remove_shuffles_never_carry_text(spark, queries):
    # the removal action's gram-class marking shuffles on md5(gram) and
    # the interval rollup shuffles on doc_id — document text and the
    # token arrays must be pruned below every exchange (at 100 TB those
    # exchanges carry (doc_id, pos, hash) and interval structs; the one
    # text-carrying hop is the final doc join, broadcast here and by
    # definition unavoidable since the OUTPUT is rewritten text); the
    # class agg must partial-aggregate map-side
    import re

    plan = plan_of(queries["exact_substring_remove"](spark, SF))
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) (Exchange|BroadcastExchange)", block):
            assert "text#" not in block and "__t#" not in block, block
    assert "BatchEvalPython" not in plan
    # the catalog entry consumes the memoized dup-occ prefix, so the
    # class agg lives in the prefix build — assert its map-side partial
    # phase on the library operator directly
    from irstats2_spark.pipeline.suffix import remove_repeated_spans
    from irstats2_spark.sources.testdata import load_table

    lib_plan = plan_of(
        remove_repeated_spans(load_table(spark, "documents", SF), min_len=6)
    )
    assert "partial_min" in lib_plan and "partial_count" in lib_plan
    assert "BatchEvalPython" not in lib_plan


def test_exactsubstr_incremental_gram_exchanges_never_carry_text(spark, queries):
    # the nightly cleaner gram-explodes the NEW batch and probes the
    # snapshot via membership joins: every gram-class (hash-on-h)
    # exchange must carry (doc_id, pos, hash) only — the sole
    # text-carrying hop allowed is the doc_id-keyed join that produces
    # the rewritten output (broadcast or shuffle, AQE's call); no
    # Python ever runs
    import re

    plan = plan_of(queries["exact_substring_remove_incremental"](spark, SF))
    for block in plan.split("\n\n"):
        if not re.match(r"\(\d+\) (Exchange|BroadcastExchange)", block):
            continue
        if "text#" in block or "__t#" in block:
            # permitted only for the output join: keyed on doc_id alone
            assert "hashpartitioning(doc_id#" in block, block
            assert "h#" not in block, block
    assert "BatchEvalPython" not in plan


def test_exactsubstr_incremental_trusts_snapshot_distinct(spark):
    """The nightly cleaner must NOT re-distinct the gram snapshot on
    every run (r8 verdict finding #2): write_gram_snapshot already
    writes a distinct set under the same stamped contract that carries
    min_len, and re-distincting is a full shuffle+aggregate of the BIG
    side of the membership join. assume_distinct=True (the default)
    drops exactly that exchange; the opt-out keeps it for hand-built
    tables."""
    import re

    from irstats2_spark.pipeline.suffix import (
        remove_repeated_spans_incremental,
        write_gram_snapshot,
    )
    from irstats2_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        write_gram_snapshot(old, f"{td}/snap", min_len=6)
        snap = spark.read.parquet(f"{td}/snap")

        # the re-distinct shows up as aggregate keys over (h, __in_snap);
        # join-strategy shifts can't fake or hide that
        def n_redistincts(plan: str) -> int:
            # the folded __in_snap literal rides the keys as `true`
            return len(re.findall(r"Keys \[2\]: \[h#\d+, true", plan))

        trusted = plan_of(
            remove_repeated_spans_incremental(new, snap, min_len=6)
        )
        dedup = plan_of(
            remove_repeated_spans_incremental(
                new, snap, min_len=6, assume_distinct=False
            )
        )
        assert n_redistincts(trusted) == 0, trusted
        assert n_redistincts(dedup) > 0, dedup
        assert trusted.count("Exchange") <= dedup.count("Exchange")


def test_skyline_3axis_exchanges_never_carry_text(spark):
    """The 3-axis skyline composition (doc features x duplicated-span
    coverage x skyline) joins per-doc COUNTERS: every exchange in the
    lazy end-to-end plan must carry ids/hashes/counters, never document
    bodies, and no row-at-a-time Python may appear (the folds are Arrow
    mapInPandas)."""
    import re

    from irstats2_spark.pipeline.skyline import skyline
    from irstats2_spark.pipeline.textstats import duplicate_span_coverage, tokens
    from irstats2_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF)
    t = tokens(F.col("text"))
    feats = docs.select(
        "doc_id",
        F.greatest(F.size(t), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.greatest(F.size(F.array_distinct(t)), F.lit(0))
        .cast("bigint")
        .alias("n_distinct"),
    )
    cov = duplicate_span_coverage(
        docs, span_tokens=8, min_docs=2, materialize=False
    ).select("doc_id", "covered_tokens")
    out = skyline(
        feats.join(cov, "doc_id"),
        ["n_tokens", "n_distinct", "covered_tokens"],
        {"n_distinct": "max"},
        max_merge_rows=None,
        materialize=False,
    )
    plan = plan_of(out)
    assert "BatchEvalPython" not in plan
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "text#" not in block, block
    spark.catalog.clearCache()


def test_score_calibration_binned_never_shuffles_corpus(spark, queries):
    """The binned calibration's exchanges and windows must ride the
    (source, score) HISTOGRAM, never the corpus: no Exchange block may
    carry doc_id, and the corpus side reaches its percentile through a
    BroadcastHashJoin."""
    import re

    plan = plan_of(queries["sample_score_calibration_binned"](spark, SF))
    assert "BroadcastHashJoin" in plan
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "doc_id#" not in block, block


def test_score_calibration_merge_never_shuffles_corpus(spark, queries):
    """The incremental (merged-histogram) calibration keeps the binned
    form's scale shape: histogram union/re-sum and percentile windows
    ride histogram-sized data; the corpus itself is assigned via
    broadcast join and never crosses an exchange."""
    import re

    plan = plan_of(queries["sample_score_calibration_merge"](spark, SF))
    assert "BroadcastHashJoin" in plan
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block):
            assert "doc_id#" not in block, block


def test_multimodal_dims_plan_is_shuffle_free_and_arrow(spark, queries):
    """The header decode is a pure map pipeline: synthesize headers
    JVM-side, parse in ONE Arrow mapInPandas — no exchange anywhere,
    no row-at-a-time Python."""
    import re

    plan = plan_of(queries["multimodal_dims"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert not [
        b for b in plan.split("\n\n") if re.match(r"\(\d+\) Exchange", b)
    ], plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan


def test_multimodal_e2e_single_exchange_no_media_joins(spark, queries):
    """The multimodal e2e composes in ONE map pass (n_bytes rides the
    decode via passthrough, frame count is the chunk-count law): the
    only Exchange is the |formats|-row final aggregate — never a
    corpus-wide media_id join — and no exchange carries the payload."""
    import re

    plan = plan_of(queries["pipeline_multimodal_e2e"](spark, SF))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    exchanges = [
        b for b in plan.split("\n\n") if re.match(r"\(\d+\) Exchange", b)
    ]
    for block in exchanges:
        assert "content#" not in block and "media_id#" not in block, block


def test_top_fraction_approx_never_sorts_corpus(spark, queries):
    """The continuous-score cut's global sorts/windows must ride the
    BIN histogram (and the one boundary bin), never the corpus: no
    Sort or Exchange block may carry doc_id except the boundary-bin
    rank (which filters to a single bin first)."""
    import re

    plan = plan_of(
        queries["text_classifier_top_fraction_approx"](spark, SF)
    )
    # corpus-sized global sort would appear as Sort over doc_id WITHOUT
    # a preceding bin-equality filter; assert every Window in the final
    # cut stage is the boundary rank (over the hash), not a score rank
    # over every row: the exact form has 'quality_rank' — approx none
    assert "quality_rank" not in plan
