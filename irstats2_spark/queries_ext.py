"""Extension queries beyond the reference's operator surface.

SURVEY.md §2.4 notes the reference has no grouping-sets/cube/rollup and no
distinct aggregates ("our engine can expose cube/rollup/approx_count_distinct
as free extensions") — these entries make those extensions, plus the
log-analytics and corpus-curation ops a large-scale pipeline needs
(sessionization, unique visitors, vocabulary heavy hitters, C4-style chunk
dedup, distribution quantiles), first-class catalog citizens with exact
DuckDB oracles.

All measure sums go through DECIMAL intermediates (order-invariant) and all
tie-breaks are total orders, so value-hashes are deterministic on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irstats2_spark.catalog import register
from irstats2_spark.sources.testdata import load_table

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)


# ---------------------------------------------------------------------------
# ROLLUP — hierarchical subtotals (free extension; reference computes the
# grand total as a separate sum_all query, Data.pm:292-304 — rollup gives
# every level in one pass).
# ---------------------------------------------------------------------------
@register(
    "agg_rollup_monthly",
    """
    SELECT COALESCE(event_type, '_ALL_') AS event_type,
           COALESCE(strftime(ts, '%Y-%m'), '_ALL_') AS month,
           CAST(GROUPING(event_type)*2 + GROUPING(strftime(ts, '%Y-%m')) AS INT) AS lvl,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY ROLLUP(event_type, strftime(ts, '%Y-%m'))
    """,
    doc="rollup extension — (type, month) hierarchy + subtotals in one pass",
)
def agg_rollup_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    rolled = ev.rollup("event_type", "month").agg(
        (F.grouping("event_type") * 2 + F.grouping("month"))
        .cast("int")
        .alias("lvl"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # subtotal rows surface as '_ALL_', mirroring the reference's range
    # sentinel (Utils.pm: range='_ALL_') and keeping the result NULL-free
    return rolled.select(
        F.coalesce("event_type", F.lit("_ALL_")).alias("event_type"),
        F.coalesce("month", F.lit("_ALL_")).alias("month"),
        "lvl",
        "sum_value",
        "n_events",
    )


# ---------------------------------------------------------------------------
# CUBE — all grouping combinations (free extension).
# ---------------------------------------------------------------------------
@register(
    "agg_cube_status_priority",
    """
    SELECT COALESCE(o_orderstatus, '_ALL_') AS o_orderstatus,
           COALESCE(o_orderpriority, '_ALL_') AS o_orderpriority,
           CAST(GROUPING(o_orderstatus)*2 + GROUPING(o_orderpriority) AS INT) AS lvl,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="cube extension — every (status, priority) marginal in one pass",
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cubed = orders.cube("o_orderstatus", "o_orderpriority").agg(
        (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
        .cast("int")
        .alias("lvl"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return cubed.select(
        F.coalesce("o_orderstatus", F.lit("_ALL_")).alias("o_orderstatus"),
        F.coalesce("o_orderpriority", F.lit("_ALL_")).alias("o_orderpriority"),
        "lvl",
        "sum_price",
        "n_orders",
    )


@register(
    "agg_grouping_sets",
    """
    SELECT COALESCE(o_orderstatus, '_ALL_') AS o_orderstatus,
           COALESCE(o_orderpriority, '_ALL_') AS o_orderpriority,
           CAST(GROUPING(o_orderstatus)*2 + GROUPING(o_orderpriority) AS INT) AS lvl,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderpriority), ())
    """,
    doc="GROUPING SETS — the asymmetric marginal list neither ROLLUP nor "
    "CUBE expresses ((status, priority), (priority), ()): the detail "
    "grid, one chosen marginal, and the grand total in ONE pass "
    "(completes the multi-grain aggregation family)",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    grouped = orders.groupingSets(
        [
            [F.col("o_orderstatus"), F.col("o_orderpriority")],
            [F.col("o_orderpriority")],
            [],
        ],
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    ).agg(
        (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
        .cast("int")
        .alias("lvl"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return grouped.select(
        F.coalesce("o_orderstatus", F.lit("_ALL_")).alias("o_orderstatus"),
        F.coalesce("o_orderpriority", F.lit("_ALL_")).alias("o_orderpriority"),
        "lvl",
        "sum_price",
        "n_orders",
    )


# ---------------------------------------------------------------------------
# Distinct aggregate — daily unique visitors. The reference counts rows,
# never distinct entities; unique-visitor counting is the first question a
# usage-stats consumer asks. Spark plans the two-phase distinct (partial
# agg on (day, user) first) — the manual skew-safe formulation for free.
# ---------------------------------------------------------------------------
@register(
    "events_unique_visitors",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS unique_users,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
    doc="distinct-agg extension — daily unique visitors (two-phase distinct)",
)
def events_unique_visitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.countDistinct("user_id").alias("unique_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Sessionization — gap-based per-user sessions (pipeline/sessions.py).
# ---------------------------------------------------------------------------
@register(
    "events_sessionize",
    """
    WITH flagged AS (
        SELECT user_id,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess,
               epoch_us(ts) AS us, event_id
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
        SELECT user_id,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_no, COUNT(*) AS n FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(MAX(session_no) AS BIGINT) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(n) AS BIGINT) AS max_session_events
    FROM per_session GROUP BY 1
    """,
    doc="sessionize extension — 30-min-gap sessions, one shuffle (see pipeline/sessions.py)",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sessions import session_stats

    return session_stats(load_table(spark, "events", sf_dir), gap_seconds=1800)


# ---------------------------------------------------------------------------
# Vocabulary heavy hitters (pipeline/textstats.py).
# ---------------------------------------------------------------------------
@register(
    "text_vocab_topk",
    f"""
    WITH ex AS (
        SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
        FROM documents
    )
    SELECT token, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
    FROM ex GROUP BY 1
    ORDER BY n_total DESC, token LIMIT 100
    """,
    doc="corpus vocabulary top-k by occurrence, with document frequency",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import vocab_top_k

    return vocab_top_k(load_table(spark, "documents", sf_dir), k=100)


# ---------------------------------------------------------------------------
# C4-style chunk-level exact dedup (pipeline/dedup.py).
# ---------------------------------------------------------------------------
@register(
    "text_chunk_dedup",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents
    ),
    inst AS (
        SELECT doc_id, CAST(FLOOR((i - 1) / 20) AS BIGINT) AS chunk_idx,
               md5(string_agg(words[i], ' ' ORDER BY i)) AS h
        FROM (SELECT doc_id, words, generate_subscripts(words, 1) AS i FROM toks) t
        GROUP BY 1, 2
    ),
    mins AS (
        SELECT h, MIN(doc_id * 1000000 + chunk_idx) AS owner_key
        FROM inst GROUP BY 1
    )
    SELECT i.doc_id AS doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN i.doc_id * 1000000 + i.chunk_idx = m.owner_key
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM inst i JOIN mins m ON i.h = m.h
    GROUP BY 1
    """,
    doc="C4-style chunk dedup: 20-token chunks, first instance owns",
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import chunk_dedup_stats

    return chunk_dedup_stats(load_table(spark, "documents", sf_dir), chunk_tokens=20)


# ---------------------------------------------------------------------------
# Exact distribution quantiles — doc-length percentiles per language.
# (At 100 TB use approx_percentile; the exact form is the oracle-checkable
# contract and the small-data default.)
# ---------------------------------------------------------------------------
@register(
    "text_length_quantiles",
    """
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars
    FROM documents GROUP BY 1
    """,
    doc="per-language doc-length quantiles (exact percentile, interpolated)",
)
def text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5D)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9D)"), 6).alias("p90_chars"),
    )


# ---------------------------------------------------------------------------
# Approximate quantiles — the 100 TB sketch path for the same contract.
# Like events_unique_visitors_approx, the sketch value itself is engine-
# specific, so the gate asserts it IN-QUERY: the approx p50/p90 must land
# between the exact p45-p55 / p85-p95 (rank tolerance 5%, ~50x the
# guarantee at accuracy=1000), and the oracle emits the exact quantiles
# plus TRUE — the value hash fails if the sketch drifts out of its rank
# bound.
# ---------------------------------------------------------------------------
@register(
    "text_length_quantiles_approx",
    """
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
           TRUE AS approx_ok
    FROM documents GROUP BY 1
    """,
    doc="per-language doc-length quantiles via percentile_approx sketch, "
    "rank-bounded in-query against the exact percentiles",
)
def text_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5D)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9D)"), 6).alias("p90_chars"),
        F.expr("percentile(n_chars, 0.45D)").alias("__p45"),
        F.expr("percentile(n_chars, 0.55D)").alias("__p55"),
        F.expr("percentile(n_chars, 0.85D)").alias("__p85"),
        F.expr("percentile(n_chars, 0.95D)").alias("__p95"),
        F.expr("approx_percentile(n_chars, 0.5D, 1000)").alias("__a50"),
        F.expr("approx_percentile(n_chars, 0.9D, 1000)").alias("__a90"),
    )
    ok = (
        F.col("__a50").between(F.col("__p45"), F.col("__p55"))
        & F.col("__a90").between(F.col("__p85"), F.col("__p95"))
    )
    return agg.select(
        "lang", "n_docs", "p50_chars", "p90_chars", ok.alias("approx_ok")
    )


# ---------------------------------------------------------------------------
# As-of join — nearest preceding right row per key (pipeline/asof.py).
# "For each purchase, the same user's most recent click at-or-before it."
# ---------------------------------------------------------------------------
@register(
    "events_asof_prior",
    """
    WITH clicks AS (
        SELECT user_id, event_id AS pid, epoch_us(ts) AS pus
        FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT event_id, user_id, epoch_us(ts) AS us
        FROM events WHERE event_type = 'purchase'
    ),
    best AS (
        SELECT p.event_id, p.user_id, p.us,
               max(struct_pack(pus := c.pus, pid := c.pid)) AS b
        FROM purch p LEFT JOIN clicks c
          ON c.user_id = p.user_id AND c.pus <= p.us
        GROUP BY 1, 2, 3
    )
    SELECT event_id, user_id,
           COALESCE(b.pid, -1) AS prior_click_id,
           COALESCE((us - b.pus) // 1000000, -1) AS gap_s
    FROM best
    """,
    doc="as-of join extension — latest prior click per purchase, one shuffle",
)
def events_asof_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.asof import asof_join_prior

    ev = load_table(spark, "events", sf_dir)
    res = asof_join_prior(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
        on=["user_id"],
        payload=("event_id",),
        tiebreak="event_id",
    )
    return res.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("asof.event_id"), F.lit(-1)).alias("prior_click_id"),
        F.coalesce(
            F.expr("CAST((unix_micros(ts) - asof.ts_us) DIV 1000000 AS BIGINT)"),
            F.lit(-1),
        ).alias("gap_s"),
    )


# ---------------------------------------------------------------------------
# Argmax without a window — each customer's largest order in ONE grouped
# aggregation (max over a (measure, tiebreak) struct == max_by with a
# deterministic tie-break). The window/row_number formulation would sort
# every group; this is a plain partial-aggregatable hash agg.
# ---------------------------------------------------------------------------
@register(
    "agg_argmax_order",
    """
    SELECT o_custkey,
           struct_extract(b, 'k') AS top_orderkey,
           struct_extract(b, 'p') AS top_totalprice
    FROM (
        SELECT o_custkey,
               max(struct_pack(p := o_totalprice, k := o_orderkey)) AS b
        FROM orders GROUP BY 1
    )
    """,
    doc="argmax extension — max_by as struct-max: one hash agg, no window sort",
)
def agg_argmax_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_custkey")
        .agg(F.max(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))).alias("b"))
        .select(
            "o_custkey",
            F.col("b.k").alias("top_orderkey"),
            F.col("b.p").alias("top_totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# Approximate distinct — the 100 TB path for events_unique_visitors.
# HyperLogLog++ sketch values are engine-specific, so the oracle can't
# reproduce the estimate itself; instead the gate query asserts the
# estimate IN-QUERY: approx_ok = |approx - exact| <= max(1, 10% of exact)
# (5x the 2% configured rsd), and the oracle emits the exact distinct plus
# a constant TRUE — so the driver's value hash fails if the sketch ever
# drifts out of bound. (At 100 TB only the sketch runs; the exact side
# here is the verification harness, not the production plan.)
# ---------------------------------------------------------------------------
@register(
    "events_unique_visitors_approx",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS exact_unique_users,
           COUNT(*) AS n_events,
           TRUE AS approx_ok
    FROM events GROUP BY 1
    """,
    doc="HLL++ unique visitors — estimate asserted within error bound "
    "in-query against the exact distinct",
)
def events_unique_visitors_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    approx = F.approx_count_distinct("user_id", rsd=0.02)
    exact = F.count_distinct(F.col("user_id"))
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            approx.alias("__approx"),
            exact.alias("exact_unique_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "day",
            "exact_unique_users",
            "n_events",
            (
                F.abs(F.col("__approx") - F.col("exact_unique_users"))
                <= F.greatest(
                    F.lit(1.0), F.col("exact_unique_users") * F.lit(0.10)
                )
            ).alias("approx_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Top-k per group — generalizes argmax to k>1: rank inside each group and
# keep ranks <= k. One exchange + partition-local sort; the rank filter
# prunes before anything else consumes the rows. (For k=1 prefer
# agg_argmax_order's struct-max — no sort at all.)
# ---------------------------------------------------------------------------
@register(
    "agg_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey DESC) AS INT) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
    doc="top-k per group extension — top-3 orders per customer via ranked window",
)
def agg_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.desc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# Pivot — event types to columns (the T5 year-compare view is a pivot in
# disguise; here it is the real reshaping operator). Explicit value list
# => no extra distinct-scan job and a stable output schema.
# ---------------------------------------------------------------------------
@register(
    "agg_pivot_monthly",
    """
    SELECT strftime(ts, '%Y-%m') AS month,
           CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE) AS click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE) AS error
    FROM events GROUP BY 1
    """,
    doc="pivot extension — event types to columns, explicit value list",
)
def agg_pivot_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .pivot("event_type", types)
        .agg(
            F.coalesce(
                F.sum(F.col("value").cast("decimal(18,6)")),
                F.lit(0).cast("decimal(18,6)"),
            ).cast("double")
        )
    )


# ---------------------------------------------------------------------------
# Anti-join — "users who clicked but never purchased": the retention
# question. left_anti is the missing sibling of P7's left_semi; both
# broadcast the filter side and never materialize the pair space.
# ---------------------------------------------------------------------------
@register(
    "join_anti_no_purchase",
    """
    SELECT c.user_id, COUNT(*) AS n_clicks
    FROM events c
    WHERE c.event_type = 'click'
      AND NOT EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      )
    GROUP BY 1
    """,
    doc="anti-join extension — click users with zero purchases (left_anti)",
)
def join_anti_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    # distinct before broadcast: the build side ships |users who purchased|
    # keys, not |purchase events| rows
    purchasers = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    return (
        clicks.join(F.broadcast(purchasers), "user_id", "left_anti")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


# ---------------------------------------------------------------------------
# TF-IDF — each doc's most characteristic term (pipeline/textstats.py).
# ---------------------------------------------------------------------------
@register(
    "text_tfidf_top_term",
    f"""
    WITH tf AS (
        SELECT doc_id, token AS term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
              FROM documents)
        GROUP BY 1, 2
    ),
    dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfc.df), 6) AS tfidf
        FROM tf JOIN dfc USING (term) CROSS JOIN n
    )
    SELECT doc_id, term AS top_term, tfidf
    FROM (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rk
        FROM scored
    ) WHERE rk = 1
    """,
    doc="TF-IDF extension — most characteristic term per doc, 6dp-rounded ranking",
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import tfidf_top_term

    return tfidf_top_term(load_table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# Skew-bounded join (pipeline/skew.py): the J1 fact x dimension shape
# under a hot key, with the dimension NOT broadcast — salting spreads the
# hot key over `buckets` reducers. The salt never escapes, so the oracle
# is the plain unsalted equi-join.
# ---------------------------------------------------------------------------
@register(
    "join_salted_skew",
    """
    SELECT n.n_name AS nation,
           COUNT(*) AS n_customers
    FROM customer c INNER JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
    doc="salted equi-join for hot keys — result identical to the plain "
    "join; right side replicated R-fold, hot left keys split R ways",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.skew import salted_join

    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nat = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    joined = salted_join(
        cust.withColumnRenamed("c_nationkey", "k"),
        nat.withColumnRenamed("n_nationkey", "k"),
        "k",
        buckets=8,
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "events_retention_cohorts",
    """
    WITH rc_first AS (
        SELECT user_id,
               CAST(FLOOR(date_diff('day', DATE '2024-01-01',
                                    MIN(CAST(ts AS DATE))) / 7) AS INT)
                   AS cohort_week
        FROM events GROUP BY 1
    ),
    rc_activity AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(date_diff('day', DATE '2024-01-01',
                                    CAST(ts AS DATE)) / 7) AS INT) AS week
        FROM events
    ),
    rc_size AS (
        SELECT cohort_week, COUNT(*) AS cohort_size FROM rc_first GROUP BY 1
    ),
    rc_cells AS (
        SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
               COUNT(DISTINCT a.user_id) AS n_users
        FROM rc_activity a JOIN rc_first f USING (user_id)
        GROUP BY 1, 2
    )
    SELECT c.cohort_week, CAST(c.week_offset AS INT) AS week_offset,
           CAST(c.n_users AS BIGINT) AS n_users,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           ROUND(CAST(c.n_users AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM rc_cells c JOIN rc_size s USING (cohort_week)
    """,
    doc="weekly retention cohorts: users grouped by first-event week, "
    "per (cohort, week-offset) active-user counts and retention share "
    "— the classic product-analytics matrix (offset 0 = 1.0 by "
    "construction); two user-keyed aggregations + a cohort-sized join, "
    "the events table never shuffles twice",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    epoch = F.lit("2024-01-01").cast("date")
    week = lambda c: F.floor(F.datediff(c, epoch) / 7).cast("int")  # noqa: E731
    first = events.groupBy("user_id").agg(
        week(F.min(F.col("ts").cast("date"))).alias("cohort_week")
    )
    activity = events.select(
        "user_id", week(F.col("ts").cast("date")).alias("week")
    ).distinct()
    size = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    cells = (
        activity.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )
    return cells.join(F.broadcast(size), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        "cohort_size",
        F.round(F.col("n_users") / F.col("cohort_size"), 6).alias("retention"),
    )


@register(
    "events_funnel_conversion",
    """
    WITH fv AS (
        SELECT user_id, MIN(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    fc AS (
        SELECT e.user_id, MIN(e.ts) AS c_ts
        FROM events e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'click' AND e.ts > fv.v_ts
        GROUP BY 1
    ),
    fp AS (
        SELECT e.user_id, MIN(e.ts) AS p_ts
        FROM events e JOIN fc ON e.user_id = fc.user_id
        WHERE e.event_type = 'purchase' AND e.ts > fc.c_ts
        GROUP BY 1
    ),
    fn AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fv) AS n1,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM fc) AS n2,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n3
    )
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name, n1 AS n_users,
           CAST(NULL AS DOUBLE) AS conversion FROM fn
    UNION ALL SELECT 2, 'click_after_view', n2,
           CASE WHEN n1 > 0 THEN ROUND(CAST(n2 AS DOUBLE) / n1, 6) END FROM fn
    UNION ALL SELECT 3, 'purchase_after_click', n3,
           CASE WHEN n2 > 0 THEN ROUND(CAST(n3 AS DOUBLE) / n2, 6) END FROM fn
    """,
    doc="ordered conversion funnel: users whose first view precedes a "
    "click precedes a purchase (strict event-order, first-touch "
    "timestamps — not mere type co-occurrence), with step-over-step "
    "conversion; three user-keyed min-aggregations, each join keyed on "
    "user_id so the event log never shuffles on anything wider",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    n1 = v.agg(F.count(F.lit(1)).cast("long").alias("n1"))
    n2 = c.agg(F.count(F.lit(1)).cast("long").alias("n2"))
    n3 = p.agg(F.count(F.lit(1)).cast("long").alias("n3"))
    fn = n1.crossJoin(n2).crossJoin(n3)
    rows = F.array(
        F.struct(
            F.lit(1).cast("int").alias("step"),
            F.lit("view").alias("step_name"),
            F.col("n1").alias("n_users"),
            F.lit(None).cast("double").alias("conversion"),
        ),
        F.struct(
            F.lit(2).cast("int").alias("step"),
            F.lit("click_after_view").alias("step_name"),
            F.col("n2").alias("n_users"),
            F.when(F.col("n1") > 0, F.round(F.col("n2") / F.col("n1"), 6))
            .alias("conversion"),
        ),
        F.struct(
            F.lit(3).cast("int").alias("step"),
            F.lit("purchase_after_click").alias("step_name"),
            F.col("n3").alias("n_users"),
            F.when(F.col("n2") > 0, F.round(F.col("n3") / F.col("n2"), 6))
            .alias("conversion"),
        ),
    )
    return fn.select(F.explode(rows).alias("s")).select(
        "s.step", "s.step_name", "s.n_users", "s.conversion"
    )


# ---------------------------------------------------------------------------
# Markov transition matrix — consecutive event-type transitions per user.
# The reference's nearest analog is the repeat-window filter's
# consecutive-hit scan (Logger.pm: same-user ordered record pairs); this
# generalizes it into the full first-order transition model product
# analytics builds funnels from.
# ---------------------------------------------------------------------------
@register(
    "events_markov_transitions",
    """
    WITH mk_seq AS (
        SELECT event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    mk_trans AS (
        SELECT event_type AS from_type, next_type AS to_type,
               COUNT(*) AS n_transitions
        FROM mk_seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    mk_tot AS (
        SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS from_total
        FROM mk_trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type,
           CAST(t.n_transitions AS BIGINT) AS n_transitions,
           o.from_total,
           ROUND(CAST(t.n_transitions AS DOUBLE) / o.from_total, 6) AS prob
    FROM mk_trans t JOIN mk_tot o USING (from_type)
    """,
    doc="first-order Markov transition matrix over per-user event "
    "sequences: LEAD within (user, ts, event_id) total order, then one "
    "(from, to) rollup with row-normalized probabilities — the "
    "behavioral-model companion to the ordered funnel; one shuffle on "
    "user_id (the sequence window), one on the 25-cell transition key",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    tot = trans.groupBy("from_type").agg(
        F.sum("n_transitions").cast("long").alias("from_total")
    )
    # 5 event types -> at most 25 transition cells; the row-total side is
    # tiny by construction, so broadcast it
    return trans.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        "from_total",
        F.round(F.col("n_transitions") / F.col("from_total"), 6).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Rolling anomaly detection — daily volumes vs a trailing window, flagged
# in pure integer arithmetic (z^2 > 4 without ever forming a float mean or
# stddev, so both engines agree bit-for-bit).
# ---------------------------------------------------------------------------
@register(
    "events_rolling_anomaly",
    """
    WITH ra_daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    ra_win AS (
        SELECT event_type, day, n,
               COUNT(*) OVER w AS w_n,
               CAST(SUM(n) OVER w AS BIGINT) AS w_sum,
               CAST(SUM(n * n) OVER w AS BIGINT) AS w_sumsq
        FROM ra_daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n, CAST(w_n AS BIGINT) AS w_days, w_sum,
           CAST(w_n = 7
                AND (w_n * n - w_sum) * (w_n * n - w_sum)
                    > 4 * (w_n * w_sumsq - w_sum * w_sum)
                AS BOOLEAN) AS anomalous
    FROM ra_win
    """,
    doc="trailing-window anomaly flags on daily event volumes: per "
    "(type, day) counts, then a 7-row trailing frame (current day "
    "excluded) and an integer-exact |z| > 2 test — (w*n - sum)^2 > "
    "4*(w*sumsq - sum^2) is z^2 > 4 cleared of divisions, so no float "
    "mean/stddev ever forms and the oracle matches bit-for-bit; one "
    "shuffle to daily grain (~types x days rows), window over that",
)
def events_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    win = daily.select(
        "event_type",
        "day",
        "n",
        F.count(F.lit(1)).over(w).alias("w_n"),
        F.sum("n").over(w).cast("long").alias("w_sum"),
        F.sum(F.col("n") * F.col("n")).over(w).cast("long").alias("w_sumsq"),
    )
    dev = F.col("w_n") * F.col("n") - F.col("w_sum")
    var_n3 = F.col("w_n") * F.col("w_sumsq") - F.col("w_sum") * F.col("w_sum")
    return win.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.col("w_n").cast("long").alias("w_days"),
        "w_sum",
        ((F.col("w_n") == 7) & (dev * dev > 4 * var_n3)).alias("anomalous"),
    )


# ---------------------------------------------------------------------------
# Marketing attribution — last-touch click attribution for purchases within
# a 24 h window. The reference's closest analog is the repeat-window filter
# (same-user strictly-preceding record scan, Repeat.pm:89-95); this is the
# product-analytics generalization: a per-user ordered window carrying the
# most recent qualifying touch forward, then a daily rollup.
# ---------------------------------------------------------------------------
@register(
    "events_attribution_windows",
    """
    WITH att AS (
        SELECT event_id, user_id, epoch_us(ts) AS us, event_type, ts,
               MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_click_us
        FROM events
    ),
    ap AS (
        SELECT CAST(ts AS DATE) AS day,
               CASE WHEN prev_click_us IS NOT NULL
                     AND us - prev_click_us <= 86400000000
                    THEN 1 ELSE 0 END AS attr,
               CASE WHEN prev_click_us IS NOT NULL
                     AND us - prev_click_us <= 86400000000
                    THEN (us - prev_click_us) // 1000000 ELSE 0 END AS lag_s
        FROM att WHERE event_type = 'purchase'
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(attr) AS BIGINT) AS n_attributed,
           ROUND(CAST(SUM(attr) AS DOUBLE) / COUNT(*), 6) AS attach_rate,
           CAST(SUM(lag_s) AS BIGINT) AS total_lag_s,
           ROUND(CASE WHEN SUM(attr) > 0
                      THEN SUM(lag_s) / CAST(SUM(attr) AS DOUBLE)
                      ELSE 0.0 END, 6) AS avg_lag_s
    FROM ap GROUP BY 1
    """,
    doc="last-touch attribution: each purchase looks back to the most "
    "recent click by the same user (strictly-preceding ROWS frame, so "
    "same-timestamp self-matches are impossible) and attributes within "
    "a 24 h window; daily rollup of attach rate + integer-exact lag "
    "sums — one user-keyed window shuffle, then a daily-grain agg",
)
def events_attribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    att = (
        events.withColumn("us", F.unix_micros("ts"))
        .withColumn(
            "prev_click_us",
            F.max(
                F.when(F.col("event_type") == "click", F.col("us"))
            ).over(w),
        )
        .filter(F.col("event_type") == "purchase")
    )
    attributed = F.col("prev_click_us").isNotNull() & (
        F.col("us") - F.col("prev_click_us") <= F.lit(86_400_000_000)
    )
    ap = att.select(
        F.col("ts").cast("date").alias("day"),
        F.when(attributed, 1).otherwise(0).alias("attr"),
        F.when(
            attributed, F.expr("(us - prev_click_us) DIV 1000000")
        ).otherwise(F.lit(0)).alias("lag_s"),
    )
    return ap.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("attr").cast("long").alias("n_attributed"),
        F.round(F.sum("attr") / F.count(F.lit(1)), 6).alias("attach_rate"),
        F.sum("lag_s").cast("long").alias("total_lag_s"),
        F.round(
            F.when(
                F.sum("attr") > 0, F.sum("lag_s") / F.sum("attr")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("avg_lag_s"),
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_purchases", "n_attributed", "attach_rate",
        "total_lag_s", "avg_lag_s",
    )


# ---------------------------------------------------------------------------
# Exact session-distribution quantiles via the histogram-cumsum method —
# the scalable exact-quantile pattern: the corpus-grain table collapses to
# (metric, value, count) rows first, the ordered cumulative window runs
# over DISTINCT values only, and the permille thresholds compare in pure
# integers (cum * 1000 >= p * n), so no float rank arithmetic exists to
# disagree across engines.
# ---------------------------------------------------------------------------
@register(
    "events_session_quantiles_exact",
    """
    WITH sq_flag AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sq_sess AS (
        SELECT user_id, us,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM sq_flag
    ),
    sq_per AS (
        SELECT user_id, session_no,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               (MAX(us) - MIN(us)) // 1000000 AS duration_s
        FROM sq_sess GROUP BY 1, 2
    ),
    sq_metrics AS (
        SELECT 'session_events' AS metric, n_events AS value FROM sq_per
        UNION ALL
        SELECT 'session_duration_s' AS metric, duration_s AS value FROM sq_per
    ),
    sq_hist AS (
        SELECT metric, value, COUNT(*) AS c FROM sq_metrics GROUP BY 1, 2
    ),
    sq_cum AS (
        SELECT metric, value,
               SUM(c) OVER (PARTITION BY metric ORDER BY value
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM sq_hist
    ),
    sq_tot AS (
        SELECT metric, CAST(SUM(c) AS BIGINT) AS n_sessions
        FROM sq_hist GROUP BY 1
    )
    SELECT c.metric, CAST(p.p AS INT) AS permille,
           CAST(MIN(c.value) AS BIGINT) AS value, t.n_sessions
    FROM sq_cum c
    JOIN sq_tot t USING (metric)
    CROSS JOIN (SELECT unnest([500, 900, 990]) AS p) p
    WHERE c.cum * 1000 >= p.p * t.n_sessions
    GROUP BY c.metric, p.p, t.n_sessions
    """,
    doc="exact session-length quantiles (p50/p90/p99 of per-session "
    "event counts and durations) by histogram-cumsum: sessions collapse "
    "to (value, count) rows, the running total runs over distinct "
    "values only, and thresholds are the all-integer cum*1000 >= p*n "
    "(type-1 quantile) — the exact-quantile shape that scales where a "
    "global sort of raw sessions would not",
)
def events_session_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from irstats2_spark.pipeline.sessions import sessionize

    events = load_table(spark, "events", sf_dir)
    sess = sessionize(events, gap_seconds=1800).withColumn(
        "us", F.unix_micros("ts")
    )
    per = sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("(MAX(us) - MIN(us)) DIV 1000000").alias("duration_s"),
    )
    metrics = per.select(
        F.lit("session_events").alias("metric"),
        F.col("n_events").alias("value"),
    ).unionAll(
        per.select(
            F.lit("session_duration_s").alias("metric"),
            F.col("duration_s").alias("value"),
        )
    )
    hist = metrics.groupBy("metric", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = (
        Window.partitionBy("metric")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w))
    tot = hist.groupBy("metric").agg(
        F.sum("c").cast("long").alias("n_sessions")
    )
    qs = F.broadcast(
        spark.createDataFrame([(500,), (900,), (990,)], "p int")
    )
    return (
        cum.join(F.broadcast(tot), "metric")
        .crossJoin(qs)
        .filter(F.col("cum") * 1000 >= F.col("p") * F.col("n_sessions"))
        .groupBy("metric", "p", "n_sessions")
        .agg(F.min("value").cast("long").alias("value"))
        .select(
            "metric", F.col("p").alias("permille"), "value", "n_sessions"
        )
    )


# ---------------------------------------------------------------------------
# Session-sequence analytics (pipeline/sessions.py): opening paths and
# co-visitation lift — the journey-level companions to sessionize.
# ---------------------------------------------------------------------------
_SESSIONS_CTE = """
    flagged AS (
        SELECT user_id, event_type, event_id,
               epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
        SELECT user_id, event_type, event_id, us,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )"""


@register(
    "events_top_paths",
    f"""
    WITH {_SESSIONS_CTE},
    ranked AS (
        SELECT user_id, session_no, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_no
                                  ORDER BY us, event_id) AS rn
        FROM sess
    ),
    paths AS (
        SELECT user_id, session_no,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 3 GROUP BY 1, 2
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY 1
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
    doc="top session-opening paths: first 3 event types per 30-min-gap "
    "session joined with '>', counted across sessions, top-20 — the "
    "prefix rank reuses the sessionize window's (user, time) "
    "partitioning (no extra exchange before the path count) and the "
    "final top-k is a TakeOrdered, never a full sort",
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sessions import top_paths

    return top_paths(load_table(spark, "events", sf_dir), prefix_len=3, k=20)


@register(
    "events_covisit_lift",
    f"""
    WITH {_SESSIONS_CTE},
    st AS (
        SELECT DISTINCT
               user_id || ':' || CAST(session_no AS BIGINT) AS sid,
               event_type AS t
        FROM sess
    ),
    tot AS (SELECT COUNT(DISTINCT sid) AS n FROM st),
    per AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_t FROM st GROUP BY 1),
    p AS (
        SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM st a JOIN st b ON a.sid = b.sid AND a.t < b.t
        GROUP BY 1, 2
    )
    SELECT ta, tb, n_ab, pa.n_t AS n_a, pb.n_t AS n_b,
           ROUND(CAST(n_ab AS DOUBLE) * tot.n / pa.n_t / pb.n_t, 9) AS lift
    FROM p
    JOIN per pa ON pa.t = p.ta
    JOIN per pb ON pb.t = p.tb
    CROSS JOIN tot
    ORDER BY ta, tb
    """,
    doc="within-session co-occurrence lift for unordered event-type pairs "
    "(n_ab * n_sessions / (n_a * n_b), exact integer counts, one final "
    "float division) — pair expansion is a self-join of DISTINCT "
    "(session, type) rows so popular types stream through the join "
    "(the SimHash banded-self-join lesson) instead of collecting into "
    "one aggregation row; per-type totals broadcast",
)
def events_covisit_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sessions import covisit_lift

    return covisit_lift(load_table(spark, "events", sf_dir))


@register(
    "events_interval_overlap",
    f"""
    WITH {_SESSIONS_CTE},
    bins AS (
        SELECT CAST(FLOOR(epoch_us(ts) / 600000000) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ),
    incidents AS (
        SELECT bin, n_events FROM bins ORDER BY n_events DESC, bin LIMIT 5
    ),
    spans AS (
        SELECT user_id, session_no, MIN(us) AS s, MAX(us) AS e
        FROM sess GROUP BY 1, 2
    ),
    ov AS (
        SELECT i.bin, i.n_events, sp.user_id, sp.session_no
        FROM incidents i JOIN spans sp
          ON sp.s <= (i.bin + 1) * 600000000 - 1
         AND sp.e >= i.bin * 600000000
    )
    SELECT bin AS incident_bin,
           bin * 600000000 AS incident_start_us,
           n_events,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ov GROUP BY 1, 2, 3 ORDER BY 1
    """,
    doc="interval-overlap join: the 5 busiest 10-minute windows joined "
    "against every session whose [start, end] span overlaps them — via "
    "pipeline/intervals.interval_overlap_join's time-bucket expansion, "
    "which turns the no-equi-key range predicate Catalyst would plan as "
    "a nested-loop into a plain hash equi-join on the bucket id "
    "(AQE-splittable; expansion bounded by interval length / bucket); "
    "the oracle runs the direct inequality join, proving the bucketed "
    "form loses nothing",
)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.intervals import interval_overlap_join
    from irstats2_spark.pipeline.sessions import sessionize

    ev = load_table(spark, "events", sf_dir)
    us = F.unix_micros(F.col("ts"))
    bin_us = 600 * 1_000_000
    incidents = (
        # floor, not cast: truncation-toward-zero mis-bins pre-1970
        # timestamps (the oracle FLOORs) — same fix as interval_overlap_join
        ev.groupBy(F.floor(us / bin_us).cast("long").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), "bin")
        .limit(5)
        .select(
            "bin",
            "n_events",
            (F.col("bin") * bin_us).alias("start_us"),
            ((F.col("bin") + 1) * bin_us - 1).alias("end_us"),
        )
    )
    spans = (
        sessionize(ev)
        .withColumn("__us", us)
        .groupBy("user_id", "session_no")
        .agg(F.min("__us").alias("start_us"), F.max("__us").alias("end_us"))
    )
    ov = interval_overlap_join(spans, incidents, bucket_seconds=600)
    return (
        ov.groupBy("bin", "n_events")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("bin").alias("incident_bin"),
            (F.col("bin") * bin_us).alias("incident_start_us"),
            "n_events",
            "n_sessions",
            "n_users",
        )
        .orderBy("incident_bin")
    )


@register(
    "events_trending_types",
    """
    WITH weekly AS (
        SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT week, event_type, n_events,
           lag(n_events) OVER (PARTITION BY event_type ORDER BY week)
               AS prev_events,
           ROUND(CAST(n_events AS DOUBLE)
                 / lag(n_events) OVER (PARTITION BY event_type
                                       ORDER BY week), 6) AS wow_ratio
    FROM weekly ORDER BY week, event_type
    """,
    doc="week-over-week trending: per (ISO week, event type) counts with "
    "the previous week's count and growth ratio via a type-keyed LAG — "
    "the aggregation shrinks the corpus to |weeks| x |types| rows "
    "before the window, so the sort is metadata-sized",
)
def events_trending_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    weekly = ev.groupBy(
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n_events").over(w)
    return weekly.select(
        "week",
        "event_type",
        "n_events",
        prev.alias("prev_events"),
        F.round(F.col("n_events") / prev, 6).alias("wow_ratio"),
    ).orderBy("week", "event_type")
