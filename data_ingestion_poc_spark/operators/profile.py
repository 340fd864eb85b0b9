"""Table profiling: per-column statistics in one pass (the engine-side
analog of ANALYZE / data-quality summaries a training pipeline runs
before trusting a new drop of data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import register

_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def _col_oracle(c: str) -> str:
    return f"""
    SELECT '{c}' AS column_name,
           COUNT({c})                  AS n_nonnull,
           COUNT(DISTINCT {c})         AS n_distinct,
           CAST(MIN({c}) AS VARCHAR)   AS min_s,
           CAST(MAX({c}) AS VARCHAR)   AS max_s
    FROM orders"""


@register(
    "profile_table",
    oracle="\nUNION ALL\n".join(_col_oracle(c) for c in _COLS),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of orders: non-null count, exact distinct count,
    min/max (stringified for a uniform schema). count/min/max for all
    columns compute in one aggregate over one scan; each exact distinct
    count is its own two-phase partial-distinct aggregate over a single
    pruned column (see the r15 note below — the "all in one aggregate"
    spelling expands every row once per distinct column). Numeric
    min/max stringification matches DuckDB because the fixture doubles
    carry short decimal representations."""
    t = load(spark, sf_dir)
    # r15: five countDistinct columns in ONE aggregate forced the
    # multi-distinct Expand — every orders row replicated x6 through
    # SortAggregates keyed on all five profiled columns plus a 6-key
    # Exchange of the expanded table (plans/r15/profile_table_before
    # .txt). Split per the round's Expand recipe (q_full_star_rollup,
    # agg_distinct): one plain count/min/max aggregate plus one
    # two-phase partial-distinct aggregate PER column, cross-joined as
    # 1-row frames. Each distinct agg scans a single pruned column —
    # at 100 TB that is five narrow column scans with map-side partial
    # distinct instead of one 6x-expanded full-width sort+shuffle.
    # Values identical (same count/min/max/countDistinct semantics,
    # same stack order); 3.1 -> 0.7 s at sf0.1.
    aggs = []
    for c in _COLS:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = t.orders.agg(*aggs)
    for c in _COLS:
        one = one.crossJoin(
            F.broadcast(t.orders.agg(F.countDistinct(c).alias(f"{c}__d")))
        )
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__d, {c}__min, {c}__max" for c in _COLS
    )
    return one.selectExpr(
        f"stack({len(_COLS)}, {stack_args}) AS "
        "(column_name, n_nonnull, n_distinct, min_s, max_s)"
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT bucket,
           CAST(900 + bucket * 10 AS DOUBLE)      AS lo,
           CAST(900 + (bucket + 1) * 10 AS DOUBLE) AS hi,
           CAST(COUNT(*) AS BIGINT)                AS n
    FROM (
      SELECT CAST(floor((p_retailprice - 900.0) / 10.0) AS INTEGER) AS bucket
      FROM part
    )
    GROUP BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (data-profiling primitive): bucket index by
    closed-form floor arithmetic — one scan, one hash aggregate on a tiny
    key space, no sort, no window. This is how column statistics are
    built at 100 TB (the same shape Spark's ANALYZE uses); contrast with
    agg_approx_quantile for the equi-DEPTH variant."""
    t = load(spark, sf_dir)
    bucket = F.floor((F.col("p_retailprice") - 900.0) / 10.0).cast("int")
    return (
        t.part.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (900 + F.col("bucket") * 10).cast("double").alias("lo"),
            (900 + (F.col("bucket") + 1) * 10).cast("double").alias("hi"),
            "n",
        )
    )


_EXPECTATIONS_ORACLE = """
    SELECT 'orders_pk_not_null' AS expectation,
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL)
                AS BIGINT) AS n_violations,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) = 0 AS passed
    UNION ALL
    SELECT 'orders_pk_unique',
           CAST((SELECT COUNT(*) FROM
                  (SELECT o_orderkey FROM orders
                   GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT),
           (SELECT COUNT(*) FROM
             (SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING COUNT(*) > 1)) = 0
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) = 0
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) = 0
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50) = 0
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount < 0 OR l_discount > 0.5) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 0.5) = 0
    UNION ALL
    SELECT 'orders_price_positive',
           CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
                AS BIGINT),
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) = 0
"""


@register("quality_expectations", oracle=_EXPECTATIONS_ORACLE)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Delta Live Tables /
    Great Expectations shape): named constraints — PK non-null, PK
    unique, two referential-integrity checks, and two value-range rules — each emitting (violations, passed). The gate a
    pipeline evaluates before PUBLISHING a new snapshot (see the WAP
    pattern): a failed row blocks promotion instead of poisoning
    downstream consumers.

    Scale shape: null/range/date rules fuse into per-table single-scan
    conditional sums; uniqueness is one hash aggregate on the key;
    referential integrity is two left-anti joins on their join keys —
    all map-side-combinable or broadcast-eligible, no rule scans a
    table twice (the per-table rules share one pass via conditional
    aggregation)."""
    t = load(spark, sf_dir)
    o = t.orders.agg(
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("pk_null"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("price_bad"),
    )
    dup = (
        t.orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("pk_dup"))
    )
    cust_fk = (
        t.orders.join(
            t.customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("cust_orphans"))
    )
    li_fk = (
        t.lineitem.join(
            t.orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("li_orphans"))
    )
    li = t.lineitem.agg(
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")
        ).alias("qty_bad"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)).cast("long")
        ).alias("disc_bad"),
    )
    scalars = (
        o.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(cust_fk))
        .crossJoin(F.broadcast(li_fk))
        .crossJoin(F.broadcast(li))
    )
    rules = [
        ("orders_pk_not_null", "pk_null"),
        ("orders_pk_unique", "pk_dup"),
        ("orders_custkey_fk", "cust_orphans"),
        ("lineitem_orderkey_fk", "li_orphans"),
        ("lineitem_qty_range", "qty_bad"),
        ("lineitem_discount_range", "disc_bad"),
        ("orders_price_positive", "price_bad"),
    ]
    stacked = scalars.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(name).alias("expectation"),
                    F.col(col).cast("bigint").alias("n_violations"),
                )
                for name, col in rules
            ])
        ).alias("r")
    )
    return stacked.select(
        F.col("r.expectation").alias("expectation"),
        F.col("r.n_violations").alias("n_violations"),
        (F.col("r.n_violations") == 0).alias("passed"),
    )


#: Freshness SLO: an event type whose newest event lags the table's
#: global high-water mark by more than a day is stale (a dead logger /
#: stuck upstream partition), the standard ingestion health gate.
FRESHNESS_SLO_MINUTES = 1440


@register(
    "quality_freshness",
    oracle=f"""
    WITH per_type AS (
      SELECT event_type,
             COUNT(*) AS n_events,
             MAX(epoch_us(ts)) AS last_us
      FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
           strftime(make_timestamp(last_us), '%Y-%m-%d %H:%M:%S')
             AS last_event_at,
           CAST((MAX(last_us) OVER () - last_us) // 60000000 AS BIGINT)
             AS minutes_behind,
           (MAX(last_us) OVER () - last_us) // 60000000
             > {FRESHNESS_SLO_MINUTES} AS is_stale
    FROM per_type
    """,
)
def quality_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type freshness audit: how far each type's newest event
    lags the table's global high-water mark — the ingestion health gate
    that catches a dead logger or a stuck upstream partition BEFORE the
    stale type silently vanishes from downstream aggregates. Stale =
    more than FRESHNESS_SLO_MINUTES behind.

    Scale shape: one map-side-combinable (count, max) aggregate bounds
    the frame at |event types| rows; the high-water comparison is a
    window over that domain-bounded frame (SINGLE_PARTITION_OK).
    Determinism: all math on exact integer MICROSECONDS (unix_micros /
    epoch_us, the q_browse_abandonment precision lesson); the display
    timestamp is second-truncated strftime in both engines."""
    t = load(spark, sf_dir)
    per_type = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    w = Window.partitionBy()
    behind_min = (F.max("last_us").over(w) - F.col("last_us")) / F.lit(60_000_000)
    behind = F.floor(behind_min)
    return per_type.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.date_format(
            F.timestamp_micros(F.col("last_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("last_event_at"),
        behind.cast("bigint").alias("minutes_behind"),
        (behind > FRESHNESS_SLO_MINUTES).alias("is_stale"),
    )


#: Candidate functional dependencies to audit: (name, table, lhs, rhs).
#: The first is a schema-guaranteed FD (regression canary: it must
#: hold); the others are plausible-but-false assumptions a modeler
#: might bake into a join or a dedup key — the audit quantifies them.
FD_CANDIDATES = (
    ("nation_to_region", "nation", "n_nationkey", "n_regionkey"),
    ("cust_nation_to_segment", "customer", "c_nationkey", "c_mktsegment"),
    ("order_to_shipdate", "lineitem", "l_orderkey", "l_shipdate"),
    ("supp_nation_to_name", "supplier", "s_nationkey", "s_name"),
)


def _fd_oracle(name: str, table: str, lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{name}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS nd
          FROM {table} GROUP BY {lhs})"""


@register(
    "profile_fd_audit",
    oracle="\nUNION ALL\n".join(_fd_oracle(*fd) for fd in FD_CANDIDATES),
)
def profile_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate FD "lhs
    determines rhs", count the lhs groups where more than one rhs value
    actually occurs — the schema-inference check run before trusting a
    column as a join/dedup key or denormalizing on it (a violated FD
    silently duplicates or drops rows downstream). One schema-true FD
    rides along as the canary; the rest quantify plausible-but-false
    modeler assumptions.

    Scale shape: per FD one two-phase distinct aggregate (partial
    per-partition distinct on (lhs, rhs), then the group verdict —
    never a row-level collect), unioned over the FD list; each audited
    table is scanned once with only the two audited columns read."""
    t = load(spark, sf_dir)
    parts = []
    for name, table, lhs, rhs in FD_CANDIDATES:
        g = (
            getattr(t, table)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("nd"))
        )
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        parts.append(
            g.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                viol.cast("bigint").alias("n_violating"),
                (viol == 0).alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_CALENDAR_GAPS_ORACLE = """
    WITH span AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
      FROM events
    ),
    expected AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM span
    ),
    observed AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
    ),
    flags AS (
      SELECT strftime(e.day, '%Y-%m') AS month,
             CASE WHEN o.day IS NULL THEN 1 ELSE 0 END AS missing
      FROM expected e LEFT JOIN observed o ON o.day = e.day
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS expected_days,
           CAST(COUNT(*) - SUM(missing) AS BIGINT) AS observed_days,
           CAST(SUM(missing) AS BIGINT) AS missing_days,
           ROUND((COUNT(*) - SUM(missing)) / CAST(COUNT(*) AS DOUBLE), 4)
             AS completeness,
           SUM(missing) = 0 AS complete
    FROM flags GROUP BY month
"""


@register("quality_calendar_gaps", oracle=_CALENDAR_GAPS_ORACLE)
def quality_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar completeness audit: generate the full day spine between
    the table's first and last event, anti-check it against the days
    that actually have data, and report per-month missing-day counts —
    the ingestion-health view that catches SILENT daily-feed gaps
    (quality_freshness catches a feed that STOPPED; this catches one
    that skipped last Tuesday and resumed). The day spine is the same
    generated-dimension trick win_gapfill_locf uses for values, applied
    to existence.

    Scale shape: the spine is a sequence() explode off a 1-row min/max
    frame (O(days), trivially small at any data size); observed days =
    one distinct aggregate; one broadcast-able join day-to-day and a
    month-domain rollup. Exact integers + one exact ratio."""
    t = load(spark, sf_dir)
    span = t.events.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    expected = span.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    observed = (
        t.events.select(F.col("ts").cast("date").alias("day"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    flags = expected.join(F.broadcast(observed), "day", "left").select(
        F.date_format("day", "yyyy-MM").alias("month"),
        F.when(F.col("present").isNull(), 1).otherwise(0).alias("missing"),
    )
    n = F.count(F.lit(1))
    miss = F.sum("missing")
    return flags.groupBy("month").agg(
        n.cast("bigint").alias("expected_days"),
        (n - miss).cast("bigint").alias("observed_days"),
        miss.cast("bigint").alias("missing_days"),
        F.round((n - miss) / n.cast("double"), 4).alias("completeness"),
        (miss == 0).alias("complete"),
    )


#: Skew advisory line: a hottest-key/mean ratio beyond this suggests
#: salting (join_skew_salted) over a plain shuffle join on the key.
SKEW_ADVISORY = 8.0

_JOIN_SKEW_ORACLE = f"""
    WITH k AS (
      SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
    ),
    s AS (
      SELECT COUNT(*) AS n_keys,
             SUM(n) AS n_rows,
             MAX(n) AS max_per_key,
             quantile_cont(n, 0.5) AS p50,
             quantile_cont(n, 0.99) AS p99
      FROM k
    )
    SELECT CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(max_per_key AS BIGINT) AS max_rows_per_key,
           ROUND(p50, 2) AS p50_rows_per_key,
           ROUND(p99, 2) AS p99_rows_per_key,
           ROUND(max_per_key / (n_rows / CAST(n_keys AS DOUBLE)), 4)
             AS skew_factor,
           max_per_key / (n_rows / CAST(n_keys AS DOUBLE))
             > {SKEW_ADVISORY} AS recommend_salting
    FROM s
"""


@register("profile_join_skew", oracle=_JOIN_SKEW_ORACLE)
def profile_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for orders.o_custkey: rows-per-key
    distribution (p50/p99/max) and the skew factor (hottest key over
    the mean) with a salting advisory — the diagnostic an engine runs
    BEFORE picking a join strategy, because one hot key serializes a
    whole shuffle partition onto one task (the exact pathology
    join_skew_salted exists to fix, and the measurement that justifies
    paying its salt-explode cost). AQE's skew-join split handles this
    at runtime for sort-merge joins; this profile is the PLANNING-time
    view that also covers windows and aggregations AQE cannot split.

    Scale shape: one combinable count per key, then a 1-row
    distribution fold over the key frame (exact percentiles; at
    100 TB the key frame is still one row PER KEY, and
    approx_percentile swaps in). Exact integers + identical ratios."""
    t = load(spark, sf_dir)
    k = t.orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    s = k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_per_key"),
        F.percentile("n", F.lit(0.5)).alias("p50"),
        F.percentile("n", F.lit(0.99)).alias("p99"),
    )
    mean = F.col("n_rows") / F.col("n_keys").cast("double")
    skew = F.col("max_per_key") / mean
    return s.select(
        F.col("n_keys").cast("bigint").alias("n_keys"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("max_per_key").cast("bigint").alias("max_rows_per_key"),
        F.round("p50", 2).alias("p50_rows_per_key"),
        F.round("p99", 2).alias("p99_rows_per_key"),
        F.round(skew, 4).alias("skew_factor"),
        (skew > SKEW_ADVISORY).alias("recommend_salting"),
    )


#: Foreign-key edges audited by quality_fk_orphans:
#: (fk name, child table, child column, parent table, parent key).
FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
)


def _fk_oracle(fk: tuple) -> str:
    name, child, ccol, parent, pcol = fk
    return f"""
    SELECT '{name}' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(SUM(CASE WHEN p.{pcol} IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans,
           ROUND(1.0 - SUM(CASE WHEN p.{pcol} IS NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS coverage,
           SUM(CASE WHEN p.{pcol} IS NULL THEN 1 ELSE 0 END) = 0 AS intact
    FROM {child} c LEFT JOIN {parent} p ON p.{pcol} = c.{ccol}"""


@register(
    "quality_fk_orphans",
    oracle="\nUNION ALL\n".join(_fk_oracle(fk) for fk in FK_EDGES),
)
def quality_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the schema's four FK edges:
    orphaned child rows (keys with no parent), coverage ratio, and the
    intact verdict per edge — the load-gate check every warehouse runs
    after ingest, and the one quality_expectations' value-rule battery
    does not cover (an orphan passes every per-column rule; only the
    JOIN sees it). A broken edge here invalidates every star join in
    the engine, which is why it runs before anything else trusts a
    drop.

    Scale shape: one left join per edge, each orphan count a combinable
    conditional sum (the anti-join count without a second scan); parent
    sides are key-only projections, so at 100 TB each edge costs one
    key shuffle (or a broadcast when the parent is a dim). Exact
    integers + one exact division."""
    t = load(spark, sf_dir)
    tables = {
        "lineitem": t.lineitem,
        "orders": t.orders,
        "part": t.part,
        "supplier": t.supplier,
        "customer": t.customer,
    }
    out = None
    for name, child, ccol, parent, pcol in FK_EDGES:
        c = tables[child].select(F.col(ccol).alias("ck"))
        p = tables[parent].select(F.col(pcol).alias("pk")).distinct()
        orphan = F.sum(F.when(F.col("pk").isNull(), 1).otherwise(0))
        edge = (
            c.join(p, F.col("ck") == F.col("pk"), "left")
            .agg(
                F.count(F.lit(1)).alias("n"),
                orphan.alias("o"),
            )
            .select(
                F.lit(name).alias("fk"),
                F.col("n").cast("bigint").alias("n_child_rows"),
                F.col("o").cast("bigint").alias("n_orphans"),
                F.round(
                    1.0 - F.col("o") / F.col("n").cast("double"), 6
                ).alias("coverage"),
                (F.col("o") == 0).alias("intact"),
            )
        )
        out = edge if out is None else out.unionByName(edge)
    return out


_IQR_ORACLE = """
    WITH cents AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events
    ),
    dom AS (
      SELECT event_type, c, COUNT(*) AS ct FROM cents GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, c, ct,
             SUM(ct) OVER (PARTITION BY event_type ORDER BY c) AS cum_ct,
             SUM(ct) OVER (PARTITION BY event_type) AS n
      FROM dom
    ),
    q AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             MIN(CASE WHEN cum_ct >= CEIL(0.25 * n) THEN c END) AS q1,
             MIN(CASE WHEN cum_ct >= CEIL(0.75 * n) THEN c END) AS q3
      FROM cum GROUP BY event_type
    )
    SELECT q.event_type, q.n,
           ROUND(q.q1 / 100.0, 2) AS q1,
           ROUND(q.q3 / 100.0, 2) AS q3,
           ROUND((q.q3 - q.q1) / 100.0, 2) AS iqr,
           (10 * q.q1 - 15 * (q.q3 - q.q1)) / 1000.0 AS lo_fence,
           (10 * q.q3 + 15 * (q.q3 - q.q1)) / 1000.0 AS hi_fence,
           CAST(SUM(CASE WHEN 10 * d.c < 10 * q.q1 - 15 * (q.q3 - q.q1)
                           OR 10 * d.c > 10 * q.q3 + 15 * (q.q3 - q.q1)
                         THEN d.ct ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN 10 * d.c < 10 * q.q1 - 15 * (q.q3 - q.q1)
                            OR 10 * d.c > 10 * q.q3 + 15 * (q.q3 - q.q1)
                          THEN d.ct ELSE 0 END) / CAST(q.n AS DOUBLE), 6)
             AS outlier_share
    FROM q JOIN dom d ON d.event_type = q.event_type
    GROUP BY q.event_type, q.n, q.q1, q.q3
"""


@register("quality_outlier_iqr", oracle=_IQR_ORACLE)
def quality_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier audit per event type: exact Q1/Q3 on the cents
    domain, 1.5-IQR fences, and how many rows fall outside — the
    distribution-free screen a data-quality gate runs before
    z-score-based rules (win_zscore_anomaly assumes a mean/std that
    outliers themselves corrupt; fences don't). Emitting the fences
    beside the counts is the operational form: downstream filters reuse
    them as literals.

    Scale/determinism: DISCRETE order statistics (value at rank
    ceil(p*n)) via the per-type cents-DOMAIN cumulative frame
    (q_supplier_lead_time doctrine — no interpolation ulps); the
    outlier count re-joins the domain frame, not the events; fences
    land on the exact 0.5-cent lattice."""
    t = load(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    dom = (
        t.events.select("event_type", cents.alias("c"))
        .groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    w_cum = Window.partitionBy("event_type").orderBy("c")
    w_all = Window.partitionBy("event_type")
    cum = dom.select(
        "event_type",
        "c",
        "ct",
        F.sum("ct").over(w_cum).alias("cum_ct"),
        F.sum("ct").over(w_all).alias("n"),
    )
    q = cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(
            F.when(F.col("cum_ct") >= F.ceil(0.25 * F.col("n")), F.col("c"))
        ).alias("q1c"),
        F.min(
            F.when(F.col("cum_ct") >= F.ceil(0.75 * F.col("n")), F.col("c"))
        ).alias("q3c"),
    )
    # fences in exact integer MILLI-cents (1.5*IQR on int cents lands
    # on a half-cent lattice whose 2-dp round is engine-sensitive)
    iqr = F.col("q3c") - F.col("q1c")
    lo_mc = 10 * F.col("q1c") - 15 * iqr
    hi_mc = 10 * F.col("q3c") + 15 * iqr
    out = (
        q.join(dom, "event_type")
        .groupBy("event_type", "n", "q1c", "q3c")
        .agg(
            F.sum(
                F.when(
                    (10 * F.col("c") < lo_mc) | (10 * F.col("c") > hi_mc),
                    F.col("ct"),
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers")
        )
    )
    return out.select(
        "event_type",
        "n",
        F.round(F.col("q1c") / 100.0, 2).alias("q1"),
        F.round(F.col("q3c") / 100.0, 2).alias("q3"),
        F.round(iqr / 100.0, 2).alias("iqr"),
        (lo_mc / 1000.0).alias("lo_fence"),
        (hi_mc / 1000.0).alias("hi_fence"),
        "n_outliers",
        F.round(
            F.col("n_outliers") / F.col("n").cast("double"), 6
        ).alias("outlier_share"),
    )


#: Categorical columns profiled by the entropy audit: (table, column).
ENTROPY_COLUMNS = (
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("customer", "c_mktsegment"),
    ("events", "event_type"),
    ("documents", "lang"),
)

_COL_ENTROPY_ORACLE = """
    WITH u AS (
      SELECT 'orders.o_orderstatus' AS col, o_orderstatus AS val FROM orders
      UNION ALL
      SELECT 'orders.o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT 'customer.c_mktsegment', c_mktsegment FROM customer
      UNION ALL
      SELECT 'events.event_type', event_type FROM events
      UNION ALL
      SELECT 'documents.lang', lang FROM documents
    ),
    cnt AS (
      SELECT col, val, COUNT(*) AS c FROM u GROUP BY col, val
    ),
    tot AS (SELECT col, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct
            FROM cnt GROUP BY col),
    terms AS (
      SELECT c.col,
             CAST(FLOOR(-(c.c / CAST(t.n AS DOUBLE))
                        * ln(c.c / CAST(t.n AS DOUBLE)) * 1000000000)
                  AS BIGINT) AS h_n
      FROM cnt c JOIN tot t USING (col)
    )
    SELECT t.col AS column_name, t.n, t.n_distinct,
           ROUND(SUM(h_n) / 1e9, 6) AS entropy_nats,
           ROUND(CASE WHEN t.n_distinct > 1
                      THEN (SUM(h_n) / 1e9) / ln(t.n_distinct)
                      ELSE 0 END, 6) AS normalized
    FROM terms JOIN tot t USING (col)
    GROUP BY t.col, t.n, t.n_distinct
"""


@register("profile_column_entropy", oracle=_COL_ENTROPY_ORACLE)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of every profiled categorical column (nats, plus
    the 0-1 normalization by ln of the distinct count) — the one-number
    balance check that catches a column silently collapsing toward a
    constant (entropy -> 0) or exploding into an identifier (normalized
    -> 1 with high cardinality) between snapshots. Complements
    profile_table's null/min/max surface and agg_category_drift's
    two-snapshot comparison with a single-snapshot health number.
    agg_entropy_rate is the SEQUENCE entropy of one column; this is the
    marginal entropy of many.

    Scale/determinism: one combinable count per (column, value) — the
    union of column projections scans each table once; per-value
    entropy terms floor to nano-units before the value-domain fold
    (theil doctrine); normalization is a closed form of exact counts."""
    t = load(spark, sf_dir)
    frames = []
    for tbl, col in ENTROPY_COLUMNS:
        frames.append(
            getattr(t, tbl).select(
                F.lit(f"{tbl}.{col}").alias("col"),
                F.col(col).alias("val"),
            )
        )
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr)
    cnt = u.groupBy("col", "val").agg(F.count(F.lit(1)).alias("c"))
    w_col = Window.partitionBy("col")
    shares = cnt.select(
        "col",
        "c",
        F.sum("c").over(w_col).alias("n"),
        F.count(F.lit(1)).over(w_col).alias("n_distinct"),
    )
    p = F.col("c") / F.col("n").cast("double")
    h_n = F.floor(-p * F.log(p) * 1_000_000_000).cast("bigint")
    return (
        shares.select("col", "n", "n_distinct", h_n.alias("h_n"))
        .groupBy("col", "n", "n_distinct")
        .agg(F.sum("h_n").alias("sh"))
        .select(
            F.col("col").alias("column_name"),
            F.col("n").cast("bigint").alias("n"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            F.round(F.col("sh") / 1e9, 6).alias("entropy_nats"),
            F.round(
                F.when(
                    F.col("n_distinct") > 1,
                    (F.col("sh") / 1e9) / F.log(F.col("n_distinct").cast("double")),
                ).otherwise(0.0),
                6,
            ).alias("normalized"),
        )
    )


_DATE_ORDER_ORACLE = """
    WITH j AS (
      SELECT o.o_orderdate AS od, o.o_orderstatus AS os,
             l.l_shipdate AS sd, l.l_returnflag AS rf,
             l.l_linestatus AS ls
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN sd < od THEN 1 ELSE 0 END) AS BIGINT)
               AS ship_before_order,
             CAST(SUM(CASE WHEN sd > od + INTERVAL 90 DAY THEN 1 ELSE 0 END)
                  AS BIGINT) AS ship_lag_over_90d,
             CAST(SUM(CASE WHEN rf = 'R' AND os = 'O' THEN 1 ELSE 0 END)
                  AS BIGINT) AS returned_but_open,
             CAST(SUM(CASE WHEN os = 'F' AND ls = 'O' THEN 1 ELSE 0 END)
                  AS BIGINT) AS finished_order_open_line
      FROM j
    )
    SELECT rule, n AS n_checked, v AS n_violations,
           CASE WHEN n > 0 THEN ROUND(v / CAST(n AS DOUBLE), 6) END
             AS violation_share
    FROM (
      SELECT n, 'ship_before_order' AS rule, ship_before_order AS v FROM c
      UNION ALL
      SELECT n, 'ship_lag_over_90d', ship_lag_over_90d FROM c
      UNION ALL
      SELECT n, 'returned_but_open', returned_but_open FROM c
      UNION ALL
      SELECT n, 'finished_order_open_line', finished_order_open_line FROM c
    )
    ORDER BY rule
"""


@register("quality_cross_field_dates", oracle=_DATE_ORDER_ORACLE)
def quality_cross_field_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-FIELD consistency audit of the order lifecycle: rows are
    internally inconsistent when related fields contradict the process
    (a line shipped before its order was placed; a ship lag past 90
    days — the staleness cut; a RETURNED line on a still-OPEN order; an
    open line inside a FINISHED order). quality_expectations checks
    fields against CONSTANTS and keys; this checks fields against EACH
    OTHER, across the join — the corruption class (timezone bugs,
    column swaps, backfill off-by-days, status-machine races)
    single-field ranges can't see.

    Scale/determinism: one shuffle join orders x lineitem (the Q12
    shape — co-located at 100 TB when both facts are bucketed by
    orderkey, join_bucketed_colocated's amortization), then ONE
    conditional-sum pass produces all four counters; the 4-rule report
    unpivots from that single row — no rule scans twice; shares are
    exact-integer divisions rounded 6 dp."""
    t = load(spark, sf_dir)
    j = t.lineitem.join(
        t.orders, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        F.col("o_orderdate").alias("od"),
        F.col("o_orderstatus").alias("os"),
        F.col("l_shipdate").alias("sd"),
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
    )
    c = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("sd") < F.col("od")).cast("int")).cast("bigint").alias(
            "ship_before_order"
        ),
        F.sum(
            (F.col("sd") > F.date_add(F.col("od"), 90)).cast("int")
        ).cast("bigint").alias("ship_lag_over_90d"),
        F.sum(
            ((F.col("rf") == "R") & (F.col("os") == "O")).cast("int")
        ).cast("bigint").alias("returned_but_open"),
        F.sum(
            ((F.col("os") == "F") & (F.col("ls") == "O")).cast("int")
        ).cast("bigint").alias("finished_order_open_line"),
    )
    rules = c.select(
        "n",
        F.expr(
            "stack(4,"
            " 'ship_before_order', ship_before_order,"
            " 'ship_lag_over_90d', ship_lag_over_90d,"
            " 'returned_but_open', returned_but_open,"
            " 'finished_order_open_line', finished_order_open_line)"
            " AS (rule, v)"
        ),
    )
    return rules.select(
        "rule",
        F.col("n").alias("n_checked"),
        F.col("v").alias("n_violations"),
        # NULL share on an empty join (ANSI divide-by-zero guard)
        F.when(
            F.col("n") > 0,
            F.round(F.col("v") / F.col("n").cast("double"), 6),
        ).alias("violation_share"),
    ).orderBy("rule")
