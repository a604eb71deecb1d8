"""B-12 Scale techniques (SURVEY.md §2.B-12): the shuffle-elimination
and skew-mitigation patterns a 100 TB deployment leans on, expressed as
oracle-checked operators so the techniques are *tested*, not just
claimed.

The reference's only partitioning strategy is Hadoop's default hash
partition on ≤4 reduce keys with observed skew 36/73/137/119
(``hadoop_tutorial/src/Kmeans.java:146-147``,
``Kmeans/kmeans.hdfs/part-r-00000``); it has no answer to either
problem these operators solve.

  * ``join_bucketed`` — bucketing: pre-shuffle both fact tables once at
    write time into the same bucket layout; every later join/agg on the
    bucket key is exchange-free. At 100 TB this converts the dominant
    recurring shuffle into a one-time layout cost.
  * ``join_skew_salted`` — salting: explode a hot build side ×S and
    spread the probe side across the S salts, so one hot key fans out
    over S tasks instead of stalling one straggler. (AQE skew-join
    splitting is enabled engine-wide too; explicit salting is the
    deterministic form that also works pre-AQE and for aggregations.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nchu_bigdata_spark.compat import dsum, sql_dsum
from nchu_bigdata_spark.io import table
from nchu_bigdata_spark.queries.relational import scratch_dir
from nchu_bigdata_spark.registry import register

_N_BUCKETS = 8
_N_SALTS = 8


@register(
    "join_bucketed",
    tags=("b12",),
    oracle=f"""
        SELECT l.l_returnflag,
               COUNT(*) AS n_lines,
               {sql_dsum("l.l_extendedprice")} AS sum_price
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY l.l_returnflag
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free sort-merge join via bucketing.

    Both sides are written once as tables bucketed+sorted by orderkey
    into the same {n} buckets; the join then reads co-located buckets
    directly — the physical plan has NO Exchange on the join key (the
    plan audit asserts this). This is the 100 TB pattern for a fact
    table joined on the same key daily: one layout shuffle at ingest,
    zero at query time."""
    warehouse = scratch_dir(sf_dir, "bucketed")
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    li_tbl, o_tbl = f"li_bkt_{sf_tag}", f"ord_bkt_{sf_tag}"
    for tbl, name, key, cols in (
        (li_tbl, "lineitem", "l_orderkey",
         ["l_orderkey", "l_returnflag", "l_extendedprice"]),
        (o_tbl, "orders", "o_orderkey",
         ["o_orderkey", "o_orderpriority"]),
    ):
        if not spark.catalog.tableExists(tbl):
            (
                table(spark, sf_dir, name)
                .select(*cols)
                .write.bucketBy(_N_BUCKETS, key)
                .sortBy(key)
                .option("path", os.path.join(warehouse, tbl))
                .mode("overwrite")
                .saveAsTable(tbl)
            )
    # hint("merge"): at test SF the filtered side fits a broadcast, which
    # would hide the property under test; at 100 TB both sides are huge
    # and SMJ over co-located buckets IS the plan, so pin it.
    li = spark.table(li_tbl).hint("merge")
    orders = spark.table(o_tbl).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@register(
    "join_skew_salted",
    tags=("b12",),
    oracle=f"""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_lines,
               {sql_dsum("l.l_extendedprice")} AS sum_price
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join: identical result to the plain join (the
    oracle IS the plain join), different physical distribution.

    The build side (orders) is exploded ×{s} salts; each probe row
    (lineitem) picks one deterministic salt from a row-local column, so
    a hot orderkey's probe rows spread over {s} shuffle partitions
    instead of one straggler task. Build-side blowup is bounded (×{s})
    and the join key becomes (key, salt). Salting is the deterministic
    complement to AQE's runtime skew-split — and the only option for
    skewed *aggregations* (two-phase agg over the salted key)."""
    # hint("merge") pins the shuffled join so the salted distribution —
    # Exchange on (key, salt) — is the physical plan under test, as it
    # would be with a broadcast-ineligible hot build side at scale.
    # Salt from a hash of row-local columns, NOT l_linenumber % N:
    # linenumber is 1..7 in TPC-H so a modulo would never produce salt 0
    # (1/N of the exploded build side dead, hot keys spread over N-1
    # partitions non-uniformly). pmod(hash(...), N) covers all N salts
    # uniformly.
    li = table(spark, sf_dir, "lineitem").hint("merge").withColumn(
        "salt",
        F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(_N_SALTS)).cast("int"),
    )
    orders = table(spark, sf_dir, "orders").withColumn(
        "salt",
        F.explode(F.array(*[F.lit(i) for i in range(_N_SALTS)])),
    )
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey) & (li.salt == orders.salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@register(
    "join_dpp",
    tags=("b12",),
    oracle=f"""
        WITH dim AS (
            SELECT DISTINCT CAST(ts AS DATE) AS d
            FROM events
            WHERE event_type = 'error' AND value > 300
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum("e.value")} AS sum_value
        FROM events e
        JOIN dim ON CAST(e.ts AS DATE) = dim.d
        GROUP BY e.event_type
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out partitioned
    by day (the standard ingest layout for event data); a selective
    dimension derived at runtime prunes fact partitions *before* they
    are read. The physical plan carries a
    ``dynamicpruningexpression`` in the fact scan's PartitionFilters
    (asserted by the plan audit) — at 100 TB this is the difference
    between scanning 30 days and scanning the days that matter.

    The date-partitioned copy is written once per SF to scratch
    (``repartition`` by the partition column first, so each day is one
    file instead of one-per-task)."""
    fact_path = scratch_dir(sf_dir, "events_by_day")
    if not os.path.exists(os.path.join(fact_path, "_SUCCESS")):
        (
            table(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(fact_path)
        )
    fact = spark.read.parquet(fact_path)
    dim = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "error") & (F.col("value") > 300))
        .select(F.to_date("ts").alias("d"))
        .distinct()
    )
    return (
        fact.join(dim, fact.event_date == dim.d)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# join_bloom_prune — runtime bloom-filter semi-join reduction
# --------------------------------------------------------------------------


@register(
    "join_bloom_prune",
    tags=("b12",),
    oracle=f"""
        SELECT l.l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_dsum("l.l_extendedprice")} AS sum_price
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY l.l_returnflag
    """,
)
def join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: when BOTH join sides are too
    big to broadcast, Catalyst's ``InjectRuntimeFilter`` builds a bloom
    filter over the selective (filtered) side's join keys and pushes a
    ``might_contain`` predicate into the big side's scan — so fact rows
    that cannot match are dropped BEFORE the shuffle, the exact shuffle
    -volume killer at 100 TB (a 5%-selective dim filter cuts the fact
    exchange ~20×; DPP does this for partition columns, the bloom
    filter does it for arbitrary keys). The plan audit asserts both the
    ``bloom_filter_agg`` build and the ``might_contain`` probe.

    At test scale every dim fits under the broadcast threshold and
    Spark then (correctly) skips bloom injection — a BHJ already
    prunes at the hash table. To demonstrate the big-big case the
    query disables auto-broadcast and widens the bloom thresholds FOR
    ITSELF, on its own query session (``session.query_session``): the
    overrides hold through this query's lazy execution and never reach
    the caller or any other query. Results are conf-independent:
    the bloom filter is a pure may-contain reduction, never a
    semantic change."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB",
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# scan_zorder_pruned — zone-map skipping over a z-ordered layout (round 13)
# --------------------------------------------------------------------------

_ZP_BITS = 16  # bits per dimension in the write-side Morton key
_ZP_FILES = 16  # z-range files the layout is carved into
# box literals (pushdown needs literals): custkey slice x 1994 H1
_ZP_CK_LO, _ZP_CK_HI = 1, 1000
_ZP_DAY_LO, _ZP_DAY_HI = 8766, 8947  # [1994-01-01, 1994-07-01) epoch days


def _zp_morton(x: str, y: str, shift: str) -> str:
    """16-bit Morton interleave — sort_zorder's builder at this
    op's write-key width (ONE interleave implementation; a second
    copy could drift, the gate_constants rationale)."""
    from nchu_bigdata_spark.queries.sets_sorts import _morton_terms

    return _morton_terms(x, y, shift, bits=_ZP_BITS)


@register(
    "scan_zorder_pruned",
    tags=("b12",),
    oracle=f"""
        -- the oracle reads the ORIGINAL orders: the z-ordered
        -- round-trip + box-filtered read must be indistinguishable
        -- from a plain filtered scan (day arithmetic TZ-free)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6)))
                    AS DECIMAL(38,6)) AS sum_price
        FROM orders
        WHERE o_custkey BETWEEN {_ZP_CK_LO} AND {_ZP_CK_HI}
          AND (epoch_us(o_orderdate) // 86400000000)
              BETWEEN {_ZP_DAY_LO} AND {_ZP_DAY_HI - 1}
    """,
)
def scan_zorder_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skipping over a Z-ORDERED layout — the read-side payoff
    `sort_zorder` computes envelopes for: write orders into
    {_ZP_FILES} files range-carved on the 2-dim Morton key
    (custkey × epoch-day), then run a 2-dimensional box query against
    the layout. Because z-ordering keeps BOTH per-file min/max
    envelopes narrow, the box intersects only the few files whose
    envelopes overlap it on *either* axis — the footer-stats pruning
    (`PushedFilters` on plain literal range predicates) that single-
    dimension sorting only buys for its leading column. This is the
    fifth B-12 scale technique: bucketing kills the recurring shuffle,
    salting the hot key, DPP/bloom the runtime filters — z-order +
    zone maps kill the full-scan itself for multi-dim selective reads.

    Design: the day number is materialized as a plain INT column at
    write (a cast inside the read filter would defeat pushdown); the
    Morton key is codegen bit arithmetic used ONLY as the layout key
    (repartitionByRange + in-file sort, then dropped), so readers
    never see it. 16 bits/dim cover the tested domains exactly; a
    wider corpus widens the constant, not the shape. The plan-shape
    test asserts the pushed range filters AND the quantitative claim:
    the box's file-envelope intersection count under z-order is a
    small fraction of the linear layout's.

    At 100 TB: this layout is what `OPTIMIZE ZORDER BY` leaves behind;
    the box read opens O(box volume) files instead of O(table), and
    the agg combines map-side over the survivors."""
    out = scratch_dir(sf_dir, "orders_zorder")
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
            " DIV 86400000000 AS INT)"
        ).alias("o_day"),
        "o_totalprice",
    )
    zed = o.withColumn(
        "zkey",
        F.expr(
            _zp_morton(
                f"(o_custkey % {1 << _ZP_BITS})",
                f"(o_day % {1 << _ZP_BITS})",
                "shiftleft({v}, {n})",
            )
        ),
    )
    (
        zed.repartitionByRange(_ZP_FILES, "zkey")
        .sortWithinPartitions("zkey")
        .select("o_custkey", "o_day", "o_totalprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    box = (
        F.col("o_custkey").between(_ZP_CK_LO, _ZP_CK_HI)
        & F.col("o_day").between(_ZP_DAY_LO, _ZP_DAY_HI - 1)
    )
    return back.filter(box).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("o_custkey").cast("long").alias("n_custs"),
        dsum("o_totalprice").alias("sum_price"),
    )


# --------------------------------------------------------------------------
# join_aqe_runtime_broadcast — AQE runtime SMJ→BHJ replan (round 14)
# --------------------------------------------------------------------------


@register(
    "join_aqe_runtime_broadcast",
    tags=("b12",),
    oracle=f"""
        SELECT l.l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_dsum("l.l_extendedprice")} AS sum_price
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE strftime(o.o_orderdate, '%Y-%m') = '1996-06'
        GROUP BY l.l_returnflag
    """,
)
def join_aqe_runtime_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime join replanning — the adaptive half of the
    broadcast story: static planning sees no reliable size for the
    filtered dimension side (without CBO column stats a Filter keeps
    its child's sizeInBytes estimate, so a selective predicate looks
    as big as the whole table) and plans a sort-merge join; AQE then
    OBSERVES the actual shuffle bytes of the filtered side at runtime
    — one month of orders, a few tens of KB — and rewrites the
    remaining stages to a broadcast-hash join before they execute.
    This is the mechanism that saves the 100 TB deployment whose
    dimension filters are data-dependent: nobody has to predict
    selectivity, the replan happens per-query from measured sizes.

    Demonstration pinning: static broadcast is disabled for THIS query
    (threshold -1) while the ADAPTIVE threshold stays permissive, so
    the initial plan MUST be SMJ and the final plan MUST be the
    runtime-converted BHJ — both asserted by test on the two plan
    sections; both thresholds are set on the query's own session
    (``session.query_session``), so the override reaches no other
    query (the join_bloom_prune pattern).

    Plan/scale: the replanned query reads lineitem once with the
    broadcast probe (no fact shuffle at all once converted — the SMJ
    exchange that static planning scheduled is dropped by the
    AQEShuffleRead); the rollup combines map-side."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", str(2 * 1024 * 1024)
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .filter(F.date_format("o_orderdate", "yyyy-MM") == "1996-06")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )
