"""Differential test: every registered query with an oracle must match
DuckDB exactly (strict multiset equality — stricter than the driver's
value hash). Rows-only queries must at least run and return a stable
schema.

Both sweeps call each query from one hostile caller session — a
timezone far from UTC (every TZ-sensitive query, fn_date's
to_date/year/dayofweek buckets first among them), ANSI on (Spark 4's
default; agg_hash's decimal aggregation under it) and a broadcast
threshold the engine never uses — so every result is checked against
its oracle under caller defaults the query must not depend on, and the
caller's conf and temp views must come back untouched."""

from __future__ import annotations

import pytest

from nchu_bigdata_spark.registry import load_all_queries

from tests.helpers import assert_df_matches_oracle

SPECS = load_all_queries()
ORACLE_IDS = sorted(n for n, s in SPECS.items() if s.oracle)
ROWS_ONLY_IDS = sorted(n for n, s in SPECS.items() if not s.oracle)


HOSTILE_CALLER_CONF = {
    "spark.sql.session.timeZone": "America/New_York",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "12345",
}


@pytest.fixture(scope="module")
def caller(spark):
    s = spark.newSession()
    for k, v in HOSTILE_CALLER_CONF.items():
        s.conf.set(k, v)
    return s


def _caller_state(caller):
    # Temp views only: join_bucketed's bucketed tables live in the
    # shared catalog on purpose (written once, reused by later runs).
    return (
        caller.conf.getAll,
        sorted(t.name for t in caller.catalog.listTables() if t.isTemporary),
    )


@pytest.mark.parametrize("name", ORACLE_IDS)
def test_query_matches_oracle(name, caller, duck, sf_dir):
    spec = SPECS[name]
    before = _caller_state(caller)
    sdf = spec.fn(caller, sf_dir)
    assert_df_matches_oracle(sdf, duck, spec.oracle, name)
    assert _caller_state(caller) == before, f"{name}: mutated the caller"


@pytest.mark.parametrize("name", ROWS_ONLY_IDS)
def test_rows_only_query_runs(name, caller, sf_dir):
    spec = SPECS[name]
    before = _caller_state(caller)
    df = spec.fn(caller, sf_dir)
    assert df.columns, f"{name}: no columns"
    n = df.count()
    assert n >= 0
    assert _caller_state(caller) == before, f"{name}: mutated the caller"


def test_agg_approx_verdicts_and_raw_sketch_bounds(spark, sf_dir):
    """agg_approx now emits deterministic bounded VERDICTS (exact
    distinct count + per-sketch within-tolerance booleans) so the
    driver's exact-hash oracle applies (VERDICT r6 item 2). Two layers
    here:

    1. the query's own verdict booleans must all be TRUE and its exact
       counts must match an independently computed count-distinct;
    2. the RAW sketches (re-run directly, since the query no longer
       exposes them) must meet their documented bounds — HLL++ within
       5×rsd, percentile_approx within n/accuracy rank error — the
       tighter guarantee underlying the query's looser verdict window.
    """
    import bisect

    from pyspark.sql import functions as F

    from nchu_bigdata_spark.io import table

    got = {r["l_returnflag"]: r for r in SPECS["agg_approx"].fn(spark, sf_dir).collect()}
    li = table(spark, sf_dir, "lineitem")
    raw = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n"),
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("acd"),
            F.percentile_approx(
                "l_extendedprice",
                F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
                10000,
            ).alias("pa"),
            F.collect_list("l_extendedprice").alias("vs"),
        )
        .collect()
    }
    assert set(got) == set(raw)
    for flag, row in got.items():
        exact = raw[flag]["n"]
        assert row["n_orders_exact"] == exact, (flag, row, exact)
        for col in (
            "cd_within_5rsd",
            "p25_within_rank_tol",
            "p50_within_rank_tol",
            "p75_within_rank_tol",
        ):
            assert row[col] is True, (flag, col, row)
        # layer 2: documented bounds on the raw sketches
        assert abs(raw[flag]["acd"] - exact) <= max(1, 5 * 0.02 * exact), (
            flag,
            raw[flag]["acd"],
            exact,
        )
        vs = sorted(raw[flag]["vs"])
        n = len(vs)
        tol = n / 10000 + 1
        for q, v in zip((0.25, 0.5, 0.75), raw[flag]["pa"]):
            lo = bisect.bisect_left(vs, v)
            hi = bisect.bisect_right(vs, v)
            assert lo - tol <= q * n <= hi + tol, (flag, q, v, lo, hi, q * n)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_contract_shape():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 1


def test_driver_order_covers_registry_exactly():
    """DRIVER_ORDER is the driver's presentation order; a typo'd or
    missing id would silently fall to alphabetical append (or worse,
    shrink the checked window). Enforce the 1:1 correspondence."""
    from nchu_bigdata_spark.registry import DRIVER_ORDER

    assert len(DRIVER_ORDER) == len(set(DRIVER_ORDER)), "duplicate ids"
    assert set(DRIVER_ORDER) == set(SPECS), set(DRIVER_ORDER) ^ set(SPECS)


def test_driver_window_is_sql_certifiable():
    """The rotation ledger's whole point is that each 50-id driver
    window advances certification provenance. A rows-only id in the
    window burns a slot on the weak check; keep the ledger head (the
    r10-r12 windows, 150 ids) strictly SQL-oracle-backed."""
    from nchu_bigdata_spark.registry import DRIVER_ORDER

    # Sanctioned exception (VERDICT r10 item 2): text_compression_ratio
    # is the single genuinely rows-only id (DEFLATE isn't SQL; exact
    # zlib replay in check_oracle) and its official driver row is a
    # stale r7 no_oracle stamp — it rides the r11 window ONCE to
    # refresh that row, then returns to the refresh tail.
    allowed = {"text_compression_ratio"}
    rows_only = [
        n
        for n in DRIVER_ORDER[:150]
        if SPECS[n].oracle is None and n not in allowed
    ]
    assert rows_only == [], rows_only
