"""Environment-robustness: results must be a function of the DATA,
never of the execution environment. Re-run a slice of the trickiest
operators under hostile runtime settings — tiny/odd shuffle
partitioning (breaks anything that assumes co-partitioning it didn't
ask for, and reorders every partial-agg merge) and whole-stage codegen
OFF (the interpreted expression path must agree bit-for-bit with the
generated one) — and demand identical row multisets.

The slice covers one representative of each risk family: multi-shuffle
candidate/verify pipelines (jaccard), iterative checkpointed loops
(clusters), window sessionization, the sanctioned-collect + broadcast
IVF path, and an exact integer z-test.
"""

from __future__ import annotations

import pytest

from nchu_bigdata_spark.registry import load_all_queries

SPECS = load_all_queries()

OPS = [
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "win_sessionize",
    "sim_ann_ivf",
    "events_anomaly",
]

HOSTILE = {
    "spark.sql.shuffle.partitions": "3",
    "spark.sql.codegen.wholeStage": "false",
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", OPS)
def test_result_invariant_under_hostile_runtime(name, spark, sf_dir):
    spec = SPECS[name]
    baseline = _rows(spec.fn(spark, sf_dir))
    saved = {k: spark.conf.get(k, None) for k in HOSTILE}
    try:
        for k, v in HOSTILE.items():
            spark.conf.set(k, v)
        hostile = _rows(spec.fn(spark, sf_dir))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert hostile == baseline and len(baseline) > 0


def test_query_session_inherits_tuning_pins_engine_confs_and_isolates(spark):
    """The per-query child session keeps the caller's runtime tuning
    (the hostile shuffle width above reaches the query — a fresh
    ``newSession`` would silently drop it), carries every engine pin
    over a hostile caller value, and writes nothing back."""
    from nchu_bigdata_spark.session import QUERY_CONF_PINS, query_session

    caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    caller.conf.set("spark.sql.ansi.enabled", "true")
    caller.range(1).createOrReplaceTempView("caller_v")
    before = caller.conf.getAll

    child = query_session(caller)
    assert child.conf.get("spark.sql.shuffle.partitions") == "3"
    assert {k: child.conf.get(k) for k in QUERY_CONF_PINS} == QUERY_CONF_PINS
    assert child.catalog.tableExists("caller_v")  # cloned, not fresh

    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    child.range(1).createOrReplaceTempView("child_v")
    assert caller.conf.getAll == before
    assert not caller.catalog.tableExists("child_v")
