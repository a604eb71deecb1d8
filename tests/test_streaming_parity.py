"""Batch ↔ Structured Streaming parity (SURVEY.md §5.3) plus the
watermark late-data-drop demonstration.

Each B-9 operator is one transform run two ways: the registered batch
query (oracle-checked elsewhere) and a true readStream → memory-sink
run via the streaming runner. Results must match exactly.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nchu_bigdata_spark.compat import finalize_output
from nchu_bigdata_spark.registry import load_all_queries
from nchu_bigdata_spark.streaming import STREAM_TRANSFORMS, run_events_stream

from tests.helpers import canon_rows

SPECS = load_all_queries()

# Every SURVEY §2.B-9 id — ALL EIGHT run a genuine Structured
# Streaming query in this parametrization (VERDICT r6 item 6), not
# just their batch form:
#   * six through the generic readStream → memory-sink runner;
#   * stream_stateful through the same runner with a last-emission
#     reduction (update mode re-emits refreshed state per microbatch);
#   * stream_cdc_upsert through its registered fn, which IS a real
#     foreachBatch streaming run into a parquet target, compared to a
#     Spark batch latest-per-key window.
PARITY_IDS = [
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "stream_dedup",
    "stream_watermark_late",
    # true watermarked stream-stream self-join (append mode): both
    # branches buffer in the state store; matches emitted exactly once
    "stream_stream_join",
    "stream_stateful",
    "stream_cdc_upsert",
    # round 8: stream-static broadcast enrichment (stateless join)
    "stream_enrich_static",
    # round 8: windowed top-k — the registered fn IS a real streaming
    # run (count state maintained by the stream, rank at read); the
    # parity branch compares it against an all-batch count+rank
    "stream_topk",
    # round 8: OHLC bars via algebraic min_by/max_by open/close — the
    # streaming-capable restatement of win_ohlc_bars
    "stream_ohlc",
    # round 13: grid-cell interval join (join_range_partitioned's
    # strategy) as a true watermarked stream-stream join, append mode
    "stream_range_join",
]


def _rows(df):
    return canon_rows(df.columns, [tuple(r) for r in df.collect()])


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    """The file stream source requires a directory; link the single
    events parquet into one."""
    d = tmp_path_factory.mktemp("events_stream_src")
    os.symlink(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def _cdc_batch_form(spark, sf_dir):
    """Batch-form of the CDC upsert end state: latest row per
    (user_id, event_type) by (ts, event_id, value) — the same total
    order the streaming merge struct uses."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nchu_bigdata_spark.io import table

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc(), F.col("value").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("event_id").cast("long").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    )


@pytest.mark.parametrize("name", PARITY_IDS)
def test_stream_matches_batch(name, spark, sf_dir, events_dir):
    from pyspark.sql import functions as F

    if name == "stream_cdc_upsert":
        # the registered fn runs the REAL streaming upsert (foreachBatch
        # merge into a parquet target) end-to-end
        stream = SPECS[name].fn(spark, sf_dir)
        batch = _cdc_batch_form(spark, sf_dir)
    elif name == "stream_topk":
        # registered fn = real streaming count state + ranked read;
        # batch form = the same transform pair over a batch scan
        from nchu_bigdata_spark.io import table
        from nchu_bigdata_spark.queries.streaming_batch import (
            rank_topk,
            topk_counts_transform,
        )

        stream = SPECS[name].fn(spark, sf_dir)
        batch = finalize_output(
            rank_topk(topk_counts_transform(table(spark, sf_dir, "events")))
        )
    else:
        transform, mode = STREAM_TRANSFORMS[name]
        batch = SPECS[name].fn(spark, sf_dir)
        # Registered queries pass through the driver-compat output layer
        # (DECIMAL → DOUBLE, compat.py); normalize the stream side the
        # same way so parity compares semantics, not representation.
        stream = finalize_output(
            run_events_stream(spark, events_dir, transform, output_mode=mode)
        )
        if name == "stream_stateful":
            # update mode re-emits refreshed state each microbatch; the
            # final state per key must equal the batch aggregate
            stream = stream.groupBy("user_id").agg(
                F.max("n").alias("n"),
                F.max("val_sum_scaled").alias("val_sum_scaled"),
                F.max("max_ts_us").alias("max_ts_us"),
            )
    assert sorted(stream.columns) == sorted(batch.columns)
    assert _rows(stream.select(*batch.columns)) == _rows(batch)


_MIN = 60 * 1_000_000_000  # one minute in nanos


def _write_events(path: str, rows: list[tuple[int, int]]) -> None:
    """(event_id, ts_nanos) click events, one single-file parquet."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        path,
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    """Three microbatches (maxFilesPerTrigger=1): batch 0 carries data
    that advances the watermark past window [t0, t0+5m); batch 2 then
    delivers a late row into that window, which the 10-minute watermark
    must drop (numRowsDroppedByWatermark fires).

    The intermediate batch 1 matters: Spark applies the late-row filter
    with the watermark that was *operative at the start of a batch*, so
    a row arriving in the very batch where the watermark first passed
    its window is still admitted — drops are guaranteed only from the
    following batch on. Append mode emits each finalized window once,
    so the final table proves the drop: window t0 counts 5, not 6."""
    t0 = 1_755_000_000 * 1_000_000_000  # arbitrary epoch-aligned base
    t0 -= t0 % (5 * _MIN)  # align to a 5-minute window start
    src = tmp_path / "events"
    src.mkdir()
    # batch 0: five on-time rows in window [t0, t0+5m) + one at t0+30m
    # → watermark after the batch: t0+20m
    _write_events(
        str(src / "a.parquet"),
        [(i, t0 + i * _MIN) for i in range(5)] + [(99, t0 + 30 * _MIN)],
    )
    # batch 1: one on-time row; watermark t0+20m now operative (→ t0+21m)
    _write_events(str(src / "b.parquet"), [(50, t0 + 31 * _MIN)])
    # batch 2: a LATE row for the first window (its end t0+5m is far
    # behind the operative watermark → dropped) + one at t0+45m
    # (watermark → t0+35m, finalizing the [t0+30m, t0+35m) window)
    _write_events(
        str(src / "c.parquet"),
        [(100, t0 + 1 * _MIN), (101, t0 + 45 * _MIN)],
    )
    for i, f in enumerate(("a", "b", "c")):
        os.utime(src / f"{f}.parquet", ((i + 1) * 1_000_000,) * 2)

    transform, _ = STREAM_TRANSFORMS["stream_watermark_late"]
    out = run_events_stream(
        spark, str(src), transform, output_mode="append", max_files_per_trigger=1
    )
    got = {r.wstart_us: r.n for r in out.collect()}
    w0 = t0 // 1000  # nanos -> micros
    assert got[w0] == 5, f"late row was not dropped: {got}"
    assert got[w0 + 30 * _MIN // 1000] == 2  # t0+30m and t0+31m rows
    # the t0+45m window is still open (watermark t0+35m) → not emitted
    assert len(got) == 2, got


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Restart recovery: three runs against the same checkpoint dir —
    (1) file A present → sink holds A's rows; (2) file B added → sink
    holds A+B with A NOT reprocessed; (3) nothing new → sink unchanged.
    This is the production exactly-once story for the file sink: source
    offsets live in the checkpoint, committed batches are never
    re-emitted."""
    from nchu_bigdata_spark.streaming import run_events_stream_to_parquet

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    t0 = 1_755_000_000 * 1_000_000_000

    passthrough = lambda df: df  # noqa: E731 - stateless append projection

    _write_events(str(src / "a.parquet"), [(i, t0 + i * _MIN) for i in range(5)])
    run_events_stream_to_parquet(spark, str(src), passthrough, sink, ckpt)
    assert spark.read.parquet(sink).count() == 5

    _write_events(str(src / "b.parquet"), [(i, t0 + i * _MIN) for i in range(5, 9)])
    run_events_stream_to_parquet(spark, str(src), passthrough, sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.count() == 9  # A not reprocessed, B appended
    assert out.select("event_id").distinct().count() == 9  # no duplicates

    run_events_stream_to_parquet(spark, str(src), passthrough, sink, ckpt)
    assert spark.read.parquet(sink).count() == 9  # idempotent restart


def test_failed_events_read_does_not_leak_nanos_conf(spark, tmp_path):
    """The legacy-nanos retry must not leave the session conf flipped
    when the retry ALSO fails (bad path is not a nanos problem): a
    later unrelated read would silently surface nanos columns as
    BIGINT."""
    from nchu_bigdata_spark.io import read_events_parquet

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    with pytest.raises(Exception):
        read_events_parquet(spark, str(tmp_path / "nope.parquet"))
    assert spark.conf.get(key, None) == prev


def test_parquet_sink_immune_to_hostile_session_tz(spark, sf_dir, tmp_path):
    """The parquet sink path must run on a UTC clock itself: the real
    events parquet surfaces ts as TIMESTAMP_NTZ on Spark 4.x, and the
    NTZ→Timestamp decode resolves against the session clock — under a
    hostile caller TZ an unpinned run writes shifted instants to the
    sink. Compare instants (unix_micros, session-TZ-independent)
    against the batch reader on the engine's UTC session, and check
    the caller's TZ is left as the caller set it."""
    from pyspark.sql import functions as F

    from nchu_bigdata_spark.io import table
    from nchu_bigdata_spark.streaming import run_events_stream_to_parquet

    src = tmp_path / "src"
    src.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", src / "events.parquet")
    expected = {
        (r.event_id, r.us)
        for r in table(spark, sf_dir, "events")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    spark.conf.set("spark.sql.session.timeZone", "Asia/Taipei")
    try:
        run_events_stream_to_parquet(
            spark,
            str(src),
            lambda df: df,
            str(tmp_path / "sink"),
            str(tmp_path / "ckpt"),
        )
        # the runner's UTC clock lives on its own child session
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Taipei"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = {
        (r.event_id, r.us)
        for r in spark.read.parquet(str(tmp_path / "sink"))
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    assert got == expected


def test_stream_join_state_survives_restart(spark, tmp_path):
    """Kill-and-restart parity for the stateful interval join
    (stream_stream_join through the checkpointed parquet sink):

    * run 1 sees a click and one in-window event → 1 match emitted;
    * run 2 (a fresh query against the same checkpoint) adds an event
      that joins a click from run 1 — the match can ONLY come from the
      state store restored at restart, proving state recovery rather
      than mere source-offset recovery — plus a new click+event pair;
    * run 3 with no new input must change nothing (exactly-once).
    """
    from nchu_bigdata_spark.queries.streaming_batch import stream_join_transform
    from nchu_bigdata_spark.streaming import run_events_stream_to_parquet

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    t0 = 1_755_000_000 * 1_000_000_000
    t0 -= t0 % (5 * _MIN)

    def rows_typed(path, rows):
        """(event_id, ts, event_type) single-file parquet."""
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.int64()),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array([r[2] for r in rows]),
                    "value": pa.array([1.0] * len(rows), pa.float64()),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            path,
        )

    # run 1: click 1 @ t0 and an in-window view 2 @ t0+5m
    rows_typed(str(src / "a.parquet"), [(1, t0, "click"), (2, t0 + 5 * _MIN, "view")])
    run_events_stream_to_parquet(spark, str(src), stream_join_transform, sink, ckpt)
    out1 = {(r.click_id, r.next_id) for r in spark.read.parquet(sink).collect()}
    assert out1 == {(1, 2)}

    # run 2: view 3 @ t0+10m joins the RESTORED click-1 state; click 4
    # and view 5 are a fresh post-restart pair
    rows_typed(
        str(src / "b.parquet"),
        [
            (3, t0 + 10 * _MIN, "view"),
            (4, t0 + 40 * _MIN, "click"),
            (5, t0 + 41 * _MIN, "view"),
        ],
    )
    run_events_stream_to_parquet(spark, str(src), stream_join_transform, sink, ckpt)
    out2 = spark.read.parquet(sink)
    got = sorted((r.click_id, r.next_id) for r in out2.collect())
    assert got == [(1, 2), (1, 3), (4, 5)], got

    # run 3: nothing new → nothing re-emitted, no duplicates
    run_events_stream_to_parquet(spark, str(src), stream_join_transform, sink, ckpt)
    assert sorted(
        (r.click_id, r.next_id) for r in spark.read.parquet(sink).collect()
    ) == [(1, 2), (1, 3), (4, 5)]


# --------------------------------------------------------------------------
# stream_cdc_upsert — ordered merge across out-of-order micro-batches
# --------------------------------------------------------------------------


def _write_cdc_events(path: str, rows) -> None:
    """rows: (event_id, ts_nanos, user_id, event_type, value)."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([float(r[4]) for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        path,
    )


def test_cdc_upsert_out_of_order_batches(spark, tmp_path):
    """A later micro-batch delivering OLDER changes must not clobber
    newer target state (the ordered-merge property); newer changes must
    overwrite; ts ties break on event_id; unseen keys insert."""
    from nchu_bigdata_spark.streaming.runner import run_events_cdc_upsert

    t0 = 1_755_000_000 * 1_000_000_000
    src = tmp_path / "cdc_src"
    src.mkdir()
    # batch 0 (oldest mtime → processed first): NEWER state for key
    # (1, click); tie pair for key (2, view) — event 21 vs 20 at the
    # same ts, higher id must win; initial state for (3, buy)
    _write_cdc_events(
        str(src / "a.parquet"),
        [
            (10, t0 + 5 * _MIN, 1, "click", 10.5),
            (21, t0 + 1 * _MIN, 2, "view", 21.0),
            (20, t0 + 1 * _MIN, 2, "view", 20.0),
            (30, t0, 3, "buy", 30.0),
        ],
    )
    # batch 1: an OLDER change for (1, click) — must NOT clobber — plus
    # a NEWER change for (3, buy) and a brand-new key (4, click)
    _write_cdc_events(
        str(src / "b.parquet"),
        [
            (9, t0 + 1 * _MIN, 1, "click", 9.0),
            (31, t0 + 9 * _MIN, 3, "buy", 31.0),
            (40, t0 + 2 * _MIN, 4, "click", 40.0),
        ],
    )
    os.utime(str(src / "a.parquet"), (1_000_000, 1_000_000))
    os.utime(str(src / "b.parquet"), (2_000_000, 2_000_000))

    out = run_events_cdc_upsert(
        spark, str(src), str(tmp_path / "cdc_tgt"), max_files_per_trigger=1
    )
    got = {
        (r.user_id, r.event_type): (r.last_event_id, r.last_ts_us, r.last_value)
        for r in out.collect()
    }
    us = lambda n: n // 1000  # noqa: E731 — nanos fixture, micros state
    assert got == {
        (1, "click"): (10, us(t0 + 5 * _MIN), 10.5),  # older b-row rejected
        (2, "view"): (21, us(t0 + 1 * _MIN), 21.0),  # tie → higher event_id
        (3, "buy"): (31, us(t0 + 9 * _MIN), 31.0),  # newer b-row applied
        (4, "click"): (40, us(t0 + 2 * _MIN), 40.0),  # insert
    }


def test_win_sessionize_agrees_with_session_window(spark, sf_dir):
    """Two independent sessionization mechanisms — gaps-and-islands
    window functions (win_sessionize) vs Spark's built-in
    session_window (stream_session) — must produce the SAME session
    extents and event counts on the same stream; they share one gap
    constant, so a divergence means a mechanism bug."""
    a = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in SPECS["win_sessionize"].fn(spark, sf_dir).collect()
    }
    b = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in SPECS["stream_session"].fn(spark, sf_dir).collect()
    }
    assert a == b and len(a) > 0


# --------------------------------------------------------------------------
# State-store observability (VERDICT r8 item 6): read the numbers an
# operator of a stateful stream actually watches — stateOperators'
# numRowsTotal / numRowsRemoved / numRowsDroppedByWatermark and the
# per-batch watermark — from the query's progress telemetry, instead of
# inferring watermark eviction from output rows alone.
# --------------------------------------------------------------------------


def _wm_us(progress: dict) -> int:
    """eventTime.watermark (ISO-8601 Z) → epoch micros."""
    from datetime import datetime

    s = progress["eventTime"]["watermark"]
    return int(
        datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()
        * 1_000_000
    )


def test_watermark_progress_pins_late_drop_and_state(spark, tmp_path):
    """The test_watermark_drops_late_rows scenario, re-asserted from the
    STATE STORE's point of view. Three data microbatches + the
    AvailableNow finalize batch; per batch the windowed agg's state size
    and the late-drop counter are exactly derivable:

      batch 0: windows [t0,5m) and [t0+30m,35m) open      → total 2
      batch 1: wm t0+20m evicts+emits [t0,5m)             → total 1
      batch 2: late row DROPPED (the one drop); [t0+45m)  → total 2
      batch 3: wm t0+35m evicts+emits [t0+30m,35m)        → total 1
    """
    from nchu_bigdata_spark.streaming import runner

    t0 = 1_755_000_000 * 1_000_000_000
    t0 -= t0 % (5 * _MIN)
    src = tmp_path / "events"
    src.mkdir()
    _write_events(
        str(src / "a.parquet"),
        [(i, t0 + i * _MIN) for i in range(5)] + [(99, t0 + 30 * _MIN)],
    )
    _write_events(str(src / "b.parquet"), [(50, t0 + 31 * _MIN)])
    _write_events(
        str(src / "c.parquet"),
        [(100, t0 + 1 * _MIN), (101, t0 + 45 * _MIN)],
    )
    for i, f in enumerate(("a", "b", "c")):
        os.utime(src / f"{f}.parquet", ((i + 1) * 1_000_000,) * 2)

    transform, _ = STREAM_TRANSFORMS["stream_watermark_late"]
    run_events_stream(
        spark, str(src), transform, output_mode="append",
        max_files_per_trigger=1,
    )
    progs = runner.last_run_progress
    assert len(progs) == 4, [p.get("batchId") for p in progs]
    ops = [p["stateOperators"][0] for p in progs]
    assert [o["numRowsTotal"] for o in ops] == [2, 1, 2, 1]
    assert [o["numRowsDroppedByWatermark"] for o in ops] == [0, 0, 1, 0]
    # operative watermark per batch: 0, then t0+20m, t0+21m, t0+35m
    us = t0 // 1000
    assert [_wm_us(p) for p in progs] == [
        0, us + 20 * _MIN // 1000, us + 21 * _MIN // 1000,
        us + 35 * _MIN // 1000,
    ]


def test_stream_join_state_eviction_metrics(spark, tmp_path):
    """Stream-stream interval join: state-store growth AND eviction read
    from progress. Clicks ride every batch so BOTH branch watermarks
    advance (the global watermark is the MIN across the two
    event-time columns — a later-batch stream with no clicks pins the
    global watermark at the click branch and state grows unboundedly;
    that stuck-watermark shape is exactly what this telemetry exists
    to catch in production).

    Expected state (click side buffers clicks, view side buffers ALL
    rows; a row leaves when the watermark passes its retention bound —
    click_ts + 30m on the click side, next_ts on the view side):

      batch 0: click1,view2          → 1 + 2 buffered      = 3
      batch 1: view3,click4,view5    → +4, wm t0-10m       = 7
      batch 2: click6,view7, wm t0+50m evicts click1 (t0+30m passed)
               and views 1,2,3 (next_ts < wm) ... net      = 6
      batch 3: click8,view9, wm t0+110m evicts click4,view5(+1) = 6
      batch 4: finalize, wm t0+230m evicts click6,view7,+1 = 3
    """
    from nchu_bigdata_spark.queries.streaming_batch import (
        stream_join_transform,
    )
    from nchu_bigdata_spark.streaming import runner

    t0 = 1_755_000_000 * 1_000_000_000
    t0 -= t0 % (5 * _MIN)
    src = tmp_path / "ev"
    src.mkdir()

    def rows_typed(path, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.int64()),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array([r[2] for r in rows]),
                    "value": pa.array([1.0] * len(rows), pa.float64()),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            path,
        )

    rows_typed(
        str(src / "a.parquet"),
        [(1, t0, "click"), (2, t0 + 5 * _MIN, "view")],
    )
    rows_typed(
        str(src / "b.parquet"),
        [
            (3, t0 + 10 * _MIN, "view"),
            (4, t0 + 60 * _MIN, "click"),
            (5, t0 + 61 * _MIN, "view"),
        ],
    )
    rows_typed(
        str(src / "c.parquet"),
        [(6, t0 + 120 * _MIN, "click"), (7, t0 + 121 * _MIN, "view")],
    )
    rows_typed(
        str(src / "d.parquet"),
        [(8, t0 + 240 * _MIN, "click"), (9, t0 + 241 * _MIN, "view")],
    )
    for i, f in enumerate(("a", "b", "c", "d")):
        os.utime(src / f"{f}.parquet", ((i + 1) * 1_000_000,) * 2)

    out = run_events_stream(
        spark, str(src), stream_join_transform, output_mode="append",
        max_files_per_trigger=1,
    )
    assert sorted((r.click_id, r.next_id) for r in out.collect()) == [
        (1, 2), (1, 3), (4, 5), (6, 7), (8, 9),
    ]
    progs = runner.last_run_progress
    assert len(progs) == 5, [p.get("batchId") for p in progs]
    ops = [p["stateOperators"][0] for p in progs]
    assert [o["numRowsTotal"] for o in ops] == [3, 7, 6, 6, 3]
    assert [o["numRowsRemoved"] for o in ops] == [0, 0, 4, 3, 3]
    # the global watermark is min(click branch, view branch) and lags
    # the slower branch by design
    us = t0 // 1000
    m = _MIN // 1000
    assert [_wm_us(p) for p in progs] == [
        0, us - 10 * m, us + 50 * m, us + 110 * m, us + 230 * m,
    ]


def test_cdc_upsert_progress_input_rows(spark, tmp_path):
    """CDC upsert observability: its state lives in the TARGET (not the
    state store — foreachBatch merge), so the telemetry that matters is
    per-batch numInputRows: every source row enters exactly one
    microbatch, none twice (the exactly-once ingest ledger)."""
    from nchu_bigdata_spark.streaming import runner
    from nchu_bigdata_spark.streaming.runner import run_events_cdc_upsert

    t0 = 1_755_000_000 * 1_000_000_000
    src = tmp_path / "src"
    src.mkdir()
    _write_cdc_events(
        str(src / "a.parquet"),
        [(i, t0 + i * _MIN, 1, "click", i) for i in range(3)],
    )
    _write_cdc_events(
        str(src / "b.parquet"),
        [(i, t0 + i * _MIN, 2, "view", i) for i in range(2)],
    )
    for i, f in enumerate(("a", "b")):
        os.utime(src / f"{f}.parquet", ((i + 1) * 1_000_000,) * 2)

    out = run_events_cdc_upsert(
        spark, str(src), str(tmp_path / "tgt"), max_files_per_trigger=1
    )
    assert out.count() == 2  # (1, click) and (2, view) latest rows
    progs = runner.last_run_progress
    inputs = [p["numInputRows"] for p in progs]
    assert sum(inputs) == 5 and sorted(inputs, reverse=True)[:2] == [3, 2]
    # stateless foreachBatch: no state-store operators
    assert all(not p.get("stateOperators") for p in progs)
