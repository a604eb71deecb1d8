"""Semantics unit tests for the round-6-born operators
(text_pii_scrub, embed_quantize, dedup_incremental).

The oracle differential confirms Spark and DuckDB agree; these tests
pin WHAT they agree on with hand-computable fixtures — including the
branches the synthetic corpus never exercises (the 'exact' verdict of
dedup_incremental, the all-zero vector of embed_quantize, each PII
pattern class in isolation).
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nchu_bigdata_spark.operators.text import pii_scrub
from nchu_bigdata_spark.registry import load_all_queries

SPECS = load_all_queries()


# --------------------------------------------------------------------------
# text_pii_scrub
# --------------------------------------------------------------------------


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def test_pii_scrub_patterns_and_hash(spark):
    cases = [
        # (raw, scrubbed, n_email, n_ip, n_phone)
        ("mail me at bob.smith+x@sub.example.org now",
         "mail me at <EMAIL> now", 1, 0, 0),
        ("server 192.168.0.1 and 10.0.255.254 up",
         "server <IP> and <IP> up", 0, 2, 0),
        ("call 555-123-4567 or 555 2345 6789",
         "call <PHONE> or <PHONE>", 0, 0, 2),
        ("a@b.io from 127.0.0.1 tel 555.0042.1234",
         "<EMAIL> from <IP> tel <PHONE>", 1, 1, 1),
        ("no pii here at all", "no pii here at all", 0, 0, 0),
        # version strings must NOT be IPs (3 octets), short digit runs
        # must NOT be phones
        ("v1.2.3 build 12-34-56", "v1.2.3 build 12-34-56", 0, 0, 0),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    for i, (_, scrubbed, ne, ni, np_) in enumerate(cases):
        r = got[i]
        assert (r.n_email, r.n_ip, r.n_phone) == (ne, ni, np_), cases[i]
        assert r.n_pii == ne + ni + np_
        assert r.scrubbed_hash == _sha(scrubbed), cases[i]


# --------------------------------------------------------------------------
# embed_quantize
# --------------------------------------------------------------------------


def _write_embeddings(path, vecs):
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        str(path),
    )


def test_embed_quantize_semantics(spark, tmp_path):
    vecs = [
        [1.0, -1.0, 0.5],          # amax 1.0: q = [127, -127, 64]
        [0.0, 0.0, 0.0],           # all-zero: scale 0, q = 0, err 0
        [127.0, 1.5, -64.25],      # amax 127 → scale exactly 1.0
    ]
    _write_embeddings(tmp_path / "embeddings.parquet", vecs)
    rows = {
        r.vec_id: r
        for r in SPECS["embed_quantize"].fn(spark, str(tmp_path)).collect()
    }
    r0 = rows[0]
    # q_i = floor(x_i/scale + 0.5); scale = 1/127 → q = [127, -127, 64]
    # (0.5*127 = 63.5 → floor(64.0) = 64)
    assert (r0.qmin, r0.qmax) == (-127, 127)
    assert r0.qsum == 127 - 127 + 64
    assert r0.qnorm2 == 127**2 + 127**2 + 64**2
    assert abs(r0.scale_r - 1.0 / 127) < 1e-6
    # max reconstruction error of symmetric int8 is <= scale/2
    assert r0.max_err_r <= r0.scale_r / 2 + 1e-9

    r1 = rows[1]
    assert (r1.qmin, r1.qmax, r1.qsum, r1.qnorm2) == (0, 0, 0, 0)
    assert float(r1.scale_r) == 0.0 and float(r1.max_err_r) == 0.0

    r2 = rows[2]
    # scale = 1.0 exactly; q = floor(x+0.5) = [127, 2, -64]
    assert (r2.qmin, r2.qmax) == (-64, 127)
    assert float(r2.scale_r) == 1.0
    assert r2.qsum == 127 + 2 - 64
    assert r2.qnorm2 == 127**2 + 4 + 64**2
    # 1.5 rounds up to 2: err hits the scale/2 bound exactly
    assert float(r2.max_err_r) == 0.5


def test_embed_quantize_bounds_on_corpus(spark, sf_dir):
    out = SPECS["embed_quantize"].fn(spark, sf_dir)
    bad = out.filter(
        (out.qmax > 127)
        | (out.qmin < -127)
        # scale_r and max_err_r are 6-dp-rounded outputs, so the exact
        # err <= scale/2 bound can drift by one rounding grid step
        | (out.max_err_r > out.scale_r / 2 + 1.1e-6)
    ).count()
    assert bad == 0


# --------------------------------------------------------------------------
# dedup_incremental
# --------------------------------------------------------------------------


def _write_documents(path, rows):
    """rows = (doc_id, text)."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["t"] * len(rows)),
                "n_chars": pa.array(
                    [len(r[1]) for r in rows], pa.int64()
                ),
            }
        ),
        str(path),
    )


def test_dedup_incremental_verdicts(spark, tmp_path):
    base = " ".join(f"w{i}" for i in range(30))          # 28 shingles
    near = " ".join(f"w{i}" for i in range(28)) + " x y"  # ~0.81 jaccard
    rows = [
        # corpus (doc_id % 10 < 8)
        (3, base),
        (12, "completely different corpus text about spark engines ok"),
        # batch (doc_id % 10 >= 8)
        (8, base),                                   # exact dup of 3
        (19, near),                                  # near dup of 3
        (28, "fresh unseen document with novel content entirely here"),
        # batch-internal exact pair: must BOTH be 'new' (corpus-scoped)
        (38, "batch internal duplicate text which repeats verbatim"),
        (48, "batch internal duplicate text which repeats verbatim"),
    ]
    _write_documents(tmp_path / "documents.parquet", rows)
    got = {
        r.doc_id: r
        for r in SPECS["dedup_incremental"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == {8, 19, 28, 38, 48}

    assert got[8].verdict == "exact" and got[8].match_doc_id == 3
    assert got[8].jaccard is None

    assert got[19].verdict == "near" and got[19].match_doc_id == 3
    # base/near share 26 of their 28 shingles each: 26/(28+28-26)
    assert got[19].jaccard == pytest.approx(26 / 30, abs=1e-6)

    for d in (28, 38, 48):
        assert got[d].verdict == "new", d
        assert got[d].match_doc_id is None and got[d].jaccard is None


# --------------------------------------------------------------------------
# property tests: engine-independence of the PII patterns and quantizer
# --------------------------------------------------------------------------
#
# The oracle differential proves Spark == DuckDB on the corpus; these
# prove Spark == a THIRD independent implementation (Python re / float
# arithmetic) on adversarial inputs the corpus never contains, so the
# "Java-regex ∩ RE2 common subset" claim is tested, not asserted.

import re as _re

from hypothesis import given, settings
from hypothesis import strategies as st

from nchu_bigdata_spark.operators.text import _PII_PATTERNS


def _py_scrub(text: str):
    counts = []
    scrubbed = text
    for _, pat, repl in _PII_PATTERNS:
        counts.append(len(_re.findall(pat, text)))
        scrubbed = _re.sub(pat, repl, scrubbed)
    return counts, scrubbed


_PII_FRAGMENTS = st.sampled_from(
    [
        "a@b.io", "x.y@sub.dom.org", "@", ".", "-", " ", "..",
        "1.2.3.4", "255.255.255.255", "1.2.3", "1.2.3.4.5",
        "555-123-4567", "555 1234 5678", "12-34-56", "555-12-34567",
        "v1.2.3", "a@b", "@b.co", "9", "999", "9999",
    ]
)
_PII_TEXT = st.lists(
    st.one_of(
        _PII_FRAGMENTS,
        st.text(
            alphabet="abzAZ019@.- _%+", min_size=0, max_size=8
        ),
    ),
    min_size=0,
    max_size=12,
).map("".join)


@settings(max_examples=60, deadline=None)
@given(texts=st.lists(_PII_TEXT, min_size=1, max_size=24))
def test_pii_scrub_matches_python_re(spark, texts):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    for i, t in enumerate(texts):
        (ne, ni, np_), scrubbed = _py_scrub(t)
        r = got[i]
        assert (r.n_email, r.n_ip, r.n_phone) == (ne, ni, np_), repr(t)
        assert r.scrubbed_hash == _sha(scrubbed), repr(t)


@settings(max_examples=30, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e4,
                max_value=1e4,
                allow_nan=False,
                width=32,
            ),
            min_size=1,
            max_size=16,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_embed_quantize_matches_python(spark, tmp_path_factory, vecs):
    import math

    path = tmp_path_factory.mktemp("q") / "embeddings.parquet"
    _write_embeddings(path, vecs)
    rows = {
        r.vec_id: r
        for r in SPECS["embed_quantize"].fn(spark, str(path.parent)).collect()
    }
    for vid, vec in enumerate(vecs):
        # replay in python over the float32-rounded values
        import struct

        v = [struct.unpack("f", struct.pack("f", x))[0] for x in vec]
        amax = max(abs(x) for x in v)
        scale = amax / 127.0
        if scale == 0:
            q = [0] * len(v)
            err = 0.0
        else:
            q = [
                int(max(-127.0, min(127.0, math.floor(x / scale + 0.5))))
                for x in v
            ]
            err = max(abs(x - qi * scale) for x, qi in zip(v, q))
        r = rows[vid]
        assert r.qsum == sum(q) and r.qnorm2 == sum(x * x for x in q), vec
        assert (r.qmin, r.qmax) == (min(q), max(q)), vec
        assert float(r.scale_r) == round(scale, 6) or abs(
            float(r.scale_r) - scale
        ) < 2e-6, vec
        assert abs(float(r.max_err_r) - err) < 2e-6, vec


# --------------------------------------------------------------------------
# join_bloom_prune / merge_upsert
# --------------------------------------------------------------------------


def test_bloom_prune_injects_and_confs_stay_scoped(spark, sf_dir):
    key = "spark.sql.autoBroadcastJoinThreshold"
    caller_threshold = spark.conf.get(key)
    df = SPECS["join_bloom_prune"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan and "bloom_filter_agg" in plan
    assert "BroadcastHashJoin" not in plan
    # the override is live on THIS query's own session, for its lazy
    # execution...
    assert df.sparkSession.conf.get(key) == "-1"
    # ...and never reaches the caller, so the next query's dim join
    # broadcasts again
    assert spark.conf.get(key) == caller_threshold
    df2 = SPECS["join_broadcast"].fn(spark, sf_dir)
    assert "BroadcastHashJoin" in df2._jdf.queryExecution().executedPlan().toString()


def test_merge_upsert_semantics(spark, sf_dir):
    out = SPECS["merge_upsert"].fn(spark, sf_dir)
    rows = out.collect()
    by_key = {}
    for r in rows:
        assert r.o_orderkey not in by_key, "duplicate key after merge"
        by_key[r.o_orderkey] = r
    # every updated key carries the replacement row, never the original
    for r in rows:
        if r.o_orderkey < 1_000_000_000 and r.o_orderkey % 100 < 3:
            assert r.o_orderstatus == "U" and r.src == "merged"
        elif r.o_orderkey >= 1_000_000_000:
            assert r.o_orderstatus == "N" and r.src == "merged"
        else:
            assert r.src == "kept"


# --------------------------------------------------------------------------
# ann_recall_eval
# --------------------------------------------------------------------------


def test_ann_recall_eval_bounds_and_consistency(spark, sf_dir):
    out = {r.q_id: r for r in SPECS["ann_recall_eval"].fn(spark, sf_dir).collect()}
    exact = SPECS["sim_topk"].fn(spark, sf_dir)
    # one grade per exact-baseline query, recall in [0, 1], n_hits <= k
    assert set(out) == {r.q_id for r in exact.select("q_id").distinct().collect()}
    for r in out.values():
        assert 0 <= r.n_hits <= 5
        assert abs(float(r.recall_at_k) - r.n_hits / 5) < 1e-9


# --------------------------------------------------------------------------
# kmeans_fit oracle stability: assignment margins on the gate datasets
# --------------------------------------------------------------------------


def _lloyd_min_margin(sf_dir: str, k: int = 4, iters: int = 5) -> float:
    """Replay kmeans_fit's Lloyd run in numpy and return the smallest
    best-vs-second-best squared-distance gap over every (point,
    iteration) decision, INCLUDING the final labeling pass."""
    import numpy as np

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    order = np.argsort(t["vec_id"].to_numpy())
    x = np.array(t["embedding"].to_pylist(), dtype=np.float64)[order]
    centers = x[:k].copy()
    min_margin = float("inf")
    a = None
    for _ in range(iters + 1):  # +1 = labeling pass margins
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        part = np.sort(d, axis=1)
        min_margin = min(min_margin, float((part[:, 1] - part[:, 0]).min()))
        a = d.argmin(axis=1)  # ties -> lowest cluster id, like argmin
        for c in range(k):
            m = a == c
            if m.any():
                centers[c] = x[m].mean(axis=0)
    # the last loop pass updated centers once more than fit() does;
    # `a` is the labeling of the 5-iteration centers, which is what
    # kmeans_fit's sizes report
    sizes = {c + 1: int((a == c).sum()) for c in range(k)}
    return min_margin, sizes


@pytest.mark.parametrize(
    "gate_sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_kmeans_fit_oracle_margins_dwarf_engine_drift(spark, gate_sf):
    """The kmeans_fit oracle emits EXACT integer cluster sizes, which
    is only cross-engine-stable if no point is near-equidistant between
    centroids (Spark's Summarizer.mean and DuckDB's AVG sum in
    different orders, drifting means by ~1 ulp). This pins the claim
    for the actual gate datasets: the narrowest assignment margin over
    all 5 iterations + labeling (measured: 2.9e-7 at sf0.001, 8.2e-5
    at sf0.01) is ≥ 1e-8 squared-distance units — ≥4 orders of
    magnitude above the ~1e-12 distance noise that ulp-level mean
    drift can induce — so the integer outputs cannot flip between
    engines or partition counts."""
    margin, np_sizes = _lloyd_min_margin(gate_sf)
    assert margin > 1e-8, margin
    # the margin is only evidence if this replay IS the engine
    # algorithm: cross-check final cluster sizes against the real query
    got = {
        r.cluster: r.n
        for r in SPECS["kmeans_fit"].fn(spark, gate_sf).collect()
    }
    assert got == np_sizes


# --------------------------------------------------------------------------
# agg_sketch_merge
# --------------------------------------------------------------------------


def test_sketch_merge_equals_direct_and_bounds(spark, sf_dir, duck):
    # round 8: output is the bounded-verdict form (the agg_approx
    # pattern) — exact count + shard count + one boolean per bound.
    # The exact side is checked against DuckDB here; the booleans must
    # all hold (merged/direct within ±5σ of exact, and within 3σ of
    # each other — they are NOT bit-identical: sparse→dense coupon
    # promotion / union widening differ between the two paths).
    rows = SPECS["agg_sketch_merge"].fn(spark, sf_dir).collect()
    exact = dict(
        duck.execute(
            "SELECT l_returnflag, COUNT(DISTINCT l_orderkey)"
            " FROM lineitem GROUP BY 1"
        ).fetchall()
    )
    assert {r.l_returnflag for r in rows} == set(exact)
    for r in rows:
        assert r.n_shards >= 1
        assert r.n_exact == exact[r.l_returnflag], r
        assert r.merged_within_5rsd and r.direct_within_5rsd, r
        assert r.merged_direct_agree, r
