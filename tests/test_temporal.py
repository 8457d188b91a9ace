"""Unit + plan tests for the temporal operators (as-of join, binned range
join, sessionization) and the new curation operators (stratified sample,
epoch rebalance, n-gram contamination, redaction, repetition, tf-idf).

The full-corpus value-hash gates live in the driver oracle (plans/
extended_ops.py); these tests pin the edge-case semantics and plan shapes
the oracle can't see."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from realtime_voting_system_spark.operators import sampling, temporal, textops


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, value double"
    )


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def test_asof_join_picks_latest_at_or_before(spark):
    left = _events(
        spark,
        [
            (1, _ts("2024-01-01T10:00:00"), 1.0),
            (1, _ts("2024-01-01T12:00:00"), 2.0),
            (2, _ts("2024-01-01T09:00:00"), 3.0),
        ],
    ).withColumnRenamed("value", "lv")
    right = _events(
        spark,
        [
            (1, _ts("2024-01-01T09:30:00"), 10.0),
            (1, _ts("2024-01-01T11:00:00"), 20.0),
            (2, _ts("2024-01-01T09:30:00"), 30.0),  # after left row: no match
        ],
    ).withColumnRenamed("value", "rv")
    out = {
        (r.user_id, r.ts): (r.asof_ts, r.rv)
        for r in temporal.asof_join(
            left, right, on=["user_id"], right_cols=["rv"]
        ).collect()
    }
    assert out[(1, _ts("2024-01-01T10:00:00"))] == (_ts("2024-01-01T09:30:00"), 10.0)
    assert out[(1, _ts("2024-01-01T12:00:00"))] == (_ts("2024-01-01T11:00:00"), 20.0)
    assert out[(2, _ts("2024-01-01T09:00:00"))] == (None, None)  # LEFT semantics


def test_asof_join_equal_ts_counts_as_before(spark):
    """The `<=` tie rule: a right row AT the left timestamp matches."""
    left = _events(spark, [(1, _ts("2024-01-01T10:00:00"), 0.0)]).drop("value")
    right = _events(spark, [(1, _ts("2024-01-01T10:00:00"), 7.0)]).withColumnRenamed(
        "value", "rv"
    )
    row = temporal.asof_join(left, right, on=["user_id"], right_cols=["rv"]).collect()[
        0
    ]
    assert row.rv == 7.0 and row.asof_ts == _ts("2024-01-01T10:00:00")


def test_asof_join_has_no_join_operator(spark):
    """The union+window formulation never materializes a join — the whole
    point at 100 TB (no |L|·|R| per-key blowup, one shuffle on the key)."""
    left = _events(spark, [(1, _ts("2024-01-01T10:00:00"), 1.0)])
    right = _events(spark, [(1, _ts("2024-01-01T09:00:00"), 2.0)]).withColumnRenamed(
        "value", "rv"
    )
    plan = temporal.asof_join(
        left, right, on=["user_id"], right_cols=["rv"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


# ---------------------------------------------------------------------------
# binned range join
# ---------------------------------------------------------------------------


def _bands(spark):
    return spark.createDataFrame(
        [("lo", 0.0, 10.0), ("hi", 10.0, 20.0)], "band string, lo double, hi double"
    )


def test_range_join_binned_boundaries(spark):
    facts = spark.createDataFrame(
        [(1, 0.0), (2, 9.999), (3, 10.0), (4, 19.999), (5, 20.0), (6, -0.5)],
        "id long, v double",
    )
    out = {
        r.id: r.band
        for r in temporal.range_join_binned(
            facts, "v", _bands(spark), bin_width=4.0
        ).collect()
    }
    # [lo, hi) semantics exactly: 10.0 goes to the upper band, 20.0 drops
    assert out == {1: "lo", 2: "lo", 3: "hi", 4: "hi"}


def test_range_join_binned_is_equi_join(spark):
    facts = spark.createDataFrame([(1, 5.0)], "id long, v double")
    plan = (
        temporal.range_join_binned(facts, "v", F.broadcast(_bands(spark)), bin_width=4.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "__bin" in plan  # hash join keyed on the bin id


# ---------------------------------------------------------------------------
# sessionization
# ---------------------------------------------------------------------------


def test_sessionize_gap_boundary(spark):
    """Gap strictly greater than gap_seconds starts a new session; an event
    exactly AT the gap stays in the same session."""
    ev = _events(
        spark,
        [
            (1, _ts("2024-01-01T10:00:00"), 1.0),
            (1, _ts("2024-01-01T10:30:00"), 2.0),  # == 1800 s → same session
            (1, _ts("2024-01-01T11:00:01"), 4.0),  # 1801 s → new session
            (2, _ts("2024-01-01T00:00:00"), 8.0),
        ],
    )
    rows = temporal.sessionize(ev, ("user_id",), "ts", 1800, value_col="value")
    got = {
        (r.user_id, r.session_id): (r.n_events, r.sum_value) for r in rows.collect()
    }
    assert got == {(1, 1): (2, 3.0), (1, 2): (1, 4.0), (2, 1): (1, 8.0)}


def test_sessionize_single_shuffle(spark):
    ev = _events(spark, [(1, _ts("2024-01-01T10:00:00"), 1.0)])
    plan = (
        temporal.sessionize(ev, ("user_id",), "ts", 1800, value_col="value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one exchange feeds both the window and the final aggregate
    assert plan.count("Exchange hashpartitioning") <= 1


# ---------------------------------------------------------------------------
# curation operators
# ---------------------------------------------------------------------------


def test_stratified_sample_drops_unlisted_and_scales_strata(spark):
    rows = [(i, "en") for i in range(400)] + [(i + 1000, "xx") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = sampling.stratified_sample(df, {"en": 0.25}).collect()
    assert all(r.lang == "en" for r in kept)  # unlisted strata dropped
    assert 0.15 * 400 < len(kept) < 0.35 * 400  # ~25% of en
    # determinism: same draw twice
    again = sampling.stratified_sample(df, {"en": 0.25}).collect()
    assert sorted(r.doc_id for r in kept) == sorted(r.doc_id for r in again)


def test_rebalance_epochs_counts(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, "zh"), (3, "other")], "doc_id long, lang string"
    )
    out = sampling.rebalance_epochs(df, {"en": 1, "zh": 3}).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.doc_id, []).append(r.epoch)
    assert sorted(by_id[1]) == [1]
    assert sorted(by_id[2]) == [1, 2, 3]
    assert sorted(by_id[3]) == [1]  # absent stratum → 1 epoch


def test_ngram_contamination_finds_planted_leak(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    train = spark.createDataFrame(
        [(1, base + " iota kappa"), (2, "totally unrelated words here only")],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(10, "prefix words then " + base), (11, "nothing shared at all whatsoever")],
        "doc_id long, text string",
    )
    out = sampling.ngram_contamination(train, test, n=5)
    rows = out.collect()
    assert [(r.train_id, r.test_id) for r in rows] == [(1, 10)]
    assert rows[0].n_shared == 4  # 8-token overlap → 4 shared 5-grams


def test_redact_masks_pii_shapes(spark):
    from realtime_voting_system_spark.plans.extended_ops import _REDACT_PAT

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk today"),
            (2, "call 12345678 not 123456"),
            (3, "the customer holds the key"),
            (4, "clean text stays clean"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.clean_text, r.n_masked) for r in textops.redact(df, _REDACT_PAT).collect()}
    assert out[1] == ("mail me at <MASK> today", 1)
    assert out[2] == ("call <MASK> not 123456", 1)  # 7+ digits only
    assert out[3] == ("the <MASK> holds the <MASK>", 2)
    assert out[4] == ("clean text stays clean", 0)


def test_repetition_stats_counts_runs(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w"), (3, "q")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in textops.repetition_stats(df, n=3).collect()}
    # doc 1: bigrams [a b, b a, a b, b a, a b] → top count 3 of 5
    assert out[1].top_bigram_cnt == 3 and out[1].n_bigrams == 5
    assert out[1].top_bigram_frac == 3.0 / 5.0
    # trigram dups: [a b a, b a b, a b a, b a b] → 2 distinct of 4
    assert out[1].dup_ngram_frac == 2.0 / 4.0
    # doc 2: all unique
    assert out[2].top_bigram_cnt == 1 and out[2].dup_ngram_frac == 0.0
    # doc 3: single token → one truncated shingle each (word_ngrams contract)
    assert out[3].n_bigrams == 1 and out[3].top_bigram_cnt == 1


def test_tfidf_prefers_rare_terms(spark):
    df = spark.createDataFrame(
        [
            (1, "common common rare"),
            (2, "common boring"),
            (3, "common boring filler"),
        ],
        "doc_id long, text string",
    )
    out = textops.tfidf_top_terms(df, k=1).collect()
    top = {r.doc_id: r.term for r in out}
    # 'rare' (df=1) beats 'common' (df=3) despite tf 2-vs-1 in doc 1
    assert top[1] == "rare"
    assert all(r.rnk == 1 for r in out)


def test_approx_count_distinct_within_bound(spark, sf_dir):
    """HLL sketch (the 100 TB path for a13_count_distinct) stays within its
    documented rsd on the real events table; exactness is the oracle's job."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = (
        events.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= max(3, 0.06 * r.exact), r


def test_repetition_arrow_matches_hof(spark, sf_dir):
    """The Arrow pass equals its DuckDB twin on the real corpus, dtypes
    and float divisions included (same IEEE ops both sides)."""
    from realtime_voting_system_spark.plans.extended_ops import _REPETITION_SQL

    from .oracle import assert_frames_match, duckdb_run

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = textops.repetition_stats(docs, n=3).toPandas()
    assert_frames_match(
        got, duckdb_run(_REPETITION_SQL, sf_dir), "repetition_stats"
    )


def test_profile_counts_nulls_and_distinct(spark):
    from realtime_voting_system_spark.operators.integrity import profile

    df = spark.createDataFrame(
        [(1, 2.0, "a"), (2, None, "b"), (3, 5.0, None), (4, None, "a")],
        "id long, x double, s string",
    )
    row = profile(df, stat_cols=("x",), distinct_cols=("s",)).collect()[0]
    assert row.n_rows == 4
    assert row.x_nulls == 2 and row.x_min == 2.0 and row.x_max == 5.0
    assert row.s_nulls == 1 and row.s_distinct == 2


def test_audit_cli_lists_and_explains(spark, capsys):
    from realtime_voting_system_spark import audit

    from .conftest import SF_DIR

    assert audit.main([]) == 0
    assert "q2_ranked_share" in capsys.readouterr().out
    assert audit.main(["nope"]) == 2
    assert audit.main(["q6_projection", SF_DIR]) == 0


def test_rolling_range_ties_are_peers(spark):
    """RANGE frame: rows at the same instant see the same count (peers),
    and the window slides out rows older than the cutoff (inclusive)."""
    ev = _events(
        spark,
        [
            (1, _ts("2024-01-01T10:00:00"), 0.0),
            (1, _ts("2024-01-01T10:00:00"), 0.0),  # tie — both count both
            (1, _ts("2024-01-01T11:00:00"), 0.0),  # exactly 1h later: in
            (1, _ts("2024-01-01T11:00:01"), 0.0),  # ties dropped out
        ],
    )
    out = temporal.rolling_count_range(ev, ["user_id"], "ts", 3600)
    got = sorted((r.ts, r.n_in_window) for r in out.collect())
    assert got == [
        (_ts("2024-01-01T10:00:00"), 2),
        (_ts("2024-01-01T10:00:00"), 2),
        (_ts("2024-01-01T11:00:00"), 3),
        (_ts("2024-01-01T11:00:01"), 2),
    ]


def test_scd2_intervals_chain(spark):
    """Intervals tile the key's timeline: each valid_to equals the next
    valid_from; exactly one open (is_current) interval per key; the
    current row equals latest_by_key's pick."""
    ev = _events(
        spark,
        [
            (1, _ts("2024-01-01T10:00:00"), 1.0),
            (1, _ts("2024-01-01T11:00:00"), 2.0),
            (1, _ts("2024-01-01T12:00:00"), 3.0),
            (2, _ts("2024-01-01T09:00:00"), 9.0),
        ],
    ).withColumn("eid", F.col("value").cast("long"))
    hist = temporal.scd2_intervals(
        ev, ["user_id"], "ts", tiebreak_cols=["eid"]
    ).collect()
    u1 = sorted([r for r in hist if r.user_id == 1], key=lambda r: r.valid_from)
    assert [r.valid_to for r in u1[:-1]] == [r.valid_from for r in u1[1:]]
    assert [r.is_current for r in u1] == [False, False, True]
    current = {
        (r.user_id, r.value)
        for r in temporal.latest_by_key(ev, ["user_id"], "ts", ["eid"]).collect()
    }
    assert current == {(1, 3.0), (2, 9.0)}


def test_repetition_zero_token_docs_match_oracle(spark):
    """Regression: DuckDB's array_to_string([], ' ') is NULL (not ''), so
    an all-punctuation doc used to get dup_ngram_frac 1.0 from the oracle
    vs 0.0 from Spark's [''] shingle contract. The coalesce in the SQL
    builders pins both engines to the word_ngrams edge rule."""
    import duckdb

    from realtime_voting_system_spark.plans.extended_ops import _REPETITION_SQL

    rows = [(1, "!!! ???"), (2, ""), (3, "a b a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.top_bigram_frac, r.dup_ngram_frac)
        for r in textops.repetition_stats(df, n=3).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    want = {
        r[0]: (r[1], r[4], r[5])
        for r in con.sql(_REPETITION_SQL).fetchall()
    }
    assert got == want
    assert got[1] == (0, 1.0, 0.0)  # [''] shingle: one "bigram", no dups


# ---------------------------------------------------------------------------
# interval × interval overlap join
# ---------------------------------------------------------------------------


def test_overlap_join_emits_each_pair_once(spark):
    """A pair sharing MANY bins must emit exactly once (first-shared-bin
    rule), closed-interval boundary touches count, disjoint pairs drop."""
    left = spark.createDataFrame(
        [(1, 0, 100), (2, 50, 55), (3, 200, 210)], "lid long, s long, e long"
    )
    right = spark.createDataFrame(
        [(10, 90, 400), (11, 55, 60), (12, 101, 150)],
        "rid long, ws long, we long",
    )
    out = temporal.overlap_join_binned(
        left, right, "s", "e", "ws", "we", bin_width=10
    )
    pairs = sorted((r.lid, r.rid) for r in out.collect())
    # 1×10 overlap [90,100]; 1×11 touch at 55; 1×12 disjoint (101>100);
    # 2×11 touch at 55; 3×10 inside [200,210]; 3×12 disjoint
    assert pairs == [(1, 10), (1, 11), (2, 11), (3, 10)]


def test_overlap_join_is_equi_join(spark):
    left = spark.createDataFrame([(1, 0, 10)], "lid long, s long, e long")
    right = spark.createDataFrame([(2, 5, 15)], "rid long, ws long, we long")
    plan = (
        temporal.overlap_join_binned(left, right, "s", "e", "ws", "we")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "__bin" in plan


def test_table_diff_classes_and_null_semantics(spark):
    """Planted reconciliation: one deleted key, one added key, one row
    changed in ONE column, one changed in BOTH, one equal, plus the
    null-safe rules — NULL vs NULL is equal, NULL vs value is a change.
    The report must localize per-column drift exactly."""
    from realtime_voting_system_spark.operators.integrity import table_diff

    a = spark.createDataFrame(
        [
            (1, 10.0, "X"),     # equal
            (2, 20.0, "Y"),     # price changes
            (3, 30.0, "Z"),     # both change
            (4, None, "W"),     # NULL vs NULL price -> equal
            (5, 50.0, None),    # NULL vs value status -> changed
            (6, 60.0, "V"),     # deleted in b
        ],
        "k long, price double, status string",
    )
    b = spark.createDataFrame(
        [
            (1, 10.0, "X"),
            (2, 21.0, "Y"),
            (3, 31.0, "Q"),
            (4, None, "W"),
            (5, 50.0, "S"),
            (7, 70.0, "N"),     # added in b
        ],
        "k long, price double, status string",
    )
    got = {
        r.diff_type: r.n_rows
        for r in table_diff(a, b, ["k"], ["price", "status"]).collect()
    }
    assert got == {
        "only_a": 1,
        "only_b": 1,
        "changed": 3,
        "equal": 2,
        "mismatch:price": 2,
        "mismatch:status": 2,
    }


def test_asof_join_direction_matrix(spark):
    """All three merge_asof directions on planted data: backward takes
    the latest at-or-before, forward the earliest at-or-after
    (including a SAME-ts right row), nearest the strictly closer side
    with equal distance breaking to backward."""
    from datetime import datetime

    from realtime_voting_system_spark.operators.temporal import asof_join

    t = lambda s: datetime(2024, 1, 1, 10, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [("k", t(10), "l1"), ("k", t(20), "l2"), ("k", t(35), "l3"),
         ("k", t(5), "l0")],
        "k string, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [("k", t(10), 100.0), ("k", t(30), 300.0), ("k", t(40), 400.0)],
        "k string, ts timestamp, val double",
    )

    def got(direction):
        return {
            r.tag: (r.asof_ts, r.val)
            for r in asof_join(
                left, right, on=["k"], right_cols=["val"],
                direction=direction,
            ).collect()
        }

    b = got("backward")
    assert b["l0"] == (None, None)          # nothing at-or-before 5 s
    assert b["l1"] == (t(10), 100.0)        # same-ts counts (<=)
    assert b["l2"] == (t(10), 100.0)
    assert b["l3"] == (t(30), 300.0)

    f = got("forward")
    assert f["l0"] == (t(10), 100.0)
    assert f["l1"] == (t(10), 100.0)        # same-ts counts (>=)
    assert f["l2"] == (t(30), 300.0)
    assert f["l3"] == (t(40), 400.0)

    n = got("nearest")
    assert n["l0"] == (t(10), 100.0)        # only forward exists
    assert n["l1"] == (t(10), 100.0)
    assert n["l2"] == (t(10), 100.0)        # 10 s back vs 10 s fwd: TIE -> backward
    assert n["l3"] == (t(30), 300.0)        # 5 s back beats 5 s fwd? tie -> backward
    # make one strictly-closer-forward case explicit
    l4 = spark.createDataFrame(
        [("k", t(28), "l4")], "k string, ts timestamp, tag string"
    )
    n4 = {
        r.tag: (r.asof_ts, r.val)
        for r in asof_join(
            l4, right, on=["k"], right_cols=["val"], direction="nearest"
        ).collect()
    }
    assert n4["l4"] == (t(30), 300.0)       # 2 s fwd < 18 s back


def test_merge_intervals_touching_and_disjoint(spark):
    """Touching intervals (next.start == prev.end) MERGE under half-open
    semantics; a 1-unit gap stays split; containment collapses; keys
    never mix."""
    from realtime_voting_system_spark.operators.temporal import (
        merge_intervals,
    )

    df = spark.createDataFrame(
        [
            ("a", 0, 10), ("a", 10, 20),      # touching -> one [0,20)
            ("a", 21, 30),                     # gap of 1 -> separate
            ("a", 22, 25),                     # contained -> absorbed
            ("b", 0, 5),                       # other key untouched
        ],
        "k string, st long, en long",
    )
    got = {
        (r.k, r.st, r.en): r.n_merged
        for r in merge_intervals(df, ["k"], "st", "en").collect()
    }
    assert got == {("a", 0, 20): 2, ("a", 21, 30): 2, ("b", 0, 5): 1}


def test_forecast_ses_recurrence_exact(spark, sf_dir):
    """X314: alpha = 1/2 makes the closed-form triangular sum EXACTLY
    equal to the textbook recurrence s_t = y_t/2 + s_{t-1}/2 evaluated
    sequentially — every term is a dyadic rational inside the mantissa
    budget, so the join-based plan must reproduce the recurrence
    bit-for-bit, and the forecast column is the previous day's level."""
    from realtime_voting_system_spark.plans.parity import QUERIES

    rows = sorted(
        QUERIES["events_forecast_ses"](spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    assert len(rows) >= 2
    s = None
    for r in rows:
        s = float(r["n_events"]) if s is None else (r["n_events"] + s) / 2
        assert r["smoothed"] == s
    for prev, cur in zip(rows, rows[1:]):
        assert cur["forecast"] == prev["smoothed"]
        assert cur["abs_err"] == abs(cur["n_events"] - prev["smoothed"])
    assert rows[0]["forecast"] is None and rows[0]["abs_err"] is None
