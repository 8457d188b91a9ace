"""Property and plan tests for the layout-and-maintenance family
(plans/scale_ops.py): chunking/packing, per-group caps, incremental
aggregate merge, Z-order keys, winsorization, rate caps.

Oracle value-equality is the driver's job (every query here is
oracle-gated); these tests pin the SEMANTIC contracts the hash compare
can't see — reassembly/coverage invariants, determinism under
repartitioning, merge ≡ recompute bit-equality, and plan shapes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_voting_system_spark.operators import chunking, incremental, layout, shapes
from realtime_voting_system_spark.plans.parity import QUERIES

from .conftest import SF_DIR, batch_width


# ---------------------------------------------------------------------------
# chunk_tokens
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_nonoverlapping_reassembles(spark):
    """With stride == window, concatenating a doc's chunks in order must
    reproduce its exact token stream."""
    rows = [
        (1, "a b c d e f g"),
        (2, "one two three"),
        (3, "x"),
    ]
    out = chunking.chunk_tokens(
        _docs(spark, rows), window=3, stride=3
    ).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r)
    assert " ".join(c.chunk_text for c in by_doc[1]) == "a b c d e f g"
    assert [c.n_chunk_tokens for c in by_doc[1]] == [3, 3, 1]
    assert [c.chunk_text for c in by_doc[2]] == ["one two three"]
    assert [c.chunk_text for c in by_doc[3]] == ["x"]


def test_chunk_overlap_and_empty_doc(spark):
    rows = [(1, "a b c d e"), (2, "!!! ...")]  # doc 2 → zero tokens
    out = chunking.chunk_tokens(
        _docs(spark, rows), window=4, stride=2
    ).collect()
    assert {r.doc_id for r in out} == {1}  # empty doc emits nothing
    chunks = sorted(out, key=lambda r: r.chunk_id)
    assert [c.chunk_text for c in chunks] == ["a b c d", "c d e", "e"]
    # every token index is covered by at least one chunk
    assert [c.n_chunk_tokens for c in chunks] == [4, 3, 1]


def test_chunk_rejects_bad_params(spark):
    with pytest.raises(ValueError):
        chunking.chunk_tokens(_docs(spark, [(1, "a")]), window=0, stride=2)


# ---------------------------------------------------------------------------
# pack_chunks
# ---------------------------------------------------------------------------


def test_pack_budget_and_continuity(spark):
    """Within each bucket, packs fill contiguously: pack_pos restarts at
    the straddle/boundary points and every non-final pack holds exactly
    `budget` tokens of coverage (concat-and-split semantics)."""
    docs = _docs(
        spark, [(i, " ".join(f"t{j}" for j in range(37))) for i in range(40)]
    )
    chunks = chunking.chunk_tokens(docs, window=16, stride=16)
    packed = chunking.pack_chunks(chunks, budget=64, n_buckets=4).collect()
    by_bucket: dict[int, list] = {}
    for r in packed:
        by_bucket.setdefault(r.bucket, []).append(r)
    for bucket, rows in by_bucket.items():
        rows.sort(key=lambda r: (r.doc_id, r.chunk_id))
        cum = 0
        for r in rows:
            assert r.pack_id == cum // 64, r
            assert r.pack_pos == cum % 64, r
            assert r.straddles == ((cum + r.n_chunk_tokens - 1) // 64 > r.pack_id)
            cum += r.n_chunk_tokens
        # the last token of the stream lands in pack floor((total-1)/64):
        # coverage is gapless from pack 0 through there
        token_total = sum(r.n_chunk_tokens for r in rows)
        last = rows[-1]
        last_covered = (last.pack_id * 64 + last.pack_pos + last.n_chunk_tokens - 1) // 64
        assert last_covered == (token_total - 1) // 64


def test_pack_deterministic_under_repartition(spark):
    docs = _docs(
        spark, [(i, " ".join(f"w{i}_{j}" for j in range(23))) for i in range(30)]
    )
    chunks = chunking.chunk_tokens(docs, window=8, stride=8)
    a = chunking.pack_chunks(chunks, budget=32, n_buckets=4)
    b = chunking.pack_chunks(chunks.repartition(13), budget=32, n_buckets=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_packing_efficiency_report(spark):
    """X257: the efficiency report's metrics are exactly derivable from
    a hand-walked concat-and-split over a planted pathological length
    distribution (near-budget chunks alternating with slivers — the
    worst straddle case), with waste/utilization accounting for exactly
    the tail pack."""
    lens = [7, 7, 7, 9, 1, 9, 1, 9, 1, 10]
    chunks = spark.createDataFrame(
        [(i, 0, n) for i, n in enumerate(lens)],
        "doc_id long, chunk_id long, n_chunk_tokens long",
    )
    packed = chunking.pack_chunks(chunks, budget=10, n_buckets=1)
    rep = chunking.packing_efficiency(packed, budget=10).collect()
    assert len(rep) == 1  # single bucket
    r = rep[0]
    cum, strad = 0, 0  # reference walk in (doc, chunk) order
    for n in lens:
        if (cum + n - 1) // 10 > cum // 10:
            strad += 1
        cum += n
    packs = -(-cum // 10)
    assert strad >= 3  # the planted pathology actually straddles
    assert (r.n_chunks, r.n_tokens, r.n_straddlers) == (len(lens), cum, strad)
    assert (r.n_packs, r.n_full_packs) == (packs, cum // 10)
    assert r.tail_tokens == cum % 10
    assert r.n_fragments == len(lens) + strad
    assert r.waste_tokens == packs * 10 - cum
    assert r.utilization == cum / (packs * 10.0)


# ---------------------------------------------------------------------------
# first_k_per_group
# ---------------------------------------------------------------------------


def test_first_k_per_group_keeps_earliest(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", 7)], "g string, v int"
    )
    out = shapes.first_k_per_group(df, ["g"], ["v"], 3).collect()
    got = sorted((r.g, r.v) for r in out)
    assert got == [("a", 0), ("a", 1), ("a", 2), ("b", 7)]
    assert all(r.rn <= 3 for r in out)


# ---------------------------------------------------------------------------
# incremental merge ≡ recompute (bit equality, multi-way)
# ---------------------------------------------------------------------------


def test_incremental_merge_matches_recompute(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    partials = {
        "n": ("count", ""),
        "s": ("sum", "CAST(value AS DECIMAL(30,2))"),
        "mn": ("min", "value"),
        "mx": ("max", "value"),
    }
    kinds = {"n": "count", "s": "sum", "mn": "min", "mx": "max"}
    # three-way split on a non-key column — uneven, some types missing
    # from some slices (exercises the unionByName null-free merge path)
    slices = [
        events.filter(F.dayofmonth("ts") <= 5),
        events.filter((F.dayofmonth("ts") > 5) & (F.dayofmonth("ts") <= 6)),
        events.filter(F.dayofmonth("ts") > 6),
    ]
    merged = incremental.merge_partials(
        [incremental.partial_agg(s, ["event_type"], partials) for s in slices],
        ["event_type"],
        kinds,
    )
    full = incremental.partial_agg(events, ["event_type"], partials)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_merge_partials_validates_input():
    with pytest.raises(ValueError):
        incremental.merge_partials([], ["k"], {})


# ---------------------------------------------------------------------------
# zorder
# ---------------------------------------------------------------------------


def _z_ref(a: int, b: int, bits: int = 8) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_matches_python_reference(spark):
    rows = [(a, b) for a in (0, 1, 5, 50, 255) for b in (0, 3, 128, 255)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = df.select(
        "a", "b", layout.zorder_key(F.col("a"), F.col("b")).alias("z")
    ).collect()
    for r in out:
        assert r.z == _z_ref(r.a, r.b), (r.a, r.b)


def test_zorder_locality_beats_single_column_sort(spark):
    """The point of Z-order: range-partitioning by zkey gives files whose
    bounding boxes are tight in BOTH dims. Check the proxy property: for
    a 16×16 grid split into 16 zkey-contiguous files, the average
    per-file extent of EACH dimension is far below the full range (a
    single-column sort leaves the other dimension's extent at 100%)."""
    rows = [(a, b) for a in range(16) for b in range(16)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = sorted(
        df.select("a", "b", layout.zorder_key(F.col("a"), F.col("b"), 4).alias("z"))
        .collect(),
        key=lambda r: r.z,
    )
    files = [out[i : i + 16] for i in range(0, 256, 16)]
    for dim in ("a", "b"):
        extents = [
            max(getattr(r, dim) for r in f) - min(getattr(r, dim) for r in f)
            for f in files
        ]
        assert sum(extents) / len(extents) <= 4  # vs 15 for unsorted dim


def test_bucketize_range_clamps(spark):
    df = spark.createDataFrame(
        [(899.0,), (900.0,), (950.0,), (999.9,), (1000.0,), (2000.0,)],
        "x double",
    )
    out = df.select(
        layout.bucketize_range(F.col("x"), 900.0, 1000.0, 256).alias("b")
    ).collect()
    bs = [r.b for r in out]
    assert bs[0] == 0 and bs[1] == 0  # below-lo clamps to 0
    assert bs[-1] == 255 and bs[-2] == 255  # above-hi clamps to max
    assert 0 <= min(bs) and max(bs) <= 255


# ---------------------------------------------------------------------------
# winsorize
# ---------------------------------------------------------------------------


def test_winsorize_clamps_to_group_quantiles(spark):
    import numpy as np

    vals = list(range(1, 101))  # 1..100 per group
    rows = [(g, float(v)) for g in ("x", "y") for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    out = layout.winsorize(df, ["g"], "v", 0.05, 0.95).collect()
    assert len(out) == len(rows)  # row-preserving
    for r in out:
        assert 5.0 <= r.value_w <= 95.0  # quantile_disc of 1..100
        assert r.was_clamped == (r.v < 5.0 or r.v > 95.0)
    # thresholds are actual data values at the right cume fractions
    th = layout.quantile_thresholds(df, ["g"], "v", 0.05, 0.95).collect()
    arr = np.array(vals, dtype=float)
    for t in th:
        assert t.lo == np.quantile(arr, 0.05, method="inverted_cdf")
        assert t.hi == np.quantile(arr, 0.95, method="inverted_cdf")


def test_winsorize_rate_cap_queries_actually_trim(spark):
    """The registered instantiations must exercise their operators: the
    rate cap drops rows, the winsorizer flags clamps (guards against a
    parameterization where the operator is a no-op on the testdata)."""
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    capped = QUERIES["events_rate_cap"](spark, SF_DIR).count()
    assert capped < n_events
    wz = QUERIES["events_winsorize"](spark, SF_DIR)
    assert wz.filter(F.col("was_clamped")).count() > 0


# ---------------------------------------------------------------------------
# plan shapes
# ---------------------------------------------------------------------------


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


def test_chunking_has_no_shuffle(spark):
    """Chunking rides the scan: generator + projection only."""
    plan = _plan(spark, "text_chunk")
    assert "Exchange" not in plan, plan


def test_pack_single_shuffle_on_bucket(spark):
    """Packing shuffles ONCE (hash partition on bucket for the window);
    no global single-partition sort anywhere."""
    plan = _plan(spark, "pipeline_pack_sequences")
    assert plan.count("Exchange") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_winsorize_broadcasts_thresholds(spark):
    """Per-group thresholds must broadcast back onto the fact — the fact
    table is never shuffled for the final clamp join."""
    plan = _plan(spark, "events_winsorize")
    assert "BroadcastHashJoin" in plan, plan


def test_zorder_layout_no_shuffle(spark):
    plan = _plan(spark, "part_zorder_layout")
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# SQL-surface completions
# ---------------------------------------------------------------------------


def test_bag_ops_multiset_semantics(spark):
    """INTERSECT ALL keeps min(multiplicity), EXCEPT ALL the surplus."""
    a = spark.createDataFrame([(1,)] * 3 + [(2,)] * 1, "k int")
    b = spark.createDataFrame([(1,)] * 2 + [(3,)] * 5, "k int")
    assert sorted(r.k for r in a.intersectAll(b).collect()) == [1, 1]
    assert sorted(r.k for r in a.exceptAll(b).collect()) == [1, 2]


def test_grouping_sets_levels(spark):
    out = QUERIES["agg_grouping_sets"](spark, SF_DIR).collect()
    levels = {r.grouping_level for r in out}
    assert levels == {0, 1, 3}  # (type,dow), (type), () — never dow-only
    grand = [r for r in out if r.grouping_level == 3]
    assert len(grand) == 1
    assert grand[0].n_events == sum(
        r.n_events for r in out if r.grouping_level == 0
    )


def test_unpivot_and_gsets_single_shuffle(spark):
    """Expand-based shapes: one aggregate exchange, nothing more."""
    for name in ("a17_unpivot", "agg_grouping_sets"):
        plan = _plan(spark, name)
        assert plan.count("Exchange") == 1, (name, plan)


def test_distribution_windows_bounds(spark):
    out = QUERIES["w8_distribution_windows"](spark, SF_DIR).collect()
    for r in out:
        assert 0.0 <= r.pr <= 1.0 and 0.0 < r.cd <= 1.0
    # third_lowest is NULL for the first two rows of each partition only
    by_type: dict[str, int] = {}
    for r in out:
        if r.third_lowest is None:
            by_type[r.event_type] = by_type.get(r.event_type, 0) + 1
    assert all(v == 2 for v in by_type.values()), by_type


def test_write_zordered_prunes_both_dimensions(spark, tmp_path):
    """The layout contract, measured on real parquet stats: after a
    Z-ordered write, per-file min-max bounding boxes are tight in BOTH
    dimensions, so a selective filter on either column touches only a
    fraction of files (vs. all files for the unsorted write)."""
    import pyarrow.dataset as ds

    from realtime_voting_system_spark.sources import io as rio

    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    part.repartition(8).write.parquet(plain)
    # bucketize against the ACTUAL column ranges at this sf (sf0.001
    # prices span only [900.1, 919.9]) — a hi of 1000 would waste the
    # price dimension's bucket bits and blunt the clustering
    rio.write_zordered(
        part, zed, "p_size", "p_retailprice", 1.0, 51.0, 900.0, 920.0
    )

    def files_touched(path, col, lo, hi):
        touched, total = 0, 0
        for frag in ds.dataset(path, format="parquet").get_fragments():
            md = frag.metadata
            idx = frag.physical_schema.names.index(col)
            fmin = min(
                md.row_group(i).column(idx).statistics.min
                for i in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(i).column(idx).statistics.max
                for i in range(md.num_row_groups)
            )
            total += 1
            if fmax >= lo and fmin <= hi:
                touched += 1
        return touched, total

    for col, lo, hi in (("p_size", 10, 12), ("p_retailprice", 905.0, 906.0)):
        pt, ptot = files_touched(plain, col, lo, hi)
        zt, ztot = files_touched(zed, col, lo, hi)
        assert pt == ptot  # random layout: every file matches
        assert zt <= ztot // 2, (col, zt, ztot)  # z-order: most files skip
    # and the data survives the round trip
    assert spark.read.parquet(zed).count() == part.count()


def test_canonical_docs_keep_best_quality(spark):
    """Every kept doc is the argmax-quality member of its cluster, and
    exactly one doc is kept per cluster (multi-member clusters exist in
    the testdata, so the pick is actually exercised)."""
    from realtime_voting_system_spark.operators import dedup, textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    clusters = {
        r.doc_id: r.cluster_id for r in dedup.dup_clusters(docs, pairs).collect()
    }
    quality = {
        r.doc_id: r.quality for r in textops.quality_score(docs).collect()
    }
    kept = QUERIES["pipeline_canonical_docs"](spark, SF_DIR).collect()
    assert len(kept) == len(set(clusters.values()))
    multi = [r for r in kept if r.n_members > 1]
    assert multi, "testdata must contain at least one multi-member cluster"
    for r in kept:
        members = [d for d, c in clusters.items() if c == r.cluster_id]
        assert len(members) == r.n_members
        best = max(quality[d] for d in members)
        assert quality[r.kept_doc_id] == best


def test_hll_sketch_merge_is_shard_independent(spark, sf_dir):
    """merge(shard partials) ≡ direct sketch, for any sharding — the
    property that makes the sketch valid incremental state — and the
    estimate lands within the lgK=14 error envelope of the exact count."""
    from realtime_voting_system_spark.operators import incremental

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "user_id", (F.col("event_id") % 5).alias("sh5"),
        (F.col("event_id") % 11).alias("sh11"),
    )
    direct = {
        r.event_type: r.approx_distinct
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(14))
            ).alias("approx_distinct")
        )
        .collect()
    }
    for sh in ("sh5", "sh11"):
        p = incremental.sketch_partials(ev, ["event_type"], "user_id", sh)
        m = {
            r.event_type: r.approx_distinct
            for r in incremental.merge_sketch_partials(
                p, ["event_type"]
            ).collect()
        }
        assert m == direct
    exact = {
        r.event_type: r.x
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    for k, est in direct.items():
        assert abs(est - exact[k]) <= max(3, 0.05 * exact[k])


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (mg_partials / mg_merge)
# ---------------------------------------------------------------------------


def test_mg_merge_guarantee_holds_across_layouts(spark):
    """The MG contract after merging per-partition summaries: every
    weight underestimates its true count by at most N/(k+1), hence every
    item with true count > N/(k+1) SURVIVES and the result has ≤ k
    entries — for any partition layout (summaries themselves may differ
    between layouts; the guarantee may not)."""
    # skewed stream: token_i appears ~ 2000/(i+1) times (zipf-ish)
    rows = []
    for i in range(200):
        rows.extend([(f"tok{i}",)] * (2000 // (i + 1)))
    df = spark.createDataFrame(rows, "token string")
    n = len(rows)
    k = 32
    true = {}
    for (t,) in rows:
        true[t] = true.get(t, 0) + 1
    err = n / (k + 1)
    for parts in (2, 7):
        merged = {
            r.item: r.weight
            for r in incremental.mg_merge(
                incremental.mg_partials(df.repartition(parts), "token", k), k
            ).collect()
        }
        assert len(merged) <= k
        for item, w in merged.items():
            assert w <= true[item], (item, w, true[item])
            assert w >= true[item] - err
        for item, c in true.items():
            if c > err:
                assert item in merged, (item, c, err)


def test_mg_summary_rows_bounded_per_partition(spark):
    """Each partition emits at most k summary rows — the property that
    keeps the merge shuffle summary-sized at any stream size."""
    rows = [(f"t{i % 500}",) for i in range(5000)]
    df = spark.createDataFrame(rows, "token string").repartition(4)
    k = 16
    per_part = (
        incremental.mg_partials(df, "token", k)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert all(r["count"] <= k for r in per_part)


def test_mg_matches_exact_on_small_vocab(spark):
    """With k ≥ vocabulary size MG degenerates to exact counting: weights
    equal true counts bit-for-bit."""
    rows = [("a",)] * 7 + [("b",)] * 5 + [("c",)] * 2
    df = spark.createDataFrame(rows, "token string").repartition(3)
    merged = {
        r.item: r.weight
        for r in incremental.mg_merge(
            incremental.mg_partials(df, "token", 10), 10
        ).collect()
    }
    assert merged == {"a": 7, "b": 5, "c": 2}


# ---------------------------------------------------------------------------
# dedup_passages (X119)
# ---------------------------------------------------------------------------


def test_passage_dedup_keeps_first_occurrence(spark):
    """A passage duplicated across docs survives only in the lowest
    (doc_id, position); unique passages are untouched; a doc whose every
    passage is a dup of an earlier doc comes back empty."""
    from realtime_voting_system_spark.operators.chunking import chunk_tokens
    from pyspark.sql.window import Window

    w = 3
    rows = [
        (1, "a b c x y z"),          # two passages: "a b c", "x y z"
        (2, "a b c q q q"),          # first passage dups doc 1
        (3, "x y z"),                # entirely a dup of doc 1's 2nd passage
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    passages = chunk_tokens(docs, window=w, stride=w).select(
        "doc_id", "chunk_id", "chunk_text"
    )
    win = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_id")
    flagged = passages.withColumn("keep", F.row_number().over(win) == 1)
    kept = {
        (r.doc_id, r.chunk_id): r.chunk_text
        for r in flagged.filter("keep").collect()
    }
    assert (1, 0) in kept and (1, 1) in kept
    assert (2, 1) in kept and (2, 0) not in kept
    assert all(d != 3 for d, _ in kept)


def test_passage_dedup_query_reassembles_tokens(spark, sf_dir):
    """On real testdata: clean_text of every fully-kept doc equals its
    original token stream, and n_kept ≤ n_passages with at least one doc
    trimmed (the corpus plants near-duplicates)."""
    out = QUERIES["dedup_passages"](spark, sf_dir).collect()
    assert any(r.n_kept < r.n_passages for r in out)
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    import re

    for r in out:
        assert r.n_kept <= r.n_passages
        if r.n_kept == r.n_passages and r.n_passages > 0:
            toks = [t for t in re.split(r"[^a-z0-9]+", docs[r.doc_id].lower()) if t]
            assert r.clean_text == " ".join(toks)


# ---------------------------------------------------------------------------
# Bloom-prefiltered semi-join (X122)
# ---------------------------------------------------------------------------


def test_bloom_probe_prunes_and_never_drops_matches(spark):
    """The Bloom prefilter must (a) keep EVERY true match — no false
    negatives, the property that makes bloom∧semi ≡ semi — and (b)
    actually prune: with 5% of keys in the build side the pass-rate has
    to be far below 1 (64 Kbit filter, 50 keys → fp-rate ≪ 1%)."""
    from realtime_voting_system_spark.operators import bloom

    fact = spark.range(0, 10_000).withColumnRenamed("id", "k")
    build = spark.range(0, 10_000, 200).withColumnRenamed("id", "bk")  # 50 keys
    bm = bloom.bloom_build(build, "bk")
    kept = bloom.bloom_probe(fact, "k", bm)
    kept_keys = {r.k for r in kept.collect()}
    true_keys = {r.bk for r in build.collect()}
    assert true_keys <= kept_keys          # no false negatives
    assert len(kept_keys) < 10_000 * 0.05  # pruned hard (fp-rate tiny)


def test_bloom_semi_equals_plain_semi(spark):
    """bloom_semi_join ≡ plain LeftSemi, bit for bit, including keys that
    collide into the same filter words."""
    from realtime_voting_system_spark.operators import bloom

    fact = spark.range(0, 5_000).withColumnRenamed("id", "k")
    build = spark.range(0, 5_000, 7).withColumnRenamed("id", "bk")
    got = sorted(
        r.k for r in bloom.bloom_semi_join(fact, "k", build, "bk").collect()
    )
    want = sorted(
        r.k
        for r in fact.join(
            build, fact["k"] == build["bk"], "semi"
        ).collect()
    )
    assert got == want


def test_bloom_semi_plan_has_prefilter_and_semi(spark, sf_dir):
    """j26's executed plan must show the exact LeftSemi AND the inline
    bitmap probe (the shiftright bit tests) upstream of it, proving the
    prefilter sits in the fact's scan-side stage rather than after the
    join."""
    df = QUERIES["j26_bloom_semi"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "shiftright" in plan


# ---------------------------------------------------------------------------
# vec_quantize_pq (X124)
# ---------------------------------------------------------------------------


def test_pq_codes_match_numpy_argmin(spark, sf_dir):
    """PQ codes and squared reconstruction error re-derived in numpy
    (float64, same subspace split, same codebook) must agree: argmin
    identical everywhere, error equal to the chosen centroid's squared
    distance within float tolerance (numpy sums pairwise — bit equality
    is the oracle's job, closeness is this test's)."""
    import numpy as np

    from realtime_voting_system_spark.plans.scale_ops import (
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        _pq_codebook,
    )

    book = np.array(_pq_codebook())  # (M, K, SUB)
    out = {r.vec_id: r for r in QUERIES["vec_quantize_pq"](spark, sf_dir).collect()}
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    assert set(out) == set(emb)
    used = set()
    for vid, v in emb.items():
        err = 0.0
        for m in range(_PQ_M):
            s = v[m * _PQ_SUB : (m + 1) * _PQ_SUB]
            d = ((book[m] - s) ** 2).sum(axis=1)  # (K,)
            code = int(np.argmin(d))
            got = getattr(out[vid], f"code_{m}")
            assert got == code, (vid, m, got, code, d)
            used.add((m, code))
            err += d[code]
        assert abs(out[vid].sq_err - err) < 1e-9 * max(1.0, err)
        assert out[vid].sq_err >= 0
    # the codebook is actually exercised: every subspace uses >1 centroid
    for m in range(_PQ_M):
        assert len({k for mm, k in used if mm == m}) > 1


def test_bloom_large_filter_join_path(spark):
    """Filters beyond the inline threshold (here 2 Mbit → 32k words) take
    the broadcast word-table path; semantics are identical — no false
    negatives, same result as the plain semi."""
    from realtime_voting_system_spark.operators import bloom

    fact = spark.range(0, 3_000).withColumnRenamed("id", "k")
    build = spark.range(0, 3_000, 11).withColumnRenamed("id", "bk")
    got = sorted(
        r.k
        for r in bloom.bloom_semi_join(
            fact, "k", build, "bk", m_bits=1 << 21
        ).collect()
    )
    want = sorted(
        r.k for r in fact.join(build, fact["k"] == build["bk"], "semi").collect()
    )
    assert got == want


def test_heavy_hitters_mg_bit_equal_to_exact_any_layout(spark):
    """X149: the MG candidate set varies with partition layout (that's the
    sketch), but the two-pass output must be bit-identical to the exact
    twin under ANY layout — the MG k=φ guarantee means no heavy hitter
    can miss the candidate list."""
    exact = QUERIES["text_heavy_hitters"](spark, SF_DIR)
    base = sorted(map(tuple, exact.collect()))
    assert base  # non-vacuous
    for parts in (3, 17):
        with batch_width(spark, parts):
            got = sorted(
                map(tuple, QUERIES["text_heavy_hitters_mg"](spark, SF_DIR).collect())
            )
        assert got == base, f"MG path diverged at {parts} partitions"


def test_sliding_dau_hll_in_bound_and_layout_independent(spark):
    """X148: deterministic user-hash sharding makes the HLL estimate
    layout-independent — every row's in-bound flag is TRUE and the full
    result is stable across shuffle-partition settings."""
    rows = QUERIES["events_sliding_dau_hll"](spark, SF_DIR).collect()
    assert rows and all(r["sketch_in_bound"] for r in rows)
    base = sorted(map(tuple, rows))
    with batch_width(spark, 7):
        again = sorted(
            map(tuple, QUERIES["events_sliding_dau_hll"](spark, SF_DIR).collect())
        )
    assert again == base


def test_walk_to_root_depths_and_cycle_refusal(spark):
    """X153 operator: exact depths on a known chain (8→4→2→1), depth 0
    at roots; a cyclic parent map must raise, never emit partial
    depths."""
    from realtime_voting_system_spark.operators.hierarchy import walk_to_root

    nodes = spark.createDataFrame([(1,), (2,), (4,), (8,), (9,)], "k long")
    got = {
        r.k: (r.depth, r.root)
        for r in walk_to_root(
            nodes, "k", lambda c: (c / 2).cast("long"), lambda c: c <= 1
        ).collect()
    }
    assert got == {1: (0, 1), 2: (1, 1), 4: (2, 1), 8: (3, 1), 9: (3, 1)}

    with pytest.raises(RuntimeError, match="cycle|max_iters"):
        walk_to_root(
            nodes, "k", lambda c: c, lambda c: c < 0, max_iters=5
        )


def test_walk_to_root_matches_python_reference_random_maps(spark):
    """Property check: depths/roots from the iterative operator equal a
    plain-Python walk for seeded random contracting parent maps."""
    import random

    from realtime_voting_system_spark.operators.hierarchy import walk_to_root

    for seed in (5, 6):
        rng = random.Random(seed)
        n = 200
        parent = {k: rng.randrange(k) for k in range(2, n)}

        def py_walk(k):
            d = 0
            while k > 1:
                k = parent[k]
                d += 1
            return d, k

        expected = {k: py_walk(k) for k in range(n)}
        # broadcast the map as a literal CASE via a join-free expression:
        # use a map_from_arrays lookup column
        from pyspark.sql import functions as SF

        keys = SF.array(*[SF.lit(k) for k in parent])
        vals = SF.array(*[SF.lit(v) for v in parent.values()])
        m = SF.map_from_arrays(keys, vals)
        nodes = spark.createDataFrame([(i,) for i in range(n)], "k long")
        got = {
            r.k: (r.depth, r.root)
            for r in walk_to_root(
                nodes,
                "k",
                lambda c: SF.element_at(m, c.cast("int")),
                lambda c: c <= 1,
                max_iters=60,
            ).collect()
        }
        assert got == expected, f"seed={seed}"


def test_ivfpq_declarative_layout_independent_and_no_cartesian(spark):
    """X154: the Catalyst IVF-PQ result must be identical under different
    shuffle-partition settings (everything is either a projection over
    inlined literals or a keyed window), and the cell join must plan as
    a broadcast hash join, never a cartesian."""
    base = sorted(
        map(tuple, QUERIES["sim_ann_ivfpq"](spark, SF_DIR).collect())
    )
    assert base
    with batch_width(spark, 5):
        again = sorted(
            map(tuple, QUERIES["sim_ann_ivfpq"](spark, SF_DIR).collect())
        )
    assert again == base
    df = QUERIES["sim_ann_ivfpq"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_quality_calibration_curve(spark):
    """X309: the calibration sweep must agree with the classifier it
    sweeps (per-threshold kept counts recomputed from X161's logits),
    its kept-rate must be non-increasing in the threshold, and the
    reported boundary margins must respect their own cut: every
    min_kept_logit >= threshold, every max_cut_logit < threshold."""
    rows = {
        r["threshold"]: r
        for r in QUERIES["pipeline_quality_calibration"](
            spark, SF_DIR
        ).collect()
    }
    logits = [
        r["logit"]
        for r in QUERIES["pipeline_quality_classifier"](
            spark, SF_DIR
        ).collect()
    ]
    assert rows and logits
    prev_rate = None
    for t in sorted(rows):
        r = rows[t]
        assert r["n_total"] == len(logits)
        assert r["n_kept"] == sum(1 for x in logits if x >= t)
        assert r["kept_rate"] == r["n_kept"] / r["n_total"]
        if prev_rate is not None:
            assert r["kept_rate"] <= prev_rate
        prev_rate = r["kept_rate"]
        if r["min_kept_logit"] is not None:
            assert r["min_kept_logit"] >= t
        if r["max_cut_logit"] is not None:
            assert r["max_cut_logit"] < t


def test_quality_calibration_single_scan(spark):
    """X309 reads the corpus ONCE however many thresholds are swept —
    the oracle's 5-way cross join is deliberately not the engine plan.
    One parquet scan, no join, no shuffle beyond the 1-row aggregate."""
    plan = _plan(spark, "pipeline_quality_calibration")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
