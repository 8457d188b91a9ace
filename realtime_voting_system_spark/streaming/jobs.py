"""Structured Streaming jobs (SURVEY §2.9 ST1-ST8).

The reference *declares* a streaming layer (report §3.3; output topics
README.md:116,118) but ships no job — its dedup gate is a Postgres UNIQUE
constraint (setup_database.py:105) and its aggregates are 30-second batch
re-queries (app.py:66,273). This module implements that declared layer
natively:

- ST7 dedup  = watermarked ``dropDuplicates`` (state-store, not a DB).
- ST2/ST3    = continuous aggregates over the deduped stream.
- ST4        = tumbling/sliding event-time windows.
- ST5        = checkpointing (every ``start_*`` takes a checkpoint dir).
- ST8        = 30 s processing-time trigger default.
- W2/W3-in-streaming (ranked outputs) = ``foreachBatch`` recompute — rank
  windows are unsupported in pure writeStream; the aggregate is
  dimension-sized so a per-batch complete recompute is O(#candidates).

Scale notes: every aggregate keys on bounded dimensions (candidate, state,
window×candidate), so state-store size is O(dims × open windows), never
O(events). The dedup state is the one unbounded key-space (voter_id) —
bounded by the watermark via ``dropDuplicatesWithinWatermark``: voters
outside the lateness window age out of state, mirroring "an election day"
retention (plain dropDuplicates would keep voter_id state forever).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_WATERMARK = "10 minutes"  # ST6: allowed lateness contract
DEFAULT_TRIGGER = "30 seconds"  # ST8: the dashboard cadence (app.py:273)


# ---------------------------------------------------------------------------
# ST6/ST7 — one vote per voter under late/duplicate arrivals
# ---------------------------------------------------------------------------


def dedup_votes(
    stream: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    ts_col: str = "voted_at",
    key_cols: tuple[str, ...] = ("voter_id",),
) -> DataFrame:
    """First vote per voter wins; replays/dupes within the watermark are
    dropped from the stream exactly as the DB rejected them
    (data_generator.py:255-258 catches the UNIQUE violation).

    Lateness contract (the reference has none — DB arrival order won):
    duplicates arriving later than ``watermark`` after the max event time
    seen MAY pass (their key aged out of the state store). This requires
    ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates`` only
    evicts state when the event-time column is PART of the dedup keys, so
    keying on voter_id alone would grow state forever and silently break
    the bounded-state claim. With the WithinWatermark variant, state is
    O(distinct keys seen within the lateness window) — the election-day
    retention the module docstring promises.

    Compile cost: Spark writes the current watermark into the state
    eviction predicate as a literal (``value_1 <= 1730769983000000L``), so
    every watermark advance compiles one new predicate class per query
    that reads this stream: about one per query per data micro-batch, or
    ~360 per 30 s dashboard cadence for three queries at 2,000 events/s.
    They share Spark's JVM-wide compiled-class cache with the dashboard
    panels, which is why ``session.get_spark`` sizes it well above one
    refresh's 156 classes.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [*key_cols]
    )


# ---------------------------------------------------------------------------
# ST2/ST3 — the two declared continuous aggregates (output topics)
# ---------------------------------------------------------------------------


def votes_per_candidate(stream: DataFrame) -> DataFrame:
    """aggregated_votes_per_candidate (README.md:116): running count keyed
    by candidate; names ride along (denormalized in the vote event,
    data_generator.py:188-197). Update-mode friendly: 3 keys → 3 rows out
    per micro-batch."""
    return stream.groupBy("candidate_id", "candidate_name", "party").agg(
        F.count("*").alias("vote_count")
    )


def turnout_by_location(stream: DataFrame) -> DataFrame:
    """aggregated_turnout_by_location (README.md:118): running count per
    state, the stream-side of Q4a. State rides on the denormalized event —
    no stream-static join needed (50 keys of state)."""
    return stream.groupBy("address_state").agg(
        F.count("*").alias("turnout")
    )


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    dim_cols: tuple[str, ...],
) -> DataFrame:
    """Stream-static broadcast join: enrich events with a dimension table.

    The reference sidesteps this by denormalizing (vote events carry
    candidate_name/party, data_generator.py:188-197); an engine must also
    serve the normalized layout. Spark re-reads the static side every
    micro-batch, so dimension updates are picked up without restarting
    the query; ``broadcast`` keeps the stream side un-shuffled — the only
    viable plan when the stream is the 100 TB side. Left join preserves
    events with unknown keys (late dimension arrival) as NULL-enriched
    rows rather than dropping votes.
    """
    return stream.join(
        F.broadcast(dim.select(key, *dim_cols)), key, "left"
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = DEFAULT_WATERMARK,
    right_prefix: str = "r_",
    how: str = "inner",
    right_watermark: str | None = None,
) -> DataFrame:
    """Stream-stream equi-join with an event-time bound: a right event
    matches a left event with the same key only if it happened in
    [left_ts − within, left_ts] (e.g. a vote joined to its voter's
    registration event from the preceding hour).

    The reference has no two-stream correlation at all; this is the
    Structured Streaming shape for it. BOTH sides carry watermarks and
    the join condition bounds event time in BOTH directions — that pair
    of constraints is what lets Spark GC buffered rows, so state is
    O(events inside watermark + within), never the whole streams. Right
    columns are prefixed to keep the joined schema unambiguous.

    ``how="leftOuter"`` (ST15): unmatched left rows are emitted
    NULL-padded — but only once the watermark passes their match window
    (Spark must be sure no matching right row can still arrive), so
    outer results trail the inner ones by the watermark delay. The same
    bounds that GC inner-join state are what make the outer contract
    well-defined; an unbounded outer stream-stream join is rejected by
    Spark outright.

    ``how="fullOuter"`` (ST26) additionally null-pads unmatched RIGHT
    rows; the key column is coalesced across sides so right-only rows
    keep their key. Eviction is asymmetric under this condition shape:
    an unmatched LEFT row emits once the watermark passes its own event
    time (no right row with r_ts ≤ l_ts can still arrive), but an
    unmatched RIGHT row must wait until the watermark passes
    r_ts + ``within`` (a left row as late as r_ts + within could still
    match it) — so right-outer results trail left-outer ones by the
    full join window. Size ``within`` to the real correlation horizon,
    not defensively: it is right-side state lifetime.

    ``right_watermark`` gives the right stream its OWN delay (sources
    with different lateness profiles); under the default ``min``
    multipleWatermarkPolicy the global watermark is then the LAGGING
    side's — the production-safe policy that never evicts a row the
    slower stream could still match (st27 gates that arithmetic; the
    ``max`` policy is for finished-upstream drains, st18/st26).
    """
    if how not in ("inner", "leftOuter", "fullOuter"):
        raise ValueError(f"unsupported stream-stream join type {how!r}")
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, right_watermark or watermark)
    for c in r.columns:
        r = r.withColumnRenamed(c, f"{right_prefix}{c}")
    rk, rts = f"{right_prefix}{key}", f"{right_prefix}{right_ts}"
    cond = (
        (F.col(key) == F.col(rk))
        & (F.col(rts) <= F.col(left_ts))
        & (F.col(rts) >= F.col(left_ts) - F.expr(f"INTERVAL {within}"))
    )
    joined = l.join(r, cond, how)
    if how == "fullOuter":
        joined = joined.withColumn(key, F.coalesce(F.col(key), F.col(rk)))
    return joined.drop(rk)


# ---------------------------------------------------------------------------
# ST4 — event-time windows (report §3.3 "sliding and tumbling intervals")
# ---------------------------------------------------------------------------


def windowed_votes(
    stream: DataFrame,
    size: str = "1 hour",
    slide: str | None = None,
    watermark: str = DEFAULT_WATERMARK,
    ts_col: str = "voted_at",
    group_cols: tuple[str, ...] = ("candidate_id",),
) -> DataFrame:
    """Tumbling (slide=None) or sliding window counts with watermark so
    append-mode sinks emit finalized windows and state is GC'd (ST6).
    Output: window_start, window_end, *group_cols, vote_count."""
    win = (
        F.window(ts_col, size)
        if slide is None
        else F.window(ts_col, size, slide)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *group_cols)
        .agg(F.count("*").alias("vote_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_cols,
            "vote_count",
        )
    )


def dq_monitor_stream(
    stream: DataFrame,
    rules: list[tuple[str, str]],
    ts_col: str = "ts",
    size: str = "1 hour",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """ST17: the expectation gate on the live stream — per event-time
    window, per rule: row count, violation count, pass rate. The
    streaming twin of plans/quality_ops.dq_checks, same declarative
    (name, ANSI predicate) rules, NULL ⇒ violation.

    Rules evaluate as conditional sums inside ONE windowed aggregate
    (no per-rule scan — the SHARED engine in operators/expectations.py,
    so NULL-as-violation semantics can't drift from the batch gate),
    watermarked so append sinks emit finalized windows and state is
    GC'd. Alerting is the consumer's filter on pass_rate — the engine
    just reports.

    Output: window_start, window_end, rule, n_rows, n_violations,
    pass_rate — long format via the same stack() unpivot as batch.
    """
    from ..operators.expectations import rule_aggs, rule_report

    win = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, size).alias("w"))
        .agg(*rule_aggs(rules))
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
    )
    return rule_report(win, rules, lead_cols=("window_start", "window_end"))


# ---------------------------------------------------------------------------
# W2-in-streaming — ranked snapshot via foreachBatch (SURVEY §4 caveat b)
# ---------------------------------------------------------------------------


def ranked_votes_snapshot(agg_batch: DataFrame) -> DataFrame:
    """Batch-side rank over a micro-batch's complete aggregate — Q2's
    rank/percentage shape applied per epoch. Input is dimension-sized
    (#candidates rows), so the single-partition window is O(3)."""
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("vote_count"), "candidate_id")
    return agg_batch.withColumn(
        "percentage",
        F.round(
            F.col("vote_count")
            * 100.0
            / F.sum("vote_count").over(w_all).cast("double"),
            2,
        ),
    ).withColumn("rank", F.row_number().over(w_rank).cast("long"))


def start_ranked_snapshot(
    agg_stream: DataFrame,
    checkpoint: str,
    sink_writer,
    trigger: dict | None = None,
):
    """Run a complete-mode aggregate through foreachBatch, ranking each
    epoch's full snapshot and handing it to ``sink_writer(df, epoch_id)``.

    This is THE pattern for every reference query with a rank/top-1 window
    (Q2/Q4b) under streaming: writeStream forbids rank windows; the
    aggregate is tiny, so re-ranking per epoch is cheaper than any
    incremental scheme.
    """
    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        sink_writer(ranked_votes_snapshot(batch_df), epoch_id)

    writer = (
        agg_stream.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_write)
    )
    return _apply_trigger(writer, trigger).start()


# ---------------------------------------------------------------------------
# ST5/ST8 — sink wiring
# ---------------------------------------------------------------------------


def _apply_trigger(writer, trigger: dict | None):
    """None → 30 s processing-time (ST8); {"availableNow": True} → drain
    and stop (tests/backfills); any writeStream trigger kwargs pass through."""
    return writer.trigger(
        **(trigger if trigger is not None else {"processingTime": DEFAULT_TRIGGER})
    )


def start_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    trigger: dict | None = None,
):
    """Stream → parquet table (the serving layer the dashboard would query
    instead of Postgres). Exactly-once per file via the checkpoint's sink
    log (ST5 — replaces the reference's DB commit durability)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    return _apply_trigger(writer, trigger).start()


def start_to_memory(
    df: DataFrame,
    name: str,
    checkpoint: str,
    output_mode: str = "append",
    trigger: dict | None = None,
):
    """Stream → in-memory table ``name`` (tests / interactive)."""
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    return _apply_trigger(writer, trigger).start()


# ---------------------------------------------------------------------------
# ST9 (extended scope) — session windows
# ---------------------------------------------------------------------------


def session_votes(
    stream: DataFrame,
    gap: str = "5 minutes",
    watermark: str = DEFAULT_WATERMARK,
    ts_col: str = "voted_at",
    group_cols: tuple[str, ...] = ("address_state",),
) -> DataFrame:
    """Session windows (activity bursts separated by ≥ gap) per group —
    the SURVEY §2.9 ST9 north-star, native ``session_window`` (no custom
    state code needed since Spark 3.2). Output: session_start/end, group
    cols, vote_count.

    Scale: state per (group, open session); the watermark closes sessions
    and GC's them, so state is O(groups × concurrently-open sessions).
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *group_cols)
        .agg(F.count("*").alias("vote_count"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *group_cols,
            "vote_count",
        )
    )


# ---------------------------------------------------------------------------
# Q3-in-streaming (SURVEY §7.4 hard part) — running cumulative counts via
# applyInPandasWithState: not expressible as a windowed aggregate.
# ---------------------------------------------------------------------------


def cumulative_votes_stateful(
    stream: DataFrame,
    ts_col: str = "voted_at",
    key_col: str = "candidate_id",
    grain: str = "minute",
) -> DataFrame:
    """Per-key running total emitted per time bucket — the streaming form
    of Q3's cumulative trend (app.py:126-151), which no built-in windowed
    aggregate expresses (each bucket needs the sum of ALL prior buckets).

    Custom state via ``applyInPandasWithState``: state = (running_total).
    Each micro-batch groups the key's events into grain buckets
    pandas-side (Spark forbids an aggregation upstream of
    applyInPandasWithState) and emits one row per touched bucket.
    Semantics: the emitted cumulative is the running *arrival-order* total
    per key (buckets sorted within a batch); a batch-over-sink-table
    recompute (plans/voting.py q3) gives exact event-time ordering when
    needed.

    Scale: state is ONE long per key; the Python hop sees a 2-column
    (key, bucket) projection of the batch, Arrow-chunked — acceptable
    because rows are pre-projected to 16 bytes, but the raw-event fan-in
    is this operator's scale bound (partition by key first).
    """
    import pandas as pd  # local: worker-side import path
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key_col} string, bucket timestamp, cumulative long"
    )
    state_schema = "total long"

    per_event = stream.withWatermark(ts_col, DEFAULT_WATERMARK).select(
        F.col(key_col), F.date_trunc(grain, F.col(ts_col)).alias("bucket")
    )

    def update(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        pdf = pd.concat(list(pdfs))
        counts = pdf.groupby("bucket").size().sort_index()
        cum = counts.cumsum() + total
        state.update((int(cum.iloc[-1]),))
        yield pd.DataFrame(
            {
                key_col: key[0],
                "bucket": cum.index,
                "cumulative": cum.to_numpy(),
            }
        )

    return per_event.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rate_cap_stateful(
    stream: DataFrame,
    ts_col: str = "voted_at",
    key_col: str = "voter_id",
    id_col: str = "vote_id",
    k: int = 3,
    grain: str = "minute",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming rate cap — the stateful twin of the batch
    ``events_rate_cap`` query (shapes.first_k_per_group): admit at most
    ``k`` events per (key, time-bucket), drop the rest at ingest.

    State design: the GROUPING key is the composite (key, bucket), so the
    state is ONE admitted-counter per active window — never a per-key
    map. Eviction is by event-time timeout at bucket end + watermark:
    once the watermark passes a window, its counter is dropped, so state
    is O(keys × OPEN windows), bounded regardless of stream length (a
    late straggler after eviction MAY be re-admitted — the same
    documented lateness contract as dropDuplicatesWithinWatermark).

    Ordering: admission is arrival-order, tie-broken (ts, id) within a
    micro-batch — deterministic for a given batch sequence; the batch
    query gives exact event-time order when re-derived offline.

    Scale: the Python hop sees a 3-column pre-projection (key, ts, id),
    Arrow-chunked, partitioned by (key, bucket) — hot keys cost their own
    traffic and everything past k is dropped INSIDE the operator, before
    any downstream stage.
    """
    import pandas as pd  # local: worker-side import path
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key_col} string, bucket timestamp, {id_col} string, "
        f"{ts_col} timestamp, rn long"
    )
    state_schema = "admitted long"
    qty, unit = watermark.split()
    unit_ms = {"second": 1000, "minute": 60_000, "hour": 3_600_000}[
        unit.rstrip("s")
    ]
    wm_delay_ms = int(qty) * unit_ms
    bucket_ms = {"minute": 60_000, "hour": 3_600_000, "day": 86_400_000}[grain]

    per_event = stream.withWatermark(ts_col, watermark).select(
        F.col(key_col),
        F.date_trunc(grain, F.col(ts_col)).alias("bucket"),
        F.col(id_col),
        F.col(ts_col),
    )

    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        admitted = state.get[0] if state.exists else 0
        pdf = pd.concat(list(pdfs)).sort_values([ts_col, id_col])
        take = pdf.head(max(0, k - admitted))
        state.update((admitted + len(take),))
        # evict once the watermark passes this bucket's end
        bucket_end_ms = int(key[1].timestamp() * 1000) + bucket_ms
        state.setTimeoutTimestamp(bucket_end_ms + wm_delay_ms)
        if len(take):
            yield pd.DataFrame(
                {
                    key_col: key[0],
                    "bucket": key[1],
                    id_col: take[id_col].to_numpy(),
                    ts_col: take[ts_col].to_numpy(),
                    "rn": range(admitted + 1, admitted + len(take) + 1),
                }
            )

    return per_event.groupBy(key_col, "bucket").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# ST10 (extended scope) — change-log upsert compaction via foreachBatch
# ---------------------------------------------------------------------------


def start_latest_state(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    key_cols: tuple[str, ...] = ("voter_id",),
    ts_col: str = "voted_at",
    tiebreak_cols: tuple[str, ...] = ("vote_id",),
    trigger: dict | None = None,
):
    """Maintain a last-writer-wins state table from the event stream — the
    streaming twin of plans/extended_ops.s9_upsert_latest (MERGE INTO
    semantics without a transactional table format).

    Each micro-batch: compact the batch per key, union with the current
    state snapshot, compact again, and write snapshot ``v=<epoch_id>``.
    Versioned directories make the merge atomic-by-rename and the batch
    IDEMPOTENT: a retried epoch rewrites its own version, never corrupts
    the previous one (exactly-once through checkpoint + deterministic
    output path — ST5's contract applied to upserts).

    The same fold applies an I/U/D changefeed (the streaming twin of
    operators/integrity.apply_changefeed): ``key_cols`` = the feed's
    keys, ``ts_col`` = its sequence column. 'D' rows are RETAINED in
    the state as TOMBSTONES — the seq compare is what rejects a stale
    lower-seq update for a deleted key arriving in a LATER batch;
    dropping the row instead would silently resurrect it. Readers see
    the live view via read_changefeed_state. Tombstone GC (dropping
    tombstones older than the source's max replay horizon) is a
    retention policy decision, deliberately not hardcoded here.

    Scale: the per-batch work is one keyed shuffle over |batch| + |keys
    with state|; at 100 TB state one would partition the snapshot by key
    hash and rewrite only touched partitions (or use a table format with
    MERGE) — the compaction operator itself is unchanged.
    """
    from ..operators.temporal import latest_by_key

    state_dir = _local_dir(state_dir, "start_latest_state")

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        compacted = latest_by_key(
            batch_df, list(key_cols), ts_col, tiebreak_cols=list(tiebreak_cols)
        )
        prev = _latest_state_snapshot(spark, state_dir, before_epoch=epoch_id)
        if prev is not None:
            compacted = latest_by_key(
                prev.unionByName(compacted),
                list(key_cols),
                ts_col,
                tiebreak_cols=list(tiebreak_cols),
            )
        compacted.write.mode("overwrite").parquet(f"{state_dir}/v={epoch_id}")
        _prune_state_snapshots(state_dir, keep_last=2, upto_epoch=epoch_id)

    writer = (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )
    return _apply_trigger(writer, trigger).start()


def _local_dir(path: str, who: str) -> str:
    """Local filesystem path of a snapshot directory. Snapshot discovery
    and pruning list the directory with ``os``, which cannot see a URI:
    a ``file:`` URI maps to its path (left as a URI, the listing finds
    nothing, so every merge would start from empty state and pruning
    would never run); any other scheme is refused rather than silently
    wiping state. A remote deployment swaps the listing for the
    FileSystem API or a table format with MERGE."""
    from urllib.parse import urlparse

    if "://" not in path and not path.startswith("file:"):
        return path
    u = urlparse(path)
    if u.scheme == "file" and not u.netloc:
        return u.path
    raise ValueError(
        f"{who} requires a local directory; got {path!r} (snapshot "
        "listing is os.listdir-based)"
    )


def _latest_state_snapshot(spark, state_dir: str, before_epoch: int | None = None):
    """Newest committed snapshot under ``state_dir`` (ignoring the one a
    retried epoch is about to overwrite). None when no state exists yet."""
    import os
    import re

    if not os.path.isdir(state_dir):
        return None
    versions = sorted(
        int(m.group(1))
        for d in os.listdir(state_dir)
        if (m := re.fullmatch(r"v=(\d+)", d))
        and (before_epoch is None or int(m.group(1)) < before_epoch)
    )
    if not versions:
        return None
    return spark.read.parquet(f"{state_dir}/v={versions[-1]}")


def read_latest_state(spark, state_dir: str):
    """Serving-side reader: the current upsert state (None if empty)."""
    return _latest_state_snapshot(
        spark, _local_dir(state_dir, "read_latest_state")
    )


def _prune_state_snapshots(state_dir: str, keep_last: int, upto_epoch: int) -> None:
    """Delete superseded snapshots, keeping the newest ``keep_last`` at or
    below ``upto_epoch`` (never a version a concurrent retry might still be
    writing above it). Without pruning, storage grows as epochs × full
    state size — only the newest version is ever read back."""
    import os
    import re
    import shutil

    if not os.path.isdir(state_dir):
        return
    versions = sorted(
        int(m.group(1))
        for d in os.listdir(state_dir)
        if (m := re.fullmatch(r"v=(\d+)", d)) and int(m.group(1)) <= upto_epoch
    )
    for v in versions[:-keep_last] if keep_last > 0 else []:
        shutil.rmtree(os.path.join(state_dir, f"v={v}"), ignore_errors=True)


# ---------------------------------------------------------------------------
# ST11 — streaming incremental dedup (X72's continuous twin)
# ---------------------------------------------------------------------------


def start_incremental_dedup(
    stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger: dict | None = None,
):
    """Continuously admit only never-seen documents — the streaming twin of
    operators.dedup.incremental_dedup: an arriving crawl stream is checked
    against the accumulated fingerprint index and only novel docs reach
    the output.

    Each micro-batch: fingerprint (md5 of normalized text) → within-batch
    min-id compaction → anti-join against the newest committed index
    snapshot → survivors land in ``out_dir/v=<epoch>`` and the index
    commits as ``index_dir/v=<epoch>`` = previous ∪ new fingerprints.
    Versioned overwrite per epoch makes a retried batch rewrite its own
    output, so the stream is exactly-once end-to-end (checkpoint offsets
    + deterministic per-epoch paths — ST5's contract, as in
    start_latest_state).

    Scale: shuffle per batch is O(|batch|) fingerprint rows for the
    compaction window plus the index anti-join; bodies shuffle only
    within the batch. The index is a fingerprint-only table — at 100 TB
    store it bucketed by fingerprint (sources/bucketing.py) and rewrite
    only touched buckets; the per-batch operators are unchanged.
    """
    from ..functions.text import normalize

    index_dir = _local_dir(index_dir, "start_incremental_dedup")

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        fps = batch_df.withColumn(
            "fingerprint", F.md5(normalize(F.col(text_col)))
        )
        w = Window.partitionBy("fingerprint")
        kept = (
            fps.withColumn("__min", F.min(id_col).over(w))
            .filter(F.col(id_col) == F.col("__min"))
            .drop("__min")
        )
        prev = _latest_state_snapshot(spark, index_dir, before_epoch=epoch_id)
        if prev is not None:
            kept = kept.join(prev, "fingerprint", "left_anti")
        kept = kept.persist()
        try:
            kept.drop("fingerprint").write.mode("overwrite").parquet(
                f"{out_dir}/v={epoch_id}"
            )
            index = kept.select("fingerprint")
            if prev is not None:
                index = prev.unionByName(index)
            index.write.mode("overwrite").parquet(f"{index_dir}/v={epoch_id}")
        finally:
            kept.unpersist()
        _prune_state_snapshots(index_dir, keep_last=2, upto_epoch=epoch_id)

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
    )
    return _apply_trigger(writer, trigger).start()


# ---------------------------------------------------------------------------
# ST26-adjacent — streaming CDC changefeed apply (MERGE semantics with
# tombstones): start_latest_state over the feed, read back live-only
# ---------------------------------------------------------------------------


def read_changefeed_state(spark, state_dir: str, op_col: str = "op"):
    """Serving-side reader of the CDC state: live rows only (tombstones
    filtered, the op column dropped — seq stays, it is the row's
    version). None if no state exists yet. The state is written by
    start_latest_state with ``key_cols`` = the feed's keys and
    ``ts_col`` = its sequence column."""
    snap = _latest_state_snapshot(
        spark, _local_dir(state_dir, "read_changefeed_state")
    )
    if snap is None:
        return None
    return snap.filter(F.col(op_col) != "D").drop(op_col)


# ---------------------------------------------------------------------------
# ST12 — streaming corpus curation (stateless clean-and-scrub)
# ---------------------------------------------------------------------------


def clean_doc_stream(
    stream: DataFrame,
    min_quality: float = 0.5,
    lang: str = "en",
    redact_pattern: str | None = None,
) -> DataFrame:
    """The pipeline_clean_corpus scorers applied to a LIVE document
    stream: quality + language-ID are pure per-row projections
    (operators/textops.py), so they stream with zero state — this is the
    ingest-time filter that keeps junk out of the corpus before it ever
    lands, with the batch pipeline as the exactly-equal reprocessing path
    (asserted in tests: same files through both → same rows).

    Dedup deliberately does NOT live here: streamed exact-dedup is
    start_incremental_dedup's job (ST11), which needs the fingerprint
    index; composing clean_doc_stream → ST11 gives the full streaming
    curation pipeline.
    """
    from ..operators import textops

    scored = textops.lang_id(
        textops.quality_score(stream, append=True), append=True
    )
    kept = scored.filter(
        (F.col("quality") >= min_quality) & (F.col("pred_lang") == lang)
    )
    if redact_pattern is not None:
        kept = kept.withColumn(
            "clean_text",
            F.regexp_replace(F.col("text"), redact_pattern, "<MASK>"),
        )
    return kept


def start_clean_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    min_quality: float = 0.5,
    lang: str = "en",
    redact_pattern: str | None = None,
    trigger: dict | None = None,
):
    """clean_doc_stream wired to an append parquet sink with checkpointing
    — ST5's exactly-once file sink contract on the curation filter."""
    cleaned = clean_doc_stream(stream, min_quality, lang, redact_pattern)
    return start_to_parquet(cleaned, out_dir, checkpoint, trigger=trigger)


# ---------------------------------------------------------------------------
# ST13 — streaming event-transition extraction (X87's stateful twin)
# ---------------------------------------------------------------------------


def transitions_stateful(
    stream: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key transition extraction over a live stream: each event is
    paired with the key's PREVIOUS event type — the streaming form of the
    events_transitions Markov matrix (the consumer aggregates the emitted
    pairs; counts are then a plain streaming groupBy).

    Custom state via ``applyInPandasWithState``: state = the key's last
    event type — ONE short string per key, the minimum possible.  Events
    are ordered (ts, id) within each micro-batch and the last type
    carries across batches, so with in-order arrival the emitted pair
    multiset equals the batch lag-window computation (asserted in tests,
    including across a checkpoint restart).

    Scale: the Python hop sees a 3-column projection; per-key state never
    grows with history. Out-of-order arrivals beyond a batch boundary
    follow arrival order (the documented streaming semantics — the batch
    twin is the exact event-time recompute).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key_col} long, prev_type string, next_type string, "
        f"{ts_col} timestamp"
    )
    state_schema = "last_type string"

    per_event = stream.withWatermark(ts_col, DEFAULT_WATERMARK).select(
        F.col(key_col), F.col(type_col), F.col(ts_col), F.col(id_col)
    )

    def update(key, pdfs, state):
        pdf = pd.concat(list(pdfs)).sort_values([ts_col, id_col])
        prev = state.get[0] if state.exists else None
        types = pdf[type_col].tolist()
        prevs = [prev] + types[:-1]
        state.update((types[-1],))
        mask = [p is not None for p in prevs]
        yield pd.DataFrame(
            {
                key_col: key[0],
                "prev_type": [p for p, m in zip(prevs, mask) if m],
                "next_type": [t for t, m in zip(types, mask) if m],
                ts_col: pdf[ts_col][mask].to_numpy(),
            }
        )

    return per_event.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def heavy_hitters_stateful(
    stream: DataFrame,
    key_col: str = "event_type",
    item_col: str = "token",
    ts_col: str = "ts",
    k: int = 64,
) -> DataFrame:
    """ST16: streaming φ-heavy-hitters — a Misra-Gries counter table per
    key maintained in the state store, the live twin of
    operators/incremental.mg_partials (same fold, same ``error ≤
    N/(k+1)`` contract per key; the batch exact twin is
    plans/scale_ops.text_heavy_hitters).

    Each micro-batch folds its items into the key's MG table and emits
    the key's CURRENT summary stamped with a generation counter — the
    consumer keeps each key's max-gen rows (last-writer-wins, the ST10
    snapshot pattern) so the latest emission IS the summary of everything
    seen so far, across restarts.

    State per key: one JSON string of ≤ k counters + a long — bounded by
    construction, never by stream length. Items within a key's partition
    fold sequentially, so the per-key guarantee is the single-stream MG
    bound, not the weaker merged bound.
    """
    import json as _json

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.incremental import make_mg_fold

    out_schema = f"{key_col} string, item string, weight long, gen long"
    state_schema = "mg string, gen long"
    itc, kc = item_col, key_col
    fold = make_mg_fold(k)  # the shared MG fold — see incremental.py

    per_event = stream.withWatermark(ts_col, DEFAULT_WATERMARK).select(
        F.col(key_col), F.col(item_col), F.col(ts_col)
    )

    def update(key, pdfs, state):
        counters: dict = {}
        gen = 0
        if state.exists:
            mg, gen = state.get
            counters = _json.loads(mg)
        for pdf in pdfs:
            fold(counters, pdf[itc])
        gen += 1
        state.update((_json.dumps(counters), gen))
        yield pd.DataFrame(
            {
                kc: key[0],
                "item": list(counters.keys()),
                "weight": list(counters.values()),
                "gen": gen,
            }
        )

    return per_event.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# ST14 — running totals on the Spark 4 transformWithStateInPandas API
# ---------------------------------------------------------------------------


def running_totals_tws(
    stream: DataFrame,
    key_col: str = "candidate_id",
    ttl_ms: int | None = None,
):
    """ST2's running per-key count on the NEW arbitrary-state API
    (``transformWithStateInPandas``, Spark 4) — the successor to
    applyInPandasWithState used elsewhere in this module, shown
    side-by-side deliberately: typed ValueState, optional per-state TTL
    (``ttl_ms`` — the built-in state-retention lever the old API lacks),
    and timer support for eviction-driven output.

    State = one long per key; output mode "update" emits each touched
    key's new total per micro-batch.

    Environment gate: executing the new API needs the ``protobuf``
    package (its state protocol), absent from this container — same gate
    class as the Kafka broker and Avro jar. Construction (plan + output
    schema) is exercised unconditionally in tests; the restart
    equivalence test auto-skips without protobuf.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotal(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._total = handle.getValueState(
                "total", "cnt long", ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n = sum(len(pdf) for pdf in rows)
            cur = self._total.get()
            total = (cur[0] if cur else 0) + n
            self._total.update((total,))
            yield pd.DataFrame({key_col: [key[0]], "total": [total]})

        def close(self) -> None:
            pass

    return (
        stream.select(key_col)
        .groupBy(key_col)
        .transformWithStateInPandas(
            _RunningTotal(),
            outputStructType=f"{key_col} string, total long",
            outputMode="update",
            timeMode="none",
        )
    )


def run_ingest_benchmark(
    spark, workdir: str, n: int = 20_000, seed: int = 13
) -> tuple[float, int, int]:
    """ONE definition of the end-to-end ingest measurement (generate →
    envelope files → parse → dedup → aggregate via availableNow), shared
    by bench.py's ``ingest_events_per_sec`` metric and
    tests/test_streaming.py's ≥100 ev/s floor — so the number the bench
    reports is always the pipeline the test certifies.

    Returns ``(events_per_sec, total_counted, n)``; callers assert /
    report. Timing covers the streaming query only (file generation is
    setup, matching the reference bar, which times its consumer loop)."""
    import os
    import time

    from ..schemas import VOTE_EVENT
    from ..sources import generator
    from . import envelope

    src, ckpt = os.path.join(workdir, "src"), os.path.join(workdir, "ckpt")
    star = generator.generate_star(spark, n_voters=n, seed=seed)
    events = generator.vote_events(
        star["vote"], star["voter"], star["candidate"]
    )
    envelope.write_envelope_json(events.repartition(8), src, "vote_id")
    stream = envelope.read_envelope_stream(spark, src, VOTE_EVENT)
    agg = votes_per_candidate(dedup_votes(stream))
    t0 = time.perf_counter()
    q = start_to_memory(
        agg,
        "ingest_benchmark_votes",
        ckpt,
        output_mode="complete",
        trigger={"availableNow": True},
    )
    finished = q.awaitTermination(300)
    dt = time.perf_counter() - t0
    if not finished:
        # still running at the deadline: rate/total would describe a
        # partial run — stop the query and fail loudly instead of letting
        # callers mis-diagnose a lost-rows assertion
        q.stop()
        raise TimeoutError(
            "run_ingest_benchmark: availableNow query did not finish "
            "within 300 s — timing and totals would be partial"
        )
    total = spark.sql(
        "SELECT SUM(vote_count) AS s FROM ingest_benchmark_votes"
    ).collect()[0]["s"]
    return (n / dt, int(total or 0), n)
