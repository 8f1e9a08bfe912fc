"""Streaming operators (SURVEY.md §2.9) over the events shape
(event_id, ts, user_id, event_type, value, props).

Every transformation below takes a DataFrame that may be BATCH or STREAMING —
the same code path powers both: batch mode gives DuckDB-oracle checkable
results (harness q90-q93), streaming mode runs under availableNow triggers in
tests (file source → memory sink) with watermarks exercised by multi-batch
writes. That batch/stream unification is exactly Structured Streaming's
contract, so "streaming correctness" reduces to batch equivalence plus the
stateful semantics tested in tests/test_streaming.py (late-data drop, dedup,
custom state)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )


# -- window aggregations (s01-s03): batch/stream shared ----------------------


def tumbling_counts(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.unix_micros(F.col("win.start").cast("timestamp")).alias("win_start_us"), "n", "total"
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros(F.col("win.start").cast("timestamp")).alias("win_start_us"), "n")
    )


def session_counts(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.unix_micros(F.col("win.start").cast("timestamp")).alias("sess_start_us"),
            "n",
        )
    )


# -- stateful stream-only operators (s04, s05, s07) ---------------------------


def tumbling_with_watermark(events: DataFrame, width="10 minutes", late="10 minutes"):
    # watermarks require TIMESTAMP (not NTZ); session tz is UTC so the cast
    # is wall-time-identity
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", width).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros(F.col("win.start").cast("timestamp")).alias("win_start_us"), "n")
    )


def dedup_within_watermark(events: DataFrame, late: str = "10 minutes") -> DataFrame:
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.withWatermark("ts", late).dropDuplicatesWithinWatermark(["event_id"])


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful per-user running aggregate via applyInPandasWithState
    (s07): state = (n, total) per user, emitted per micro-batch."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "total": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, n bigint, total double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_totals_with_timeout(events: DataFrame, gap_ms: int = 300_000) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUT
    (applyInPandasWithState + EventTimeTimeout): per-user running (n, total,
    last_ts); when the watermark passes last_ts + gap, the session CLOSES and
    emits a final row (closed=true). Demonstrates the full state lifecycle —
    update, timeout registration, expiry emission."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, total, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    "total": [round(total, 2)],
                    "closed": [True],
                }
            )
            return
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last_us = max(last_us, int(pdf["ts"].max().value // 1000))
        state.update((n, total, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + gap_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "total": [round(total, 2)], "closed": [False]}
        )

    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id bigint, n bigint, total double, closed boolean",
            stateStructType="n bigint, total double, last_us bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# -- stream-stream interval join ----------------------------------------------


def clicks_after_signup(
    events: DataFrame, within: str = "30 minutes", late: str = "10 minutes"
) -> DataFrame:
    """Stream-stream inner join: click events matched to a signup of the
    same user within `within` BEFORE the click. Both sides watermarked (the
    state-cleanup requirement for stream-stream joins); the time-range
    predicate bounds buffered state."""
    base = events.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", late)
    )
    signups = (
        base.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", late)
    )
    joined = clicks.join(
        signups,
        (F.col("c_user") == F.col("s_user"))
        & (F.col("s_ts") <= F.col("c_ts"))
        & (F.col("s_ts") >= F.col("c_ts") - F.expr(f"INTERVAL {within}")),
        "inner",
    )
    return joined.select(
        "click_id",
        "signup_id",
        F.col("c_user").alias("user_id"),
        F.unix_micros("c_ts").alias("click_us"),
        F.unix_micros("s_ts").alias("signup_us"),
    )


# -- stream-static spatial join (s06) -----------------------------------------


def zone_of_events(events: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Stream-static join shape: events get a synthetic location (from keys,
    same derivation as the geo harness) and a Lagefaktor zone from the
    broadcast static feature set. `keep` carries extra input columns (e.g.
    ts for downstream windowing) through unchanged."""
    from lagespark import fixtures
    from lagespark.operators import spatial

    # CAST → DOUBLE before dividing: identical IEEE math to the DuckDB oracle
    # (Spark would otherwise carry x/y as DecimalType — see lagespark.oracles)
    pts = events.withColumn(
        "x", F.expr("CAST((event_id * 9973) % 100000 AS DOUBLE) / 10.0 + 0.05")
    ).withColumn("y", F.expr("CAST((event_id * 7919) % 100000 AS DOUBLE) / 10.0 + 0.05"))
    bf = spatial.FeatureSet(fixtures.baufeld_pdf())
    return spatial.with_zone(pts, bf).select(
        "event_id", "event_type", "zone", "value", *keep
    )


def spatiotemporal_rollup_stream(
    events: DataFrame, width: str = "1 hour", late: str = "10 minutes"
) -> DataFrame:
    """CONTINUOUS spatiotemporal aggregate — the streaming twin of q95's
    zone × time-bucket rollup (the hypertable continuous-aggregate shape):
    watermarked windowed agg in APPEND mode, so each (bucket, zone) group
    emits EXACTLY ONCE when the watermark passes the window end. Feed the
    result to sink.write_stream_checkpointed for an incrementally
    materialized, partition-pruned rollup table; finalized buckets are
    immutable, so appends are safe and replays are idempotent."""
    z = zone_of_events(events, keep=("ts",)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        z.withWatermark("ts", late)
        .groupBy(F.window("ts", width).alias("win"), "zone")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.unix_micros(F.col("win.start").cast("timestamp")).alias("bucket_us"),
            "zone",
            "n",
            "total",
        )
    )


# -- streaming near-dup suppression at ingest ---------------------------------


def ingest_claims_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    order_col: str | None = None,
    perms: int = 8,
    band_rows: int = 2,
    n: int = 3,
    hashed: bool = False,
) -> DataFrame:
    """BATCH first-writer-wins LSH claims — the batch-replay equivalent of
    dedup_stream_minhash, and the oracle surface for q104.

    For each (band, band_key) bucket, the earliest row in arrival order
    (`order_col`, then `id_col` — id alone when order_col is None, the
    documents-table surrogate for ingest order) OWNS the key; every later
    doc holding that key emits a claim row (id, band, dup_of=owner). A doc
    with ≥ 1 claim is a near-duplicate of an earlier doc at the banding's
    collision threshold — the same verdict the streaming op reaches
    incrementally, state replaced by a window function. A doc id appearing
    on MULTIPLE input rows never claims itself (dup_of != id filter) —
    the same rule the streaming fn applies via its `owner != rid` guard
    (ADVICE r6: parity now holds under duplicate ids too, not just on
    unique-id corpora)."""
    from lagespark.operators import dedup

    builder = dedup.band_keys_fast if hashed else dedup.band_keys_md5
    keep = (order_col,) if order_col else ()
    keys = builder(docs, id_col, text_col, perms, band_rows, n, keep=keep)
    return _claims_batch_from_keys(keys, id_col, order_col)


def _claims_batch_from_keys(
    keys: DataFrame, id_col: str, order_col: str | None
) -> DataFrame:
    """First-writer window over any banded key frame — the batch half
    shared by ingest_claims_batch (LSH keys) and ingest_claims_batch_phash
    (pHash bands)."""
    from pyspark.sql import Window

    order = [F.col(order_col), F.col(id_col)] if order_col else [F.col(id_col)]
    w = Window.partitionBy("band", "band_key").orderBy(*order)
    k = keys.select(
        F.col(id_col),
        "band",
        F.row_number().over(w).alias("_rn"),
        F.first(id_col).over(w).alias("dup_of"),
    )
    return (
        k.filter((F.col("_rn") > 1) & (F.col("dup_of") != F.col(id_col)))
        .select(id_col, "band", "dup_of")
    )


def ingest_claims_batch_phash(
    images: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    order_col: str | None = None,
) -> DataFrame:
    """Batch-replay equivalent of dedup_stream_phash: first-writer-wins
    claims over the 4×16-bit pHash pigeonhole bands (same window semantics
    as ingest_claims_batch — earliest (order_col, id) row owns each band
    key, later holders claim it, self-claims filtered)."""
    from lagespark.operators import dedup

    keep = (order_col,) if order_col else ()
    keys = dedup.pigeonhole_keys(images, phash_col, id_col, 64, 4, keep=keep)
    return _claims_batch_from_keys(keys, id_col, order_col)


def dedup_stream_minhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = 8,
    band_rows: int = 2,
    n: int = 3,
    state_buckets: int = 256,
    output_mode: str = "update",
    retention_s: float | None = None,
    reorder_s: float | None = None,
) -> DataFrame:
    """STREAMING near-dup suppression at ingest: documents arrive as a
    stream (id, text, ts); emits the CLAIMS stream (id, band, dup_of) —
    one row per LSH band of an arriving doc whose band key is already
    OWNED by an earlier doc. A doc with ≥ 1 claim is a near-duplicate of
    the claimed owner(s); the suppressed corpus is `docs` anti-joined to
    the distinct claimed ids downstream (foreachBatch or the batch layer).

    Shape for 100 TB ingest: the only shuffle is the state groupBy —
    uniform keys, and only the SKINNY (id, ts, band, key) projection
    crosses it (the text never leaves the stateless signature stage, same
    discipline as the batch pair finders). The state is NOT keyed by raw
    (band, band_key): applyInPandasWithState invokes the Python function
    once per GROUP per micro-batch, so distinct-band-key grouping costs
    one pandas round-trip per key (~ms each — measured 75 s for 20k docs
    / 80k keys). Keys hash into `state_buckets` SUPER-BUCKETS instead;
    each bucket's state is the (band, key) → owner map as parallel
    arrays, so per-batch Python overhead is O(buckets), claims work is
    one dict pass, and the map semantics are unchanged (every band key
    lives in exactly one bucket). Entries are write-once
    (first-writer-wins); state grows linearly with distinct band keys —
    inherent to dedup-at-ingest.

    STATE-COST BOUND (round 7): each touched bucket's whole map
    round-trips through `state.get`/`state.update` every micro-batch, so
    per-batch time is O(live band keys) — without a bound a long-running
    ingest pays steadily more per batch (measured curve in
    BENCH/BASELINE.md: ~linear growth per batch with lifetime keys).
    `retention_s` is that bound: every key carries a last-TOUCHED event
    time (insert or claim refreshes it), and keys idle for more than
    `retention_s` relative to the bucket's max seen ts are evicted at
    the end of the batch. Per-batch cost then holds at O(keys active in
    the retention window), the standard streaming-dedup contract
    (dropDuplicatesWithinWatermark's shape): a duplicate re-ingested
    after `retention_s` of its cluster being quiet becomes a new owner
    instead of claiming. None (default) keeps the unbounded
    exact-forever semantics (a per-KEY MapState that round-trips only
    TOUCHED keys is DESIGN_DECISIONS #31).
    Ownership is FIRST-ARRIVAL: within a micro-batch rows are applied in
    (ts, id) order (deterministic under any partitioning of one batch),
    and across batches the earlier BATCH wins regardless of ts — so the
    claims equal ingest_claims_batch(order_col="ts") exactly when
    micro-batch boundaries respect ts order (monotone ingest, the normal
    file/queue source shape — test-pinned for that case in
    tests/test_streaming.py). A source that delivers older-ts docs in
    later batches keeps the same well-defined arrival-order semantics,
    just not the ts-window oracle — UNLESS `reorder_s` is set.

    OUT-OF-ORDER SOURCES (round 7): `reorder_s` is a watermark-based
    reorder buffer that restores the ts-window oracle for any source
    whose disorder is bounded by `reorder_s`. Mechanics: the input gets
    `withWatermark(ts, reorder_s)`; arriving rows are BUFFERED in state
    instead of applied; each micro-batch releases the buffered rows with
    ts <= the current event-time watermark (max seen ts − reorder_s,
    computed from prior batches) and applies them in (ts, id) order; an
    EventTimeTimeout registered at the earliest buffered ts guarantees a
    flush callback even for buckets the next batch doesn't touch. Claims
    then equal ingest_claims_batch(order_col="ts") for bounded-disorder
    ingest (test-pinned on a cross-batch-scrambled corpus). The trades
    are the standard watermark ones: claims for a row emit only after
    the watermark passes it (latency ≥ reorder_s behind max event time;
    a quiet stream needs a newer row — in tests, a sentinel — to flush
    the tail), rows later than the watermark get late-data semantics,
    and buffered rows add O(in-flight window) to per-bucket state.

    `output_mode` must MATCH the sink's outputMode (Spark rejects the
    query otherwise): "update" for memory/console, "append" for FILE
    sinks — claims are emitted exactly once (state is write-once), so the
    two modes produce identical rows for this operator, and the append +
    parquet-sink wiring is how a production pipeline persists the claims
    table for the downstream suppressed-corpus anti-join (test-pinned)."""
    from lagespark.operators import dedup

    docs = docs.withColumn("ts", F.col("ts").cast("timestamp"))
    keys = dedup.band_keys_fast(
        docs, id_col, text_col, perms, band_rows, n, keep=("ts",), spread=False
    )
    return _claims_stream(
        keys,
        id_col,
        docs.schema[id_col].dataType.simpleString(),
        state_buckets,
        output_mode,
        retention_s,
        reorder_s,
    )


def _claims_stream(
    keys: DataFrame,
    id_col: str,
    id_t: str,
    state_buckets: int,
    output_mode: str,
    retention_s: float | None,
    reorder_s: float | None,
) -> DataFrame:
    """The first-writer-wins claims STATE MACHINE, generic over any banded
    key stream (id, ts timestamp, band int, band_key bigint) — shared by
    dedup_stream_minhash (LSH band keys over text) and dedup_stream_phash
    (16-bit pHash bands over images). All semantics (super-bucket state,
    retention eviction, watermark reorder buffer, first-arrival ownership)
    are documented on dedup_stream_minhash."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    reorder_us = None if reorder_s is None else int(reorder_s * 1e6)
    if reorder_us is not None:
        keys = keys.withWatermark("ts", f"{reorder_us} microseconds")
    keys = keys.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col("band"), F.col("band_key")), F.lit(state_buckets)),
    )

    retention_us = None if retention_s is None else int(retention_s * 1e6)

    def fn(key, pdfs, state: GroupState):
        # pending rows as (id, ts_us, band, band_key) tuples — one shape
        # for fresh arrivals and the reorder buffer
        arrived = []
        for pdf in pdfs:
            if len(pdf):
                tsus = pdf["ts"].astype("int64") // 1000
                arrived.extend(
                    zip(pdf[id_col], tsus, pdf["band"], pdf["band_key"])
                )
        if state.exists:
            s = state.get
            owned = dict(zip(zip(s[0], s[1]), zip(s[2], s[3])))
            buf = list(zip(s[4], s[5], s[6], s[7]))
        else:
            owned, buf = {}, []
        if reorder_us is None:
            released, buf = arrived, []
        else:
            # release rows at or behind the event-time watermark (computed
            # from prior batches: max seen ts − reorder_s); hold the rest.
            # A late row (ts already <= wm on arrival) releases immediately
            # — processed out of window, the standard late-data semantics.
            wm_us = state.getCurrentWatermarkMs() * 1000
            buf.extend(arrived)
            released = [r for r in buf if r[1] <= wm_us]
            buf = [r for r in buf if r[1] > wm_us]
        # apply in (ts, id) order — deterministic under any partitioning
        released.sort(key=lambda r: (r[1], r[0]))
        out_id, out_band, out_owner = [], [], []
        # evict BEFORE processing, at micro-batch granularity: the horizon
        # is this batch's max released event time, so a key idle past
        # retention is gone before any of this batch's rows consult it (an
        # end-of-batch sweep would let a stale owner claim one last time)
        if retention_us is not None and owned and released:
            horizon = int(released[-1][1]) - retention_us
            owned = {k: v for k, v in owned.items() if v[1] >= horizon}
        for rid, ts_us, band, band_key in released:
            ts_us = int(ts_us)
            k = (band, band_key)
            cur = owned.get(k)
            if cur is None:
                owned[k] = (rid, ts_us)
            elif cur[0] != rid:
                out_id.append(rid)
                out_band.append(band)
                out_owner.append(cur[0])
                owned[k] = (cur[0], ts_us)  # touch-refresh the cluster
            else:
                owned[k] = (cur[0], ts_us)
        bands_keys = list(owned.keys())
        state.update(
            (
                [bk[0] for bk in bands_keys],
                [bk[1] for bk in bands_keys],
                [owned[bk][0] for bk in bands_keys],
                [owned[bk][1] for bk in bands_keys],
                [b[0] for b in buf],
                [int(b[1]) for b in buf],
                [int(b[2]) for b in buf],
                [int(b[3]) for b in buf],
            )
        )
        if reorder_us is not None and buf:
            # guarantee a flush callback when the watermark passes the
            # earliest buffered row, even if no later batch touches this
            # bucket (must be strictly ahead of the current watermark)
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
                max(min(int(b[1]) for b in buf) // 1000, wm_ms + 1)
            )
        yield pd.DataFrame(
            {id_col: out_id, "band": out_band, "dup_of": out_owner}
        )

    return keys.groupBy("bucket").applyInPandasWithState(
        fn,
        outputStructType=f"{id_col} {id_t}, band int, dup_of {id_t}",
        stateStructType=(
            f"bands array<int>, keys array<bigint>, owners array<{id_t}>, "
            f"lasts array<bigint>, buf_ids array<{id_t}>, "
            "buf_ts array<bigint>, buf_bands array<int>, "
            "buf_keys array<bigint>"
        ),
        outputMode=output_mode,
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if reorder_us is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


def dedup_stream_phash(
    images: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    state_buckets: int = 256,
    output_mode: str = "update",
    retention_s: float | None = None,
    reorder_s: float | None = None,
) -> DataFrame:
    """STREAMING near-dup suppression for IMAGE ingest — the multimodal
    twin of dedup_stream_minhash: image records arrive as a stream
    (id, phash, ts) and claims (id, band, dup_of) emit for every arriving
    image whose 16-bit pHash band is already owned by an earlier image
    (pigeonhole: hamming ≤ 3 twins always share a band; the injected
    qdct re-encode twins land well inside it). The heavy work — decode +
    pHash — stays in the stateless upstream (image_ops.with_phash or a
    stored phash column); only the SKINNY (id, ts, band, band_key)
    projection reaches the state shuffle, so binary payloads never touch
    the state machinery (the q85b batch-filter discipline, live at
    ingest). Shares _claims_stream with the text path: identical
    first-arrival ownership, super-bucket state, `retention_s` eviction
    and `reorder_s` watermark semantics; claims equal
    ingest_claims_batch_phash(order_col="ts") under monotone ingest
    (test-pinned, same contract as q104)."""
    imgs = images.withColumn("ts", F.col("ts").cast("timestamp"))
    from lagespark.operators import dedup

    keys = dedup.pigeonhole_keys(imgs, phash_col, id_col, 64, 4, keep=("ts",))
    return _claims_stream(
        keys,
        id_col,
        imgs.schema[id_col].dataType.simpleString(),
        state_buckets,
        output_mode,
        retention_s,
        reorder_s,
    )
