"""Structured Streaming tests (SURVEY.md §2.9 / §5 item 6): real
readStream file source → memory sink under availableNow/processAllAvailable;
batch-equivalence for windows, late-data drop for watermarks, stateful dedup
and custom state."""

from __future__ import annotations

import time
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lagespark.streaming import ops

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdir(tmp_path):
    return str(tmp_path)


def _start(q_df, name, mode="complete"):
    return (
        q_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def _events_src(spark, tmpdir) -> str:
    src = f"{tmpdir}/events_src"
    spark.read.parquet(f"{SF}/events.parquet").coalesce(2).write.parquet(src)
    return src


def test_tumbling_batch_equivalence(spark, tmpdir):
    src = _events_src(spark, tmpdir)
    stream = ops.read_events_stream(spark, src)
    name = "t" + uuid.uuid4().hex[:8]
    q = _start(ops.tumbling_counts(stream), name)
    q.awaitTermination(120)
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    want = ops.tumbling_counts(spark.read.parquet(src)).toPandas()
    g = got.sort_values("win_start_us").reset_index(drop=True)
    w = want.sort_values("win_start_us").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_session_batch_equivalence(spark, tmpdir):
    src = _events_src(spark, tmpdir)
    stream = ops.read_events_stream(spark, src)
    name = "s" + uuid.uuid4().hex[:8]
    q = _start(ops.session_counts(stream), name)
    q.awaitTermination(120)
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    want = ops.session_counts(spark.read.parquet(src)).toPandas()
    assert len(got) == len(want)
    assert got.n.sum() == want.n.sum()


def _mk_events(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
    ).selectExpr(
        "CAST(event_id AS BIGINT) event_id",
        "CAST(ts AS TIMESTAMP_NTZ) ts",
        "CAST(user_id AS BIGINT) user_id",
        "event_type",
        "CAST(value AS DOUBLE) value",
        "props",
    )


def test_watermark_drops_late_rows(spark, tmpdir):
    """s04: a row arriving behind the watermark is dropped from the agg."""
    src = f"{tmpdir}/wm_src"
    ck = f"{tmpdir}/wm_ck"
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    batch1 = [
        (1, t0, 1, "a", 1.0, "{}"),
        (2, t0 + pd.Timedelta(minutes=45), 1, "a", 1.0, "{}"),  # advances wm to :35
    ]
    _mk_events(spark, batch1).write.parquet(src, mode="overwrite")
    stream = ops.read_events_stream(spark, src)
    agg = ops.tumbling_with_watermark(stream, "10 minutes", "10 minutes")
    name = "w" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a late row (00:05, behind watermark 00:35) + a fresh row
        batch2 = [
            (3, t0 + pd.Timedelta(minutes=5), 1, "a", 1.0, "{}"),  # LATE → dropped
            (4, t0 + pd.Timedelta(minutes=50), 1, "a", 1.0, "{}"),
        ]
        _mk_events(spark, batch2).write.parquet(src, mode="append")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    t0us = int(t0.value // 1000)
    w0 = got[got.win_start_us == t0us]
    # the 00:00-00:10 window closed with exactly ONE row (event_id=1); the
    # late event_id=3 must not have re-opened or incremented it
    assert len(w0) == 1 and int(w0.n.iloc[0]) == 1, got.to_string()


def test_dedup_within_watermark(spark, tmpdir):
    src = f"{tmpdir}/dd_src"
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        (1, t0, 1, "a", 1.0, "{}"),
        (1, t0 + pd.Timedelta(seconds=30), 1, "a", 1.0, "{}"),  # dup id
        (2, t0 + pd.Timedelta(minutes=1), 1, "a", 1.0, "{}"),
    ]
    _mk_events(spark, rows).write.parquet(src, mode="overwrite")
    stream = ops.read_events_stream(spark, src)
    name = "d" + uuid.uuid4().hex[:8]
    q = (
        ops.dedup_within_watermark(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/dd_ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(f"SELECT event_id FROM {name}").toPandas()
    assert sorted(got.event_id.tolist()) == [1, 2]


def test_stateful_running_totals(spark, tmpdir):
    src = f"{tmpdir}/st_src"
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        (1, t0, 7, "a", 2.0, "{}"),
        (2, t0 + pd.Timedelta(minutes=1), 7, "a", 3.0, "{}"),
        (3, t0 + pd.Timedelta(minutes=2), 9, "a", 5.0, "{}"),
    ]
    _mk_events(spark, rows).write.parquet(src, mode="overwrite")
    stream = ops.read_events_stream(spark, src)
    name = "u" + uuid.uuid4().hex[:8]
    q = (
        ops.running_user_totals(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/st_ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql(f"SELECT * FROM {name}")
        .toPandas()
        .sort_values(["user_id", "n"])
        .groupby("user_id")
        .last()
    )
    assert got.loc[7, "total"] == pytest.approx(5.0)
    assert got.loc[9, "total"] == pytest.approx(5.0)


def test_stream_static_geo_join(spark, tmpdir):
    src = _events_src(spark, tmpdir)
    stream = ops.read_events_stream(spark, src)
    zoned = ops.zone_of_events(stream)
    name = "g" + uuid.uuid4().hex[:8]
    q = (
        zoned.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(f"SELECT COUNT(*) AS n FROM {name}").toPandas()
    want = spark.read.parquet(src).count()
    assert int(got.n[0]) == want


def test_sliding_batch_equivalence(spark, tmpdir):
    src = _events_src(spark, tmpdir)
    stream = ops.read_events_stream(spark, src)
    name = "sl" + uuid.uuid4().hex[:8]
    q = _start(ops.sliding_counts(stream), name)
    q.awaitTermination(120)
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    want = ops.sliding_counts(spark.read.parquet(src)).toPandas()
    g = got.sort_values(["win_start_us", "n"]).reset_index(drop=True)
    w = want.sort_values(["win_start_us", "n"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_stream_stream_interval_join(spark, tmpdir):
    """s-s join: clicks matched to same-user signups within the interval,
    streaming result == batch result."""
    src = _events_src(spark, tmpdir)
    stream = ops.read_events_stream(spark, src)
    name = "ss" + uuid.uuid4().hex[:8]
    q = (
        ops.clicks_after_signup(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ss_ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    want = ops.clicks_after_signup(spark.read.parquet(src)).toPandas()
    key = ["click_id", "signup_id"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w) and len(g) > 0
    assert (g[key].values == w[key].values).all()


def test_checkpointed_stream_sink_idempotent(spark, tmpdir):
    """foreachBatch sink: restarting from the same checkpoint does not
    duplicate rows; late-appended files are picked up as new batches."""
    from lagespark.streaming import sink as ss

    src = f"{tmpdir}/cs_src"
    out = f"{tmpdir}/cs_out"
    ck = f"{tmpdir}/cs_ck"
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    _mk_events(spark, [(i, t0 + pd.Timedelta(minutes=i), i % 3, "a", 1.0, "{}")
                       for i in range(30)]).write.parquet(src, mode="overwrite")
    stream = ops.read_events_stream(spark, src)
    zoned = ops.zone_of_events(stream)
    q = ss.write_stream_checkpointed(zoned, out, ck, "zone")
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    man1 = ss.stream_manifest(out)
    assert n1 == 30 and man1["total_rows"] == 30

    # restart with the SAME checkpoint and no new data → nothing duplicated
    q2 = ss.write_stream_checkpointed(
        ops.zone_of_events(ops.read_events_stream(spark, src)), out, ck, "zone"
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 30

    # new data arrives → new batches only
    _mk_events(spark, [(100 + i, t0 + pd.Timedelta(hours=1, minutes=i), 1, "a", 1.0, "{}")
                       for i in range(5)]).write.parquet(src, mode="append")
    q3 = ss.write_stream_checkpointed(
        ops.zone_of_events(ops.read_events_stream(spark, src)), out, ck, "zone"
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == 35
    assert ss.stream_manifest(out)["total_rows"] == 35


def test_stateful_session_event_time_timeout(spark, tmpdir):
    """s07 extended: a session CLOSES (timeout emission) when the watermark
    passes last_ts + gap."""
    src = f"{tmpdir}/to_src"
    ck = f"{tmpdir}/to_ck"
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    _mk_events(spark, [
        (1, t0, 7, "a", 2.0, "{}"),
        (2, t0 + pd.Timedelta(minutes=1), 7, "a", 3.0, "{}"),
    ]).write.parquet(src, mode="overwrite")
    name = "to" + uuid.uuid4().hex[:8]
    q = (
        ops.session_totals_with_timeout(ops.read_events_stream(spark, src))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        open1 = spark.sql(f"SELECT * FROM {name}").toPandas()
        assert not open1.closed.any()
        # a much-later event from ANOTHER user advances the watermark far
        # past user 7's last_ts + 5min gap -> session 7 must close
        _mk_events(spark, [
            (3, t0 + pd.Timedelta(hours=2), 9, "a", 1.0, "{}"),
        ]).write.parquet(src, mode="append")
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    closed7 = got[(got.user_id == 7) & (got.closed)]
    assert len(closed7) == 1, got.to_string()
    assert closed7.n.iloc[0] == 2 and closed7.total.iloc[0] == pytest.approx(5.0)


def test_continuous_rollup_materialization(spark, tmpdir):
    """Continuous aggregate: the streaming zone×bucket rollup, materialized
    incrementally through the checkpointed sink, equals the BATCH rollup for
    every bucket the watermark has closed — across two appends and a query
    restart (idempotent replay)."""
    from lagespark.streaming import sink as ss

    src = f"{tmpdir}/cr_src"
    out = f"{tmpdir}/cr_out"
    ck = f"{tmpdir}/cr_ck"
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    batch1 = [(i, t0 + pd.Timedelta(minutes=7 * i), i % 5, "a", float(i), "{}")
              for i in range(20)]  # spans ~2.3 hours
    # ONE file per append: each append is one micro-batch, so the watermark
    # only advances BETWEEN appends (multi-file appends process in arbitrary
    # order and would drop same-append rows behind a racing watermark)
    _mk_events(spark, batch1).coalesce(1).write.parquet(src, mode="overwrite")

    def start():
        return ss.write_stream_checkpointed(
            ops.spatiotemporal_rollup_stream(ops.read_events_stream(spark, src)),
            out, ck, "zone",
        )

    q = start(); q.awaitTermination(120)
    # second append: later events ADVANCE the watermark past batch-1 buckets
    batch2 = [(100 + i, t0 + pd.Timedelta(hours=3, minutes=11 * i), i % 5, "a", 1.0, "{}")
              for i in range(6)]
    _mk_events(spark, batch2).coalesce(1).write.parquet(src, mode="append")
    q2 = start(); q2.awaitTermination(120)
    # third append: a far-future sentinel closes batch-2's buckets
    _mk_events(spark, [(999, t0 + pd.Timedelta(days=2), 1, "a", 0.0, "{}")]).coalesce(
        1
    ).write.parquet(src, mode="append")
    q3 = start(); q3.awaitTermination(120)
    # restart with no new data → replay must not duplicate finalized buckets
    q4 = start(); q4.awaitTermination(120)

    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["bucket_us", "zone"])
        .reset_index(drop=True)
    )
    assert not got.duplicated(["bucket_us", "zone"]).any()

    # batch-mode reference over the SAME events, restricted to buckets the
    # final watermark (sentinel - 10min late) closed
    all_events = spark.read.parquet(src)
    z = ops.zone_of_events(all_events, keep=("ts",)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ref = (
        z.groupBy(F.window("ts", "1 hour").alias("win"), "zone")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.unix_micros(F.col("win.start").cast("timestamp")).alias("bucket_us"),
            "zone", "n", "total",
        )
        .toPandas()
    )
    wm_us = int((t0 + pd.Timedelta(days=2) - pd.Timedelta(minutes=10)).value // 1000)
    closed = ref[ref.bucket_us + 3_600_000_000 <= wm_us]
    closed = closed.sort_values(["bucket_us", "zone"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["bucket_us", "zone", "n", "total"]],
        closed[["bucket_us", "zone", "n", "total"]],
        check_dtype=False,
    )
    assert len(got) > 0


def test_rate_source_to_events_shape(spark, tmpdir):
    """src-stream: the built-in rate source cast to the events shape
    (SURVEY §2.1) — synthetic infinite ingest for soak tests."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .selectExpr(
            "value AS event_id",
            "CAST(timestamp AS TIMESTAMP_NTZ) AS ts",
            "value % 50 AS user_id",
            "CASE WHEN value % 2 = 0 THEN 'click' ELSE 'view' END AS event_type",
            "CAST(value % 100 AS DOUBLE) AS value",
            "'{}' AS props",
        )
    )
    name = "r" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        for _ in range(40):
            n = spark.sql(f"SELECT COUNT(*) AS n FROM {name}").first()["n"]
            if n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    assert len(got) > 0
    assert set(got.columns) == {"event_id", "ts", "user_id", "event_type", "value", "props"}


# -- streaming near-dup suppression at ingest ---------------------------------


def _doc_corpus():
    """Two explicit ingest batches with cross-batch duplicates: batch 2
    carries exact copies and near-dups of batch-1 docs (plus fresh ones),
    so claims must resolve against batch-1 owners through the state."""
    import random

    rng = random.Random(11)
    letters = "abcdefghijklmnopqrstuvwxyz "
    base = [
        "".join(rng.choice(letters) for _ in range(90)) for _ in range(14)
    ]
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    b1, b2, i = [], [], 0
    for t in base:
        b1.append((i, t, t0 + pd.Timedelta(seconds=i)))
        i += 1
    for j, t in enumerate(base):
        if j % 3 == 0:  # exact cross-batch dup
            b2.append((i, t, t0 + pd.Timedelta(seconds=100 + i)))
            i += 1
        elif j % 3 == 1:  # near-dup: tail tweak
            b2.append((i, t[:-5] + "qzjxv", t0 + pd.Timedelta(seconds=100 + i)))
            i += 1
    for _ in range(4):  # fresh batch-2 docs
        b2.append(
            (
                i,
                "".join(rng.choice(letters) for _ in range(90)),
                t0 + pd.Timedelta(seconds=100 + i),
            )
        )
        i += 1
    return b1, b2


def _mk_docs(spark, rows):
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    return spark.createDataFrame(pdf)


def test_ingest_claims_batch_matches_independent_reference(spark):
    """q104 semantics vs a hashlib/pure-python replay of the md5 MinHash
    banding + first-writer-wins rule (independent of every Spark/SQL
    expression in the implementation)."""
    import hashlib

    b1, b2 = _doc_corpus()
    docs = _mk_docs(spark, b1 + b2).drop("ts")
    got = {
        (r.doc_id, r.band, r.dup_of)
        for r in ops.ingest_claims_batch(docs).collect()
    }

    perms, band_rows, n = 8, 2, 3
    owners: dict = {}
    want = set()
    for doc_id, text, _ in sorted(b1 + b2):  # arrival order = doc_id
        shingles = {text[k : k + n] for k in range(len(text) - n + 1)}
        if not shingles:
            continue
        hs = [hashlib.md5(s.encode()).hexdigest() for s in shingles]
        mh = [min(h[2 * p : 2 * p + 15] for h in hs) for p in range(perms)]
        for b in range(perms // band_rows):
            key = (
                b,
                "|".join(mh[b * band_rows + r] for r in range(band_rows)),
            )
            if key in owners:
                if owners[key] != doc_id:
                    want.add((doc_id, b, owners[key]))
            else:
                owners[key] = doc_id
    assert got == want and len(want) > 0


# ingest_claims_batch never emits a self-claim when one doc id appears on
# several rows (parity with the streaming fn's owner != rid guard)
def test_ingest_claims_batch_no_self_claim_on_duplicate_ids(spark):
    from lagespark.streaming import ops

    txt = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, txt), (1, txt), (2, txt), (3, "completely different words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.band, r.dup_of) for r in ops.ingest_claims_batch(docs).collect()}
    # no self-claims (id 1 appears twice but never claims itself)...
    assert not any(d == o for d, _, o in got)
    # ...while doc 2 (a true duplicate of doc 1) claims doc 1 in every band
    assert {(d, o) for d, _, o in got} == {(2, 1)}


def test_stream_dedup_minhash_matches_batch_replay(spark, tmpdir):
    """Streaming claims across TWO real micro-batches == the batch replay
    (ingest_claims_batch on the production xxhash64 path, ts order); exact
    cross-batch duplicates claim their batch-1 owner in EVERY band."""
    b1, b2 = _doc_corpus()
    src = f"{tmpdir}/docs_src"
    _mk_docs(spark, b1).write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(
        "doc_id bigint, text string, ts timestamp"
    ).parquet(src)
    name = "dd" + uuid.uuid4().hex[:8]
    q = (
        ops.dedup_stream_minhash(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/dd_ck")
        .start()
    )
    try:
        q.processAllAvailable()
        n_b1 = spark.sql(f"SELECT COUNT(*) FROM {name}").first()[0]
        _mk_docs(spark, b2).write.parquet(src, mode="append")
        q.processAllAvailable()
    finally:
        q.stop()
    got_pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    got = {(r.doc_id, r.band, r.dup_of) for r in got_pdf.itertuples()}

    want_df = ops.ingest_claims_batch(
        _mk_docs(spark, b1 + b2), order_col="ts", hashed=True
    )
    want = {(r.doc_id, r.band, r.dup_of) for r in want_df.collect()}
    assert got == want and len(want) > 0
    # batch-1 alone has no duplicates; every claim arrived in batch 2
    assert n_b1 == 0 and len(got_pdf) == len(got)
    # exact cross-batch dups claim their batch-1 owner in ALL 4 bands
    texts1 = {t: d for d, t, _ in b1}
    for d2, t2, _ in b2:
        if t2 in texts1:
            bands = {b for (d, b, o) in got if d == d2 and o == texts1[t2]}
            assert bands == {0, 1, 2, 3}, (d2, bands)


def test_stream_dedup_append_file_sink_and_suppressed_corpus(spark, tmpdir):
    """Production wiring: claims stream → APPEND parquet sink (the operator-
    level output mode must match the sink's), then the suppressed corpus =
    docs anti-joined to the claimed ids. Survivors must be exactly the
    batch replay's survivors."""
    b1, b2 = _doc_corpus()
    src = f"{tmpdir}/docs_src2"
    out = f"{tmpdir}/claims_pq"
    _mk_docs(spark, b1).write.parquet(src, mode="overwrite")
    _mk_docs(spark, b2).write.parquet(src, mode="append")
    stream = spark.readStream.schema(
        "doc_id bigint, text string, ts timestamp"
    ).parquet(src)
    q = (
        ops.dedup_stream_minhash(stream, output_mode="append")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{tmpdir}/dd_ck2")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # a False return = timeout on a contended box — fail HERE, not on a
    # confusing partial-claims assertion downstream (ADVICE r6)
    assert q.awaitTermination(120), "claims stream did not finish in 120 s"
    docs = _mk_docs(spark, b1 + b2)
    claims = spark.read.parquet(out)
    survivors = {
        r.doc_id
        for r in docs.join(
            claims.select("doc_id").distinct(), "doc_id", "left_anti"
        ).collect()
    }
    want_claims = ops.ingest_claims_batch(docs, order_col="ts", hashed=True)
    want_dup = {r.doc_id for r in want_claims.select("doc_id").collect()}
    assert survivors == {d for d, _, _ in b1 + b2} - want_dup
    assert len(survivors) < len(b1 + b2)  # something was actually suppressed


def test_stream_dedup_retention_evicts_idle_keys(spark, tmpdir):
    """retention_s bounds q104's per-batch state cost (VERDICT r6 wrong #1):
    keys idle past the retention horizon are evicted, so (a) a dup arriving
    WITHIN retention still claims its owner, (b) a dup arriving AFTER the
    cluster went idle past retention becomes a fresh owner (no claim) —
    dropDuplicatesWithinWatermark's standard trade — and (c) with
    retention longer than the stream span the claims equal the unbounded
    path exactly."""
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    txt_a = "alpha bravo charlie delta echo foxtrot golf hotel india"
    txt_b = "zulu yankee xray whiskey victor uniform tango sierra"
    b1 = [(1, txt_a, t0), (2, txt_b, t0 + pd.Timedelta(seconds=5))]
    # within retention (100 s): doc 3 dups doc 1 at +50 s
    b2 = [(3, txt_a, t0 + pd.Timedelta(seconds=50))]
    # beyond retention: doc 4 dups doc 1 at +500 s (cluster idle > 100 s)
    b3 = [(4, txt_a, t0 + pd.Timedelta(seconds=500))]

    def run(retention_s):
        tag = uuid.uuid4().hex[:8]
        src = f"{tmpdir}/ret_src_{tag}"
        name = "ret" + tag
        _mk_docs(spark, b1).write.parquet(src, mode="overwrite")
        stream = spark.readStream.schema(
            "doc_id bigint, text string, ts timestamp"
        ).parquet(src)
        q = (
            ops.dedup_stream_minhash(stream, retention_s=retention_s)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdir}/ret_ck_{tag}")
            .start()
        )
        try:
            q.processAllAvailable()
            _mk_docs(spark, b2).write.parquet(src, mode="append")
            q.processAllAvailable()
            _mk_docs(spark, b3).write.parquet(src, mode="append")
            q.processAllAvailable()
        finally:
            q.stop()
        return {
            (r.doc_id, r.dup_of)
            for r in spark.sql(f"SELECT doc_id, dup_of FROM {name}").collect()
        }

    bounded = run(100.0)
    # doc 3 claims within retention; doc 4 arrived after eviction -> no claim
    assert {d for d, _ in bounded} == {3}
    assert bounded and all(o == 1 for _, o in bounded)
    # retention longer than the whole stream == unbounded semantics
    assert run(10_000.0) == run(None)
    unbounded = run(None)
    assert {d for d, _ in unbounded} == {3, 4}


def test_stream_dedup_reorder_restores_ts_ownership(spark, tmpdir):
    """reorder_s (round 7): the EARLIEST-ts doc owns even when it arrives
    in a LATER micro-batch — the watermark buffer holds rows until
    max-seen-ts − reorder_s passes them, then applies in ts order. Claims
    surface only after the watermark flush (here: two far-future sentinel
    batches — one to advance the watermark, one to run the release)."""
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    txt = "alpha bravo charlie delta echo foxtrot golf hotel india"
    tag = uuid.uuid4().hex[:8]
    src = f"{tmpdir}/ro_src_{tag}"
    name = "ro" + tag
    # doc 1 (ts +10 s) arrives FIRST; doc 2 (ts +5 s) arrives in batch 2
    _mk_docs(spark, [(1, txt, t0 + pd.Timedelta(seconds=10))]).write.parquet(
        src, mode="overwrite"
    )
    stream = spark.readStream.schema(
        "doc_id bigint, text string, ts timestamp"
    ).parquet(src)
    q = (
        ops.dedup_stream_minhash(stream, reorder_s=60.0)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ro_ck_{tag}")
        .start()
    )
    try:
        q.processAllAvailable()
        for batch in (
            [(2, txt, t0 + pd.Timedelta(seconds=5))],
            [(999, "zulu yankee xray whiskey victor", t0 + pd.Timedelta(seconds=300))],
            [(998, "tango sierra romeo quebec papa", t0 + pd.Timedelta(seconds=600))],
        ):
            _mk_docs(spark, batch).write.parquet(src, mode="append")
            q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_id, r.dup_of)
        for r in spark.sql(f"SELECT doc_id, dup_of FROM {name}").collect()
    }
    # ts order, not arrival order: doc 2 (ts +5) owns, doc 1 claims it
    assert {d for d, _ in got} == {1}
    assert got and all(o == 2 for _, o in got)


def test_stream_dedup_reorder_matches_ts_oracle_on_scrambled_corpus(
    spark, tmpdir
):
    """Bounded-disorder ingest + reorder_s == the ts-window batch oracle:
    the _doc_corpus docs arrive SCRAMBLED across two micro-batches (odd
    ids first — later-ts docs precede earlier-ts ones by up to ~125 s),
    reorder_s exceeds the disorder, and the flushed claims must equal
    ingest_claims_batch(order_col='ts') exactly."""
    b1, b2 = _doc_corpus()
    docs = b1 + b2
    arrive_a = [d for d in docs if d[0] % 2 == 1]
    arrive_b = [d for d in docs if d[0] % 2 == 0]
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    sent1 = [(9001, "qq ww ee rr tt yy uu ii oo pp", t0 + pd.Timedelta(seconds=1000))]
    sent2 = [(9002, "aa ss dd ff gg hh jj kk ll zz", t0 + pd.Timedelta(seconds=2000))]
    tag = uuid.uuid4().hex[:8]
    src = f"{tmpdir}/ros_src_{tag}"
    name = "ros" + tag
    _mk_docs(spark, arrive_a).write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(
        "doc_id bigint, text string, ts timestamp"
    ).parquet(src)
    q = (
        ops.dedup_stream_minhash(stream, reorder_s=200.0)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ros_ck_{tag}")
        .start()
    )
    try:
        q.processAllAvailable()
        for batch in (arrive_b, sent1, sent2):
            _mk_docs(spark, batch).write.parquet(src, mode="append")
            q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_id, r.band, r.dup_of)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    want_df = ops.ingest_claims_batch(
        _mk_docs(spark, docs), order_col="ts", hashed=True
    )
    want = {(r.doc_id, r.band, r.dup_of) for r in want_df.collect()}
    assert got == want and len(want) > 0


def test_stream_dedup_phash_claims_match_batch_replay(spark, tmpdir):
    """Multimodal ingest dedup (round 7): streaming pHash band claims over
    (image_id, phash, ts) — string ids, no payload column anywhere near
    the state machinery — equal ingest_claims_batch_phash(order_col='ts')
    under monotone ingest, twin + near-twin suppressed across batches."""
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    pa = 0x123456789ABCDEF0
    b1 = [("a1", pa, t0), ("a2", 0x7EDCBA9876543210, t0 + pd.Timedelta(seconds=1))]
    b2 = [
        ("b1", pa, t0 + pd.Timedelta(seconds=60)),            # exact twin of a1
        ("b2", pa ^ 0x0003, t0 + pd.Timedelta(seconds=61)),   # near: band 0 differs
        ("b3", 0x0F0F0F0F0F0F0F0F, t0 + pd.Timedelta(seconds=62)),  # fresh
    ]

    def mk(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["image_id", "phash", "ts"])
        )

    tag = uuid.uuid4().hex[:8]
    src = f"{tmpdir}/ph_src_{tag}"
    name = "ph" + tag
    mk(b1).write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(
        "image_id string, phash bigint, ts timestamp"
    ).parquet(src)
    q = (
        ops.dedup_stream_phash(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ph_ck_{tag}")
        .start()
    )
    try:
        q.processAllAvailable()
        mk(b2).write.parquet(src, mode="append")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.image_id, r.band, r.dup_of)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    want = {
        (r.image_id, r.band, r.dup_of)
        for r in ops.ingest_claims_batch_phash(mk(b1 + b2), order_col="ts").collect()
    }
    assert got == want
    # exact twin claims all 4 bands; the near twin the 3 unchanged ones
    assert {(d, o) for d, _, o in got} == {("b1", "a1"), ("b2", "a1")}
    assert sum(1 for d, _, _ in got if d == "b1") == 4
    assert sum(1 for d, _, _ in got if d == "b2") == 3


def test_ingest_claims_batch_phash_on_generated_twins(spark):
    """Batch pHash claims over the real generated image table: every
    injected qdct twin (dup_every=10) claims its source — pigeonhole
    guarantees a shared band at hamming <= 3 (twins measure <= 2)."""
    from lagespark.operators import image_ops

    imgs = image_ops.generate_with_neardups(spark, 200, partitions=8)
    claims = ops.ingest_claims_batch_phash(imgs, order_col=None).collect()
    dup_ids = {r.image_id for r in claims}
    # order_col=None orders by id: "dupNNN" < "imgNNN", so sources claim
    want_claimers = {f"img{i:08d}" for i in range(0, 200, 10)}
    assert want_claimers <= dup_ids
