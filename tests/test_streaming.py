"""Structured Streaming tests: file source -> extraction/enrichment ->
windowed watermarked aggregation -> memory sink, availableNow trigger."""

import datetime as dt
import os
import time

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from polars_iptools_spark.streaming import enrich as se


def _pin_batch_order(in_dir):
    """FileStreamSource orders files by modification timestamp; on a
    coarse-granularity filesystem two back-to-back writes can tie and
    swap the micro-batches (flaking first_ts assertions that assume
    b1 processes before b2).  Pin b1 < b2 < ... strictly."""
    now = time.time()
    # numeric sort: lexicographic would pin 'b10' older than 'b2' once
    # a test reaches 10+ batches, silently reordering micro-batches
    subs = sorted(
        (p.name for p in in_dir.iterdir() if p.is_dir()),
        key=lambda n: int("".join(c for c in n if c.isdigit()) or 0),
    )
    for i, sub in enumerate(subs):
        mtime = now - 60 * (len(subs) - i)
        for p in (in_dir / sub).rglob("*"):
            os.utime(p, (mtime, mtime))

SCHEMA = StructType(
    [StructField("ts", TimestampType(), True), StructField("text", StringType(), True)]
)


def _write_input(spark, path):
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (base + dt.timedelta(seconds=10), "conn from 67.43.156.1 ok"),
        (base + dt.timedelta(seconds=20), "conn from 67.43.156.1 again"),
        (base + dt.timedelta(seconds=70), "seen 8.8.8.8 and 10.0.0.1"),
        (base + dt.timedelta(seconds=80), "defanged 67[.]43[.]156[.]1 indicator"),
        (base + dt.timedelta(seconds=90), "no indicators here"),
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(path)


def _run(spark, stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within timeout"
    return spark.table(name)


def test_streaming_extract_and_window(spark, tmp_path):
    path = str(tmp_path / "in")
    _write_input(spark, path)
    stream = spark.readStream.schema(SCHEMA).parquet(path)
    ind = se.extract_indicators_stream(stream, "text", "ts")
    counts = se.windowed_indicator_counts(ind, window="1 minute")
    # append mode only emits watermark-closed windows; with a bounded
    # replay the final windows never close, so assert over complete mode
    out = _run(spark, counts, "win_counts", mode="complete")
    rows = {(r.window_start.minute, r.ip): r.hits for r in out.collect()}
    # minute 0: two hits of 67.43.156.1; minute 1: 8.8.8.8 once + defanged 67.43.156.1
    assert rows[(0, "67.43.156.1")] == 2
    assert rows[(1, "8.8.8.8")] == 1
    assert rows[(1, "67.43.156.1")] == 1
    # private 10.0.0.1 filtered by only_public
    assert not any(ip == "10.0.0.1" for (_, ip) in rows)


def test_streaming_enrich(spark, tmp_path, maxmind_dir):
    path = str(tmp_path / "in2")
    _write_input(spark, path)
    stream = spark.readStream.schema(SCHEMA).parquet(path)
    ind = se.extract_indicators_stream(stream, "text", "ts")
    enriched = se.enrich_stream(ind, "ip", db_dir=maxmind_dir).select(
        "ip", F.col("geo.asnnum").alias("asnnum")
    )
    out = _run(spark, enriched, "enriched_stream")
    got = {(r.ip, r.asnnum) for r in out.collect()}
    assert ("67.43.156.1", 35908) in got


def test_streaming_dedup(spark, tmp_path):
    path = str(tmp_path / "in3")
    _write_input(spark, path)
    stream = spark.readStream.schema(SCHEMA).parquet(path)
    ind = se.extract_indicators_stream(stream, "text", "ts")
    deduped = se.dedup_stream(ind, ["ip"], "ts", watermark="1 hour")
    out = _run(spark, deduped, "dedup_stream")
    ips = [r.ip for r in out.collect()]
    assert sorted(set(ips)) == sorted(ips)  # no duplicate ip rows
    assert "67.43.156.1" in ips and "8.8.8.8" in ips


def test_first_seen_stateful(spark, tmp_path):
    """applyInPandasWithState: an indicator is emitted only on its
    first sighting across micro-batches."""
    base = dt.datetime(2026, 1, 1)
    in_dir = tmp_path / "state_in"
    in_dir.mkdir()
    batch1 = [(base, "first 67.43.156.1 here"), (base, "also 8.8.8.8")]
    batch2 = [
        (base + dt.timedelta(minutes=1), "again 67.43.156.1 repeat"),
        (base + dt.timedelta(minutes=1), "new 9.9.9.9"),
    ]
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.parquet(str(in_dir / "b1"))
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.parquet(str(in_dir / "b2"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "b*"))
    )
    ind = se.extract_indicators_stream(stream, "text", "ts")
    firsts = se.first_seen_indicators(ind)
    q = (
        firsts.writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish within timeout"
    rows = {r.ip: r for r in spark.table("first_seen").collect()}
    # each indicator appears exactly once despite the repeat in batch 2
    assert set(rows) == {"67.43.156.1", "8.8.8.8", "9.9.9.9"}


def test_windowed_event_stats_equals_batch(spark, tmp_path):
    """The generic (ts, key, id) windowed stats over an availableNow
    stream must equal the batch GROUP BY on the same data."""
    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=i * 700),
         ["click", "view", "error"][i % 3])
        for i in range(40)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    src = str(tmp_path / "ev_src")
    ev.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        se.windowed_event_stats(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("ev_stats_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.key): (r.n, r.min_id, r.max_id)
        for r in spark.table("ev_stats_t").collect()
    }
    batch = {
        (r.ws, r.key): (r.n, r.min_id, r.max_id)
        for r in ev.groupBy(
            F.window("ts", "1 hour").start.alias("ws"),
            F.col("event_type").alias("key"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        ).collect()
    }
    assert got == batch and len(got) >= 6


def test_first_seen_native_matches_stateful_keys(spark, tmp_path):
    """The JVM-native dropDuplicates fast path emits the SAME key set
    as the stateful op, one row per distinct indicator, with first_ts
    drawn from that indicator's own rows."""
    base = dt.datetime(2026, 1, 1)
    in_dir = tmp_path / "native_in"
    in_dir.mkdir()
    batch1 = [(base, "first 67.43.156.1 here"), (base, "also 8.8.8.8")]
    batch2 = [
        (base + dt.timedelta(minutes=1), "again 67.43.156.1 repeat"),
        (base + dt.timedelta(minutes=1), "new 9.9.9.9"),
    ]
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.parquet(str(in_dir / "b1"))
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.parquet(str(in_dir / "b2"))
    _pin_batch_order(in_dir)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "b*"))
    )
    ind = se.extract_indicators_stream(stream, "text", "ts")
    q = (
        se.first_seen_indicators_native(ind)
        .writeStream.format("memory")
        .queryName("first_seen_native")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_native"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish within timeout"
    rows = spark.table("first_seen_native").collect()
    assert len(rows) == 3  # one row per distinct indicator
    by_ip = {r.ip: r.first_ts for r in rows}
    assert set(by_ip) == {"67.43.156.1", "8.8.8.8", "9.9.9.9"}
    # 67.43.156.1 appears in both batches; its first micro-batch row
    # carries ts=base, so the native path must emit base, not +1min
    assert by_ip["67.43.156.1"] == base
    assert by_ip["9.9.9.9"] == base + dt.timedelta(minutes=1)


def test_first_seen_bounded_evicts_and_reemits(spark, tmp_path):
    """The watermarked variant evicts a quiet key's state and re-emits
    it as newly seen after the gap.

    Timeline (watermark delay 1h, one file per micro-batch, order
    pinned): b1 A@base — emitted, state expires at base+1h.
    b2 B@base+2h30 — emitted; the watermark advances to base+1h30,
    which takes effect in the NEXT batch.  b3 C@base+2h45 — emitted;
    at this batch's end the state store evicts A (expiry base+1h <
    watermark base+1h30).  b4 A@base+3h — re-emitted as newly seen
    after the quiet gap.  Two timing subtleties this pins: eviction
    happens at the end of the batch AFTER the watermark-advancing one
    (hence b3), and suppressed duplicates do NOT extend A's expiration
    (expiry stays anchored at the first retained sighting's event time
    plus the delay) — b2/b3 omit A simply to leave its state row
    untouched until eviction.
    """
    base = dt.datetime(2026, 1, 1)
    in_dir = tmp_path / "bounded_in"
    in_dir.mkdir()
    batches = [
        [(base, "first 67.43.156.1 here")],
        [(base + dt.timedelta(hours=2, minutes=30), "new 8.8.8.8")],
        [(base + dt.timedelta(hours=2, minutes=45), "new 9.9.9.9")],
        [(base + dt.timedelta(hours=3), "back 67.43.156.1 after gap")],
    ]
    for i, batch in enumerate(batches, 1):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.parquet(
            str(in_dir / f"b{i}")
        )
    _pin_batch_order(in_dir)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "b*"))
    )
    ind = se.extract_indicators_stream(stream, "text", "ts")
    q = (
        se.first_seen_indicators_bounded(ind, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("first_seen_bounded")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bounded"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish within timeout"
    rows = spark.table("first_seen_bounded").collect()
    got = sorted((r.ip, r.first_ts) for r in rows)
    assert got == [
        ("67.43.156.1", base),
        ("67.43.156.1", base + dt.timedelta(hours=3)),
        ("8.8.8.8", base + dt.timedelta(hours=2, minutes=30)),
        ("9.9.9.9", base + dt.timedelta(hours=2, minutes=45)),
    ]
