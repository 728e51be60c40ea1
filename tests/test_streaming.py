"""Structured Streaming rollup: streamed 1m tier == batch 1m tier, and
checkpoint restart is a no-op (resume semantics). Stateful streaming
chunk encoder: sealed chunks bit-identical to the batch codec."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from mtslake import chunk, rollup, streaming
from mtslake.config import DEFAULT, US_PER_HOUR
from mtslake.datagen import generate_pages
from mtslake.series import pages_to_series


@pytest.fixture(scope="module")
def series_parquet(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src"))
    pages = generate_pages(spark, n_urls=12, snapshots_per_url=48, n_hot=1,
                           hot_factor=5)
    series = pages_to_series(pages)
    series.write.mode("overwrite").parquet(d)
    return d, series


def _run(spark, src, out, ck):
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = streaming.run_stream_to_parquet(stream, out, ck, tier="1m").start()
    q.awaitTermination()


def test_streaming_equals_batch(spark, series_parquet, tmp_path):
    src, series = series_parquet
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run(spark, src, out, ck)
    got = spark.read.parquet(out)
    exp = rollup.rollup_from_series(series, "1m")
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in exp.collect()}
    # availableNow + append emits only watermark-closed windows; every
    # emitted window must match batch exactly, and coverage must be
    # nearly total (only the final open windows may be withheld)
    assert g <= e
    assert len(g) >= len(e) - 24

    # restart from checkpoint: nothing new to process -> no duplicates
    _run(spark, src, out, ck)
    again = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert again == g


def test_stateful_streaming_compress_bit_identical(spark, series_parquet,
                                                   tmp_path):
    """applyInPandasWithState chunk sealer: every chunk sealed by the
    stream equals the batch-encoded chunk byte for byte, and the sealed
    set is exactly the chunks closed by the watermark after batch 1."""
    _, series = series_parquet
    cfg = DEFAULT.with_overrides(chunk_duration_us=US_PER_HOUR)

    # two micro-batches in time order: split the series at the median ts
    split = series.approxQuantile("ts_us", [0.5], 0.0)[0]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, part in enumerate([
        series.filter(F.col("ts_us") < split),
        series.filter(F.col("ts_us") >= split),
    ]):
        d = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(d)
        f = glob.glob(f"{d}/part-*.parquet")[0]
        dst = f"{src}/{i:02d}.parquet"
        shutil.move(f, dst)
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))

    stream = spark.readStream.schema(series.schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    out, ck = str(tmp_path / "chunks"), str(tmp_path / "ck")
    q = streaming.run_compress_stream_to_parquet(stream, out, ck, cfg).start()
    q.awaitTermination()

    got = spark.read.parquet(out)
    batch = chunk.compress_series(series, cfg)
    # the trailing no-data micro-batch advances the watermark to the
    # global max event time (ms precision) and fires the event-time
    # timeouts: exactly the chunks strictly below it are sealed —
    # including straddle chunks merged across micro-batch state
    wm_us = (series.agg(F.max("ts_us")).first()[0] // 1000) * 1000
    expected = batch.filter(F.col("chunk_id") < wm_us // US_PER_HOUR)
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g == e
    assert len(g) > 0

    # restart from checkpoint: nothing new -> no duplicate chunks
    q = streaming.run_compress_stream_to_parquet(stream, out, ck, cfg).start()
    q.awaitTermination()
    assert {tuple(r) for r in spark.read.parquet(out).collect()} == g


def test_sealer_state_bounded_by_hot_chunk_points(spark, tmp_path):
    """A single open chunk bigger than hot_chunk_points must NOT sit in
    GroupState whole: every complete segment is sealed immediately (the
    batch hot-chunk layout), so state holds < hot_chunk_points rows per
    url no matter how hot the url is. With in-order arrival the early
    flush is bit-identical to the batch encoder's segmentation."""
    import pandas as pd

    cfg = DEFAULT.with_overrides(
        chunk_duration_us=US_PER_HOUR, hot_chunk_points=10_000
    )
    n = 30_000  # one 50-minute chunk, 3 full segments
    t0 = 1_700_000_000_000_000 - (1_700_000_000_000_000 % US_PER_HOUR)
    pdf = pd.DataFrame({
        "url": "https://hot.example.com/",
        "lang": "en",
        "ts_us": t0 + 100_000 * pd.RangeIndex(n).to_numpy(),
        "n_chars": (pd.RangeIndex(n).to_numpy() % 997) + 100,
        "value": pd.RangeIndex(n).to_numpy() * 0.5,
        "text_sha1": [f"{i:040x}" for i in range(n)],
    })
    series = spark.createDataFrame(pdf, schema=chunk.SERIES_SCHEMA)
    src = str(tmp_path / "src")
    series.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(series.schema).parquet(src)
    out, ck = str(tmp_path / "chunks"), str(tmp_path / "ck")
    q = streaming.run_compress_stream_to_parquet(stream, out, ck, cfg).start()
    q.awaitTermination()

    got = spark.read.parquet(out)
    # watermark never passes the chunk end (max event ts is inside the
    # chunk), yet all three full segments must already be sealed —
    # proof the open chunk was not held in state
    assert got.count() == 3
    assert {r["n_points"] for r in got.collect()} == {10_000}
    batch = chunk.compress_series(series, cfg)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_sealed_chunks_keep_nan_value_stats(spark, tmp_path):
    """The streaming mirror of test_nan_values_do_not_poison_pruning_stats
    (test_plans.py): a sealed chunk's NaN ``value_max`` must reach the
    store as NaN, not NULL. With NULL, ``value_max >= lower`` is NULL and
    value pruning drops the chunk together with its finite rows."""
    import math

    from mtslake.catalog import prune_chunks_by_value

    day = 86_400_000_000
    url = "https://a.example.com/x"

    def at(chunk_id, hour):  # day chunks; ts > 0 so no row is late
        return (1 + chunk_id) * day + hour * 3_600_000_000

    rows = [(url, at(0, i), 10, v, "00" * 20, "en")
            for i, v in enumerate([1.0, float("nan"), 3.0,
                                   float("nan"), 5.0])]
    rows += [(url, at(1, i), 10, float("nan"), "00" * 20, "en")
             for i in range(3)]
    rows += [(url, at(2, i), 10, 100.0 + i, "00" * 20, "en")
             for i in range(3)]
    # a row in chunk 3 moves the watermark past chunks 0-2, sealing them
    rows.append((url, at(3, 0), 10, 7.0, "00" * 20, "en"))
    series = spark.createDataFrame(
        rows, "url string, ts_us long, n_chars long, value double, "
        "text_sha1 string, lang string",
    )
    src = str(tmp_path / "src")
    series.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(series.schema).parquet(src)
    out, ck = str(tmp_path / "chunks"), str(tmp_path / "ck")
    streaming.run_compress_stream_to_parquet(
        stream, out, ck, DEFAULT).start().awaitTermination()

    got = spark.read.parquet(out)
    stats = {r["chunk_id"] - 1: (r["value_min"], r["value_max"])
             for r in got.collect()}
    assert set(stats) == {0, 1, 2}
    assert stats[0][0] == 1.0 and math.isnan(stats[0][1])
    assert math.isnan(stats[1][0]) and math.isnan(stats[1][1])
    assert stats[2] == (100.0, 102.0)
    # engine order keeps NaN for a lower bound: chunk 0's finite rows
    # 3.0 and 5.0 and the all-NaN chunk survive the prune
    kept = prune_chunks_by_value(got, "value", lower=2.0)
    assert kept.count() == 3
    decoded = chunk.decompress_chunks(kept).filter(F.col("value") >= 2.0)
    assert {r["value"] for r in decoded.collect()
            if not math.isnan(r["value"])} == {3.0, 5.0, 100.0, 101.0,
                                               102.0}
    # and the sealed rows are the batch rows, byte for byte
    cols = [c for c in got.columns if c not in ("value_min", "value_max")]
    batch = chunk.compress_series(series, DEFAULT).filter(
        F.col("chunk_id") < 4)
    assert {tuple(r) for r in got.select(cols).collect()} == \
        {tuple(r) for r in batch.select(cols).collect()}


def test_streaming_tier_reaggregates_into_batch_1h(spark, series_parquet,
                                                   tmp_path):
    src, series = series_parquet
    out, ck = str(tmp_path / "out1m"), str(tmp_path / "ck1m")
    _run(spark, src, out, ck)
    got_1h = rollup.rollup_from_tier(spark.read.parquet(out), "1h")
    exp_1h = rollup.rollup_from_series(series, "1h")
    # append mode withholds windows still open at the global watermark;
    # below a safe cutoff the streamed tier must equal batch EXACTLY
    max_ts = series.agg(F.max("ts_us")).first()[0]
    cutoff = max_ts - 2 * 3_600_000_000
    g = {tuple(r) for r in got_1h.filter(F.col("bucket_us") < cutoff).collect()}
    e = {tuple(r) for r in exp_1h.filter(F.col("bucket_us") < cutoff).collect()}
    assert g == e


def test_late_rows_past_watermark_are_counted(spark, tmp_path):
    """Spark does NOT filter late input for applyInPandasWithState —
    the sealer handles lateness itself. Under both policies the late
    count must be observable via the accumulator + record_late_drops;
    'seal' keeps the rows (own segment of the closed chunk), 'drop'
    discards them (retention-horizon semantics)."""
    import pandas as pd

    from mtslake.catalog import ChunkStore

    cfg = DEFAULT.with_overrides(chunk_duration_us=US_PER_HOUR)
    t0 = 1_700_000_000_000_000 - (1_700_000_000_000_000 % US_PER_HOUR)

    def mk(ts_list, tag):
        return pd.DataFrame({
            "url": "https://late.example.com/",
            "lang": "en",
            "ts_us": ts_list,
            "n_chars": 100,
            "value": 1.0,
            "text_sha1": [f"{tag}{i:039x}"[:40]
                          for i in range(len(ts_list))],
        })

    # batch 0: fresh data 3 hours in -> watermark advances to its max
    # batch 1: 5 rows from hour 0, far behind the watermark -> LATE
    fresh = mk([t0 + 3 * US_PER_HOUR + i * 1_000_000 for i in range(20)], "a")
    late = mk([t0 + i * 1_000_000 for i in range(5)], "b")
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, pdf in enumerate([fresh, late]):
        part = spark.createDataFrame(pdf, schema=chunk.SERIES_SCHEMA)
        d = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(d)
        f = glob.glob(f"{d}/part-*.parquet")[0]
        dst = f"{src}/{i:02d}.parquet"
        shutil.move(f, dst)
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))

    for policy, expect_rows in (("drop", 0), ("seal", 1)):
        ctr = spark.sparkContext.accumulator(0)
        stream = spark.readStream.schema(
            chunk.SERIES_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
        out = str(tmp_path / f"chunks_{policy}")
        ck = str(tmp_path / f"ck_{policy}")
        q = streaming.run_compress_stream_to_parquet(
            stream, out, ck, cfg, late_policy=policy, late_counter=ctr
        ).start()
        q.awaitTermination()

        st = ChunkStore(spark, str(tmp_path / f"store_{policy}"))
        counts = streaming.record_late_drops(st, q, job_id="t",
                                             late_counter=ctr)
        assert counts["sealer_late_rows"] == 5, counts
        assert counts["total"] == 5, counts
        # the loss/lateness is persisted for alerting
        persisted = spark.read.parquet(st.path("lineage_stream"))
        assert persisted.agg(F.sum("rows_dropped_late")).first()[0] == 5
        # drop: late rows truly absent; seal: present as their own
        # segment row of the long-closed chunk
        sealed = spark.read.parquet(out)
        got = sealed.filter(F.col("chunk_id") == t0 // US_PER_HOUR)
        assert got.count() == expect_rows, policy
        if expect_rows:
            assert got.first()["n_points"] == 5


def test_sealer_checkpoint_recovery_across_restart(spark, series_parquet,
                                                   tmp_path):
    """Kill-and-restart exactly-once: the sealer runs to completion on
    batch 1 (epoch committed, process 'dies'), batch 2 arrives, and a
    NEW query restarts from the same checkpoint. The recovered
    GroupState must carry batch 1's open straddle chunks across the
    restart, so the final sealed set is bit-identical to the batch
    codec over the full series — no duplicated chunks from epoch
    replay, no split straddle chunks, no loss (reference analogue:
    chop/resume determinism, tests.py:451-492)."""
    _, series = series_parquet
    cfg = DEFAULT.with_overrides(chunk_duration_us=US_PER_HOUR)
    split = series.approxQuantile("ts_us", [0.5], 0.0)[0]
    parts = [
        series.filter(F.col("ts_us") < split),
        series.filter(F.col("ts_us") >= split),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    out, ck = str(tmp_path / "chunks"), str(tmp_path / "ck")

    def _add_file(i, part):
        d = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(d)
        f = glob.glob(f"{d}/part-*.parquet")[0]
        dst = f"{src}/{i:02d}.parquet"
        shutil.move(f, dst)
        os.utime(dst, (1_000_000_000 + i * 100,) * 2)

    def _run_once():
        stream = spark.readStream.schema(series.schema).parquet(src)
        q = streaming.run_compress_stream_to_parquet(
            stream, out, ck, cfg).start()
        q.awaitTermination()

    _add_file(0, parts[0])
    _run_once()                      # epoch committed; "process dies"
    sealed_1 = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert len(sealed_1) > 0

    _add_file(1, parts[1])
    _run_once()                      # restart: recovers state + offsets

    got = spark.read.parquet(out)
    # no chunk sealed twice across the restart
    dup = (got.groupBy("url", "chunk_id").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0
    # run-1 seals are replay-stable (byte-identical rows still present)
    final = {tuple(r) for r in got.collect()}
    assert sealed_1 <= final
    # final set ≡ batch codec below the recovered global watermark —
    # including straddle chunks whose first half lived in pre-restart
    # state (bit-identical: payloads, sha1s, stats)
    wm_us = (series.agg(F.max("ts_us")).first()[0] // 1000) * 1000
    batch = chunk.compress_series(series, cfg)
    expected = batch.filter(F.col("chunk_id") < wm_us // US_PER_HOUR)
    assert final == {tuple(r) for r in expected.collect()}


def test_stream_stream_interval_join_equals_batch(spark, series_parquet,
                                                  tmp_path):
    """Stream-stream interval join: the availableNow emitted set equals
    the batch join with the identical interval condition — every
    qualifying pair exactly once (inner join, append mode)."""
    src, series = series_parquet
    par = F.pmod(F.floor(F.col("ts_us") / F.lit(1_000_000)), F.lit(2))
    left, right = series.filter(par == 0), series.filter(par == 1)
    srcl, srcr = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(srcl)
    right.write.parquet(srcr)
    ls = spark.readStream.schema(series.schema).parquet(srcl)
    rs = spark.readStream.schema(series.schema).parquet(srcr)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = streaming.run_interval_join_to_parquet(
        ls, rs, out, ck, max_lag_us=900_000_000).start()
    q.awaitTermination()
    got = [tuple(r) for r in spark.read.parquet(out)
           .select("url", "ts_l", "ts_r", "v_l", "v_r").collect()]

    lag = 900_000_000
    lb = left.select(F.col("url"), F.col("ts_us").alias("ts_l"),
                     F.col("value").alias("v_l"))
    rb = right.select(F.col("url").alias("u2"),
                      F.col("ts_us").alias("ts_r"),
                      F.col("value").alias("v_r"))
    exp = [tuple(r) for r in lb.join(
        rb, (F.col("url") == F.col("u2"))
        & (F.col("ts_r") >= F.col("ts_l") - lag)
        & (F.col("ts_r") <= F.col("ts_l") + lag),
    ).select("url", "ts_l", "ts_r", "v_l", "v_r").collect()]
    assert sorted(got) == sorted(exp)
    assert len(got) > 0


def test_streaming_ohlc_equals_batch(spark, series_parquet, tmp_path):
    """Sealed streaming candles must equal the batch OHLC aggregate
    bit-for-bit — same struct-ordered open/close selection on both
    paths; only the final open windows may be withheld by append."""
    from mtslake.series import ohlc, url_prefix
    from pyspark.sql import functions as F

    src, series = series_parquet
    out, ck = str(tmp_path / "ohlc_out"), str(tmp_path / "ohlc_ck")
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        streaming.streaming_ohlc(stream, tier="1h", watermark="0 seconds")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    hour = 3_600_000_000
    keyed = series.select(
        url_prefix().alias("url_prefix"), "lang",
        (F.col("ts_us") - F.pmod(F.col("ts_us"), F.lit(hour)))
        .alias("bucket_us"),
        "ts_us", "value",
    )
    exp = {tuple(r) for r in ohlc(
        keyed, ["url_prefix", "lang", "bucket_us"]).collect()}
    assert got <= exp
    n_keys = series.select("url").distinct().count()
    assert len(got) >= len(exp) - 2 * n_keys   # only trailing open windows


def test_streaming_uptime_equals_batch(spark, series_parquet, tmp_path):
    """Sealed streaming liveness rows must equal the batch uptime
    operator exactly over the sealed bucket set (buckets whose end the
    final watermark passed); restart from checkpoint emits nothing
    new."""
    from mtslake.sessions import uptime

    src, series = series_parquet
    out, ck = str(tmp_path / "up_out"), str(tmp_path / "up_ck")
    lease = 30 * 60 * 1_000_000

    def _run():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = (
            streaming.streaming_uptime(stream, lease, tier="1h",
                                       watermark="0 seconds")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _run()
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got, "no sealed liveness rows emitted"
    batch = uptime(series.select("url", "ts_us"), lease, "1h")
    exp = {tuple(r) for r in batch
           .select("url", "bucket_us", "uptime_us", "n_islands").collect()}
    assert got <= exp
    # coverage: everything but each url's trailing unsealed buckets
    max_ts = series.agg(F.max("ts_us")).first()[0]
    hour = 3_600_000_000
    sealed_exp = {t for t in exp if t[1] + hour <= (max_ts // hour) * hour}
    assert sealed_exp <= got

    _run()  # checkpoint restart: nothing new -> no duplicates
    again = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert again == got


def test_streaming_sliding_equals_batch_windows(spark, series_parquet,
                                                tmp_path):
    """Sliding 1h/15m windows: every sealed streaming window matches
    the batch rebuild (each event in exactly window/slide = 4
    windows), and restart from checkpoint emits nothing new."""
    src, series = series_parquet
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = (
            streaming.streaming_sliding_rollup(
                stream, window="1 hour", slide="15 minutes",
                watermark="0 seconds",
            )
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ck)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run()
    got = {tuple(r) for r in spark.read.parquet(out).collect()}

    slide_us, win_us = 900_000_000, 3_600_000_000
    from mtslake.rollup import vsum_cast
    from mtslake.series import url_prefix

    offs = spark.range(4).select(F.col("id").alias("_i"))
    exp_df = (
        series.crossJoin(offs)
        .select(
            url_prefix(), "lang", "value",
            ((F.col("ts_us") - F.pmod(F.col("ts_us"), F.lit(slide_us)))
             - F.col("_i") * slide_us).alias("bucket_us"),
        )
        .groupBy("url_prefix", "lang", "bucket_us")
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.sum(vsum_cast("value")).cast("decimal(38,18)").alias("vsum"),
        )
        .select("url_prefix", "lang", "bucket_us",
                (F.col("bucket_us") + win_us).alias("bucket_end_us"),
                "cnt", "vmin", "vmax", "vsum")
    )
    exp = {tuple(r) for r in exp_df.collect()}
    assert got <= exp
    # every window ending a slide before max(ts) must be emitted
    max_ts = series.agg(F.max("ts_us")).first()[0]
    sealed = {e for e in exp if e[3] + slide_us <= max_ts}
    assert sealed <= got

    run()  # checkpoint restart: no new data -> no duplicates
    again = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert again == got


def test_uptime_sealed_frontier_survives_state_removal(spark, tmp_path):
    """Sealed-rows-final under late replay: after a url's state is
    removed (pings drained past the frontier), a late re-delivered
    ping must NOT re-emit an already-sealed bucket. This holds because
    Spark filters input rows with ts <= the previous batch's watermark
    before applyInPandasWithState (so a replayed ping behind the
    frontier never reaches the handler) — this test pins that
    engine-level assumption: if a Spark upgrade changes the late-input
    filtering semantics, the duplicate shows up here."""
    import pandas as pd

    src = str(tmp_path / "src")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    hour = 3_600_000_000
    lease = 30 * 60 * 1_000_000

    def _write(name, rows):
        spark.createDataFrame(rows, "url string, ts_us long")\
            .coalesce(1).write.mode("append").parquet(src)

    def _run():
        stream = spark.readStream.schema("url string, ts_us long")\
            .parquet(src)
        q = (
            streaming.streaming_uptime(stream, lease, tier="1h",
                                       watermark="0 seconds")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: url a's pings end at 1h; url wm drives the watermark to
    # 5h, sealing a's buckets and emptying a's retained pings
    _write("r1", [("a", 0), ("a", hour), ("wm", 5 * hour)])
    _run()
    first = spark.read.parquet(out).collect()
    a_buckets = [r for r in first if r["url"] == "a"]
    assert a_buckets, "url a should have sealed buckets after run 1"

    # run 2: a LATE re-delivered ping for a (behind the 5h frontier)
    # plus fresh data advancing the watermark — must NOT re-emit any
    # already-sealed (url, bucket)
    _write("r2", [("a", hour // 2), ("wm", 6 * hour)])
    _run()
    rows = spark.read.parquet(out).collect()
    keys = [(r["url"], r["bucket_us"]) for r in rows]
    assert len(keys) == len(set(keys)), (
        "duplicate sealed (url, bucket) rows after late replay: "
        f"{sorted(k for k in keys if keys.count(k) > 1)}"
    )


def test_record_late_drops_is_idempotent(spark, tmp_path):
    """Regression: each call re-appended every batch still in
    recentProgress plus the cumulative accumulator, so a scheduled
    caller over-counted severalfold. Re-recording the same finished
    query must append nothing new."""
    from mtslake.catalog import ChunkStore
    from mtslake.streaming import record_late_drops

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("https://u.example.com/x", "en", i * 60_000_000, float(i))
         for i in range(50)],
        "url string, lang string, ts_us long, value double"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "url string, lang string, ts_us long, value double").parquet(src)
    q = (
        streaming.streaming_rollup(stream, "1m", watermark="0 seconds")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    store = ChunkStore(spark, str(tmp_path / "store"))
    record_late_drops(store, q, "j1")
    once = (spark.read.parquet(store.path("lineage_stream"))
            .agg(F.sum("rows_dropped_late"), F.count("*")).first()
            if store.has("lineage_stream") else (0, 0))
    record_late_drops(store, q, "j1")
    if store.has("lineage_stream"):
        twice = (spark.read.parquet(store.path("lineage_stream"))
                 .agg(F.sum("rows_dropped_late"), F.count("*")).first())
        assert tuple(twice) == tuple(once)


def test_record_late_drops_survives_query_restart(spark, tmp_path):
    """ADVICE r5 (streaming.py): the sealer accumulator resets to 0 on
    a query restart; with a job_id-global baseline the post-restart
    delta went negative and new drops were silently under-recorded
    until the fresh counter overtook the all-time ledger. The baseline
    is now scoped per query run (negative per-runId sentinel rows), so
    drops before AND after a restart both persist."""
    from mtslake.catalog import ChunkStore
    from mtslake.streaming import record_late_drops

    class FakeQuery:
        # record_late_drops touches only recentProgress + runId
        def __init__(self, run_id, progress=()):
            self.runId = run_id
            self.recentProgress = list(progress)

    class Ctr:
        def __init__(self, v):
            self.value = v

    store = ChunkStore(spark, str(tmp_path / "store"))

    def total():
        return (spark.read.parquet(store.path("lineage_stream"))
                .agg(F.sum("rows_dropped_late")).first()[0])

    q1 = FakeQuery("run-1")
    record_late_drops(store, q1, "j", late_counter=Ctr(5))
    assert total() == 5
    # idempotent within the same run
    record_late_drops(store, q1, "j", late_counter=Ctr(5))
    assert total() == 5
    # restart: same job_id, new runId, accumulator reset; 3 NEW drops
    q2 = FakeQuery("run-2")
    record_late_drops(store, q2, "j", late_counter=Ctr(3))
    assert total() == 8, "post-restart drops were dropped from the ledger"
    # and still idempotent after the restart
    record_late_drops(store, q2, "j", late_counter=Ctr(3))
    assert total() == 8
    # accumulator grows within run 2 -> only the delta is appended
    record_late_drops(store, q2, "j", late_counter=Ctr(7))
    assert total() == 12
