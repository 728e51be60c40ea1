"""Config merge semantics (≙ defaults ← ~/.mtscomp ← kwargs,
mtscomp.py:186-209: non-None values win)."""

from mtslake.config import DEFAULT, EngineConfig, US_PER_DAY


def test_defaults():
    assert DEFAULT.chunk_duration_us == US_PER_DAY
    assert DEFAULT.tiers == ("1m", "1h", "1d")
    assert DEFAULT.check_after_compress and DEFAULT.check_after_decompress


def test_override_non_none_wins():
    c = DEFAULT.with_overrides(chunk_duration_us=3_600_000_000)
    assert c.chunk_duration_us == 3_600_000_000
    assert c.tiers == DEFAULT.tiers


def test_override_none_ignored():
    c = DEFAULT.with_overrides(chunk_duration_us=None, comp_level=None)
    assert c == DEFAULT


def test_frozen():
    import dataclasses
    import pytest

    with pytest.raises(dataclasses.FrozenInstanceError):
        DEFAULT.chunk_duration_us = 1  # type: ignore[misc]


def test_persisted_defaults_roundtrip(tmp_path, monkeypatch):
    """defaults ← persisted file ← kwargs (≙ read_config/write_config,
    mtscomp.py:186-209): the file layer survives process boundaries."""
    from mtslake import config as C

    p = str(tmp_path / "site.json")
    monkeypatch.setenv("MTSLAKE_CONFIG", p)
    assert C.read_persisted() == {}
    C.write_persisted(chunk_duration_us=3_600_000_000, hot_chunk_points=99)
    c = EngineConfig.load()
    assert c.chunk_duration_us == 3_600_000_000
    assert c.hot_chunk_points == 99
    # kwargs beat the file; None kwargs are ignored
    c2 = EngineConfig.load(chunk_duration_us=60_000_000, hot_chunk_points=None)
    assert c2.chunk_duration_us == 60_000_000 and c2.hot_chunk_points == 99
    # second write merges, not replaces
    C.write_persisted(hot_chunk_points=7)
    assert EngineConfig.load().chunk_duration_us == 3_600_000_000
    assert EngineConfig.load().hot_chunk_points == 7


def test_persisted_unknown_key_rejected(tmp_path, monkeypatch):
    import pytest

    from mtslake import config as C

    monkeypatch.setenv("MTSLAKE_CONFIG", str(tmp_path / "site.json"))
    with pytest.raises(KeyError):
        C.write_persisted(not_a_knob=1)
    # shuffle width is a Spark session setting, not an engine knob
    assert not hasattr(EngineConfig(), "shuffle_partitions")
    with pytest.raises(KeyError):
        C.write_persisted(shuffle_partitions=64)


def test_set_default_cli_flag(tmp_path, monkeypatch):
    """--set-default persists AND applies to the same run
    (≙ mtscomp --set-default, mtscomp.py:1080-1081)."""
    from mtslake.jobs.common import base_parser, config_from

    monkeypatch.setenv("MTSLAKE_CONFIG", str(tmp_path / "site.json"))
    args = base_parser("t").parse_args(
        ["--store", "/x", "--set-default", "chunk_duration_us=3600000000"]
    )
    assert config_from(args).chunk_duration_us == 3_600_000_000
    # sticky for the next invocation without the flag
    args2 = base_parser("t").parse_args(["--store", "/x"])
    assert config_from(args2).chunk_duration_us == 3_600_000_000
    # CLI override still beats the persisted default
    args3 = base_parser("t").parse_args(
        ["--store", "/x", "--chunk-duration-us", "60000000"]
    )
    assert config_from(args3).chunk_duration_us == 60_000_000


def test_comp_level_and_do_time_diff_knobs(tmp_path):
    """comp_level reaches the entropy stage; do_time_diff=False stores
    raw-codec timestamps — both decode bit-exactly (payload headers are
    self-describing, ≙ mtscomp config knobs :49-55)."""
    import numpy as np

    from mtslake import codec

    ts = (np.arange(5000, dtype=np.int64) * 1_000_003
          + np.arange(5000, dtype=np.int64) % 7)
    p1 = codec.encode_column(ts, codec.CODEC_DOD, level=1)
    p9 = codec.encode_column(ts, codec.CODEC_DOD, level=9)
    assert len(p9) <= len(p1)
    assert (codec.decode_column(p1) == ts).all()
    assert (codec.decode_column(p9) == ts).all()
    raw = codec.encode_column(ts, codec.CODEC_RAW)
    assert (codec.decode_column(raw) == ts).all()
    assert len(raw) != len(p1)


def test_engine_knobs_thread_into_encoder(spark):
    from pyspark.sql import functions as F

    from mtslake import chunk
    from mtslake.config import DEFAULT
    from mtslake.datagen import generate_pages
    from mtslake.series import pages_to_series

    series = pages_to_series(
        generate_pages(spark, n_urls=4, snapshots_per_url=48)
    ).cache()
    base = chunk.compress_series(series, DEFAULT)
    no_diff = chunk.compress_series(
        series, DEFAULT.with_overrides(do_time_diff=False)
    )
    sz = base.agg(F.sum("comp_signal_nbytes")).first()[0]
    sz_no = no_diff.agg(F.sum("comp_signal_nbytes")).first()[0]
    assert sz_no != sz  # knob observably changes the encoding
    # and the round trip stays bit-exact either way
    a = {tuple(r) for r in chunk.decompress_chunks(base).collect()}
    b = {tuple(r) for r in chunk.decompress_chunks(no_diff).collect()}
    assert a == b


def test_retention_us_overrides_merge_not_replace(spark):
    """Regression: with_overrides replaced the retention_us dict
    wholesale, so persisting only a raw horizon silently deleted the
    tier horizons — apply_retention then KeyError'd mid-run AFTER raw
    partitions were already dropped. Dict fields now merge."""
    from mtslake.config import DEFAULT, US_PER_DAY

    cfg = DEFAULT.with_overrides(retention_us={"raw": 60 * US_PER_DAY})
    assert cfg.retention_us["raw"] == 60 * US_PER_DAY
    for tier in DEFAULT.tiers:
        assert tier in cfg.retention_us   # horizons survive


def test_ckpt_transfer_unions_existing_ids(spark):
    """Regression: transfer() overwrote ids dst already owned, making
    dst's own checkpoint blocks unreleasable."""
    from mtslake import ckpt

    a = ckpt.eager_checkpoint(spark.range(5))
    b = ckpt.eager_checkpoint(spark.range(7))
    ids_a = set(a.__dict__[ckpt._IDS_ATTR])
    ids_b = set(b.__dict__[ckpt._IDS_ATTR])
    out = ckpt.transfer(a, b)
    assert out.__dict__[ckpt._IDS_ATTR] == ids_a | ids_b
    ckpt.release(out)


def test_datagen_duplicate_ts_fixture_actually_collides(spark):
    """Regression: the dup row repeated the bare grid point while its
    neighbor carried jitter — exact collisions only at jitter==0
    (p~1/121), so the documented tiebreak fixture was inert. The dup
    now copies the neighbor's FULL offset."""
    from pyspark.sql import functions as F
    from mtslake.datagen import generate_pages

    pages = generate_pages(spark, n_urls=40, snapshots_per_url=64)
    dup_urls = pages.groupBy("url").agg(
        (F.count("*") - F.countDistinct("warc_ts")).alias("dups"))
    n_dup_urls = dup_urls.filter(F.col("dups") > 0).count()
    assert n_dup_urls >= 2   # url_id % 17 == 0 urls collide by design
