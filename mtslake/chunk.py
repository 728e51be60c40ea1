"""Chunk encode/decode — the only Python-executed operators.

Spark shape (SURVEY §3.1): the reference's thread-pool chunk loop
(Writer.compress_batch, mtscomp.py:399-423) becomes

    series → repartition(url, chunk_id) → sortWithinPartitions
           → mapInArrow(streaming group encoder) → chunks table

and the read path (Reader.read_chunk, mtscomp.py:602-635) becomes a
shuffle-free ``mapInArrow(decode)`` over pruned chunk rows — each chunk
row is independently addressable and expands to its points without any
repartition.

Why mapInArrow and not groupBy().applyInPandas: the semantics are the
same (hash-partition on the group key guarantees co-location; the sort
makes groups contiguous), but applyInPandas pays one Python invocation
plus one single-row DataFrame per GROUP, while web-scale chunks are
small (10²-10⁴ points) and enormous in number — per-group overhead
dominated the profile by >5×. The streaming encoder amortizes to one
Python call per ARROW BATCH, carrying the (possibly split) last group
over batch boundaries. Arrow (not pandas) because a pandas handoff
materializes one Python object per row per string column — tens of
millions of allocations per task wave that serialize on the kernel
allocator before 32 cores; Arrow buffers cross zero-copy.

* chunk identity is the key ``(url, chunk_id = floor(ts_us / dur))``
  (≙ chunk_bounds, mtscomp.py:324-339) — the reference's "write in
  chunk order" barrier (mtscomp.py:473-474) disappears because identity
  lives in keys, not file offsets.
* rows are sorted ``(xxhash64(url), chunk_id, ts_us, <binary
  channels>)`` before encoding — the codec is order-sensitive; the
  digest tiebreak makes duplicate timestamps deterministic (web-data
  reality the reference never faces). The leading key is numeric on
  purpose: see ``compress_series``.
* per-chunk SHA1 of the raw bytes is carried in the row (≙ the .ch
  running sha1 ledger, mtscomp.py:321-322,481-483).
* skew stays bounded: a hot url never forms one giant group because the
  partition key includes chunk_id (SURVEY §7 risk 6); AQE handles the
  rest.

**Channel genericity**: the reference is fully dtype/n_channels-generic
(dtype + n_channels are declared inputs — mtscomp.py:286,300-303;
dtype matrix tests tests.py:100-102,240-243). Here the same genericity
is a declared ``ChannelSpec`` list — (name, dtype → codec family) —
so adding a value channel means declaring it, never editing the
engine. ``DEFAULT_CHANNELS`` is the web-pages layout
(n_chars/value/text_sha1); every function below takes ``channels`` and
derives its schemas, sort keys, payload columns, and codec calls from
the spec.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from . import codec
from .config import EngineConfig, DEFAULT
from .parallel import shuffle_width
from .series import TS_COL

SHA1_W = 20  # text_sha1 stored as fixed-width 20-byte binary stream


@dataclass(frozen=True)
class ChannelSpec:
    """One value channel of a series: (name, dtype → codec family).

    * numeric channels: ``dtype`` is a numpy dtype name (int8..int64,
      float32/float64 — the reference's dtype matrix, tests.py:100-102);
      ints ride CODEC_DELTA, floats CODEC_XOR (Gorilla) unless ``codec``
      overrides.
    * fixed-width binary channels: ``width`` > 0 bytes per value;
      ``hex=True`` means the series column carries 2·width hex chars
      (the text_sha1 convention) and is unhexed before the kernel.
      Digest-like binary never compresses, so the entropy stage defaults
      off for binary (``entropy`` overrides).
    """

    name: str
    dtype: str = "float64"
    width: int = 0  # >0 → fixed-width binary channel (bytes per value)
    hex: bool = False  # binary column travels as 2*width hex chars
    codec_id: int | None = None
    entropy: bool | None = None
    pcol_name: str | None = None  # payload column override

    @property
    def is_binary(self) -> bool:
        return self.width > 0

    @property
    def pcol(self) -> str:
        return self.pcol_name or f"p_{self.name}"

    def resolved_codec(self) -> int:
        if self.codec_id is not None:
            return self.codec_id
        if self.is_binary:
            return codec.CODEC_RAW
        return codec.default_codec_for(np.dtype(self.dtype))

    def resolved_entropy(self) -> bool:
        if self.entropy is not None:
            return self.entropy
        return not self.is_binary  # digests: a deflate attempt is waste


DEFAULT_CHANNELS: tuple[ChannelSpec, ...] = (
    ChannelSpec("n_chars", "int64"),
    ChannelSpec("value", "float64"),
    ChannelSpec("text_sha1", width=SHA1_W, hex=True, pcol_name="p_sha1"),
)

_SPARK_NUM_TYPES = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
}


def _series_field(c: ChannelSpec) -> T.StructField:
    if c.is_binary:
        dt = T.StringType() if c.hex else T.BinaryType()
    else:
        dt = _SPARK_NUM_TYPES[c.dtype]
    return T.StructField(c.name, dt, False)


def series_schema(channels: tuple[ChannelSpec, ...] = DEFAULT_CHANNELS
                  ) -> T.StructType:
    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("lang", T.StringType(), True),
            T.StructField(TS_COL, T.LongType(), False),
        ]
        + [_series_field(c) for c in channels]
    )


def _numeric(channels: tuple[ChannelSpec, ...]) -> list[ChannelSpec]:
    return [c for c in channels if not c.is_binary]


def _stat_type(c: ChannelSpec) -> T.DataType:
    # widened stat slots: any int channel -> long, any float -> double
    return (
        T.DoubleType() if np.dtype(c.dtype).kind == "f" else T.LongType()
    )


def chunk_schema(channels: tuple[ChannelSpec, ...] = DEFAULT_CHANNELS
                 ) -> T.StructType:
    """Chunk-row schema: keys, time bounds, byte accounting, sha1
    ledger, then per-NUMERIC-channel min/max stats (the Iceberg-
    manifest-style value-pruning columns — a value predicate skips
    whole chunks without decoding them), then the payloads."""
    stat_fields = []
    for c in _numeric(channels):
        stat_fields.append(T.StructField(f"{c.name}_min", _stat_type(c),
                                         False))
        stat_fields.append(T.StructField(f"{c.name}_max", _stat_type(c),
                                         False))
    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("chunk_id", T.LongType(), False),
            T.StructField("lang", T.StringType(), True),
            T.StructField("ts_min", T.LongType(), False),
            T.StructField("ts_max", T.LongType(), False),
            T.StructField("n_points", T.IntegerType(), False),
            T.StructField("raw_nbytes", T.LongType(), False),
            T.StructField("comp_nbytes", T.LongType(), False),
            T.StructField("raw_signal_nbytes", T.LongType(), False),
            T.StructField("comp_signal_nbytes", T.LongType(), False),
            T.StructField("sha1", T.StringType(), False),
        ]
        + stat_fields
        + [T.StructField("p_ts", T.BinaryType(), False)]
        + [T.StructField(c.pcol, T.BinaryType(), False) for c in channels]
    )


def _pa_chunk_schema(channels: tuple[ChannelSpec, ...]) -> pa.Schema:
    stat_fields = []
    for c in _numeric(channels):
        t = (
            pa.float64() if np.dtype(c.dtype).kind == "f" else pa.int64()
        )
        stat_fields.append((f"{c.name}_min", t))
        stat_fields.append((f"{c.name}_max", t))
    return pa.schema(
        [
            ("url", pa.string()),
            ("chunk_id", pa.int64()),
            ("lang", pa.string()),
            ("ts_min", pa.int64()),
            ("ts_max", pa.int64()),
            ("n_points", pa.int32()),
            ("raw_nbytes", pa.int64()),
            ("comp_nbytes", pa.int64()),
            ("raw_signal_nbytes", pa.int64()),
            ("comp_signal_nbytes", pa.int64()),
            ("sha1", pa.string()),
        ]
        + stat_fields
        + [("p_ts", pa.binary())]
        + [(c.pcol, pa.binary()) for c in channels]
    )


# fixed-layout constants for the default (web-pages) spec — external
# modules (catalog, streaming, tests) import these names
CHUNK_SCHEMA = chunk_schema(DEFAULT_CHANNELS)
SERIES_SCHEMA = series_schema(DEFAULT_CHANNELS)
_PA_CHUNK_SCHEMA = _pa_chunk_schema(DEFAULT_CHANNELS)

ALL_CHANNELS = tuple(c.name for c in DEFAULT_CHANNELS)


def _out_cols(channels: tuple[ChannelSpec, ...]) -> list[str]:
    return [f.name for f in chunk_schema(channels).fields]


def _segment_runs(starts, ends, max_points: int | None):
    """Split group runs longer than ``max_points`` into segments — the
    ``hot_chunk_points`` guard: a pathological (url, chunk_id) with
    hundreds of millions of points encodes as bounded segment rows
    instead of one task-OOMing group. Segments share the chunk key;
    decode is row-independent, so readers are unaffected (the chunk
    simply has several payload rows, like the reference's fixed-size
    chunk_bounds splitting one recording into many chunks)."""
    if not max_points:
        return starts, ends
    if int(np.max(ends - starts)) <= max_points:
        return starts, ends
    s2: list[int] = []
    e2: list[int] = []
    for s, e in zip(starts, ends):
        while e - s > max_points:
            s2.append(int(s))
            e2.append(int(s) + max_points)
            s = s + max_points
        s2.append(int(s))
        e2.append(int(e))
    return np.asarray(s2), np.asarray(e2)


def _encode_groups(
    out: dict[str, list],
    data: dict[str, np.ndarray],
    ts_all: np.ndarray,
    starts,
    ends,
    comp_level: int,
    do_time_diff: bool,
    channels: tuple[ChannelSpec, ...],
):
    """Shared per-group encode loop: 1 + len(channels) codec calls per
    group on contiguous numpy slices, raw/comp byte accounting, and the
    SHA1 ledger over ts + the NUMERIC channels (binary channels are
    digests/opaque payloads — hashing a hash adds nothing)."""
    # ≙ do_time_diff=False (mtscomp.py:55): raw-codec timestamps; decode
    # is unaffected because payload headers carry the codec id
    ts_codec = codec.CODEC_DOD if do_time_diff else codec.CODEC_RAW
    # per-channel invariants hoisted out of the group loop: resolved
    # codec/entropy and the NaN-warning suppression cost real time at
    # 10³-10⁴ groups per partition (profiled ~5% of the kernel)
    ch_plan = [
        (c, c.resolved_codec(), c.resolved_entropy()) for c in channels
    ]
    ctx = warnings.catch_warnings()
    ctx.__enter__()
    warnings.simplefilter("ignore", RuntimeWarning)
    try:
        _encode_groups_inner(out, data, ts_all, starts, ends, comp_level,
                             ts_codec, ch_plan)
    finally:
        ctx.__exit__(None, None, None)


def _encode_groups_inner(
    out, data, ts_all, starts, ends, comp_level, ts_codec, ch_plan,
):
    for s, e in zip(starts, ends):
        ts = ts_all[s:e]
        p_ts = codec.encode_column(ts, ts_codec, comp_level)
        raw_sig = ts.nbytes
        comp_sig = len(p_ts)
        raw_bin = 0
        comp_bin = 0
        sha_src: dict[str, np.ndarray] = {}
        for c, c_codec, c_entropy in ch_plan:
            a = data[c.name][s:e]
            flat = a.ravel() if c.is_binary else a
            p = codec.encode_column(
                flat, c_codec, comp_level, entropy=c_entropy,
            )
            out[c.pcol].append(p)
            if c.is_binary:
                raw_bin += flat.nbytes
                comp_bin += len(p)
            else:
                raw_sig += flat.nbytes
                comp_sig += len(p)
                sha_src[c.name] = flat
                # per-chunk value stats (Iceberg-manifest-style): a
                # value predicate prunes chunk rows without decoding.
                # Spark and DuckDB both order NaN LARGER than every
                # numeric in comparisons (NaN >= x true, NaN <= x
                # false — verified empirically on both), so the
                # order-consistent bounds for a float channel are:
                #   min = nanmin  (NaN is never the smallest value;
                #         plain min() would let one NaN poison the
                #         lower bound to NaN and value_min <= upper
                #         would silently prune the chunk's VALID rows
                #         — Iceberg tracks nan_value_counts separately
                #         for exactly this hazard)
                #   max = plain max (NaN if any NaN present — correct:
                #         the chunk's largest value in engine order IS
                #         NaN, and NaN >= lower keeps it for
                #         lower-bound predicates whose exact filter
                #         also matches the NaN rows)
                # An all-NaN chunk gets (NaN, NaN): kept for >= lower
                # (its NaN rows match), pruned for <= upper (nothing
                # in it can match) — both consistent.
                if flat.dtype.kind == "f":
                    # RuntimeWarning (all-NaN) suppressed once by the
                    # caller's hoisted warnings context
                    out[f"{c.name}_min"].append(float(np.nanmin(flat)))
                    out[f"{c.name}_max"].append(float(flat.max()))
                else:
                    out[f"{c.name}_min"].append(int(flat.min()))
                    out[f"{c.name}_max"].append(int(flat.max()))
        out["ts_min"].append(int(ts[0]))
        out["ts_max"].append(int(ts[-1]))
        out["n_points"].append(int(e - s))
        out["raw_nbytes"].append(raw_sig + raw_bin)
        out["comp_nbytes"].append(comp_sig + comp_bin)
        out["raw_signal_nbytes"].append(raw_sig)
        out["comp_signal_nbytes"].append(comp_sig)
        out["sha1"].append(codec.chunk_sha1(ts, sha_src))
        out["p_ts"].append(p_ts)


def _binary_flat(arr: pa.Array, n: int) -> np.ndarray:
    """Zero-copy view of a BinaryArray's packed value bytes (each value
    a fixed byte width), honoring array offset/slices.

    The view assumes 32-bit offsets (pa.binary()) and no nulls; with
    ``spark.sql.execution.arrow.useLargeVarTypes=true`` the column
    arrives as large_binary (64-bit offsets) and the raw buffer read
    would silently misalign — fail loudly instead."""
    if arr.type != pa.binary():
        raise TypeError(
            f"binary channel must be pa.binary() (got {arr.type}); disable "
            "spark.sql.execution.arrow.useLargeVarTypes for this job"
        )
    if arr.null_count:
        raise ValueError("binary channel contains nulls (malformed hex?)")
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    start = int(offsets[arr.offset])
    end = int(offsets[arr.offset + n])
    return np.frombuffer(arr.buffers()[2], dtype=np.uint8)[start:end]


def _encode_block_arrow(
    t: pa.Table,
    chunk_dur: int,
    max_points: int | None = None,
    comp_level: int = 1,
    do_time_diff: bool = True,
    channels: tuple[ChannelSpec, ...] = DEFAULT_CHANNELS,
) -> pa.RecordBatch:
    """Encode every (url, chunk_id) group in a sorted block; one output
    row per group. The one encode kernel: the batch encoder and the
    streaming sealer both call it, so a sealed streaming chunk is
    bit-identical to the batch one. url/lang stay in Arrow buffers (one
    key per GROUP, never per row), binary-channel bytes are a zero-copy
    view.

    chunk ids are DERIVED in-kernel (ts // chunk_dur) instead of being
    shipped as a column: the encode phase is Arrow-IPC-bandwidth-bound
    (BENCH/PROFILE_NOTES.md), so derivable columns never cross the
    boundary."""
    t = t.combine_chunks()
    n = t.num_rows
    url = t.column("url").chunk(0)
    lang = t.column("lang").chunk(0)
    ts_all = t.column(TS_COL).chunk(0).to_numpy()
    cids = ts_all // chunk_dur
    data: dict[str, np.ndarray] = {}
    for c in channels:
        col = t.column(c.name).chunk(0)
        if c.is_binary:
            data[c.name] = _binary_flat(col, n).reshape(n, c.width)
        else:
            data[c.name] = col.to_numpy()

    urlneq = pa.compute.not_equal(
        url.slice(1), url.slice(0, n - 1)
    ).to_numpy(zero_copy_only=False)
    change = np.flatnonzero(urlneq | (cids[1:] != cids[:-1])) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [n]))
    starts, ends = _segment_runs(starts, ends, max_points)

    out: dict[str, list] = {c: [] for c in _out_cols(channels)}

    # group keys in one vectorized take+to_pylist over the group-start
    # indices instead of a pyarrow scalar .as_py() pair per group
    # (group order is exactly `starts` order, which the group loop
    # also iterates)
    start_idx = pa.array(np.asarray(starts, dtype=np.int64))
    out["url"] = url.take(start_idx).to_pylist()
    out["lang"] = lang.take(start_idx).to_pylist()
    out["chunk_id"] = cids[np.asarray(starts)].tolist()

    _encode_groups(out, data, ts_all, starts, ends, comp_level,
                   do_time_diff, channels)
    return pa.RecordBatch.from_pydict(out, schema=_pa_chunk_schema(channels))


def _encode_stream(
    batches,
    chunk_dur: int,
    max_points: int | None = None,
    comp_level: int = 1,
    do_time_diff: bool = True,
    channels: tuple[ChannelSpec, ...] = DEFAULT_CHANNELS,
):
    """Streaming group encoder over Arrow RecordBatches (mapInArrow):
    groups are contiguous (sorted partition); the last group of each
    batch may continue into the next, so it is buffered and prepended.

    Arrow-native on purpose: a pandas handoff materializes one Python
    object per row for every string column (url + digests = tens of
    millions of allocations per task wave), which serializes on the
    kernel allocator well before 32 cores. Keeping rows in Arrow
    buffers makes the encode stage scale with cores."""
    buf: pa.Table | None = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        t = pa.Table.from_batches([rb])
        if buf is not None:
            t = pa.concat_tables([buf, t]).combine_chunks()
            buf = None
        n = t.num_rows
        url = t.column("url")
        ts = t.column(TS_COL).to_numpy(zero_copy_only=False)
        cids = ts // chunk_dur
        # sorted input → the last group is a suffix run
        url_eq_last = pa.compute.equal(url, url[n - 1]).to_numpy(
            zero_copy_only=False
        )
        n_tail = int((url_eq_last & (cids == cids[-1])).sum())
        if n_tail == n:
            buf = t
            # the hot_chunk_points memory bound must hold even while a
            # single giant group streams through: flush complete
            # max_points segments now (identical layout to what
            # _segment_runs would produce, since segments start at
            # multiples of max_points from the group start) and keep
            # only the < max_points residual buffered
            if max_points and buf.num_rows > max_points:
                n_full = (buf.num_rows // max_points) * max_points
                yield _encode_block_arrow(
                    buf.slice(0, n_full), chunk_dur, max_points,
                    comp_level, do_time_diff, channels,
                )
                buf = buf.slice(n_full) if n_full < buf.num_rows else None
            continue
        buf = t.slice(n - n_tail)
        yield _encode_block_arrow(
            t.slice(0, n - n_tail), chunk_dur, max_points, comp_level,
            do_time_diff, channels,
        )
    if buf is not None and buf.num_rows:
        yield _encode_block_arrow(
            buf, chunk_dur, max_points, comp_level, do_time_diff, channels
        )


def compress_series(
    series: DataFrame,
    cfg: EngineConfig = DEFAULT,
    pre_partitioned: bool = False,
    channels: tuple[ChannelSpec, ...] = DEFAULT_CHANNELS,
) -> DataFrame:
    """series → compressed chunk rows (one row per (url, chunk_id)).

    ≙ Writer.write (mtscomp.py:425-507): the ThreadPool becomes Spark
    tasks; ordering becomes keys. Lazy — caller writes via catalog.

    ``pre_partitioned=True`` skips the shuffle when the caller
    guarantees all rows of a url already share a partition (e.g. the
    input was just ``repartition(n, "url")``-ed or read from a
    url-bucketed table): partitioning by url alone co-locates every
    (url, chunk_id) group, and the partition-local sort makes them
    contiguous. This is the bucketed-table co-location pattern — at
    warehouse scale, write the series url-bucketed once and every
    compress run skips its shuffle.

    ``channels`` declares the value channels (see ChannelSpec) — the
    series must carry (url, lang, ts_us, *channel columns).
    """
    keyed = series.withColumn(
        "chunk_id", F.floor(F.col(TS_COL) / F.lit(cfg.chunk_duration_us))
    )
    for c in channels:
        if c.is_binary and c.hex:
            # digests cross the Arrow boundary as raw bytes, not hex
            # chars: half the IPC bytes and no per-row Python strings;
            # the sort tiebreak is order-identical (lowercase hex ≅
            # byte order)
            keyed = keyed.withColumn(c.name, F.unhex(c.name))
    if not pre_partitioned:
        # EXPLICIT partition count: a bare repartition(cols) lets AQE
        # size this exchange by its shuffle BYTES (advisory 16-64 MB),
        # but the stage downstream of it is the Python encode kernel —
        # per-row cost orders of magnitude above a JVM scan — so a
        # byte-sized coalesce serializes the most expensive stage of
        # the job (measured: a 100k-event roundtrip collapsed to ONE
        # encode task, 5.7 s of a 6.7 s query). Pinning N to the
        # session's configured shuffle width keeps the pre-AQE plan
        # (what a cluster tunes shuffle.partitions for) and forbids
        # the collapse; tiny inputs pay a few ms of empty-task
        # overhead instead of a serial encode.
        keyed = keyed.repartition(
            shuffle_width(series.sparkSession), "url", "chunk_id"
        )
    from functools import partial

    encode = partial(
        _encode_stream,
        chunk_dur=cfg.chunk_duration_us,
        max_points=cfg.hot_chunk_points,
        comp_level=cfg.comp_level,
        do_time_diff=cfg.do_time_diff,
        channels=channels,
    )
    # NUMERIC sort key instead of url: web urls share a long common
    # prefix ("https://..."), so Spark's 8-byte string prefix comparator
    # degenerates and every comparison walks the full url bytes — the
    # sort, not the codec, then dominates the encode stage. Sorting on
    # (xxhash64(url), chunk_id, ts) keeps every comparison in numeric
    # prefix registers. Correctness does not depend on the hash being
    # collision-free: the ENCODER splits groups on real url equality,
    # so a 64-bit collision (P ≈ 1e-14 per partition) merely yields an
    # extra chunk row for the same (url, chunk_id) — a layout the store
    # already supports (hot-chunk segmentation). Group ORDER becomes
    # hash order, which nothing downstream observes (chunk rows are an
    # unordered table).
    # chunk_id is a sort key only — it is NOT shipped to the kernel
    # (derived there from ts; the narrow projection after the sort
    # preserves partition order). ~9% fewer Arrow-IPC bytes on the
    # bandwidth-bound boundary (BENCH/PROFILE_NOTES.md).
    # Binary channels are the deterministic tiebreak for colliding
    # timestamps (numeric channels stay out of the key — a digest
    # already uniquifies real duplicates).
    tiebreak = [c.name for c in channels if c.is_binary]
    return keyed.withColumn("_gh", F.xxhash64("url")).sortWithinPartitions(
        "_gh", "chunk_id", TS_COL, *tiebreak
    ).select(
        "url", "lang", TS_COL, *[c.name for c in channels]
    ).mapInArrow(encode, schema=chunk_schema(channels))


def _fixed_width_array(
    concat: bytes, n: int, width: int, hex: bool
) -> pa.Array:
    """Fixed-stride rows of a flat byte blob as one Arrow var-size
    array built straight from buffers — zero per-row Python objects
    (the hex form hexlifies the whole blob once in C)."""
    if hex:
        data, w = concat.hex().encode("ascii"), 2 * width
        typ = pa.utf8()
    else:
        data, w = concat, width
        typ = pa.binary()
    offsets = np.arange(n + 1, dtype=np.int32) * w
    return pa.Array.from_buffers(
        typ, n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def _repeat_take(values: list, counts: np.ndarray) -> pa.Array:
    """Per-chunk constant strings expanded to point level: factorize
    the PER-CHUNK list (n_chunks hashes, never n_points) and let
    Arrow's C++ take() materialize the expanded string column —
    no Python string per point (measured ~15% of decode wall when
    done row-wise at 70-point chunks)."""
    codes, cats = pd.factorize(
        np.asarray(values, dtype=object), use_na_sentinel=False
    )
    rep = pa.array(np.repeat(codes.astype(np.int64), counts))
    return pa.array(list(cats), type=pa.string()).take(rep)


def _pa_series_schema(want: tuple[ChannelSpec, ...]) -> pa.Schema:
    fields = [
        ("url", pa.string()),
        ("lang", pa.string()),
        (TS_COL, pa.int64()),
    ]
    for c in want:
        if c.is_binary:
            t = pa.utf8() if c.hex else pa.binary()
        else:
            t = pa.from_numpy_dtype(np.dtype(c.dtype))
        fields.append((c.name, t))
    return pa.schema(fields)


# decoded points per emitted output batch before a flush: bounds BOTH
# the kernel's peak memory AND Arrow's 32-bit var-size limits — a
# binary/utf8 array carries int32 offsets, so one output batch must
# keep n_points × widest-channel-bytes < 2^31 (4M × 40-char hex sha1
# = 160 MB of values, offsets at 16 MB — an order of magnitude of
# headroom). Without the cap, one input batch of many large chunks
# (e.g. 10k rows × 250k-point hot chunks) would concatenate into a
# single array whose int32 offsets silently WRAP — corrupt strings,
# no error (np.arange(n+1, dtype=int32) * w overflows quietly).
_DECODE_FLUSH_POINTS = 4_000_000


def _decode_batches_arrow(
    t: pa.Table,
    verify: bool,
    want: tuple[ChannelSpec, ...],
    spec: tuple[ChannelSpec, ...],
):
    """Arrow-native decode twin of the mapInArrow encoder, yielding
    output batches of at most ~_DECODE_FLUSH_POINTS points. Staying in
    Arrow end-to-end matters for CORRECTNESS, not just speed: the
    pandas→Arrow boundary (pa.Array.from_pandas) converts float NaN to
    NULL, so a pandas kernel silently corrupts NaN observations on
    decode; numpy→Arrow preserves the NaN payload bit-for-bit."""
    t = t.combine_chunks()
    numeric = [c for c in spec if not c.is_binary]
    # one vectorized to_pylist per column instead of a pyarrow scalar
    # __getitem__/.as_py() pair per chunk per column — the per-element
    # path was ~25% of kernel self-time at 10³-10⁴ chunks per batch
    cols = {
        name: t.column(name).chunk(0).to_pylist()
        for name in t.column_names
    }
    urls, langs, tss, counts = [], [], [], []
    ch_parts: dict[str, list] = {c.name: [] for c in want}

    def _flush() -> pa.RecordBatch:
        nonlocal urls, langs, tss, counts, ch_parts
        cnts = np.asarray(counts)
        n_total = int(cnts.sum())
        arrays = [
            _repeat_take(urls, cnts),
            _repeat_take(langs, cnts),
            pa.array(np.concatenate(tss), type=pa.int64()),
        ]
        for c in want:
            if c.is_binary:
                concat = np.concatenate(ch_parts[c.name]).tobytes()
                arrays.append(
                    _fixed_width_array(concat, n_total, c.width, c.hex)
                )
            else:
                arrays.append(pa.array(np.concatenate(ch_parts[c.name])))
        urls, langs, tss, counts = [], [], [], []
        ch_parts = {c.name: [] for c in want}
        return pa.RecordBatch.from_arrays(
            arrays, schema=_pa_series_schema(want)
        )

    acc = 0
    for i in range(t.num_rows):  # per-CHUNK, not per-point
        ts = codec.decode_column(cols["p_ts"][i])
        decoded: dict[str, np.ndarray] = {}
        if verify:
            for c in numeric:
                decoded[c.name] = codec.decode_column(cols[c.pcol][i])
            got = codec.chunk_sha1(
                ts, {c.name: decoded[c.name] for c in numeric}
            )
            if got != cols["sha1"][i]:
                # ≙ "CRITICAL ERROR" hard failure, mtscomp.py:880-888
                raise RuntimeError(
                    f"chunk integrity failure url={cols['url'][i]} "
                    f"expected sha1={cols['sha1'][i]} got={got}"
                )
        tss.append(ts)
        counts.append(len(ts))
        urls.append(cols["url"][i])
        langs.append(cols["lang"][i])
        for c in want:
            a = decoded.get(c.name)
            if a is None:
                a = codec.decode_column(cols[c.pcol][i])
            ch_parts[c.name].append(a)
        acc += len(ts)
        if acc >= _DECODE_FLUSH_POINTS:
            yield _flush()
            acc = 0
    if tss:
        yield _flush()


def decompress_chunks(
    chunks: DataFrame,
    verify: bool = False,
    channels: tuple[str, ...] = ALL_CHANNELS,
    spec: tuple[ChannelSpec, ...] = DEFAULT_CHANNELS,
) -> DataFrame:
    """chunk rows → series rows, shuffle-free (mapInArrow).

    ≙ Reader.read_chunk → zlib → frombuffer → cumsum (mtscomp.py:602-635)
    + the parallel bulk path Reader.tofile (mtscomp.py:701-743).

    ``channels`` is **projection pushdown into the codec**: only the
    requested channel payloads (names into ``spec``) are read (Parquet
    column pruning on the p_* columns) and decoded. The reference
    decodes whole chunks and selects afterwards (mtscomp.py:835-842);
    per-channel payload columns make the projection free.

    With verify=True each chunk's raw-byte SHA1 is recomputed and any
    mismatch raises (≙ post-write check, mtscomp.py:866-888: tampering
    must be a hard error, tests.py:345-379).

    Arrow-native on BOTH sides of the kernel (like the encoder): a
    pandas kernel's output boundary converts float NaN to NULL, so
    NaN observations would decode as nulls — numpy→Arrow keeps them.
    """
    by_name = {c.name: c for c in spec}
    want = tuple(by_name[n] for n in by_name if n in channels)
    need = {"url", "lang", "sha1", "p_ts"}
    need.update(c.pcol for c in want)
    if verify:  # the ledger covers every numeric channel
        need.update(c.pcol for c in spec if not c.is_binary)
    src = chunks.select(*sorted(need))

    fields = [
        T.StructField("url", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField(TS_COL, T.LongType(), False),
    ]
    series_by_name = {f.name: f for f in series_schema(spec).fields}
    fields += [series_by_name[c.name] for c in want]
    schema = T.StructType(fields)

    def gen(batches, _verify=verify, _want=want, _spec=spec):
        for rb in batches:
            yield from _decode_batches_arrow(
                pa.Table.from_batches([rb]), _verify, _want, _spec
            )

    return src.mapInArrow(gen, schema=schema)
