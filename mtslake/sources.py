"""Sources/sinks for the reference's own file formats — full interop.

* ``read_cbin``  — distributed reader of mtscomp ``.cbin`` + ``.ch``
  files: the chunk-offset index (mtscomp.py:341-358) becomes a tiny
  driver-side chunk list; executors ``pread`` their byte ranges and
  decode (zlib → frombuffer → reshape(F) → cumsum), exactly inverting
  Writer._compress_chunk (mtscomp.py:375-397) — but in parallel across
  the cluster instead of a thread pool.
* ``write_cbin`` — sink producing byte-compatible ``.cbin``/``.ch``
  files the reference's ``mtsdecomp`` can read: chunks are encoded
  distributed (diff → F-order bytes → zlib, mirroring
  mtscomp.py:381-394), then streamed to the driver **in chunk order**
  (the reference's ordered-write barrier, mtscomp.py:473-483) with
  running offsets + SHA1s.
* ``read_raw_bin`` — distributed scan of a flat ``(n_samples,
  n_channels)`` binary (≙ load_raw_data, mtscomp.py:115-140): sample
  ranges are planned driver-side, executors pread + reinterpret.
* ``read_npy`` — ``.npy`` scan (≙ mtscomp.py:288-295): ≥3-D flattened
  to 2-D, original shape kept.

Output is long format ``(sample, channel, value)``; ``matrix_to_series``
maps it onto the engine's per-url series IR.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .parallel import spread

MELT_SCHEMA = T.StructType(
    [
        T.StructField("sample", T.LongType(), False),
        T.StructField("channel", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)


def read_ch_meta(ch_path: str) -> dict:
    with open(ch_path) as f:
        return json.load(f)


def read_cbin(spark: SparkSession, cbin_path: str, ch_path: str) -> DataFrame:
    """Distributed decode of a reference-compressed file.

    The executor kernel mirrors Reader.read_chunk (mtscomp.py:602-635):
    pread(offset, nbytes) → zlib.decompress → np.frombuffer(dtype) →
    reshape(order=chunk_order) → cumsum along diffed axes.
    """
    meta = read_ch_meta(ch_path)
    dtype = np.dtype(meta["dtype"])
    n_ch = int(meta["n_channels"])
    order = meta.get("chunk_order", "F")
    do_time_diff = bool(meta.get("do_time_diff", True))
    do_spatial_diff = bool(meta.get("do_spatial_diff", False))
    bounds = meta["chunk_bounds"]
    offsets = meta["chunk_offsets"]
    cbin_abs = os.path.abspath(cbin_path)

    rows = [
        (
            i,
            int(bounds[i]),
            int(bounds[i + 1]),
            int(offsets[i]),
            int(offsets[i + 1] - offsets[i]),
        )
        for i in range(len(bounds) - 1)
    ]
    plan = spark.createDataFrame(
        rows, "chunk_idx int, s0 long, s1 long, byte_off long, nbytes long"
    )

    def decode(batches):
        fd = os.open(cbin_abs, os.O_RDONLY)
        try:
            for pdf in batches:
                outs = []
                for r in pdf.itertuples(index=False):
                    raw = os.pread(fd, int(r.nbytes), int(r.byte_off))
                    flat = np.frombuffer(zlib.decompress(raw), dtype=dtype)
                    n = int(r.s1 - r.s0)
                    chunk = flat.reshape((n, n_ch), order=order)
                    if do_spatial_diff:
                        chunk = np.cumsum(chunk, axis=1, dtype=chunk.dtype)
                    if do_time_diff:
                        chunk = np.cumsum(chunk, axis=0, dtype=chunk.dtype)
                    sample = np.repeat(np.arange(r.s0, r.s1), n_ch)
                    channel = np.tile(np.arange(n_ch, dtype=np.int32), n)
                    outs.append(
                        pd.DataFrame(
                            {
                                "sample": sample,
                                "channel": channel,
                                "value": np.ascontiguousarray(chunk).ravel()
                                .astype(np.float64),
                            }
                        )
                    )
                if outs:
                    yield pd.concat(outs, ignore_index=True)
        finally:
            os.close(fd)

    # the plan frame is metadata-sized but feeds a per-chunk file
    # decode (Python, I/O + numpy): spread it so a few-row frame does
    # not decode in one serial task
    return spread(plan).mapInPandas(decode, schema=MELT_SCHEMA)


def write_cbin(
    df: DataFrame,
    out_cbin: str,
    out_ch: str,
    sample_rate: float,
    dtype: str,
    chunk_duration: float = 1.0,
    comp_level: int = -1,
) -> dict:
    """Spark DataFrame (sample, channel, value) → reference-compatible
    ``.cbin`` + ``.ch``. Distributed encode; ordered driver-side sink
    with running byte offsets and SHA1 ledger (≙ Writer.write,
    mtscomp.py:425-507)."""
    import hashlib

    np_dtype = np.dtype(dtype)
    # one pre-pass scan for shape AND density validation: the .ch
    # format records chunk_bounds assuming zero-based, gap-free
    # samples — a non-zero-based or gapped input would write bounds
    # that disagree with the payload row counts, i.e. a corrupt file
    # that only fails at read time (reshape error in read_cbin).
    shape = df.agg(
        F.max("channel").alias("ch_max"),
        F.max("sample").alias("s_max"),
        F.min("sample").alias("s_min"),
        F.count("*").alias("n_rows"),
    ).first()
    n_ch = shape["ch_max"] + 1
    n_samples = shape["s_max"] + 1
    if shape["s_min"] != 0 or shape["n_rows"] != n_samples * n_ch:
        raise ValueError(
            "write_cbin requires dense zero-based samples: expected "
            f"samples 0..{n_samples - 1} x {n_ch} channels "
            f"= {n_samples * n_ch} rows, got min sample "
            f"{shape['s_min']} and {shape['n_rows']} rows"
        )
    chunk_size = int(round(chunk_duration * sample_rate))

    keyed = df.withColumn("chunk_idx", (F.col("sample") / chunk_size).cast("int"))

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sample", "channel"])
        n = pdf["sample"].nunique()
        chunk = (
            pdf["value"].to_numpy().reshape((n, n_ch)).astype(np_dtype)
        )
        diffed = np.concatenate(
            [chunk[:1], np.diff(chunk, axis=0)], axis=0
        )  # ≙ diff_along_axis keeping row 0 (mtscomp.py:143-159)
        comp = zlib.compress(diffed.tobytes(order="F"), comp_level)
        return pd.DataFrame(
            {
                "chunk_idx": [int(pdf["chunk_idx"].iloc[0])],
                "s0": [int(pdf["sample"].min())],
                "s1": [int(pdf["sample"].max()) + 1],
                "raw": [chunk.tobytes()],
                "payload": [comp],
            }
        )

    enc = keyed.groupBy("chunk_idx").applyInPandas(
        encode,
        schema="chunk_idx int, s0 long, s1 long, raw binary, payload binary",
    )
    # ordered sink: stream chunk rows in chunk order, bounded memory
    sha_u, sha_c = hashlib.sha1(), hashlib.sha1()
    bounds, offsets = [0], [0]
    with open(out_cbin, "wb") as f:
        for row in enc.orderBy("chunk_idx").toLocalIterator():
            f.write(row["payload"])
            sha_c.update(row["payload"])
            sha_u.update(row["raw"])
            bounds.append(int(row["s1"]))
            offsets.append(offsets[-1] + len(row["payload"]))
    meta = {
        "version": "1.0",
        "algorithm": "zlib",
        "comp_level": comp_level,
        "do_time_diff": True,
        "do_spatial_diff": False,
        "dtype": str(np_dtype),
        "n_channels": int(n_ch),
        "sample_rate": float(sample_rate),
        "chunk_bounds": bounds,
        "chunk_offsets": offsets,
        "chunk_order": "F",
        "sha1_compressed": sha_c.hexdigest(),
        "sha1_uncompressed": sha_u.hexdigest(),
    }
    with open(out_ch, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    assert int(n_samples) == bounds[-1]
    return meta


def read_raw_bin(
    spark: SparkSession,
    path: str,
    n_channels: int,
    dtype: str,
    offset: int = 0,
    samples_per_split: int = 250_000,
) -> DataFrame:
    """Distributed flat-binary scan (≙ load_raw_data, mtscomp.py:115-140
    incl. the size % row-size validation)."""
    np_dtype = np.dtype(dtype)
    row_bytes = np_dtype.itemsize * n_channels
    size = os.path.getsize(path) - offset
    if size % row_bytes != 0:
        raise ValueError(
            f"file size {size} is not a multiple of the row size {row_bytes}"
        )
    n_samples = size // row_bytes
    abs_path = os.path.abspath(path)
    splits = [
        (s, min(s + samples_per_split, n_samples))
        for s in range(0, max(n_samples, 1), samples_per_split)
        if n_samples
    ]
    plan = spark.createDataFrame(splits or [(0, 0)], "s0 long, s1 long")

    def scan(batches):
        fd = os.open(abs_path, os.O_RDONLY)
        try:
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    n = int(r.s1 - r.s0)
                    if n <= 0:
                        continue
                    raw = os.pread(fd, n * row_bytes, offset + r.s0 * row_bytes)
                    mat = np.frombuffer(raw, dtype=np_dtype).reshape(n, n_channels)
                    yield pd.DataFrame(
                        {
                            "sample": np.repeat(np.arange(r.s0, r.s1), n_channels),
                            "channel": np.tile(
                                np.arange(n_channels, dtype=np.int32), n
                            ),
                            "value": mat.ravel().astype(np.float64),
                        }
                    )
        finally:
            os.close(fd)

    return spread(plan).mapInPandas(scan, schema=MELT_SCHEMA)  # as read_cbin


def read_npy(spark: SparkSession, path: str) -> DataFrame:
    """.npy scan; ≥3-D flattened to 2-D keeping the leading axis
    (≙ mtscomp.py:288-295)."""
    arr = np.load(path, mmap_mode="r")
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    elif arr.ndim > 2:
        arr = arr.reshape(arr.shape[0], -1)
    n, c = arr.shape
    pdf = pd.DataFrame(
        {
            "sample": np.repeat(np.arange(n, dtype=np.int64), c),
            "channel": np.tile(np.arange(c, dtype=np.int32), n),
            "value": np.asarray(arr, dtype=np.float64).ravel(),
        }
    )
    return spark.createDataFrame(pdf, schema=MELT_SCHEMA)


def matrix_to_series(melted: DataFrame, url_base: str,
                     sample_rate: float) -> DataFrame:
    """(sample, channel, value) → engine series IR: one url per channel
    (channel projection becomes plain url filtering, ≙ r[:, cols],
    mtscomp.py:835-842)."""
    us_per_sample = 1_000_000.0 / sample_rate
    return melted.select(
        F.concat(F.lit(url_base + "#ch"), F.col("channel").cast("string"))
        .alias("url"),
        (F.col("sample") * F.lit(us_per_sample)).cast("long").alias("ts_us"),
        F.lit(0).cast("long").alias("n_chars"),
        F.col("value"),
        F.sha1(F.encode(F.col("value").cast("string"), "UTF-8"))
        .alias("text_sha1"),
        F.lit("raw").alias("lang"),
    )
