"""Chunk codec: delta-of-delta timestamps + Gorilla-style XOR floats.

Pure-NumPy kernels (no Spark imports) so the codec is unit-testable in
isolation and runs vectorized inside Arrow/pandas UDFs — never per-row
Python.

Design lineage (reference: /root/reference/mtscomp.py — studied for
behavior, not copied):

* The reference encodes each chunk with a first-order time diff keeping
  row 0 as the anchor (``diff_along_axis``, mtscomp.py:143-159) and
  inverts with cumsum (``cumsum_along_axis``, mtscomp.py:162-169), then
  zlib-compresses the Fortran-ordered bytes (mtscomp.py:391-394) because
  per-channel-contiguous bytes compress better (mtscomp.py:52).
* We generalize: int64 timestamps get **delta-of-delta** + zigzag +
  width-downcast; integer channels get delta + zigzag + downcast; float
  channels get **XOR of raw IEEE-754 bit patterns** (Gorilla,
  Pelkonen et al., VLDB 2015) + byte-plane shuffle. All streams then go
  through zlib as the entropy stage (same final stage as the reference,
  mtscomp.py:248,391-394).
* XOR-of-bits instead of arithmetic diff makes float round-trips
  **bit-exact** — strictly stronger than the reference's
  ``allclose(atol=1e-16)`` caveat (mtscomp.py:59,880-886).
* The byte-plane shuffle (transpose the (n, itemsize) byte matrix before
  zlib) is the moral equivalent of the reference's F-order transpose
  (mtscomp.py:52,393-394): it de-multiplexes the streams so the entropy
  coder sees long runs.

Every payload is framed with a small fixed header so chunks are
self-describing and independently addressable (the property that makes
the reference's ``chop`` metadata-only — mtscomp.py:750-796).
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np

MAGIC = b"MTSL"
VERSION = 1

# codec ids
CODEC_RAW = 0  # tobytes + zlib (fallback, any fixed-width dtype)
CODEC_DELTA = 1  # delta + zigzag + downcast + zlib (integers)
CODEC_DOD = 2  # delta-of-delta + zigzag + downcast + zlib (timestamps)
CODEC_XOR = 3  # IEEE-754 XOR + byte-plane shuffle + zlib (floats)
CODEC_XOR_RAW = 4  # XOR + shuffle, no entropy stage (high-entropy floats)
CODEC_XOR_PLANES = 5  # XOR + shuffle + PER-PLANE selective zlib

_DTYPE_CODES = {
    "int8": 0, "int16": 1, "int32": 2, "int64": 3,
    "uint8": 4, "uint16": 5, "uint32": 6, "uint64": 7,
    "float32": 8, "float64": 9,
}
_CODE_DTYPES = {v: np.dtype(k) for k, v in _DTYPE_CODES.items()}
# keyed by dtype object: np.dtype.name string-builds on every access
# (measurably hot — encode_column runs per chunk per channel)
_DTYPE_OBJ_CODES = {np.dtype(k): v for k, v in _DTYPE_CODES.items()}

# header: magic(4) version(1) codec(1) dtype(1) width(1) n(8) = 16 bytes
_HEADER = struct.Struct("<4sBBBBQ")

_ZLEVEL = 1  # zlib level; the heavy lifting is done by delta/xor/shuffle

# codec-byte high bit: body is STORED (no entropy stage). Web-scale
# chunks are small (10²-10⁴ points); after delta/zigzag/downcast their
# bodies are a few hundred bytes, where deflate's fixed per-call cost
# (~60-70% of encode CPU, measured) buys single-digit bytes — or makes
# the body BIGGER. Bodies at/below _STORE_THRESHOLD skip zlib entirely;
# larger bodies keep it but fall back to stored when it doesn't pay.
_STORED_FLAG = 0x80
_STORE_THRESHOLD = 512


# ---------------------------------------------------------------------------
# zigzag (int64 <-> uint64), wrap-safe
# ---------------------------------------------------------------------------

def _zigzag(v: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zigzag: small magnitudes -> small uints.

    Branchless: (v << 1) ^ (v >> 63) — the arithmetic right shift IS
    the sign mask (0 or all-ones); bit-reinterpreting views instead of
    value-converting astype (encode runs per chunk per channel — at
    10⁵+ chunks/task the where/astype variant was measurably hot)."""
    v = np.ascontiguousarray(v)
    u = v.view(np.uint64)
    return (u << np.uint64(1)) ^ (v >> np.int64(63)).view(np.uint64)


def _unzigzag(z: np.ndarray) -> np.ndarray:
    # branchless: (z >> 1) ^ -(z & 1)  — two temporaries instead of
    # four (bool mask + where) — decode runs per chunk, so constant
    # factors matter at 10⁵+ chunks per task
    return ((z >> np.uint64(1)) ^ (np.uint64(0) - (z & np.uint64(1)))).view(
        np.int64
    )


def _downcast(z: np.ndarray) -> tuple[np.ndarray, int]:
    """Shrink a uint64 array to the narrowest unsigned width that fits.

    Returns (array, width_bytes). Plays the role of Gorilla's
    variable-bit-width control bits, but stays fully vectorized.
    """
    if z.size == 0:
        return z.astype(np.uint8), 1
    m = int(z.max())
    if m <= 0xFF:
        return z.astype(np.uint8), 1
    if m <= 0xFFFF:
        return z.astype(np.uint16), 2
    if m <= 0xFFFFFFFF:
        return z.astype(np.uint32), 4
    return z, 8


_WIDTH_DTYPES = {1: np.uint8, 2: np.uint16, 4: np.uint32, 8: np.uint64}


def _shuffle_bytes(a: np.ndarray) -> bytes:
    """Byte-plane transpose (like Blosc shuffle / mtscomp F-order)."""
    n = a.size
    if n == 0:
        return b""
    return np.ascontiguousarray(
        a.view(np.uint8).reshape(n, a.dtype.itemsize).T
    ).tobytes()


def _unshuffle_bytes(b: bytes, n: int, dtype: np.dtype) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=dtype)
    itemsize = np.dtype(dtype).itemsize
    planes = np.frombuffer(b, dtype=np.uint8).reshape(itemsize, n)
    return np.ascontiguousarray(planes.T).reshape(n, itemsize).view(dtype).ravel()


# ---------------------------------------------------------------------------
# per-stream encoders
# ---------------------------------------------------------------------------

def encode_column(
    arr: np.ndarray,
    codec: int | None = None,
    level: int = _ZLEVEL,
    entropy: bool = True,
) -> bytes:
    """Encode a 1-D array into a framed, compressed payload.

    codec defaults: floats -> CODEC_XOR, int64 -> CODEC_DELTA, other
    ints -> CODEC_DELTA. Pass CODEC_DOD for timestamp-like columns.
    ``level`` is the zlib entropy-stage level (≙ comp_level,
    mtscomp.py:50); decode never needs it (payloads self-describe).
    ``entropy=False`` forces the stored path — for channels the caller
    KNOWS are incompressible (cryptographic digests), where a deflate
    attempt is pure waste.
    """
    arr = np.asarray(arr)
    if arr.ndim != 1:
        raise ValueError("encode_column expects a 1-D array")
    dt = arr.dtype
    dtcode = _DTYPE_OBJ_CODES.get(dt)
    if dtcode is None:
        raise TypeError(f"unsupported dtype {dt}")
    if codec is None:
        codec = CODEC_XOR if dt.kind == "f" else CODEC_DELTA
    n = arr.size
    stored = False

    def _entropy_stage(raw: bytes) -> bytes:
        nonlocal stored
        if not entropy or len(raw) <= _STORE_THRESHOLD:
            stored = True
            return raw
        body = zlib.compress(raw, level)
        if len(body) >= 0.97 * len(raw):
            stored = True
            return raw
        return body

    if codec == CODEC_RAW:
        body = _entropy_stage(arr.tobytes())
        width = dt.itemsize
    elif codec in (CODEC_DELTA, CODEC_DOD):
        if dt.kind == "f":
            raise TypeError("delta codecs are for integer dtypes")
        v = arr.astype(np.int64)  # wraps are impossible: widened domain
        order = 1 if codec == CODEC_DELTA else 2
        anchors = []
        for _ in range(order):
            if v.size == 0:
                break
            anchors.append(int(v[0]))
            v = v[1:] - v[:-1]  # np.diff minus its wrapper overhead
        z = _zigzag(v)
        zc, width = _downcast(z)
        raw = struct.pack("<B", len(anchors))
        raw += b"".join(struct.pack("<q", a) for a in anchors)
        raw += _shuffle_bytes(zc)
        body = _entropy_stage(raw)
    elif codec in (CODEC_XOR, CODEC_XOR_RAW):
        if dt.kind != "f":
            raise TypeError("CODEC_XOR is for float dtypes")
        u = np.dtype(f"uint{dt.itemsize * 8}")
        bits = arr.view(u)
        if n:
            x = np.empty_like(bits)
            x[0] = bits[0]
            np.bitwise_xor(bits[1:], bits[:-1], out=x[1:])
        else:
            x = bits
        width = dt.itemsize
        shuffled = _shuffle_bytes(x)
        # Gorilla proper has no entropy coder; zlib only pays on SOME
        # byte planes (sign/exponent/high-mantissa XOR planes carry long
        # runs; low-mantissa planes are pure entropy). Decide PER PLANE
        # with a 512B probe, compress only the planes that pay, and
        # store a plane bitmap — typically 3-6× faster than compressing
        # everything, at equal or better ratio.
        # entropy=False short-circuits the per-plane probes too: the
        # caller declared the channel incompressible, so the XOR family
        # takes its stored form (XOR_RAW) — the documented contract
        if codec == CODEC_XOR and n >= 1024 and entropy:
            bitmap = 0
            streams = []
            for i in range(width):
                plane = shuffled[i * n:(i + 1) * n]
                probe = zlib.compress(plane[:512], level)
                comp = None
                if len(probe) < 0.90 * min(len(plane), 512):
                    comp = zlib.compress(plane, level)
                if comp is not None and len(comp) < 0.9 * len(plane):
                    bitmap |= 1 << i
                    streams.append(comp)
                else:
                    streams.append(plane)
            body = struct.pack("<B", bitmap) + b"".join(
                struct.pack("<I", len(st)) + st for st in streams
            )
            codec = CODEC_XOR_PLANES
        elif codec == CODEC_XOR:
            # small shuffled bodies: same stored-threshold rule as the
            # integer codecs (XOR_RAW is the XOR family's stored form)
            if not entropy or len(shuffled) <= _STORE_THRESHOLD:
                codec, body = CODEC_XOR_RAW, shuffled
            else:
                body = zlib.compress(shuffled, level)
                if len(body) > 0.97 * len(shuffled):
                    codec, body = CODEC_XOR_RAW, shuffled
        else:
            body = shuffled
    else:
        raise ValueError(f"unknown codec {codec}")

    header = _HEADER.pack(
        MAGIC, VERSION, codec | (_STORED_FLAG if stored else 0), dtcode,
        width, n,
    )
    return header + body


def decode_column(payload: bytes) -> np.ndarray:
    """Invert encode_column bit-exactly."""
    magic, version, codec, dtcode, width, n = _HEADER.unpack_from(payload, 0)
    if magic != MAGIC:
        raise ValueError("bad payload magic")
    if version != VERSION:
        raise ValueError(f"unsupported payload version {version}")
    stored = bool(codec & _STORED_FLAG)
    codec &= _STORED_FLAG - 1
    dt = _CODE_DTYPES[dtcode]
    # memoryview: byte-slicing a bytes payload copies; decode runs per
    # chunk per channel, so header/body splits must be views
    raw_body = memoryview(payload)[_HEADER.size:]
    if stored or codec in (CODEC_XOR_RAW, CODEC_XOR_PLANES):
        body = raw_body
    else:
        body = zlib.decompress(raw_body)

    if codec == CODEC_RAW:
        return np.frombuffer(body, dtype=dt, count=n).copy()
    if codec in (CODEC_DELTA, CODEC_DOD):
        n_anchors = body[0]
        anchors = [
            struct.unpack_from("<q", body, 1 + 8 * i)[0] for i in range(n_anchors)
        ]
        off = 1 + 8 * n_anchors
        m = n - n_anchors
        z = _unshuffle_bytes(body[off:], m, _WIDTH_DTYPES[width]).astype(np.uint64)
        v = _unzigzag(z)
        for a in reversed(anchors):
            # prepend the anchor and cumsum IN PLACE — the old
            # concatenate-then-cumsum allocated twice per anchor
            w = np.empty(v.size + 1, dtype=np.int64)
            w[0] = a
            w[1:] = v
            np.cumsum(w, out=w)
            v = w
        if dt.kind == "u":
            return v.astype(np.uint64).astype(dt)
        return v.astype(dt)
    if codec in (CODEC_XOR, CODEC_XOR_RAW):
        u = np.dtype(f"uint{dt.itemsize * 8}")
        x = _unshuffle_bytes(body, n, u)
        bits = np.bitwise_xor.accumulate(x)
        return bits.view(dt)
    if codec == CODEC_XOR_PLANES:
        u = np.dtype(f"uint{dt.itemsize * 8}")
        bitmap = body[0]
        planes = []
        off = 1
        for i in range(width):
            (ln,) = struct.unpack_from("<I", body, off)
            off += 4
            st = body[off:off + ln]
            off += ln
            planes.append(zlib.decompress(st) if bitmap & (1 << i) else st)
        x = _unshuffle_bytes(b"".join(planes), n, u)
        bits = np.bitwise_xor.accumulate(x)
        return bits.view(dt)
    raise ValueError(f"unknown codec {codec}")


# ---------------------------------------------------------------------------
# multi-channel chunk payloads
# ---------------------------------------------------------------------------

def default_codec_for(dtype: np.dtype, is_ts: bool = False) -> int:
    dtype = np.dtype(dtype)
    if is_ts:
        return CODEC_DOD
    if dtype.kind == "f":
        return CODEC_XOR
    return CODEC_DELTA


def chunk_sha1(ts: np.ndarray, channels: dict[str, np.ndarray]) -> str:
    """SHA1 of the raw uncompressed chunk bytes (ts then channels in
    name order) — the per-chunk integrity ledger, mirroring the
    reference's running SHA1s in the .ch metadata (mtscomp.py:321-322,
    481-483)."""
    h = hashlib.sha1()
    h.update(np.ascontiguousarray(ts).tobytes())
    for name in sorted(channels):
        h.update(np.ascontiguousarray(channels[name]).tobytes())
    return h.hexdigest()
