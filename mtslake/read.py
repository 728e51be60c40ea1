"""Random-access read path (≙ Reader.__getitem__, mtscomp.py:798-856).

    read_range(store, t0, t1, url?) =
        prune chunks on [ts_min, ts_max] overlap   (≙ bisect, :661-684)
        → mapInArrow(decode)                       (≙ read_chunk, :602-635)
        → filter ts BETWEEN t0 AND t1              (≙ trim, :828-833)

"Concatenate then trim" becomes union-of-chunk-decodes + WHERE — and the
pruning is pushed into the Parquet scan (partition + row-group stats),
so unneeded chunks are never read, the property the reference asserts at
mtscomp.py:674,681.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .catalog import ChunkStore, prune_chunks, prune_chunks_by_value
from .chunk import decompress_chunks
from .config import EngineConfig, DEFAULT
from .series import TS_COL


def read_range(
    store: ChunkStore,
    t0_us: int | None = None,
    t1_us: int | None = None,
    url: str | None = None,
    url_prefix: str | None = None,
    columns: list[str] | None = None,
    cfg: EngineConfig = DEFAULT,
    verify: bool = False,
    channel_range: dict | None = None,
) -> DataFrame:
    """Range read with pruning pushed to the scan.

    ``channel_range``: {channel: (lower, upper)} value predicates —
    chunk rows are first pruned on the per-chunk stat columns (chunks
    whose [min, max] can't match are never read nor decoded), then the
    exact row filter applies after decode. Either bound may be None.

    ``cfg`` is a BASE config: the store's pinned layout fields
    (chunk_duration_us, …) are forced over it via ``cfg_for_store``
    before pruning — chunk_id partition pruning computed from a
    caller-supplied duration that differs from the store's layout
    would silently drop in-range partitions (the ts_min/ts_max overlap
    filters are layout-independent, but the chunk_id filter is not)."""
    from .chunk import ALL_CHANNELS

    cfg = store.cfg_for_store(cfg)
    pruned = prune_chunks(
        store.chunks(), t0_us, t1_us, url=url, url_prefix=url_prefix, cfg=cfg
    )
    channel_range = channel_range or {}
    for ch, (lo, hi) in channel_range.items():
        pruned = prune_chunks_by_value(pruned, ch, lo, hi)
    # channel projection (≙ r[:, cols], mtscomp.py:835-842) is pushed
    # INTO the decode: unrequested payload columns are never read from
    # Parquet nor decoded (the reference decodes whole chunks first)
    if columns is not None:
        unknown = sorted(set(columns) - set(ALL_CHANNELS))
        if unknown:
            # a typo'd channel name must fail HERE, not surface as a
            # mysteriously absent column (or never) far downstream
            raise ValueError(
                f"unknown channel(s) {unknown}; available: "
                f"{list(ALL_CHANNELS)}"
            )
    requested = ALL_CHANNELS if columns is None else tuple(
        c for c in ALL_CHANNELS if c in columns
    )
    # filter-only channels decode too, but are dropped from the output
    need = set(requested) | set(channel_range)
    decoded = decompress_chunks(
        pruned, verify=verify,
        channels=tuple(c for c in ALL_CHANNELS if c in need),
    )
    if t0_us is not None:
        decoded = decoded.filter(F.col(TS_COL) >= int(t0_us))
    if t1_us is not None:
        decoded = decoded.filter(F.col(TS_COL) <= int(t1_us))
    for ch, (lo, hi) in channel_range.items():
        if lo is not None:
            decoded = decoded.filter(F.col(ch) >= lo)
        if hi is not None:
            decoded = decoded.filter(F.col(ch) <= hi)
    return decoded.select("url", "lang", TS_COL, *requested)
