"""Per-layer metrics of a traced run.

Every metric comes from spans the benchmark recorded around its calls
into mtslake (``Tracer``) joined with what Spark itself measured for the
jobs those calls started (``EventLog``). Only spans of the timed ops
count; set-up spans carry no op id. Counts and Spark times are per
workload op (ingest iteration, query round, maintenance cycle); ``*_s``
times of a call are medians over its calls. A layer a workload does not
drive reads 0.
"""

from __future__ import annotations

import statistics
import time

from mtslake import codec

from .trace import EventLog, Tracer

PER_LAYER = (
    ("chunk.python_s", "s"),
    ("chunk.arrow_bytes_to_python", "bytes"),
    ("chunk.rows_to_python", "count"),
    ("chunk.sort_s", "s"),
    ("chunk.chunk_rows_out", "count"),
    ("codec.encode_ns_per_point", "ns/point"),
    ("codec.decode_ns_per_point", "ns/point"),
    ("codec.ratio", "ratio"),
    ("catalog.write_chunks_s", "s"),
    ("catalog.files_written", "count"),
    ("catalog.bytes_written", "bytes"),
    ("catalog.shuffle_write_bytes", "bytes"),
    ("catalog.files_scanned", "count"),
    ("catalog.chunk_rows_scanned_per_useful", "ratio"),
    ("read.read_range_s", "s"),
    ("read.fresh_read_s", "s"),
    ("read.url_history_s", "s"),
    ("read.python_s", "s"),
    ("read.points_decoded", "count"),
    ("read.useful_ratio", "ratio"),
    ("rollup.materialize_tiers_s", "s"),
    ("rollup.tier_1m_s", "s"),
    ("rollup.tier_1h_s", "s"),
    ("rollup.tier_1d_s", "s"),
    ("rollup.tier_files_written", "count"),
    ("rollup.refresh_tiers_s", "s"),
    ("rollup.refresh_points_decoded_per_new", "ratio"),
    ("rollup.shuffle_bytes", "bytes"),
    ("rollup.spill_bytes", "bytes"),
    ("gapfill.gapfill_locf_s", "s"),
    ("gapfill.rows_out_per_in", "ratio"),
    ("retention.apply_retention_s", "s"),
    ("retention.partitions_dropped", "count"),
    ("compact.compact_s", "s"),
    ("compact.rows_before", "count"),
    ("compact.rows_after", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.python_boot_s", "s"),
    ("spark.core_busy_frac", "frac"),
    ("spark.tasks", "count"),
    ("spark.task_retries", "count"),
    ("spark.spill_bytes", "bytes"),
    ("trace.span_coverage", "frac"),
    ("trace.op_p50_ms", "ms"),
)

# workload-side counts a workload without the layer leaves at 0
INPUT_DEFAULTS = dict.fromkeys((
    "useful_chunk_rows", "points_returned", "new_points", "gapfill_rows_in",
    "gapfill_rows_out", "partitions_dropped", "compact_rows_before",
    "compact_rows_after"), 0)

ROWS = "number of output rows"
INSERT = "Execute InsertIntoHadoopFsRelationCommand"
PY_RUN = "time to run Python workers"


def is_encode(nm) -> bool:
    # the encoder's output schema is the chunk row (carries comp_nbytes)
    return nm.node == "MapInArrow" and "comp_nbytes" in nm.desc


def is_decode(nm) -> bool:
    return nm.node == "MapInArrow" and "comp_nbytes" not in nm.desc


def under(pred, log: EventLog):
    """Predicate: the node sits below a plan node matching ``pred``."""
    roots = {(nm.exec_id, nm.desc) for nm in log.accum.values() if pred(nm)}
    return lambda nm: any((nm.exec_id, a) in roots for a in nm.ancestors)


def nearest_rows_below(log: EventLog, groups: set[str], pred) -> float:
    """Rows flowing into the plan nodes matching ``pred``: the output
    rows of the closest node beneath each that counts its rows."""
    total = 0.0
    for eid, desc in {(nm.exec_id, nm.desc) for nm in log.accum.values()
                      if pred(nm) and log.exec_group.get(nm.exec_id)
                      in groups}:
        best = None
        for aid, nm in log.accum.items():
            if (nm.exec_id == eid and nm.metric == ROWS
                    and desc in nm.ancestors):
                depth = len(nm.ancestors) - nm.ancestors.index(desc)
                if best is None or depth < best[0]:
                    best = (depth, aid)
        if best is not None:
            total += log.values.get(best[1], 0.0)
    return total


def codec_timing(payloads: list[bytes], budget_s: float = 0.3):
    """(encode, decode) ns per point of direct codec calls on a fixed
    sample of real chunk columns."""
    # re-encode with the codec family each column was written with; the
    # encoder itself picks the XOR family's stored and per-plane forms
    family = {codec.CODEC_XOR_RAW: codec.CODEC_XOR,
              codec.CODEC_XOR_PLANES: codec.CODEC_XOR}
    arrays = [(codec.decode_column(p), family.get(p[5] & 0x7F, p[5] & 0x7F))
              for p in payloads]
    points = sum(len(a) for a, _ in arrays)

    def ns_per_point(fn) -> float:
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            dt = time.perf_counter() - t0
            if dt >= budget_s:
                return dt * 1e9 / (reps * points)

    enc = ns_per_point(lambda: [codec.encode_column(a, c) for a, c in arrays])
    dec = ns_per_point(lambda: [codec.decode_column(p) for p in payloads])
    return enc, dec


def per_layer(tracer: Tracer, log: EventLog, window_s: float,
              nproc: int, extra: dict) -> dict:
    """``extra`` holds what needed Spark before it stopped: codec
    timings and ratio, and the workload's op answers."""
    timed = [s for s in tracer.spans if s.op_id is not None]
    tops = [s for s in timed if s.parent is None]
    n_ops = max(len(tops), 1)
    all_groups = {s.span_id for s in timed}

    def groups(name: str) -> set[str]:
        out: set[str] = set()
        for s in timed:
            if s.name == name:
                out |= tracer.descendants(s)
        return out

    def med_s(name: str) -> float:
        durs = [s.dur for s in timed if s.name == name]
        return statistics.median(durs) if durs else 0.0

    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    # chunk: the encode MapInArrow, wherever it ran
    m["chunk.python_s"] = log.node_sum(
        all_groups, "MapInArrow", PY_RUN, is_encode) / 1e3 / n_ops
    m["chunk.arrow_bytes_to_python"] = log.node_sum(
        all_groups, "MapInArrow", "data sent to Python workers",
        is_encode) / n_ops
    m["chunk.rows_to_python"] = nearest_rows_below(
        log, all_groups, is_encode) / n_ops
    m["chunk.sort_s"] = log.node_sum(
        all_groups, "Sort", "sort time", under(is_encode, log)) / 1e3 / n_ops
    m["chunk.chunk_rows_out"] = log.node_sum(
        all_groups, "MapInArrow", ROWS, is_encode) / n_ops

    m["codec.encode_ns_per_point"] = extra["codec_encode_ns"]
    m["codec.decode_ns_per_point"] = extra["codec_decode_ns"]
    m["codec.ratio"] = extra["codec_ratio"]

    # catalog: the write, and what reads scan
    wg = groups("catalog.write_chunks")
    ws = log.span_stats(wg)
    m["catalog.write_chunks_s"] = med_s("catalog.write_chunks")
    m["catalog.files_written"] = log.node_sum(
        wg, INSERT, "number of written files") / n_ops
    m["catalog.bytes_written"] = ws.output_bytes / n_ops
    m["catalog.shuffle_write_bytes"] = ws.shuffle_write_bytes / n_ops
    rg = groups("read.read_range")
    n_reads = max(len([s for s in timed if s.name == "read.read_range"]), 1)
    m["catalog.files_scanned"] = log.node_sum(
        rg, "Scan parquet", "number of files read") / n_reads
    scanned = log.node_sum(rg, "Scan parquet", ROWS, under(is_decode, log))
    useful = extra["useful_chunk_rows"]
    m["catalog.chunk_rows_scanned_per_useful"] = (
        scanned / useful if useful else 0.0)

    # read
    decoded = log.node_sum(rg, "MapInArrow", ROWS, is_decode)
    m["read.read_range_s"] = med_s("read.read_range")
    m["read.fresh_read_s"] = med_s("op.fresh_read")
    m["read.url_history_s"] = med_s("op.url_history")
    m["read.python_s"] = log.node_sum(
        rg, "MapInArrow", PY_RUN, is_decode) / 1e3 / n_reads
    m["read.points_decoded"] = decoded / n_reads
    m["read.useful_ratio"] = (
        extra["points_returned"] / decoded if decoded else 0.0)

    # rollup: tier writes are SQL executions named by their output path
    mg = groups("rollup.materialize_tiers")
    fg = groups("rollup.refresh_tiers")
    m["rollup.materialize_tiers_s"] = med_s("rollup.materialize_tiers")
    writes = {nm.exec_id: nm.desc for nm in log.accum.values()
              if nm.node.startswith(INSERT)}
    exec_ms = log.span_stats(mg).sql_exec_ms
    for tier in ("1m", "1h", "1d"):
        ms = sum(t for eid, t in exec_ms.items()
                 if writes_tier(writes.get(eid, ""), tier))
        m[f"rollup.tier_{tier}_s"] = ms / 1e3 / n_ops
    m["rollup.tier_files_written"] = log.node_sum(
        mg | fg, INSERT, "number of written files") / n_ops
    m["rollup.refresh_tiers_s"] = med_s("rollup.refresh_tiers")
    new_points = extra["new_points"]
    m["rollup.refresh_points_decoded_per_new"] = (
        log.node_sum(fg, "MapInArrow", ROWS, is_decode) / new_points
        if new_points else 0.0)
    rs = log.span_stats(mg | fg)
    m["rollup.shuffle_bytes"] = rs.shuffle_write_bytes / n_ops
    m["rollup.spill_bytes"] = rs.spill_bytes / n_ops

    # gapfill, retention, compact
    m["gapfill.gapfill_locf_s"] = med_s("gapfill.gapfill_locf")
    rows_in = extra["gapfill_rows_in"]
    m["gapfill.rows_out_per_in"] = (
        extra["gapfill_rows_out"] / rows_in if rows_in else 0.0)
    m["retention.apply_retention_s"] = med_s("retention.apply_retention")
    m["retention.partitions_dropped"] = extra["partitions_dropped"] / n_ops
    m["compact.compact_s"] = med_s("compact.compact")
    m["compact.rows_before"] = extra["compact_rows_before"] / n_ops
    m["compact.rows_after"] = extra["compact_rows_after"] / n_ops

    # Spark, over every timed op of the workload
    st = log.span_stats(all_groups)
    m["spark.executor_run_s"] = st.run_ms / 1e3 / n_ops
    m["spark.executor_cpu_s"] = st.cpu_ns / 1e9 / n_ops
    m["spark.gc_s"] = st.gc_ms / 1e3 / n_ops
    m["spark.python_boot_s"] = log.node_sum(
        all_groups, "MapInArrow", "time to start Python workers") / 1e3 / n_ops
    m["spark.core_busy_frac"] = st.run_ms / 1e3 / (window_s * nproc)
    m["spark.tasks"] = st.tasks / n_ops
    m["spark.task_retries"] = float(st.task_retries)
    m["spark.spill_bytes"] = st.spill_bytes / n_ops

    # share of op wall covered by the layer calls directly under an op
    top_ids = {s.span_id for s in tops}
    covered = sum(s.dur for s in timed if s.parent in top_ids
                  and not s.name.startswith("op."))
    covered += sum(c.dur for s in timed if s.parent in top_ids
                   and s.name.startswith("op.")
                   for c in timed if c.parent == s.span_id)
    m["trace.span_coverage"] = covered / sum(s.dur for s in tops)
    m["trace.op_p50_ms"] = extra["op_p50_ms"]
    return m


def writes_tier(plan: str, tier: str) -> bool:
    """Whether a write node's plan string writes ``rollup_<tier>`` (the
    output path follows InsertIntoHadoopFsRelationCommand)."""
    key = "InsertIntoHadoopFsRelationCommand "
    i = plan.find(key)
    if i < 0:
        return False
    out = plan[i + len(key):].split(",", 1)[0]
    return out.rstrip("/").endswith(f"rollup_{tier}")
