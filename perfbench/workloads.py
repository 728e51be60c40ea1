"""The benchmark's workloads: ``ingest`` and ``maintain``.

Each workload has the same life cycle, driven by ``run.py``:

* ``setup()`` builds its input and store from the seed in several
  equal steps and returns their walls; their median is ``setup_s``;
* ``op(op_id)`` runs one unit of work (an ingest iteration, a
  maintenance cycle) inside the timed window and records the answers
  it got, without checking them;
* ``check()`` runs after the window and compares every recorded answer
  with an expected value derived from the generator's input, never from
  mtslake's own output; it returns the op ids that failed;
* ``walls()`` reduces the recorded wall times to the figures every
  workload reports, and ``named()`` to the workload's own ones.

Every call into mtslake sits in a ``Tracer`` span named after the
module and function it calls, so the traced run can attribute Spark's
metrics to layers.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from mtslake import chunk, read, rollup
from mtslake.catalog import ChunkStore
from mtslake.compact import compact
from mtslake.gapfill import gapfill_locf
from mtslake.retention import apply_retention

from . import gen

US_PER_HOUR = 3_600 * gen.US_PER_S
HISTORY_DAYS = 33  # maintain's history: more than the 30-day raw horizon
RAW_DAYS = 30  # EngineConfig's default raw retention, in days

# Input sizes. "full" is what the benchmark measures; "smoke" is the
# tiny shape its own tests run.
SIZES = {
    "full": {
        "ingest": gen.Shape(n_urls=160, days=2, n_hot=2, hot_factor=20),
        "maintain": gen.Shape(n_urls=12, days=HISTORY_DAYS + 100),
        "partitions": 8,
    },
    "smoke": {
        "ingest": gen.Shape(n_urls=20, days=2, n_hot=1, hot_factor=4),
        "maintain": gen.Shape(n_urls=6, days=HISTORY_DAYS + 100,
                              per_day=24),
        "partitions": 4,
    },
}
SETUP_STEPS = 3  # set-up steps per run; setup_s is their median
FRESH_READS = 1  # reads of the new day per maintenance cycle


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no checksums/markers)."""
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, f))
    return total


def close(a, b, rel=1e-6, abs_=1e-6) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def row_hash_sum(df):
    """Order-independent fingerprint of a series frame's points."""
    h = F.xxhash64("url", "ts_us", "n_chars", "value", "text_sha1")
    return df.agg(F.sum(h.cast("decimal(38,0)"))).first()[0]


@dataclass
class Op:
    op_id: int
    kind: str
    ms: float
    answer: object = None
    expect: object = None  # key into the workload's expected answers
    parts: dict = field(default_factory=dict)  # sub-step walls, s


class Workload:
    name = ""
    min_ops = 1  # the timed window runs at least this many ops

    def __init__(self, spark, root: str, seed: int, size: str, tracer,
                 plant_wrong: bool = False):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.smoke = size == "smoke"
        self.sizes = SIZES[size]
        self.tracer = tracer
        self.plant_wrong = plant_wrong
        self.ops: list[Op] = []
        self.store = ChunkStore(spark, os.path.join(root, "store"))
        self.series = None

    # shared helpers ----------------------------------------------------

    def _fresh_store(self) -> None:
        shutil.rmtree(self.store.root, ignore_errors=True)

    def _persist_series(self, df) -> int:
        if self.series is not None:
            self.series.unpersist()
        self.series = df.repartition(self.sizes["partitions"],
                                     "url").persist()
        return self.series.count()

    def _build_store(self) -> None:
        """compress → write_chunks(overwrite) → read_range(value) →
        materialize_tiers over the persisted input."""
        self.store.write_chunks(
            chunk.compress_series(self.series, pre_partitioned=True),
            mode="overwrite")
        rollup.materialize_tiers(
            self.store, read.read_range(self.store, columns=["value"]))

    def stored_points(self) -> int:
        return self.store.catalog().agg(F.sum("n_points")).first()[0]

    def raw_nbytes(self) -> int:
        return self.store.catalog().agg(F.sum("raw_nbytes")).first()[0]

    def codec_ratio(self) -> float:
        r = self.store.catalog().agg(F.sum("raw_nbytes"),
                                     F.sum("comp_nbytes")).first()
        return r[0] / r[1]

    def store_bytes_per_point(self) -> float:
        return dir_bytes(self.store.path("chunks")) / self.stored_points()

    def sample_payloads(self, n: int = 48) -> list[bytes]:
        """Numeric channel payloads of ``n`` real chunk rows, for the
        codec micro-metrics."""
        rows = (self.store.chunks()
                .select("p_ts", "p_n_chars", "p_value")
                .orderBy(F.xxhash64("url", "chunk_id"))
                .limit(n).collect())
        return [bytes(p) for r in rows for p in r]

    def prepare(self) -> None:
        """Untimed work after the last set-up: op parameters and the
        expected answers that need the input."""

    def layer_inputs(self) -> dict:
        """Workload-side counts the per-layer metrics divide by."""
        return {}

    def kinds(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind]

    def p50_ms(self, kind: str) -> float:
        return median([o.ms for o in self.kinds(kind)])


class Ingest(Workload):
    """Full-table build: compress → write_chunks(overwrite) →
    read_range(value) → materialize_tiers, then one full-channel read."""

    name = "ingest"
    min_ops = 2

    def setup(self) -> list[float]:
        """Each step generates the input and persists it url-partitioned;
        setup_s is their median. The cold first iteration that follows
        belongs to set-up too, but is not a step."""
        walls = []
        for _ in range(1 if self.smoke else SETUP_STEPS):
            t0 = time.monotonic()
            self.n_points = self._persist_series(
                gen.series(self.spark, self.sizes["ingest"], self.seed))
            walls.append(time.monotonic() - t0)
        self._fresh_store()
        self._iteration(None)
        return walls

    def _iteration(self, op_id):
        tr = self.tracer
        t0 = time.monotonic()
        with tr.span("catalog.write_chunks", op_id):
            self.store.write_chunks(
                chunk.compress_series(self.series, pre_partitioned=True),
                mode="overwrite")
        t1 = time.monotonic()
        with tr.span("rollup.materialize_tiers", op_id):
            rollup.materialize_tiers(
                self.store, read.read_range(self.store, columns=["value"]))
        t2 = time.monotonic()
        with tr.span("read.read_range", op_id):
            n = read.read_range(self.store).count()
        t3 = time.monotonic()
        return n, {"write": t1 - t0, "tiers": t2 - t1, "read": t3 - t2,
                   "pipeline": t2 - t0}


    def op(self, op_id: int) -> None:
        t0 = time.monotonic()
        with self.tracer.span("op.ingest", op_id):
            n, parts = self._iteration(op_id)
        self.ops.append(Op(op_id, "iteration",
                           (time.monotonic() - t0) * 1e3, n, "n_points",
                           parts))

    def check(self) -> tuple[set[int], list[str]]:
        expect = self.n_points + (1 if self.plant_wrong else 0)
        bad = {o.op_id for o in self.ops if o.answer != expect}
        problems = []
        if bad:
            problems.append(f"iteration point counts != {expect}")
        # ledger: verify=True recomputes every chunk's sha1 and raises on
        # a mismatch; the decoded points must equal the input points
        decoded = read.read_range(self.store, verify=True)
        if decoded.count() != self.n_points:
            problems.append("verified decode count != input")
        if row_hash_sum(decoded) != row_hash_sum(self.series):
            problems.append("decoded points != input points")
        for tier in ("1m", "1h", "1d"):
            s = self.spark.read.parquet(
                self.store.path(f"rollup_{tier}")).agg(F.sum("cnt")).first()[0]
            if s != self.n_points:
                problems.append(f"sum(cnt) of tier {tier} = {s}")
        return bad, problems

    def walls(self) -> dict:
        its = self.kinds("iteration")
        return {
            "op_p50_ms": median([o.ms for o in its]),
            "points_per_s": self.n_points / median(
                [o.parts["pipeline"] for o in its]),
            "read_p50_ms": 1e3 * median([o.parts["read"] for o in its]),
        }

    def named(self) -> dict:
        its = self.kinds("iteration")
        raw = self.raw_nbytes()
        return {
            "ingest.points_per_s": (self.n_points / median(
                [o.parts["pipeline"] for o in its]), "1/s"),
            "ingest.compress_mb_s": (raw / 1e6 / median(
                [o.parts["write"] for o in its]), "MB/s"),
            "ingest.decode_mb_s": (raw / 1e6 / median(
                [o.parts["read"] for o in its]), "MB/s"),
            "ingest.write_p50_s": (median(
                [o.parts["write"] for o in its]), "s"),
            "ingest.tiers_p50_s": (median(
                [o.parts["tiers"] for o in its]), "s"),
        }

    def layer_inputs(self) -> dict:
        its = self.kinds("iteration")
        return {
            "useful_chunk_rows": self.store.catalog().count() * len(its),
            "points_returned": sum(o.answer for o in its),
        }


class Maintain(Workload):
    """Nightly steady state over a store holding more history than the
    raw horizon, followed by the morning's reads. A cycle for day d:

    1. appends day d, minus its late slice, with day d-1's late slice
       (shuffle-path compress, ``write_chunks(append)``);
    2. compacts chunk d-1, which the late rows fragmented;
    3. refreshes the tiers of days d-1 and d;
    4. applies retention at the end of day d (drops one raw partition);
    5. reads: day d back ``FRESH_READS`` times, one url's full history,
       LOCF gap fill of one lang on the 1h tier, and a grouped scan of
       the last week of the 1h tier."""

    name = "maintain"

    def _shape(self):
        return self.sizes["maintain"]

    def _append(self, batch) -> None:
        self.store.write_chunks(chunk.compress_series(batch), mode="append")

    def setup(self) -> list[float]:
        """Each step generates the history (minus the last day's late
        slice, which arrives with the first cycle) and persists it
        url-partitioned; setup_s is their median. The store is then
        built from it and the raw days past the horizon expire."""
        h = HISTORY_DAYS
        walls = []
        for _ in range(1 if self.smoke else SETUP_STEPS):
            t0 = time.monotonic()
            self._persist_series(self._days(0, h - 1))
            walls.append(time.monotonic() - t0)
        self._fresh_store()
        self._build_store()
        self.series.unpersist()
        apply_retention(self.store, gen.day_bounds(h - 1)[1] + 1)
        self.day = h
        return walls

    def prepare(self) -> None:
        rng = random.Random(self.seed)
        urls = sorted(r[0] for r in
                      gen.urls(self.spark, self._shape(), self.seed)
                      .select("url").collect())
        self.pick = lambda: (rng.choice(urls), rng.choice(gen.LANGS))

    def _batch(self, d: int):
        shape, seed = self._shape(), self.seed
        late = gen.late_mask(seed)
        return gen.series(self.spark, shape, seed, d, d + 1).filter(
            ~late).unionByName(
            gen.series(self.spark, shape, seed, d - 1, d).filter(late))

    def _tier_1h(self):
        return self.spark.read.parquet(self.store.path("rollup_1h"))

    def op(self, op_id: int) -> None:
        d, tr, cid = self.day, self.tracer, gen.chunk_id_of_day
        url, lang = self.pick()
        t0 = time.monotonic()
        with tr.span("op.maintain_cycle", op_id):
            with tr.span("catalog.write_chunks"):
                self._append(self._batch(d))
            t1 = time.monotonic()
            with tr.span("compact.compact"):
                comp = compact(self.store, chunk_ids=[cid(d - 1)])
            t2 = time.monotonic()
            with tr.span("rollup.refresh_tiers"):
                rollup.refresh_tiers(self.store, [cid(d - 1), cid(d)])
            t3 = time.monotonic()
            with tr.span("retention.apply_retention"):
                ret = apply_retention(self.store, gen.day_bounds(d)[1] + 1)
            t4 = time.monotonic()
            reads = [self._read(op_id, "fresh_read", (d,), "read.read_range",
                                lambda: read.read_range(
                                    self.store, *gen.day_bounds(d),
                                    columns=["value"]).agg(
                                    F.count("*"), F.sum("value")).first())
                     for _ in range(FRESH_READS)]
            reads.append(self._read(
                op_id, "url_history", (d, url), "read.read_range",
                lambda: read.read_range(self.store, url=url).agg(
                    F.count("*"), F.sum("value"), F.sum("n_chars")).first()))
            reads.append(self._read(
                op_id, "gapfill_1h", (d, lang), "gapfill.gapfill_locf",
                lambda: gapfill_locf(
                    self._tier_1h().filter(F.col("lang") == lang), "1h").agg(
                    F.count("*"), F.count(F.when(~F.col("is_filled"), 1)),
                    F.sum(F.when(~F.col("is_filled"), F.col("cnt")))).first()))
            b0 = gen.day_bounds(d - 7)[0]
            b1 = gen.day_bounds(d)[0]
            reads.append(self._read(
                op_id, "tier_scan", (d,), "rollup.tier_scan",
                lambda: {r[0]: (r[1], r[2]) for r in self._tier_1h().filter(
                    (F.col("bucket_us") >= b0) & (F.col("bucket_us") < b1))
                    .groupBy("lang").agg(F.sum("cnt"), F.sum("vsum"))
                    .collect()}))
        self.ops.append(Op(op_id, "cycle", (time.monotonic() - t0) * 1e3,
                           {"compact": comp,
                            "dropped": ret["raw_partitions_dropped"]}, d,
                           {"append": t1 - t0, "compact": t2 - t1,
                            "refresh": t3 - t2, "retention": t4 - t3}))
        self.ops.extend(reads)
        self.day = d + 1

    def _read(self, op_id, kind, expect, span, fn) -> Op:
        t0 = time.monotonic()
        with self.tracer.span("op." + kind), self.tracer.span(span):
            ans = fn()
        return Op(op_id, kind, (time.monotonic() - t0) * 1e3, tuple(ans)
                  if not isinstance(ans, dict) else ans, expect)

    # -- answer checks ----------------------------------------------------

    def _days(self, lo: int, hi: int):
        """Generator points of days [lo, hi] without day hi's late
        slice (it arrives with day hi + 1)."""
        s = gen.series(self.spark, self._shape(), self.seed, lo, hi + 1)
        return s.filter(~((F.col("ts_us") >= gen.day_bounds(hi)[0])
                          & gen.late_mask(self.seed)))

    def _expectations(self, hi: int) -> dict:
        """Every expected answer, from the generator's points of days
        [0, hi] as the store should hold them after the last cycle: one
        conditional aggregate, plus one grouped by host for gap fill."""
        g = self._days(0, hi).withColumn(
            "day", F.floor((F.col("ts_us") - gen.T0_US) / gen.US_PER_DAY)
        ).withColumn("late", gen.late_mask(self.seed)).persist()
        day, late, v = F.col("day"), F.col("late"), F.col("value")

        def as_of(d):  # what the store held when cycle d ran
            return ~((day == d) & late)

        aggs, keys = [], []

        def add(key, cond, *cols):
            keys.append(key)
            aggs.append(F.count(F.when(cond, 1)))
            for c in cols:
                aggs.append(F.sum(F.when(cond, c)))

        for o in self.ops:
            d = o.expect[0] if isinstance(o.expect, tuple) else o.expect
            if o.kind == "cycle":
                add(("batch", d), ((day == d) & ~late)
                    | ((day == d - 1) & late))
            elif o.kind == "fresh_read":
                add(("fresh_read", d), (day == d) & ~late, v)
            elif o.kind == "url_history":
                cond = ((day >= d - RAW_DAYS + 1) & (day <= d) & as_of(d)
                        & (F.col("url") == o.expect[1]))
                add(("url_history", o.expect), cond, v, F.col("n_chars"))
            elif o.kind == "tier_scan":
                for lang in gen.LANGS:
                    add(("tier_scan", d, lang), (day >= d - 7) & (day < d)
                        & (F.col("lang") == lang), v)
        add(("stored",), day >= hi - RAW_DAYS + 1)
        row = g.agg(*aggs).first()
        exp, i = {}, 0
        for key in keys:
            width = {"fresh_read": 2, "url_history": 3,
                     "tier_scan": 2}.get(key[0], 1)
            exp[key] = tuple(row[i:i + width])
            i += width

        hb = F.col("ts_us") - F.pmod(F.col("ts_us"), F.lit(US_PER_HOUR))
        host = F.substring_index(
            F.substring_index(F.col("url"), "://", -1), "/", 1)
        gaps = [o for o in self.ops if o.kind == "gapfill_1h"]
        per_key = []
        for j, o in enumerate(gaps):
            cond = (day <= o.expect[0]) & as_of(o.expect[0]) & (
                F.col("lang") == o.expect[1])
            per_key += [F.min(F.when(cond, hb)).alias(f"b0_{j}"),
                        F.max(F.when(cond, hb)).alias(f"b1_{j}"),
                        F.count_distinct(F.when(cond, hb)).alias(f"o_{j}"),
                        F.count(F.when(cond, 1)).alias(f"n_{j}")]
        if gaps:
            sums = []
            for j in range(len(gaps)):
                span = (F.col(f"b1_{j}") - F.col(f"b0_{j}")) / US_PER_HOUR + 1
                sums += [F.sum(span).cast("long"), F.sum(f"o_{j}"),
                         F.sum(f"n_{j}")]
            r = g.groupBy(host).agg(*per_key).agg(*sums).first()
            for j, o in enumerate(gaps):
                rows, obs, pts = r[3 * j:3 * j + 3]
                exp[("gapfill_1h", o.expect)] = (
                    rows or 0, obs or 0, pts if pts else None)
        g.unpersist()
        return exp

    def _ok(self, o: Op, exp: dict) -> bool:
        got = o.answer
        if o.kind == "cycle":
            c = got["compact"]
            return (got["dropped"] == 1
                    and c["rows_after"] == self._shape().n_urls
                    and c["rows_before"] > c["rows_after"])
        if o.kind == "tier_scan":
            want = {lang: exp[("tier_scan", o.expect[0], lang)]
                    for lang in gen.LANGS
                    if exp[("tier_scan", o.expect[0], lang)][0]}
            return set(got) == set(want) and all(
                got[k][0] == want[k][0] and close(got[k][1], want[k][1])
                for k in want)
        if o.kind == "gapfill_1h":
            return got == exp[("gapfill_1h", o.expect)]
        want = exp[(o.kind, o.expect if o.kind == "url_history"
                    else o.expect[0])]
        if self.plant_wrong and o.kind == "fresh_read":
            want = (want[0] + 1,) + want[1:]
        return got[0] == want[0] and all(
            close(a, b) for a, b in zip(got[1:], want[1:]))

    def check(self) -> tuple[set[int], list[str]]:
        cycles = self.kinds("cycle")
        if not cycles:
            return set(), ["no maintenance cycle completed"]
        hi = max(o.expect for o in cycles)
        exp = self._expectations(hi)
        bad = {o.op_id for o in self.ops if not self._ok(o, exp)}
        problems = [f"{len(bad)} maintenance cycles answered wrong"] if bad \
            else []
        self.batch_points = {o.expect: exp[("batch", o.expect)][0]
                             for o in cycles}
        # stored points = appended - expired: the retained days, minus
        # the last day's late slice, which has not arrived yet
        if self.stored_points() != exp[("stored",)][0]:
            problems.append("stored points != appended - expired")
        # refreshed tiers == the tiers materialize_tiers would build from
        # scratch on the retained data (the same aggregation chain,
        # rollup.build_all_tiers, without the parquet round trip)
        b0 = gen.day_bounds(hi - RAW_DAYS + 1)[0]
        retained = read.read_range(self.store, columns=["value"]).persist()
        try:
            rebuilt = rollup.build_all_tiers(retained)
            tiers = {**{("stored", t): self.spark.read.parquet(
                self.store.path(f"rollup_{t}")) for t in rebuilt},
                **{("rebuilt", t): df for t, df in rebuilt.items()}}
            fp = tier_fingerprints(tiers, b0)
            if any(fp.get(("stored", t)) != fp.get(("rebuilt", t))
                   for t in rebuilt):
                problems.append(
                    "refreshed tiers != tiers rebuilt from scratch")
        finally:
            retained.unpersist()
        return bad, problems

    # -- metrics ----------------------------------------------------------

    def walls(self) -> dict:
        cycles = self.kinds("cycle")
        new_pts = sum(self.batch_points[o.expect] for o in cycles)
        return {
            "op_p50_ms": self.p50_ms("cycle"),
            "points_per_s": new_pts / (sum(o.ms for o in cycles) / 1e3),
            "read_p50_ms": self.p50_ms("fresh_read"),
        }

    def named(self) -> dict:
        m = self.walls()
        cycles = self.kinds("cycle")
        out = {
            "maintain.cycle_p50_s": (m["op_p50_ms"] / 1e3, "s"),
            "maintain.points_per_s": (m["points_per_s"], "1/s"),
            "maintain.fresh_read_p50_ms": (m["read_p50_ms"], "ms"),
        }
        for step in ("append", "compact", "refresh", "retention"):
            out[f"maintain.{step}_p50_s"] = (
                median([o.parts[step] for o in cycles]), "s")
        for kind in ("url_history", "gapfill_1h", "tier_scan"):
            out[f"query.{kind}_p50_ms"] = (self.p50_ms(kind), "ms")
        return out

    def layer_inputs(self) -> dict:
        cycles = self.kinds("cycle")
        reads = self.kinds("fresh_read") + self.kinds("url_history")
        gaps = self.kinds("gapfill_1h")
        return {
            # one chunk row per url and day: the fresh day's rows, and
            # the url's row of each retained day
            "useful_chunk_rows": self._shape().n_urls * len(
                self.kinds("fresh_read"))
            + RAW_DAYS * len(self.kinds("url_history")),
            "points_returned": sum(o.answer[0] for o in reads),
            "new_points": sum(self.batch_points[o.expect] for o in cycles),
            "gapfill_rows_out": sum(o.answer[0] for o in gaps),
            "gapfill_rows_in": sum(o.answer[1] for o in gaps),
            "partitions_dropped": sum(o.answer["dropped"] for o in cycles),
            "compact_rows_before": sum(
                o.answer["compact"]["rows_before"] for o in cycles),
            "compact_rows_after": sum(
                o.answer["compact"]["rows_after"] for o in cycles),
        }


def tier_fingerprints(tiers: dict, b0: int) -> dict:
    """{(source, tier): (rows, order-independent hash sum)} over buckets
    from ``b0``, in one job."""
    cols = ["url_prefix", "lang", "bucket_us", "cnt", "vmin", "vmax", "vsum"]
    both = None
    for (src, name), df in tiers.items():
        part = df.select(*cols).withColumn("src", F.lit(src)).withColumn(
            "tier", F.lit(name))
        both = part if both is None else both.unionByName(part)
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    rows = (both.filter(F.col("bucket_us") >= b0).groupBy("src", "tier")
            .agg(F.count("*"), F.sum(h)).collect())
    return {(r[0], r[1]): (r[2], r[3]) for r in rows}


WORKLOADS = {w.name: w for w in (Ingest, Maintain)}
