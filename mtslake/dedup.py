"""Deduplication operators for training-data pipelines.

All four families stay **entirely JVM-side** (higher-order array
functions + xxhash64 — no Python UDFs), so they survive whole-stage
codegen and scale to 10¹²-doc tables:

* exact          — md5(text) hash-groupBy
* MinHash + LSH  — word-shingles → n minhashes → b bands → bucket
                   groupBy → candidate pairs → exact Jaccard verify
* SimHash        — token-hash bit-majority → 64-bit signature →
                   banded hamming candidates
* n-gram Jaccard — exact set similarity on shingles (verification and
                   small-scale standalone)
* embedding-cosine near-dup — pairs whose embedding cosine ≥ threshold;
                   exact all-pairs for verification, hyperplane-LSH
                   bucketed candidates + exact verify as the scale path

Scale notes: LSH banding is the classic shuffle shape (explode bands →
groupBy bucket); hot buckets are bounded by ``max_bucket`` (a bucket
with more docs than that is almost surely a degenerate shingle — at web
scale you cap, log, and route to exact verify separately).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .ckpt import eager_checkpoint, release as release_ckpt
from .parallel import spread


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Survivor per identical text: lowest id wins (deterministic)."""
    w = W.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _tokens(text_col: str) -> F.Column:
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def shingles(text_col: str = "text", k: int = 3) -> F.Column:
    """Distinct word k-shingles, JVM-side.

    Built by ``k−1`` chained ``zip_with`` passes over shifted views of
    the token array (element i concatenates toks[i..i+k−1]), then
    trimmed to the first ``max(size−k+1, 1)`` entries. Semantically
    identical to the older per-index ``transform(sequence, slice)``
    form — zip_with pads the shorter side with NULL and concat_ws
    skips NULLs, so the short-document (< k tokens) shingle is the
    same partial join, and first-occurrence order (hence
    array_distinct output) is unchanged — but ~5× cheaper: O(k) array
    passes instead of O(n) per-element slice allocations, measured
    2.96 s → 0.61 s single-core over 5 000 docs (these higher-order
    functions are interpreted, not codegen'd, so per-element
    expression overhead dominates)."""
    toks = _tokens(text_col)
    size = F.size(toks)
    n = F.greatest(size - (k - 1), F.lit(1))
    acc = toks
    for j in range(1, k):
        nxt = F.slice(toks, j + 1, F.greatest(size - j, F.lit(0)))
        acc = F.zip_with(acc, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(F.slice(acc, 1, n))


def minhash_signature(shingle_col, n_hashes: int = 64) -> F.Column:
    """n independent minhashes: min over shingles of xxhash64(s, seed).

    Seeding by a second literal column gives n independent hash
    families without any Python.

    The seed MUST be closed over via a factory, not a defaulted second
    lambda parameter: pyspark binds a two-parameter transform lambda as
    ``(element, index)``, which would silently replace every family's
    seed with the array index and collapse all n families into one
    (degenerate banding — planted-recall gated in the driver contract).
    """

    def fam(seed: int):
        return lambda s: F.xxhash64(s, F.lit(seed))

    sigs = [
        F.array_min(F.transform(shingle_col, fam(i))) for i in range(n_hashes)
    ]
    return F.array(*sigs)


def band_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(_id, band, bucket) — the narrow banded MinHash frame.

    Band on (_id, band, bucket) ONLY — the shingle arrays must NOT ride
    the ×bands explode / candidate join: at web scale the shingle
    payload dominates the table, and carrying it here would shuffle
    ~bands× that volume. Candidates are narrow id-pairs; the exact
    Jaccard verify joins them back to a fresh shingle projection
    (two narrow hash joins instead of a wide banded shuffle)."""
    rows_per_band = n_hashes // bands
    base = spread(docs.select(F.col(id_col).alias("_id"), text_col)).select(
        "_id", shingles(text_col, shingle_k).alias("_sh")
    ).withColumn("_sig", minhash_signature(F.col("_sh"), n_hashes))
    return base.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("_sig"), b * rows_per_band + 1,
                                        rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("_b"),
    ).select("_id", F.col("_b.band").alias("band"),
             F.col("_b.bucket").alias("bucket"))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, then EXACT Jaccard
    verification on the candidates (so the threshold is real, not
    probabilistic). Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``max_bucket``: skew guard — buckets larger than this are dropped
    from candidate generation (a bucket that size is almost surely a
    degenerate shingle; at web scale you cap, log, and route to exact
    verify separately). Dropping a bucket drops its true pairs too, so
    full-recall runs (e.g. an oracle-graded 64×1 banding) must pass
    ``max_bucket=None``."""
    banded = band_signatures(docs, text_col, id_col, n_hashes, bands,
                             shingle_k)
    # Bucket-size skew guard as a WINDOW count over (band, bucket): the
    # cap then lives downstream of the same (band, bucket) exchange the
    # self-join needs, so the whole banded subtree — including the
    # 64-way minhash transform, the CPU-dominant stage — is ONE exchange
    # that Spark's ReusedExchange dedups across both join sides
    # (plan-asserted in tests/test_plans.py). No persist: nothing to
    # leak in a long-lived session (an earlier revision cached this
    # frame and never released it).
    if max_bucket is not None:
        banded = banded.withColumn(
            "_bs", F.count("*").over(W.partitionBy("band", "bucket"))
        ).filter(F.col("_bs") <= max_bucket).drop("_bs")

    a = banded.alias("a")
    b = banded.alias("b")
    cand_ids = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return exact_jaccard_verify(cand_ids, docs, text_col, id_col,
                                shingle_k, jaccard_threshold)


def exact_jaccard_verify(
    cand_ids: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verify: join (id_a, id_b) candidate pairs back to
    the shingle base (recomputed projection — cheaper than caching the
    full shingle table, and Catalyst prunes the scan to (_id, text)).
    ``docs`` must contain every id appearing in the pairs."""
    # spread, like the banding side: the shingle recompute is the
    # CPU-heavy stage of the verify, and a single-file corpus scan
    # would otherwise compute every doc's shingles in ONE task
    # (measured: the whole verify serialized behind a 3 s single-core
    # shingle pass at sf0.1)
    sh = spread(
        docs.select(F.col(id_col).alias("_id"), text_col)
    ).select("_id", shingles(text_col, shingle_k).alias("_sh"))
    cand = (
        cand_ids
        .join(sh.select(F.col("_id").alias("id_a"),
                        F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"),
                        F.col("_sh").alias("sh_b")), "id_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _or_tree(terms: list) -> F.Column:
    """Balanced OR of predicate terms (a left-chained fold builds an
    O(n)-deep expression tree that can overflow Catalyst's recursive
    converters past a few hundred terms)."""
    if not terms:
        return F.lit(False)
    while len(terms) > 1:
        terms = [
            terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


_MINHASH_INDEX_META = "_minhash_index.json"
_INDEX_BPREFIX = 8  # bucket-prefix partitions per band (dir fan-out cap)


def build_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    mode: str = "overwrite",
) -> None:
    """Persist the banded MinHash index — the INCREMENTAL dedup layout.

    A nightly ingest must not re-minhash and re-self-join the whole
    corpus to dedup one day of new documents. The banded frame
    (_id, band, bucket) is written ONCE, partitioned by (band,
    bucket-prefix) — directory count capped at bands × 8, like the LSH
    store — and sorted by bucket inside each file so Parquet min/max
    row-group stats prune probe reads to the buckets the new batch
    actually hashes into. Banding params are pinned in a JSON sidecar;
    probing with different params would silently produce disjoint
    buckets, so ``incremental_minhash_pairs`` always reads them from
    the store."""
    import json
    import os

    banded = band_signatures(docs, text_col, id_col, n_hashes, bands,
                             shingle_k)
    (
        banded.withColumn(
            "bprefix", F.pmod(F.col("bucket"), F.lit(_INDEX_BPREFIX))
        )
        .repartition("band", "bprefix")
        .sortWithinPartitions("bucket")
        .write.mode(mode)
        .partitionBy("band", "bprefix")
        .parquet(path)
    )
    meta = {"n_hashes": n_hashes, "bands": bands, "shingle_k": shingle_k}
    mp = os.path.join(path, _MINHASH_INDEX_META)
    if mode == "overwrite" or not os.path.exists(mp):
        with open(mp, "w") as f:
            json.dump(meta, f)
    else:
        with open(mp) as f:
            pinned = json.load(f)
        if pinned != meta:
            raise ValueError(
                f"append with banding params {meta} conflicts with the "
                f"index's pinned {pinned}: buckets would be disjoint"
            )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    index_path: str,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = 1000,
    update_index: bool = True,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch — (new × indexed) via the
    persisted index plus (new × new) via a self-join of the batch's own
    banded frame — exact-Jaccard verified against ``corpus_docs``
    (which must contain both old and new texts, e.g. the corpus table
    after the ingest append).

    Cost is O(new batch + touched buckets), never O(corpus): the index
    scan is pruned to the (band, bucket-prefix) partitions the batch
    hashes into, and row-group bucket stats narrow it further. With
    ``update_index`` the batch's bands are appended afterward, so
    tomorrow's ingest probes today's documents too. Returns
    (id_a, id_b, jaccard) with id_a < id_b; union with prior runs'
    outputs for corpus-wide pairs.

    Eager: materializes the candidate id-pairs (localCheckpoint) BEFORE
    appending to the index, so the probe never sees the batch's own
    freshly-appended rows (which would duplicate the new × new join)."""
    import json
    import os

    spark = new_docs.sparkSession
    with open(os.path.join(index_path, _MINHASH_INDEX_META)) as f:
        params = json.load(f)

    newb = band_signatures(
        new_docs, text_col, id_col,
        params["n_hashes"], params["bands"], params["shingle_k"],
    ).withColumn(
        "bprefix", F.pmod(F.col("bucket"), F.lit(_INDEX_BPREFIX))
    )
    newb = eager_checkpoint(newb)

    # partition pruning: the batch touches a bounded set of
    # (band, bprefix) dirs — ≤ bands × 8 regardless of batch size.
    # (Every doc emits every band, so band-level pruning only bites for
    # probes with banding subsets; the heavy pruning is the per-file
    # bucket min/max stats from the sorted write.) The predicate is
    # grouped per band and BALANCED — a flat left-chained OR over
    # bands × 8 terms overflows Catalyst's converter stack.
    touched = [
        (int(r["band"]), int(r["bprefix"]))
        for r in newb.select("band", "bprefix").distinct().collect()
    ]
    by_band: dict[int, list[int]] = {}
    for band, bp in touched:
        by_band.setdefault(band, []).append(bp)
    terms = [
        (F.col("band") == band) & (F.col("bprefix").isin(sorted(bps)))
        for band, bps in sorted(by_band.items())
    ]
    store = spark.read.parquet(index_path).filter(_or_tree(terms))

    probe = newb
    if max_bucket is not None:
        # skew guard with the SAME semantics as minhash_lsh_pairs:
        # an oversized bucket (counting old + new members together)
        # generates no candidates — pairs can still surface via the
        # doc's other bands
        sizes = F.broadcast(
            store.select("band", "bucket")
            .unionByName(newb.select("band", "bucket"))
            .groupBy("band", "bucket").count()
            .filter(F.col("count") > max_bucket)
        )
        store = store.join(sizes, ["band", "bucket"], "left_anti")
        probe = newb.join(sizes, ["band", "bucket"], "left_anti")

    old_new = (
        store.alias("a").join(
            probe.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.least("a._id", "b._id").alias("id_a"),
            F.greatest("a._id", "b._id").alias("id_b"),
        )
    )
    a, b = probe.alias("a"), probe.alias("b")
    new_new = a.join(
        b, (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a._id") < F.col("b._id")),
    ).select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    cand_ids = old_new.unionByName(new_new).dropDuplicates(
        ["id_a", "id_b"]
    )

    if update_index:
        # candidate ids must be MATERIALIZED before the append mutates
        # the store (the probe must never see the batch's own
        # freshly-appended rows); the probe-only path (update_index=
        # False) skips this barrier — and its full extra
        # materialization pass — because nothing mutates underneath
        # the lazy plan
        cand_ids = eager_checkpoint(cand_ids)
        (
            newb.repartition("band", "bprefix")
            .sortWithinPartitions("bucket")
            .write.mode("append").partitionBy("band", "bprefix")
            .parquet(index_path)
        )
        spark.catalog.refreshByPath(index_path)
        # newb is dead: cand_ids is materialized and the append (its
        # only other reader) has run — free its checkpoint blocks now
        # (PySpark never frees them itself; see ckpt.py)
        release_ckpt(newb)

    verified = eager_checkpoint(
        exact_jaccard_verify(
            cand_ids, corpus_docs, text_col, id_col,
            params["shingle_k"], jaccard_threshold,
        )
    )
    if update_index:
        release_ckpt(cand_ids)
    else:
        # lazy cand_ids depended on newb until `verified` materialized
        release_ckpt(newb)
    # the returned frame is caller-owned (ckpt.release(df) when done)
    return verified


def simhash64(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash: per-token xxhash64, bit-majority vote weighted by
    term frequency — one explode + one groupBy, all JVM-side."""
    tok = (
        spread(docs.select(F.col(id_col).alias("_id"), text_col))
        .select("_id", F.explode(_tokens(text_col)).alias("_t"))
        .filter(F.col("_t") != "")
        .groupBy("_id", "_t")
        .agg(F.count("*").alias("_w"))
        .withColumn("_h", F.xxhash64("_t"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), k).bitwiseAND(F.lit(1)) == 1,
                   F.col("_w")).otherwise(-F.col("_w"))
        ).alias(f"v{k}")
        for k in range(64)
    ]
    agg = tok.groupBy("_id").agg(*votes)
    sim = None
    for k in range(64):
        bit = F.when(F.col(f"v{k}") > 0,
                     F.shiftleft(F.lit(1).cast("long"), k)).otherwise(F.lit(0))
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return agg.select(F.col("_id").alias(id_col), sim.alias("simhash"))


def simhash_near_dupes(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Hamming-≤k pairs via the pigeonhole band trick: split 64 bits
    into (k+1) bands — any pair within k differing bits shares at least
    one exact band. Join per band, verify with bit_count(xor)."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    # width=64 (max_hamming=0, the exact-match call): (1<<64)-1 does
    # not fit a LongType literal — all-ones is -1 in two's complement,
    # and shiftright(x, 0) & -1 == x, so the single band is the whole
    # signature, exactly the pigeonhole semantics for k=0
    mask = -1 if width == 64 else (1 << width) - 1
    banded = sims.select(
        F.col(id_col).alias("_id"), "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", "simhash", "_b.band", "_b.key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dupes(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 0,
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ ``threshold``.

    ``n_planes=0`` — exact all-pairs (quadratic; verification / bounded
    inputs). ``n_planes>0`` — the web-scale path: random-hyperplane
    bucket equi-join (plus 1-bit-flip multi-probe on one side) generates
    candidates, exact cosine verifies them, so the threshold is real and
    only recall is probabilistic. Candidates shuffle on the bucket key;
    near-dup pairs are overwhelmingly co-bucketed because close vectors
    agree on most sign bits.

    Returns (id_a, id_b, cos) with id_a < id_b.
    """
    from mtslake.simsearch import cosine, hyperplane_signature

    # both branches run a per-row/per-pair expensive interpreted stage
    # (signature eval, or the all-pairs cosine verify streamed against
    # a broadcast) whose parallelism is otherwise the scan's split
    # count — a small parquet yields a handful of splits and one
    # straggler task does the quadratic work while the cluster idles
    # (measured: 16k vecs, 4 tasks, 25+ min vs ~2 min spread)
    base = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    if n_planes > 0:
        # both join sides evaluate the signature per row: spread once
        base = spread(base).withColumn(
            "_sig", hyperplane_signature(F.col("_v"), n_planes, dim)
        )
        a = base.select(
            "_id", "_v",
            F.explode(
                F.array(
                    F.col("_sig"),
                    *[F.col("_sig").bitwiseXOR(F.lit(1 << b))
                      for b in range(n_planes)],
                )
            ).alias("bucket"),
        ).alias("a")
        b = base.withColumnRenamed("_sig", "bucket").alias("b")
        cand = (
            a.join(
                b, (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a._id") < F.col("b._id"))
            )
            .select(
                F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                F.col("a._v").alias("_va"), F.col("b._v").alias("_vb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        # only the stream side's width matters: the build side is
        # collected to the driver and broadcast
        a, b = spread(base).alias("a"), base.alias("b")
        cand = a.join(b, F.col("a._id") < F.col("b._id")).select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
            F.col("a._v").alias("_va"), F.col("b._v").alias("_vb"),
        )
    return (
        cand.withColumn("cos", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def cluster_pairs(
    pairs: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs → one cluster id
    (the minimum member id) per document: the step that turns pairwise
    candidates into dedup groups ("keep one per cluster").

    Iterative min-label propagation with **pointer jumping** (no
    GraphFrames dependency): each round every node adopts the smallest
    label among itself and its neighbors, then shortcuts through its
    current label's label (label ← label[label]) — the classic
    path-halving trick that turns O(diameter) convergence into
    O(log diameter), so a 10⁶-hop chain (templated spam at web scale)
    converges in ~20 rounds instead of never. Each round is two shuffles
    on the node id; the label frontier is localCheckpoint-ed every
    round, truncating the logical plan (a persist alone leaves the plan
    growing linearly with iterations until Catalyst stack-overflows ~30
    rounds in). Deterministic; stops early at fixpoint.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without reaching
    fixpoint — silently returning unconverged labels would split one
    component into several cluster ids with no signal, the one failure
    mode a dedup pipeline must never hide.

    Returns (doc_id, cluster_id) for every id that appears in pairs —
    singletons (ids with no pairs) are their own cluster by definition
    and can be unioned in by the caller.
    """
    edges = (
        pairs.select(F.col(id_col_a).alias("a"), F.col(id_col_b).alias("b"))
        .unionByName(
            pairs.select(
                F.col(id_col_b).alias("a"), F.col(id_col_a).alias("b")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("label"))
        .select(F.col("a").alias("id"), "label")
        .persist()
    )
    try:
        converged = False
        for _ in range(max_iter):
            # neighbor labels: edge (a,b) carries b's current label to a
            neigh = (
                edges.join(
                    labels.withColumnRenamed("id", "b")
                    .withColumnRenamed("label", "nlabel"),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nlabel").alias("nmin"))
            )
            prop = (
                labels.join(
                    neigh.withColumnRenamed("a", "id"), "id", "left"
                )
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                    ).alias("label"),
                )
            )
            # pointer jumping: label ← min(label, label[label]).  A
            # label is itself a node id, so self-joining the frontier
            # shortcuts every pointer chain by half — O(log diameter)
            # total rounds instead of O(diameter).
            new_labels = (
                prop.alias("x")
                .join(
                    prop.select(
                        F.col("id").alias("label"),
                        F.col("label").alias("plabel"),
                    ).alias("p"),
                    "label",
                    "left",
                )
                .select(
                    "id",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("plabel"), F.col("label")),
                    ).alias("label"),
                )
            )
            new_labels = eager_checkpoint(new_labels)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            # free the superseded frontier: round 1's is a plain
            # persist, later rounds' are checkpoints PySpark would
            # otherwise keep for the session's lifetime (ckpt.py)
            release_ckpt(labels)
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"cluster_pairs did not converge within max_iter={max_iter} "
                "rounds; returning partial labels would silently split "
                "components. Raise max_iter (pointer jumping needs only "
                "O(log diameter) rounds, so this indicates a pathological "
                "input or too-low cap)."
            )
        # caller-owned final frontier: ownership moves to the returned
        # projection so callers can ckpt.release(result) when done
        from .ckpt import transfer

        return transfer(
            labels,
            labels.select(
                F.col("id").alias("doc_id"),
                F.col("label").alias("cluster_id"),
            ),
        )
    finally:
        edges.unpersist()


def keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """The dedup pipeline's END PRODUCT: one survivor per near-dup
    cluster (the minimum member id — deterministic), singletons kept.
    Composition: ``cluster_pairs`` (connected components over the pair
    set) → anti-join the non-canonical members out of the corpus."""
    from .ckpt import transfer

    clusters = cluster_pairs(pairs, max_iter=max_iter)
    losers = clusters.filter(
        F.col("cluster_id") != F.col("doc_id")
    ).select(F.col("doc_id").alias(id_col))
    # the survivors frame still reads the cluster frontier's checkpoint
    # lazily — ownership rides along (ckpt.release(result) when done)
    return transfer(clusters, docs.join(losers, id_col, "left_anti"))


def ngram_jaccard(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (use only after LSH candidate
    generation at scale; standalone for small tables / verification)."""
    base = docs.select(F.col(id_col).alias("_id"),
                       shingles(text_col, k).alias("_sh"))
    a, b = base.alias("a"), base.alias("b")
    jac = F.size(F.array_intersect("a._sh", "b._sh")) / F.size(
        F.array_union("a._sh", "b._sh")
    )
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def _window_keys(docs, text_col: str, id_col: str, k: int):
    """(base, windows) for k-word md5 window keys — the shared core of
    substring_duplication and decontaminate. base = (_id, _n tokens);
    windows = (_id, _n, _s start, _w 16-byte md5 key). Documents
    shorter than k produce no windows (guarded: Spark's sequence runs
    DESCENDING, not empty, when n < k)."""
    toks = F.filter(_tokens(text_col), lambda x: x != "")
    base = docs.select(
        F.col(id_col).alias("_id"), toks.alias("_t")
    ).select("_id", "_t", F.size("_t").alias("_n"))
    wins = base.select(
        "_id",
        "_n",
        F.explode(
            F.when(
                F.col("_n") >= k,
                F.sequence(F.lit(1), F.col("_n") - (k - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("_s"),
        F.col("_t").alias("_tt"),
    ).select(
        "_id",
        "_n",
        "_s",
        F.unhex(
            F.md5(F.concat_ws(" ", F.slice("_tt", F.col("_s"), F.lit(k))))
        ).alias("_w"),
    )
    return base, wins


def _coverage_per_doc(marked, k: int, n_col: str, tok_col: str):
    """Interval-union sweep shared by substring_duplication and
    decontaminate: ``marked`` is a (_id, _s, ...) frame of flagged
    k-token windows; returns one row per _id with the window count
    (``n_col``) and the number of tokens covered by the UNION of the
    [_s, _s+k) intervals (``tok_col``) — a running-max over window
    ends so overlapping windows never double-count a token. The sweep
    window and the rollup share one per-document exchange."""
    sweep = W.partitionBy("_id").orderBy("_s")
    prev_end = F.max(F.col("_s") + (k - 1)).over(
        sweep.rowsBetween(W.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0),
        F.col("_s") + (k - 1)
        - F.greatest(F.col("_s") - 1, F.coalesce(prev_end, F.lit(0))),
    )
    return (
        marked.withColumn("_cov", contrib)
        .groupBy("_id")
        .agg(
            F.count("*").alias(n_col),
            F.sum("_cov").cast("long").alias(tok_col),
        )
    )


def substring_duplication(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level exact duplication signal — the relational form
    of ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499 §4.1: any
    sufficiently long substring occurring more than once in the corpus
    is memorization fuel, even when the containing documents are not
    near-duplicates).

    Every ``k``-word window of every document is keyed by the 128-bit
    md5 of its text (the paper's suffix array finds the same set for
    character-level windows; 64-bit keys are NOT enough — at 10^12
    windows the birthday bound makes a 64-bit collision near-certain,
    which would flag innocent text). A window is duplicated when its
    key occurs ``min_count``+ times corpus-wide (within-doc repeats
    count, matching suffix-array semantics). Per document the
    duplicated windows are merged as intervals — a running-max sweep
    over window starts, the standard interval-union — into the number
    of tokens covered by ANY duplicated window.

    Returns one row per document:
    ``(id, n_tokens, n_dup_windows, dup_tokens, dup_frac)`` with
    zero-rows for clean documents. ``dup_frac`` is the fraction the
    paper's ExactSubstr pass would cut.

    Scale shape: the window explode is O(total_tokens) rows but each
    is narrow (id, int, 16-byte binary key) — the text itself never
    rides the shuffle. The duplicated-key set comes from a partial-
    aggregated groupBy (map-side combine collapses each task's
    repeats), and marking is a LEFT SEMI join on the key: presence-
    only, so AQE's skew-join split legally applies when one boilerplate
    window is corpus-hot (a window-function count over the key would
    pin every occurrence of the hot key to one task — the shape this
    operator deliberately avoids). The sweep + final rollup share one
    per-document exchange.
    """
    base, wins = _window_keys(docs, text_col, id_col, k)
    dup_keys = (
        wins.groupBy("_w")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_w")
    )
    dup_wins = wins.join(dup_keys, "_w", "left_semi")
    per_doc = _coverage_per_doc(dup_wins, k, "n_dup_windows",
                                "dup_tokens")
    return (
        base.select("_id", "_n")
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_n").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long")
            .alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long")
            .alias("dup_tokens"),
            F.when(
                F.col("_n") > 0,
                # coalesce AFTER try_divide: a zero-token doc reads
                # dup_frac 0.0 (the oracle's CASE n > 0 rule), never
                # NULL, and ANSI-on cannot hard-fail the divide
                F.coalesce(
                    F.try_divide(
                        F.coalesce("dup_tokens", F.lit(0)).cast("double"),
                        F.col("_n"),
                    ),
                    F.lit(0.0),
                ),
            ).otherwise(F.lit(0.0)).alias("dup_frac"),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene pass
    (GPT-3, Brown et al. 2020 appendix C; the cross-corpus sibling of
    substring_duplication's within-corpus ExactSubstr): flag any
    training document sharing a ``k``-word window with a held-out
    benchmark/eval set, because a single memorizable overlap inflates
    downstream eval scores.

    Same md5-keyed window machinery (_window_keys — 128-bit keys for
    the same birthday-bound reason), but the reference side is the
    BENCHMARK's distinct window-key set and matching is a LEFT SEMI
    join of training windows against it. Per document the overlapping
    windows merge by the interval-union sweep into
    ``(n_tokens, n_hit_windows, contam_tokens, contam_frac,
    is_contaminated)``; clean documents keep zero rows, documents
    shorter than ``k`` words cannot be flagged (no window — the
    paper's minimum-match-length rule).

    Scale shape: the benchmark side reduces to DISTINCT 16-byte keys —
    typically millions of rows against the corpus's trillions, so the
    semi-join broadcasts under AQE; the training side's explode is the
    same narrow O(total_tokens) shuffle as substring_duplication, and
    presence-only semi-join semantics keep AQE's skew split legal for
    boilerplate-hot windows.
    """
    base, wins = _window_keys(docs, text_col, id_col, k)
    _, bwins = _window_keys(benchmark, text_col, id_col, k)
    bench_keys = bwins.select("_w").distinct()
    hits = wins.join(bench_keys, "_w", "left_semi")
    per_doc = _coverage_per_doc(hits, k, "n_hit_windows",
                                "contam_tokens")
    return (
        base.select("_id", "_n")
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_n").cast("long").alias("n_tokens"),
            F.coalesce("n_hit_windows", F.lit(0)).cast("long")
            .alias("n_hit_windows"),
            F.coalesce("contam_tokens", F.lit(0)).cast("long")
            .alias("contam_tokens"),
            F.coalesce(
                F.try_divide(
                    F.col("contam_tokens").cast("double"),
                    F.col("_n").cast("double"),
                ),
                F.lit(0.0),
            ).alias("contam_frac"),
            (F.coalesce("n_hit_windows", F.lit(0)) > 0)
            .alias("is_contaminated"),
        )
    )
