"""One parallelism policy for every Python-kernel input.

A Python kernel (``mapInArrow``/``mapInPandas``, or a JVM stage whose
per-row cost dwarfs its scan bytes: shingle hashing, an all-pairs
cosine verify) runs one task per input partition. Its rows are cheap to
move and expensive to process, so two things can collapse it onto a
handful of tasks while the cluster idles:

* the split count of a tiny source (one parquet file, a driver-built
  plan frame) — measured: a one-split near-dup verify ran 88 s on one
  task against 12.5 s spread;
* AQE's byte-sized coalescing of a shuffle below the kernel — measured:
  a 100k-event compress collapsed to ONE encode task.

An explicit-N exchange is exempt from AQE coalescing and fixes both.
But an input that is already wide must not pay it: at web scale that is
a full-table shuffle with the payload riding it (the reference's
batched parallel map, mtscomp.py:399-423, never re-shuffles its input
either).

``spread`` decides from the physical plan, without running a job —
``df.rdd.getNumPartitions()`` would execute every AQE stage below the
input just to count partitions, and report AQE's coalesced count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# operators that map each input partition to one output partition, so
# the width below them is the width the kernel sees
_ROW_WISE = frozenset({
    "ProjectExec", "FilterExec", "GenerateExec",
    "MapInPandasExec", "MapInArrowExec",
    "ArrowEvalPythonExec", "BatchEvalPythonExec",
    "WholeStageCodegenExec", "InputAdapter",
})


def shuffle_width(spark: SparkSession) -> int:
    """The session's configured shuffle width (what the cluster tuned
    ``spark.sql.shuffle.partitions`` for), else the core count."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _has_exchange(node) -> bool:
    name = _name(node)
    if name == "AdaptiveSparkPlanExec" or "Exchange" in name \
            or name.endswith("QueryStageExec"):
        return True
    children = node.children()
    return any(_has_exchange(children.apply(i))
               for i in range(children.size()))


def _is_wide(df: DataFrame) -> bool:
    par = df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if not _has_exchange(plan):
        # an exchange-free RDD is built from file splits / local rows
        # alone, without a job
        return qe.toRdd().getNumPartitions() >= par
    node = plan.executedPlan() if _name(plan) == "AdaptiveSparkPlanExec" \
        else plan
    while _name(node) in _ROW_WISE:
        node = node.children().apply(0)
    # only an explicit-N repartition keeps its width under AQE; a join,
    # aggregate or bare repartition(cols) may be coalesced to one task
    return (
        _name(node) == "ShuffleExchangeExec"
        and node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        and node.numPartitions() >= par
    )


def spread(df: DataFrame) -> DataFrame:
    """``df`` round-robined to ``shuffle_width`` unless it is already
    wide. Wide means one of:

    * the plan has no exchange and its split count reaches
      ``defaultParallelism``;
    * its topmost exchange is an explicit-N repartition of at least
      that width, with only row-wise operators above it.

    Anything else — a join, an aggregate, an AQE-coalescible shuffle —
    is spread. Project to the columns the kernel reads first, so a
    needed shuffle moves only those. Every kernel fed by this is
    per-row deterministic, so outputs do not depend on the layout."""
    if _is_wide(df):
        return df
    return df.repartition(shuffle_width(df.sparkSession))
