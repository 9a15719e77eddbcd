"""Shared operator plumbing."""

from __future__ import annotations

import datetime as _dt
import json
from decimal import Decimal as _Decimal

from pyspark.sql import DataFrame

_INFS = (float("inf"), float("-inf"))


def bind_once(expr, fn):
    """Evaluate ``expr`` once per ROW and hand it to ``fn`` as a bound
    higher-order-function lambda variable.

    HOF lambda bodies re-evaluate every non-attribute expression they
    reference once per ELEMENT (Spark does no common-subexpression
    elimination inside lambdas), so ``transform(sequence(1, size(t)),
    i -> element_at(t, i))`` with ``t = split(...)`` re-tokenizes the
    document for every index — O(len^2) per document.  Routing the
    expression through a single-element ``transform`` binds it as a
    lambda VARIABLE (a value, not an expression tree), making every
    reference O(1); unlike materializing a projection, this is also
    immune to CollapseProject inlining a once-referenced alias back
    into the lambda."""
    from pyspark.sql import functions as F

    return F.element_at(F.transform(F.array(expr), fn), 1)


#: Logical operators (JVM ``nodeName``) that can never put an Exchange
#: in the physical plan.  Anything NOT in this set (joins, aggregates,
#: sorts, windows, repartitions, limits, cached relations, ...) is
#: treated as shuffle-introducing — the conservative direction for
#: ``_shuffle_free``.
_MAP_SIDE_NODES = frozenset({
    "LogicalRelation", "LogicalRDD", "LocalRelation", "Range",
    "OneRowRelation", "Project", "Filter", "Generate", "Union", "Sample",
    "MapInPandas", "PythonMapInArrow", "MapInArrow",
    "SerializeFromObject", "DeserializeToObject", "MapElements",
    "TypedFilter",
})


def _shuffle_free(df: DataFrame) -> bool:
    """True when ``df``'s optimized logical plan contains only map-side
    operators, i.e. compiling the plan to an RDD cannot trigger AQE
    query-stage materialization (no Exchange can appear below).  Pure
    plan inspection — analysis + optimization, no job — over the JVM
    tree's ``nodeName``s, so no literal or alias text can pose as a
    node.  Unknown node names count as shuffle-introducing
    (conservative)."""
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() not in _MAP_SIDE_NODES:
            return False
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return True


def ranged_by(df: DataFrame, *cols: str) -> DataFrame:
    """Range-partition a BUILD INPUT by the lane's output sort key —
    the double-decode fix for ``expensive_python(input).orderBy(key)``.

    A global sort's range exchange SAMPLES its child before shuffling,
    and when the child is an un-materialized Python build/decode chain
    the entire expensive pipeline executes TWICE per action (measured:
    two near-equal 20-45 s-CPU stages in every codec lane at sf0.1).
    Range-partitioning the cheap input by the same key and ending the
    lane with ``sortWithinPartitions(key, ...)`` instead keeps the
    identical global order — map stages preserve partition boundaries
    and row order, and the range boundaries already order partitions by
    key — while the decode runs exactly once.

    The partition count is ``max(defaultParallelism, input partitions)``
    (r14, ADVICE r13 #3): the floor keeps the small local fixture from
    AQE-coalescing to one partition and serializing the decode, while
    the ``max`` stops a production input already carrying thousands of
    partitions from being COLLAPSED to the core count through a full
    range shuffle.  The input-partition probe only runs when the plan
    below is shuffle-free (always true for the scan-shaped build inputs
    this is applied to) — probing a shuffled plan would synchronously
    materialize its AQE stages (the r13 ``.rdd`` finding).
    Subsumes ``fan_out`` (the input is spread across the cluster's
    slots by the range shuffle)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if _shuffle_free(df):
        n = max(n, df.rdd.getNumPartitions())
    return df.repartitionByRange(n, *cols)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than the cluster has slots — the small-file / single-row-group
    artifact where a heavy downstream stage (token explode, pair
    generation) would otherwise run in one task.

    At 100 TB inputs already carry thousands of partitions, so this is a
    no-op there (and its shuffle would be the bug); the trigger condition
    means the shuffle only ever moves a small input.

    The partition-count probe compiles the plan to an RDD, which under
    AQE synchronously materializes every upstream shuffle stage — i.e.
    it RUNS JOBS when the input is not scan-shaped (the r13 ``.rdd``
    finding).  Guarded (r14, VERDICT r13 #9): when the plan below has
    any shuffle-introducing operator, fan_out is a no-op — the upstream
    exchange already supplies ``spark.sql.shuffle.partitions``-way
    parallelism, so the round-robin shuffle would be pure cost."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if not _shuffle_free(df):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df



def json_canonical(v, max_bytes: int | None = None):
    """The ONE value canonicalizer behind every JSONL text face
    (avrofile / msgpackfile / columnar / protowire — review
    consolidation, r7): bytes hex-encode (optionally capped — raises
    ValueError, which each module's ``guard`` converts to its typed
    error), non-finite floats become null (``NaN``/``Infinity`` are
    not valid JSON), dates and Decimals stringify, containers recurse,
    bytes map keys hex.  Key canonicalization that would COLLIDE
    (bytes b'\\xde\\xad' vs str 'dead', int 1 vs str '1' — JSON object
    keys are strings) raises rather than silently dropping an entry."""
    if isinstance(v, bytes):
        if max_bytes is not None and len(v) > max_bytes:
            raise ValueError("binary cell exceeds the cap")
        return v.hex()
    if isinstance(v, float) and (v != v or v in _INFS):
        return None
    if isinstance(v, (_dt.datetime, _dt.date, _dt.time)):
        return v.isoformat()
    if isinstance(v, _Decimal):
        return str(v)
    if isinstance(v, dict):
        out = {}
        for k, x in v.items():
            # the JSON key json.dumps would emit (it stringifies
            # int/float/bool/None keys itself)
            ck = k.hex() if isinstance(k, bytes) else k
            jk = (
                ck
                if isinstance(ck, str)
                else json.dumps(json_canonical(ck))
            )
            if jk in out:
                raise ValueError(
                    f"canonicalized map keys collide on {jk!r}"
                )
            out[jk] = json_canonical(x, max_bytes)
        return out
    if isinstance(v, (list, tuple)):
        return [json_canonical(x, max_bytes) for x in v]
    return v
