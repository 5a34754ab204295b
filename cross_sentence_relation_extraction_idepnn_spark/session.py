"""SparkSession factory tuned for the KG-construction pipeline.

Local mode stands in for a multi-executor cluster; all knobs below are
the ones that matter at 100 TB too (AQE, skew-join splitting, Arrow
batch sizing for the pandas-UDF kernels).

Driver-built tables go through :func:`local_frame`: it is the only
``createDataFrame`` call in the package. A list of rows handed to
``createDataFrame`` analyzes to a ``LogicalRDD`` whose every scan runs
Python worker tasks (a second worker pool next to the ``mapInPandas``
kernels) just to unpickle the rows; the Arrow table ``local_frame``
builds analyzes to a JVM ``LocalRelation`` that needs no task at all.
"""

from __future__ import annotations

import os
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "idepnn_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` uses ``$SPARK_GRAFT_CPUS`` (default 32). Shuffle
    partitions default to 2× cores locally; on a real cluster you would
    size them so post-shuffle partitions are ~128 MB (AQE coalesces).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by *byte* size, which starves CPU-bound Arrow
        # kernels (mapInPandas rows are cheap to ship, expensive to
        # compute): keep small-input coalescing from dropping below
        # full parallelism by lowering the per-partition floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16kb")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """A driver-side table (``rows``: tuples in ``schema`` column
    order; ``schema``: DDL string or ``StructType``) as a DataFrame
    over a JVM ``LocalRelation``.

    The rows travel as one Arrow table, so scanning or broadcasting
    the result runs no Python worker: the dimension tables the KG path
    builds on the driver (alias dictionary, canonical entity map)
    otherwise cost a ``parallelize`` PythonRDD stage per query and a
    second Python worker pool. NULLs and the declared types (nullability
    included) are kept; empty ``rows`` give the declared schema. Tables
    above ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB)
    are spread as a JVM RDD instead — still without Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


# ---------------------------------------------------- parquet reader memo

def read_parquet_cached(spark: SparkSession, path: str):
    """``spark.read.parquet`` memoized per (context, path) as a
    :func:`plan_memo` entry. Each fresh read costs ~0.15-0.4 s of
    driver time (file listing + schema inference round trips) and the
    operators re-read the same static corpus tables for every query
    build — measured round 4, this was a third of the cold plan-build
    cost. DataFrames are immutable, so reuse is safe for static
    inputs; callers that REWRITE a path mid-session (none of the
    shipped operators do) must call ``invalidate_parquet_cache``."""
    return plan_memo(spark, ("parquet", path), lambda: spark.read.parquet(path))


def invalidate_parquet_cache(path: str | None = None) -> None:
    """Drop every memoized plan built on ``path`` (every plan when
    ``path`` is None), readers included, so the next build re-lists
    the rewritten files. A plan is built on ``path`` when its input
    files lie under it; an entry whose plan can no longer be analyzed
    (its session is gone) is dropped too."""
    root = None if path is None else os.path.abspath(path)
    for k in [
        k for k, (df, _) in _PLAN_CACHE.items() if root is None or _scans_under(df, root)
    ]:
        del _PLAN_CACHE[k]


def _scans_under(df, root: str) -> bool:
    from urllib.parse import urlparse

    try:
        files = _input_files(df)
    except Exception:
        return True
    return any(
        p == root or p.startswith(root + "/")
        for p in (urlparse(f).path for f in files)
    )


def _input_files(df) -> list[str]:
    """The files a DataFrame's ANALYZED plan reads. ``inputFiles()``
    walks the plan after cached data is substituted in, so it sees no
    file below a persisted subtree (every plan over the persisted
    sentence table, the persisted KG itself)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files: list[str] = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            rel = leaf.relation()
            if rel.getClass().getSimpleName() == "HadoopFsRelation":
                files.extend(rel.inputFiles())
    return files


# ---------------------------------------------------- lazy plan memo (r6)

# key → (lazy plan, the inputs it was built from), least recently used
# first; past _PLAN_CACHE_MAX entries the oldest is dropped
_PLAN_CACHE: OrderedDict[tuple, tuple] = OrderedDict()
_PLAN_CACHE_MAX = 512


def input_plan_memo(key: tuple, inputs: tuple, build):
    """:func:`plan_memo` for operators that take DataFrames (not
    ``(spark, sf_dir)``) as inputs: the memo key includes the input
    DataFrames' object identities, and the entry holds strong
    references to them so the ids stay valid for the entry's
    lifetime. Because upstream sources are themselves memoized
    (``read_parquet_cached`` → ``transcripts`` → ``segment`` → ...),
    identical query text converges on identical input objects and the
    whole prefix chain is built exactly once per session. Inputs need
    not be DataFrames (weights dicts ride along the same way); the
    first one must be. Same contract as :func:`plan_memo`: the memo
    holds a LAZY plan, never data — every action recomputes from
    parquet."""
    app = inputs[0].sparkSession.sparkContext.applicationId
    k = (app,) + tuple(key) + tuple(id(x) for x in inputs)
    entry = _hit(k)
    return entry[0] if entry is not None else _remember(k, build(), inputs)


def plan_memo(spark: SparkSession, key: tuple, build):
    """Per-(application, key) memo of a LAZY DataFrame plan: the
    driver's one memo, an LRU of ``_PLAN_CACHE_MAX`` entries shared by
    readers (:func:`read_parquet_cached`) and operator subtrees.
    Measured round 6: driver-side plan CONSTRUCTION (py4j
    Column-tree building) was 0.5-4.5 s per composite dedup query —
    up to half the end-to-end query time at sf0.1 — and the same
    subtree (shingle arrays, band signatures, simhash table) is
    rebuilt by every family member. DataFrames are immutable and
    these inputs are static per sf_dir, so handing every consumer the
    same lazy plan is safe; NOTHING is persisted or precomputed —
    every action on the memoized plan recomputes from parquet (the
    memo holds a query plan, not data). Callers must include every
    non-default parameter in ``key``."""
    k = (spark.sparkContext.applicationId,) + tuple(key)
    entry = _hit(k)
    return entry[0] if entry is not None else _remember(k, build(), ())


def persisted_memo(spark: SparkSession, key: tuple, build):
    """:func:`plan_memo` for a DataFrame that ``build`` persists (the
    materialized KG): the entry is handed back while its data stays
    cached, and rebuilt once the data was released (``release_caches``,
    ``catalog.clearCache``), so the next call pays the honest rebuild
    and re-persists whatever the build shares. It lives with the lazy
    plans, so ``invalidate_parquet_cache(path)`` drops it when it was
    built on ``path``."""
    k = (spark.sparkContext.applicationId,) + tuple(key)
    entry = _hit(k)
    if entry is not None:
        level = entry[0].storageLevel
        if level.useMemory or level.useDisk:
            return entry[0]
    return _remember(k, build(), ())


def _hit(k: tuple):
    entry = _PLAN_CACHE.get(k)
    if entry is not None:
        _PLAN_CACHE.move_to_end(k)
    return entry


def _remember(k: tuple, df, inputs: tuple):
    _PLAN_CACHE[k] = (df, inputs)
    _PLAN_CACHE.move_to_end(k)
    if len(_PLAN_CACHE) > _PLAN_CACHE_MAX:
        _PLAN_CACHE.popitem(last=False)
    return df


# ------------------------------------------------- operator cache registry

_TRACKED_CACHES: list = []


def track_cache(df):
    """Register an operator-internal ``persist`` so long-lived sessions
    can release it. Operators persist small pair/aggregate-sized
    intermediates whose lineage contains joins (measured win — see
    dedup.py); the caller's action consumes them lazily, so the
    operator itself can never unpersist. Without a registry, repeated
    calls in one session accumulate cached blocks until executor
    storage is exhausted (ADVICE r2)."""
    _TRACKED_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every operator-tracked cache; returns how many were
    released. Call between logical jobs in a long-lived session
    (bench.py calls it per query)."""
    n = 0
    while _TRACKED_CACHES:
        df = _TRACKED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


class _CheckpointHandle:
    """Registry shim for an EAGER ``localCheckpoint`` result: checkpoint
    RDDs are pinned in the context's persistent-RDD map until
    explicitly unpersisted (they are NOT auto-cleaned when the
    DataFrame is dropped — measured), so self-releasing operators
    register their result's backing RDD here and ``release_caches``
    frees it once the caller is done with the data."""

    def __init__(self, df):
        self._jsc = df.sparkSession.sparkContext._jsc
        # eager localCheckpoint analyzes to a LogicalRDD over the
        # checkpointed RDD
        self._rdd_id = df._jdf.queryExecution().analyzed().rdd().id()

    def unpersist(self) -> None:
        self._jsc.sc().unpersistRDD(self._rdd_id, False)


def track_checkpoint(df):
    """Register an eagerly-localCheckpointed DataFrame's backing RDD
    for ``release_caches``. Returns ``df``. NOTE: after release, the
    DataFrame is no longer usable (checkpoints cannot recompute)."""
    _TRACKED_CACHES.append(_CheckpointHandle(df))
    return df


def unpersist_checkpoint(df) -> None:
    """Immediately free an eager localCheckpoint that is no longer
    referenced by any live plan (e.g. the previous iteration of an
    iterative loop once the next iteration has materialized)."""
    _CheckpointHandle(df).unpersist()


class cache_scope:
    """Context manager for operators that MATERIALIZE their result
    before returning (eager ``localCheckpoint`` / action): every cache
    tracked inside the block is unpersisted on exit, so repeated calls
    in a long-lived session leave no cached blocks behind
    (VERDICT r3 #7). Lazy operators must NOT use this — their caller's
    action still needs the caches; they stay on the global registry
    for ``release_caches``."""

    def __enter__(self):
        self._start = len(_TRACKED_CACHES)
        return self

    def __exit__(self, *exc):
        for df in _TRACKED_CACHES[self._start:]:
            try:
                df.unpersist()
            except Exception:
                pass
        del _TRACKED_CACHES[self._start:]
        return False
