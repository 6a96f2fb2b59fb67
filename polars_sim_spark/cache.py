"""Storage lifecycle of the blocks this package's operators create.

Operators keep intermediates in Spark storage for one of two lifetimes:

* **Session lifetime** — :func:`track`. A frame ``persist()``-ed inside
  an operator that the RETURNED frame's lineage still reads, so the
  operator can never unpersist it itself. The session owner calls
  :func:`unpersist_all` once the frames returned by prior operator
  calls are no longer needed (typically after their terminal action).
  This frees exactly the blocks this package created — unlike
  ``spark.catalog.clearCache()`` it never touches caches the
  application manages. Operators only ever ``track`` frames DERIVED
  from caller input, and ``DataFrame.unpersist`` is non-cascading, so an
  application cache on the same source survives — unless it persists
  the identical derived plan, which Spark canonicalizes to one entry.
* **Superseded lifetime** — :class:`Slot`. A ``localCheckpoint`` that a
  later checkpoint of the same loop or serving path replaces: iterative
  rounds (connected components, k-core, label propagation, PageRank,
  BPE) and back-to-back serves (kNN graph, IVF pairs). The new
  checkpoint truncates lineage, so nothing can read the old blocks
  again, yet without an explicit release they wait for a driver JVM GC
  and pile up in the block manager — back-to-back ``knn_graph`` serves
  degraded 18→71→140 s as storage filled (BASELINE.md round-10
  repeated-serve table).

localCheckpoint blocks are per-RDD, not CacheManager entries, so neither
:func:`unpersist_all` nor ``clearCache()`` reaches them;
:func:`sweep_persistent_rdds` is the end-of-query sweep that does.

The registry and every slot are guarded by locks, so threads sharing one
SparkSession may call operators concurrently — but ``unpersist_all``
releases EVERY tracked frame, including those another thread still
computes over (they silently recompute from lineage). Scope one registry
epoch per logical job if you run operators concurrently.
"""

from __future__ import annotations

import threading

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_LOCK = threading.Lock()


def _unpersist(rdd: object | None) -> bool:
    """Drop ``rdd``'s blocks; False if there was nothing to drop. A
    context already stopped has nothing left to release."""
    if rdd is None:
        return False
    try:
        rdd.unpersist(False)
    except Py4JError:
        pass
    return True


class Slot:
    """Holds at most ONE live ``localCheckpoint``: each
    :meth:`checkpoint` frees the blocks of the checkpoint it replaces.

    Contract: the replaced checkpoint must not be read by anything still
    pending — that includes ``df``'s own lineage when ``eager=False``
    (the old blocks are freed before the new checkpoint materializes).
    A loop-local slot satisfies this by construction; for a module-level
    serving slot it means the previous serve's result must be consumed
    before the next serve is built, which every sequential query loop
    does. The final checkpoint stays live until :meth:`release`, or until
    a JVM GC once the slot and every frame reading it are dropped."""

    def __init__(self) -> None:
        self._rdd: object | None = None
        self._lock = threading.Lock()

    def checkpoint(self, df: DataFrame, *, eager: bool = True) -> DataFrame:
        """``df.localCheckpoint(eager)``, keeping its backing RDD and
        releasing the one this slot held before."""
        out = df.localCheckpoint(eager)
        try:
            rdd = out._jdf.queryExecution().analyzed().rdd()
        except AttributeError:  # no JVM handle: blocks wait for GC
            rdd = None
        with self._lock:
            prev, self._rdd = self._rdd, rdd
        _unpersist(prev)
        return out

    def release(self) -> bool:
        """Free the current checkpoint; True if the slot held one."""
        with self._lock:
            prev, self._rdd = self._rdd, None
        return _unpersist(prev)


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK — spills rather than OOMs) and
    register it for :func:`unpersist_all`. Returns the persisted frame."""
    df = df.persist()
    with _LOCK:
        _TRACKED.append(df)
    return df


def unpersist_all(blocking: bool = False) -> int:
    """Unpersist every frame this package cached since the last call.

    Safe to call at any time: results already materialized stay valid
    (unpersist only drops cached blocks; lineage recomputes on re-use).
    Returns the number of frames released.
    """
    with _LOCK:
        drained = list(_TRACKED)
        _TRACKED.clear()
    n = 0
    for df in drained:
        try:
            df.unpersist(blocking)
            n += 1
        except Py4JError:
            pass  # its session already stopped: nothing to release
    return n


def materialize_count(df: DataFrame) -> int:
    """Exact row count via the JVM internal-row RDD — ONE job with no
    exchange. ``Dataset.count()`` plans a global aggregate whose final
    stage is a separate AQE job, so in iterative loops a per-round
    count costs two jobs; the RDD count is the same full scan without
    the shuffle (and without PySpark's ``df.rdd`` pickling wrapper).

    Used to FUSE probe + checkpoint (optimization round 15): on a
    ``localCheckpoint(eager=False)`` frame the count computes every
    partition, persisting the checkpoint blocks as it goes, and the
    end-of-job ``doCheckpoint`` finds none missing — one job where
    eager-checkpoint-then-probe costs two. Falls back to
    ``Dataset.count()`` only when the frame has no JVM handle; a failing
    job raises once instead of re-running the scan."""
    try:
        qe = df._jdf.queryExecution()
    except AttributeError:
        return int(df.count())
    return int(qe.toRdd().count())


def num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical RDD without constructing
    PySpark's pickled ``df.rdd`` wrapper (which plans a row-conversion
    per call — pure driver overhead on deep plans). ``toRdd`` is cached
    on the query execution, so after :func:`materialize_count` this is
    free. Falls back to ``df.rdd`` only when the frame has no JVM
    handle."""
    try:
        qe = df._jdf.queryExecution()
    except AttributeError:
        return int(df.rdd.getNumPartitions())
    return int(qe.toRdd().getNumPartitions())


def sweep_persistent_rdds(spark) -> int:
    """Unpersist EVERY persistent RDD in the session — the end-of-query
    sweep for a session owner (bench loop, driver harness) that knows no
    cross-query frame survives. NEVER call it while a returned-but-
    unconsumed checkpointed frame is still pending — a localCheckpoint's
    lineage is truncated, so dropped blocks cannot recompute. Returns
    the number of RDDs released (0 on a stopped context)."""
    jsc = spark.sparkContext._jsc
    if jsc is None:
        return 0
    n = sum(_unpersist(rdd) for rdd in list(jsc.getPersistentRDDs().values()))
    with _LOCK:
        _TRACKED.clear()
    return n
