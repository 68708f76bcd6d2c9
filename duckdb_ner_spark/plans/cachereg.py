"""Session-scoped memo and staging store: the one place the engine keeps
per-session intermediates, and the one place that releases them.

``memo(spark, key, build)`` serves everything the engine builds once per
session and reuses: declared-query plans (the registry's plan cache),
catalog table frames, and shared intermediates such as the day-1 graph,
the propagated labels, the IVF-PQ core and the staged suffix chain. The
store belongs to the session object, so a second or restarted
SparkSession never sees another session's entries. The one session conf
that changes the SHAPE of a built plan (``SCAN_CONF``, the catalog-level
repartition) is read on every call and folded into the key, so flipping
it never serves a frame shaped under the old value.

``stage(spark, name, sf_dir, df)`` materializes an intermediate to parquet
scratch and reads it back, bounding lineage and sharing one computation
across consumer branches. Scratch paths (``scratch_path``) are per process
— two concurrent processes on the same sf_dir (pytest beside selfcheck)
must not overwrite each other's staged files mid-read — and every one is
removed at interpreter exit.

``release_caches(spark)`` is the release half: builders persist()
intermediates that feed several branches of one plan but return LAZY
DataFrames, so they cannot unpersist before the caller has collected.
Harnesses (selfcheck, notebooks, any long-lived driver) call it BETWEEN
queries. Correctness is unaffected either way — an InMemoryRelation
recomputes evicted blocks from lineage — but the sweep ends with ZERO
persisted RDDs instead of relying on LRU pressure."""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import weakref
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

SCAN_CONF = "spark.duckdb_ner.scanRepartition"

T = TypeVar("T")

# session -> {key + (scan conf,): value}. Weakly keyed on the session
# object (identity hash), so each session owns exactly one store.
_STORES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

_SCRATCH_DIRS: set[str] = set()


def memo(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """``build()`` once per (session, key, scan conf); later calls return
    the identical object. One Py4J call (the conf read) on a hit."""
    full = (*key, spark.conf.get(SCAN_CONF, "0"))
    store = _STORES.setdefault(spark, {})
    if full not in store:
        store[full] = build()
    return store[full]


def drop_memos(kind: str) -> None:
    """Forget every session's entries whose key starts with ``kind``."""
    for store in _STORES.values():
        for k in [k for k in store if k[0] == kind]:
            del store[k]


def _cleanup_scratch() -> None:
    for p in _SCRATCH_DIRS:
        shutil.rmtree(p, ignore_errors=True)


def scratch_path(name: str, sf_dir: str) -> str:
    """Per-process scratch dir for ``name`` over the dataset at ``sf_dir``
    (hashed full path, so datasets sharing a basename never collide)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"dns_{name}_{tag}_{os.getpid()}")
    if not _SCRATCH_DIRS:
        atexit.register(_cleanup_scratch)
    _SCRATCH_DIRS.add(path)
    return path


def stage(spark: SparkSession, name: str, sf_dir: str, df: DataFrame) -> DataFrame:
    """Write ``df`` to parquet scratch and return the read-back frame. The
    scan conf is part of the path: a frame staged under one value stays
    readable after the same intermediate is restaged under another."""
    path = scratch_path(f"{name}_s{spark.conf.get(SCAN_CONF, '0')}", sf_dir)
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def release_caches(spark: SparkSession) -> int:
    """Drop ALL executor-cached state this engine created; return how many
    persistent RDDs were released.

    Three layers, in dependency order:
    1. the memo store (plans and intermediates) of every session, since the
       unpersist below is context-wide — nothing may re-serve a plan that
       references blocks about to vanish (a cached q_dedup_clusters plan
       holds a LogicalRDD over its final localCheckpoint, which CANNOT
       recompute once unpersisted; next use rebuilds from scratch),
    2. spark.catalog.clearCache() — every CacheManager entry (persist()ed
       DataFrames, cached tables),
    3. stray persistent RDDs left outside the CacheManager —
       localCheckpoint materializations whose Python references died but
       whose blocks await the ContextCleaner (connected_components rounds'
       final labels) — unpersisted directly via the JVM map.
    """
    for store in _STORES.values():
        store.clear()
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jrdd in list(jmap.values()):  # py4j exposes the java map dict-like
        jrdd.rdd().unpersist(False)
        n += 1
    return n


def persistent_rdd_count(spark: SparkSession) -> int:
    """How many RDDs currently hold persisted blocks (the VERDICT r6 #5
    done-criterion: a sweep must end at 0 after release_caches)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()
