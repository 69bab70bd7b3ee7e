"""One owner for everything a run or an operator caches or checkpoints.

A :class:`Scope` is a context manager that owns the frames cached or
checkpointed while it is open.  On exit, on every path (errors and
early returns included), it releases all of them: caches are
unpersisted, local checkpoint blocks are freed, parquet checkpoint
directories are deleted, and so is the checkpoint directory itself when
the scope created it.  Scopes nest: a pipeline run opens one, each
datacube resolution opens one inside it, and each iterative graph
operator opens its own for its per-round frames.

Operators route their caches through :func:`tracked_cache` and their
lineage cuts through :func:`tracked_local_checkpoint`; both register
into the innermost open scope.  An iterative operator runs in a scope of
its own (:func:`scoped`); the frame it RETURNS must outlive that scope,
so it hands the frame on with :func:`keep`, and the enclosing owner
releases it.  With no scope
open, the owner is a process-wide root registry that is never exited:
code outside a scope (the bench harness, ``tools/``, catalog queries)
drops it with :func:`release_unscoped` after the consuming action.

Why caches outlive the operator at all: several operators cache an
intermediate that their returned (lazy) result reads on more than one
subtree, e.g. a shingle frame feeding both sides of a self-join.  An
unpersist before the caller evaluates the result turns a documented
two-aggregation plan into four, so the release belongs to the caller.

A checkpoint is stronger than a cache: it truncates lineage, so a
released checkpoint cannot be recomputed.  Release only what every
consumer is finished with.

The scope stack is process-global, like the registries it replaced: a
frame registered from another thread lands in whatever scope is
innermost.  The datacube's sink threads cache nothing.
"""

from __future__ import annotations

import functools
import uuid

from pyspark.sql import DataFrame


#: How an owned frame is released: a cache is unpersisted, a local
#: checkpoint (``None``) has its blocks freed, a parquet one (its path)
#: has its directory deleted.
_CACHE = object()


class Scope:
    """Owns caches and checkpoints until it exits.

    ``checkpoint_dir`` makes :meth:`checkpoint` write parquet under that
    directory (any Hadoop-reachable URI: durable across executor loss,
    one extra scan per boundary).  Without it a scope checkpoints the
    way its enclosing scope does, and the outermost default is local
    checkpoint blocks (fastest, lost with their executor)."""

    def __init__(self, checkpoint_dir: str | None = None):
        self._dir = checkpoint_dir or None
        self._parent: Scope | None = None
        #: (frame, _CACHE | parquet path | None for local blocks)
        self._owned: list[tuple[DataFrame, object]] = []
        #: the session that first wrote under ``_dir``, if this scope
        #: created that directory (deleted again on exit)
        self._made_dir_in = None

    def __enter__(self) -> Scope:
        self._parent = _STACK[-1]
        _STACK.append(self)
        return self

    def __exit__(self, *exc) -> None:
        _STACK.remove(self)
        self.release()

    def cache(self, frame: DataFrame, eager: bool = False) -> DataFrame:
        """``frame.cache()``, owned by this scope.  ``eager`` builds the
        cache now, on the calling thread, with one job: readers that first
        reach it concurrently would each submit a job to build it.  The
        build also counts the rows it caches (see :func:`row_count`)."""
        out = frame.cache()
        self._owned.append((out, _CACHE))
        if eager:
            # the job adaptive execution runs for a cache's first reader
            _cache_builder(out).cachedColumnBuffers().count()
        return out

    def checkpoint(self, frame: DataFrame, eager: bool = True) -> DataFrame:
        """Truncate ``frame``'s lineage and own the result: local
        checkpoint blocks, or a parquet write and read (always eager)
        under the nearest scope's ``checkpoint_dir``."""
        owner = self
        while owner is not None and owner._dir is None:
            owner = owner._parent
        if owner is None:
            out = frame.localCheckpoint(eager=eager)
            self._owned.append((out, None))
            return out
        spark = frame.sparkSession
        if owner._made_dir_in is None:
            fs, root = _fs(spark, owner._dir)
            if not fs.exists(root):
                owner._made_dir_in = spark
        path = f"{owner._dir}/ckpt_{uuid.uuid4().hex}"
        frame.write.parquet(path)
        out = spark.read.parquet(path)
        self._owned.append((out, path))
        return out

    def _find(self, frame: DataFrame) -> tuple[Scope | None, int]:
        """The scope, this one or an enclosing one, that owns ``frame``,
        and its index there."""
        owner: Scope | None = self
        while owner is not None:
            for i, (f, _) in enumerate(owner._owned):
                if f is frame:
                    return owner, i
            owner = owner._parent
        return None, -1

    def keep(self, frame: DataFrame) -> DataFrame:
        """Hand ``frame`` to the enclosing owner, so it outlives this
        scope: what an operator returns.  Returns ``frame``."""
        owner, i = self._find(frame)
        if owner is not self:
            raise ValueError("keep: frame is not owned by this scope")
        (self._parent or _ROOT)._owned.append(self._owned.pop(i))
        return frame

    def free(self, frame: DataFrame) -> bool:
        """Release ONE frame now, wherever it is owned in this scope or
        an enclosing one: for iterative operators, round N can go once
        round N+1 is built and the convergence check has read both, so
        live storage stays O(1) in rounds.  Returns whether anything was
        freed."""
        owner, i = self._find(frame)
        if owner is None:  # a local checkpoint made outside any scope
            return _release(frame, None)
        return _release(*owner._owned.pop(i))

    def release(self) -> int:
        """Release everything this scope owns; returns how many frames."""
        n = 0
        while self._owned:
            n += _release(*self._owned.pop())
        if self._made_dir_in is not None:
            try:
                fs, root = _fs(self._made_dir_in, self._dir)
                fs.delete(root, False)
                self._made_dir_in = None
            except Exception:
                pass  # not empty (a kept checkpoint) or session stopped
        return n


#: The owner of last resort, never exited: frames registered while no
#: scope is open, and frames kept out of an outermost scope.
_ROOT = Scope()
_STACK: list[Scope] = [_ROOT]


def _fs(spark, path: str):
    """(file system, Hadoop path) for ``path`` through the session's
    Hadoop configuration (any scheme the cluster can write: local, HDFS,
    S3A)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _cache_builder(frame: DataFrame):
    return frame.sparkSession._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(frame._jdf).get().cachedRepresentation() \
        .cacheBuilder()


def _release(frame: DataFrame, how) -> bool:
    try:
        if how is _CACHE:
            frame.unpersist()
        elif how is None:
            # unpersist() on the returned frame has no handle on local
            # checkpoint blocks; without this they linger until the JVM
            # garbage-collects the internal RDD
            frame._jdf.queryExecution().logical().rdd().unpersist(False)
        else:
            fs, path = _fs(frame.sparkSession, how)
            fs.delete(path, True)
        return True
    except Exception:
        return False  # non-LogicalRDD plan or stopped session


def tracked_cache(frame: DataFrame, eager: bool = False) -> DataFrame:
    """``frame.cache()``, owned by the innermost open scope (see
    :meth:`Scope.cache`)."""
    return _STACK[-1].cache(frame, eager)


def row_count(frame: DataFrame) -> int:
    """Row count of a persisted frame.  An eagerly built cache counted
    its rows in a row-count accumulator, so this costs no job; anything
    else is counted.  Read it right after the build: a cached block that
    is evicted and rebuilt counts its rows again."""
    cached = frame.sparkSession._jsparkSession.sharedState() \
        .cacheManager().lookupCachedData(frame._jdf)
    if cached.isDefined():
        return _cache_builder(frame).rowCountStats().value()
    return frame.count()


def tracked_local_checkpoint(frame: DataFrame, eager: bool = True) -> DataFrame:
    """A lineage-truncating checkpoint owned by the innermost open scope
    (local blocks, or parquet inside a scope with a checkpoint dir)."""
    return _STACK[-1].checkpoint(frame, eager)


def keep(frame: DataFrame) -> DataFrame:
    """Hand ``frame`` from the innermost scope to its enclosing owner
    (see :meth:`Scope.keep`); returns ``frame``."""
    return _STACK[-1].keep(frame)


def free(frame: DataFrame) -> bool:
    """Release one frame now, wherever it is owned (see
    :meth:`Scope.free`).  Not recomputable afterwards if it was a
    checkpoint: only free a frame every consumer is finished with."""
    return _STACK[-1].free(frame)


def scoped(operator):
    """Run ``operator`` in its own :class:`Scope`: whatever it caches or
    checkpoints is released when it returns or raises, except the frame
    it hands on with :func:`keep`."""
    @functools.wraps(operator)
    def run(*args, **kwargs):
        with Scope():
            return operator(*args, **kwargs)
    return run


def release_unscoped() -> int:
    """Release every cache and checkpoint the root registry owns (frames
    made with no scope open); returns how many.  Call it after the action
    that consumed the operator results: results computed from a released
    cache stay correct (the plan recomputes), but a released checkpoint
    cannot be recomputed."""
    return _ROOT.release()


def tracked_count() -> int:
    """Caches the innermost open owner holds (test hook)."""
    return sum(how is _CACHE for _, how in _STACK[-1]._owned)


def tracked_checkpoint_count() -> int:
    """Checkpoints the innermost open owner holds (test hook)."""
    return sum(how is not _CACHE for _, how in _STACK[-1]._owned)
