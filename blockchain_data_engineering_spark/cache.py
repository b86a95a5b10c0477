"""Cache-lifetime contract helpers.

The engine-wide rule (docs/SCALE.md): a query/operator may persist
intermediates its plan reads more than once, but NO cache may outlive
the call — callers must never inherit pinned tables they didn't create.
The portable way to honor both needs at once is to eagerly materialize
the final result with ``localCheckpoint`` (severing its lineage from
every internal cache — plain ``persist()+count()`` does NOT survive an
input ``unpersist()``, which invalidates dependent cache entries) and
then release the caches before returning. That is a *settle*.

One owner decides when to settle: :func:`scope`. The registry's
``@query`` wrapper opens one around every registered query, so every
:func:`finalize` inside it only registers its caches and returns the
result lazily; the query settles ONCE on the way out. With no scope
open, :func:`finalize` settles at once (examples, streaming, direct
operator calls). Plan checks read the plans that actually executed
(``session.executed_plans``) or ``.explain()`` a result inside a scope
that is never settled.

Every materialization an operator makes is of one of two kinds: a
``persist()`` (a CacheManager entry) or a :func:`round_checkpoint`
(RDD-level blocks). :func:`release` frees either, reading the kind
from the frame, and the scope, the settle and :func:`next_round` all
free through it — so no materialization registered with
:func:`finalize` outlives the query.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame


class Scope:
    """Handle yielded by :func:`scope`. Only the outermost scope owns
    the registered caches; an inner (joined) handle's :meth:`settle`
    passes its result through untouched."""

    def __init__(self) -> None:
        self._caches: list[DataFrame] = []
        self._deferred = False

    def settle(self, result: DataFrame) -> DataFrame:
        """Settle the query: if any :func:`finalize` deferred into the
        owning scope, checkpoint ``result`` once and release every
        registered cache; otherwise return ``result`` untouched (a
        query that never finalizes keeps its lazy plan)."""
        if self is not _OWNER.get() or not self._deferred:
            return result
        out = _settle(result, self._caches)
        self._caches = []
        self._deferred = False
        return out

    def _release(self) -> None:
        for c in self._caches:
            release(c)
        self._caches = []


# the outermost open scope; a ContextVar, so each thread (a streaming
# foreachBatch callback, a concurrent caller) sees only its own
_OWNER: ContextVar[Scope | None] = ContextVar("cache_scope", default=None)


def _settle(result: DataFrame, caches: Iterable[DataFrame]) -> DataFrame:
    # checkpoint FIRST, release after: unpersisting an input cache
    # invalidates dependent CacheManager entries, so
    # release-then-materialize would silently recompute the whole
    # pipeline against uncached inputs
    out = result.localCheckpoint(eager=True)
    for c in caches:
        release(c)
    return out


@contextmanager
def scope() -> Iterator[Scope]:
    """Query-scoped cache owner (docs/SCALE.md §"Cache lifetime").

    Inside the context every :func:`finalize` registers its caches on
    the outermost scope and returns its result lazily. The caller
    settles with ``s.settle(result)``. A nested scope joins the outer
    one: its ``settle`` is a passthrough, and the outermost settles
    once. On exit — settled, unsettled or by exception — every frame
    still registered is released (:func:`release`), so an unsettled
    lazy result recomputes against unpersisted inputs (the safe
    direction: correct, slower, never a leak). A lazy result that reads
    a released :func:`round_checkpoint` cannot recompute: an action on
    it after an unsettled exit fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. Registered queries always
    settle; ``.explain()`` such a result inside the scope.

    An operator whose materializations must be freed on every exit,
    exceptions included, opens its own scope and registers them with
    :func:`finalize` as it makes them: called from a query it joins
    the query's scope, called directly its scope releases them."""
    if _OWNER.get() is not None:
        yield Scope()
        return
    s = Scope()
    token = _OWNER.set(s)
    try:
        yield s
    finally:
        _OWNER.reset(token)
        s._release()


def round_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize one round of an iterative loop with an eager
    ``localCheckpoint`` — the round is computed exactly once (as the
    old ``persist()+count()`` idiom did), but the next round plans
    against a FLAT scan instead of an InMemoryRelation tree that nests
    one level per round and that Catalyst re-canonicalizes on every
    later round's planning (measured on the k-core loop at sf0.1:
    per-round cost grew 0.5 s → 2.7 s by round 3 and the final
    aggregate paid 2.2 s of pure planning; flat rounds stay ~0.4 s).
    The scan reports ``UnknownPartitioning``: a round's output
    partitioning does not carry into the next round's plan. Checkpoint
    blocks are RDD-level storage: nothing registers in the catalog
    CacheManager, but the RDD stays in the SparkContext's persistent
    RDDs until it is released. Left to Spark's ContextCleaner it goes
    only once the JVM holds no reference to it: the Python DataFrame
    must be garbage-collected first (its py4j handle pins the JVM
    Dataset), and then the JVM must collect. A replay's per-batch
    checkpoints survived a JVM ``System.gc()`` and went only after a
    Python ``gc.collect()`` plus a JVM GC. So every checkpoint is
    freed with :func:`release`: registered with :func:`finalize` (the
    settle releases it), stepped through :func:`next_round`, or
    released in-call once it is dead. Each round is its own executed
    query, so its physical plan is in the SQL status store.

    Fault-tolerance trade: ``localCheckpoint`` severs lineage onto
    NON-REPLICATED executor-local blocks — on a cluster, losing an
    executor mid-query makes every downstream round of that query
    irrecoverable (a ``persist()`` round could recompute). That is the
    standard trade iterative Spark programs make; a distributed
    deployment that cannot accept it should use reliable
    ``checkpoint()`` against a checkpoint dir every few rounds instead
    (the operators' docstrings already prescribe periodic checkpoints
    at scale). The local-mode bench this repo drives has a single
    "executor", so the distinction is moot there."""
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Free a materialized frame now, whichever kind it is: the blocks
    of a :func:`round_checkpoint` frame (its analyzed plan is the
    checkpointed RDD's scan) and the frame's CacheManager entry
    (``unpersist()``) — both, for a persisted checkpoint frame; a frame
    that is neither is left alone. A later action on a released
    checkpoint, or on a frame built from it, fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``; a frame built on a released
    persist recomputes its input."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    df.unpersist()


def next_round(df: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One iterative-loop step: :func:`round_checkpoint` ``df``, then
    :func:`release` ``prev`` (``None``, the loop's initial frame or the
    previous round), which nothing reads once the new round is
    materialized. A loop that steps through this keeps one round
    materialized at a time: the last, which its lazy result reads and
    which the loop registers with :func:`finalize`."""
    out = round_checkpoint(df)
    if prev is not None:
        release(prev)
    return out


def finalize(result: DataFrame, *caches: DataFrame) -> DataFrame:
    """Hand ``result`` and the caches it reads to the cache owner.

    ``caches`` are the frames the call materialized, persisted or
    :func:`round_checkpoint`-ed alike. Inside a :func:`scope` they are
    registered on the outermost scope and ``result`` returns lazily;
    the scope settles once. With no scope open the settle happens
    here: eager ``localCheckpoint`` of ``result`` (while every cache is
    still live), then :func:`release` of the caches. The settled
    result is the caller's: RDD-level storage, invisible to the Spark
    catalog CacheManager, freed once the DataFrame is garbage-collected
    (see :func:`round_checkpoint`).
    """
    owner = _OWNER.get()
    if owner is None:
        return _settle(result, caches)
    owner._caches.extend(caches)
    owner._deferred = True
    return result
