"""The one materialisation mechanism: every ``persist`` and
``localCheckpoint`` in the package goes through :func:`materialize`, and
runners release what a build materialised with :func:`released`.

When to materialise at all: a frame that two consumers read (two join
sides, a guard aggregate plus the join it guards, both branches of a
validation split) whose branches prune to different column sets, so
Spark's exchange reuse cannot share the work and the whole lineage runs
once per consumer.

``truncate=False`` (the default) is the columnar cache, filled lazily by
the first job that reads the frame. Prefer it: cached scans keep
whole-stage codegen, while checkpointed RDD scans of wide array columns
were measured slower than plain recompute (``minhash_near_dups``).

``truncate=True`` is an EAGER local checkpoint. Use it only where the
logical plan itself must be cut: loops whose plan grows every round
(label propagation in ``dedup_clusters``, PageRank, BPE merges — without
the cut Catalyst re-analyses the whole history each round and codegen
blows up by round ~10), and wide fan-outs read by a guard job and the
join it guards (``fuzzy_join``). It is always eager, and that is the
measured choice, not a default: a lazy checkpoint read by two branches
of one job lets both race to fill it, so the whole upstream pipeline
can run twice. A lazy checkpoint saves one scheduled job per loop round,
which measured within noise (q63 at sf10: all lazy 77.5 s, eager edges
58.8 s, all eager 59.3 s; q237 at sf0.1 on a 4-core host, best of 3:
lazy 3.89 s, eager 3.59 s). Every truncating site already runs Spark
jobs while its plan is built, so the eager job adds no new kind of work
at build time. The cost is fault
tolerance: after executor loss checkpointed blocks are not recomputed
from source and the job fails instead.

Release: code that builds frames never unpersists. The runner opens
``with released():`` around build plus action (``run_pipeline``, the
oracle check, the bench, each streaming micro-batch) and every frame
materialised inside the scope is released on exit, error or not: cached
frames through ``unpersist``, checkpoints by unpersisting the
checkpointed RDD (``spark.catalog.clearCache()`` leaves those behind).
Outside any scope ``materialize`` registers nothing, so a caller that
keeps a result past its build owns the release (or the session does).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

__all__ = ["materialize", "released"]

_scope: ContextVar[list[tuple[DataFrame, bool]] | None] = ContextVar(
    "materialize_scope", default=None
)


def materialize(df: DataFrame, *, truncate: bool = False) -> DataFrame:
    """Cache ``df`` (lazily), or with ``truncate=True`` checkpoint it
    eagerly and cut its lineage; see the module docstring."""
    # localCheckpoint() is eager by default
    out = df.localCheckpoint() if truncate else df.persist()
    frames = _scope.get()
    if frames is not None:
        frames.append((out, truncate))
    return out


@contextmanager
def released() -> Iterator[None]:
    """Release every frame materialised inside the block when it exits."""
    token = _scope.set([])
    try:
        yield
    finally:
        frames = _scope.get()
        _scope.reset(token)
        for df, truncate in reversed(frames):
            if truncate:
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)
            else:
                df.unpersist()
