"""Central ledger for operator-internal persisted DataFrames.

Operators like ``ngram_jaccard_pairs`` and ``minhash_lsh_pairs``
materialize an index (shingle table, TF features, minhash signatures)
with ``persist()`` because both sides of their self-join scan it --
measured 4-6x wins. But a lazy operator cannot unpersist after "the"
consuming action (it does not know when the caller is done), and LRU
eviction only kicks in under memory pressure while disk blocks linger,
so cached blocks would otherwise accumulate across the many registry
queries one session runs (parity suite, driver, plan audit).

The fix is a module-level ledger: operators register every persisted
intermediate via :func:`persisted`, and session owners (the plan
audit between queries, the pytest parity harness between cases, any
user batch loop) call :func:`release_all` at their natural "query is done"
boundary. One place to audit, one call to clean.

Concurrency: the ledger is process-global and assumes ONE in-flight
query per process -- ``release_all()`` releases every tracked frame,
including another thread's. That matches every session owner in this
repo (plan audit, driver, parity suite are all sequential) and is safe in
the worst case (Spark recomputes an unpersisted frame; correctness is
never at stake), but it defeats the persist under concurrent drivers.
Run concurrent query batches in separate processes (e.g. pytest-xdist
``--dist loadgroup`` with process workers, not threads), or scope a
ledger per batch via :func:`scoped` below.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []


def persisted(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """persist() + register on the ledger for later release_all()."""
    df = df.persist(level)
    _TRACKED.append(df)
    return df


def untrack(df: DataFrame) -> None:
    """Remove a frame the operator already unpersisted itself (e.g.
    per-round label frames in dedup_components)."""
    try:
        _TRACKED.remove(df)
    except ValueError:
        pass


def release_all() -> int:
    """Unpersist every tracked frame (non-blocking); returns how many
    were released."""
    n = 0
    while _TRACKED:
        _TRACKED.pop().unpersist(False)
        n += 1
    return n


@contextmanager
def scoped() -> Iterator[None]:
    """Release only the frames persisted INSIDE this block.

    ``with scoped(): run_query()`` is the batch-owner idiom when other
    persisted frames must outlive the query (still single-threaded:
    the ledger is one global list, and a concurrent thread's frames
    registered during the block would be released with it).
    """
    mark = len(_TRACKED)
    try:
        yield
    finally:
        while len(_TRACKED) > mark:
            _TRACKED.pop().unpersist(False)
