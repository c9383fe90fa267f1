"""Scalar/column function library.

Everything here is built from ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage-codegen eligible) unless genuinely impossible, in which case an
Arrow-batched Pandas UDF is used — never row-at-a-time Python UDFs.
"""

import threading

from pyspark.sql import functions as F

# frames pinned by operators until the next release() (see pin)
_pinned: list = []
_pinned_lock = threading.Lock()


def epoch_seconds(col):
    """Fractional epoch seconds for TIMESTAMP *or* TIMESTAMP_NTZ columns.

    ``cast("double")`` is illegal on TIMESTAMP_NTZ (DATATYPE_MISMATCH in
    Spark 4); routing through ``timestamp_ltz`` first is legal for both
    types and, under the UTC session timezone this engine pins
    (session.py), matches ANSI/DuckDB ``epoch(ts)`` exactly, microseconds
    included. Also accepts date/string inputs via the same cast chain.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp_ltz").cast("double")


def pin(df):
    """Persist ``df`` and register it for :func:`release`.

    Operators call this for every frame that may outlive their own call (a
    persisted intermediate the returned lazy plan still reads). Frames
    always unpersisted within one call, frames persisted to freeze a
    nondeterministic value, and checkpoints stay out of the registry.
    Returns ``df``.
    """
    df = df.persist()
    with _pinned_lock:
        _pinned.append(df)
    return df


def unpin(df) -> None:
    """Unpersist one pinned frame now and drop it from the registry (for an
    owner that knows its frame went stale before the next :func:`release`).
    """
    with _pinned_lock:
        for i, cached in enumerate(_pinned):
            if cached is df:
                del _pinned[i]
                break
    df.unpersist()


def release(df=None) -> None:
    """Unpersist every frame the library has pinned, process-wide.

    Call it once no un-collected library result is still needed: a result
    built before the call stays correct afterwards but recomputes the
    intermediates it read. One-shot jobs can skip it (session teardown
    frees everything). ``df`` is accepted for the older per-result form and
    ignored; calling with nothing pinned is a no-op.
    """
    with _pinned_lock:
        frames = _pinned[:]
        _pinned.clear()
    for cached in frames:
        try:
            cached.unpersist()
        except Exception:
            pass
