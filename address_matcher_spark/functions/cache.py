"""Fixed Column expressions, built once per JVM.

Every ``F.*`` call is a py4j round trip to the driver JVM (about 65 µs),
and so is freeing each Python proxy it leaves behind.  A plan builder
that rebuilds the same expressions on every call pays that for every
one of them: a one-address lookup built about 9,900 of them per request
(docs/PLANS.md, "Column expressions built once per process").

A PySpark Column is an unresolved expression that every plan using it
resolves afresh, so one Column object serves any number of DataFrames
and sessions.  ``cached`` memoises a builder of such Columns on its
positional arguments: column names, flags, thresholds, blocker tuples,
the scorer.  They must be hashable by value, so a Column (which has no
value equality) is never a key; expressions that depend on the data —
an ``isin`` over collected values, an Observation — stay per call, or,
where the data is a frame the caller keeps (a standing reference),
``cached_on_frame`` memoises them on that frame object.

The memo is pinned to the py4j gateway its Columns live in: called under
another gateway, a builder starts from an empty memo, so a Column never
outlives the JVM it refers to.  A builder's result is shared, so callers
must not mutate it (builders return tuples, and dicts only for
``withColumns``, which reads them).
"""

from __future__ import annotations

import functools
import weakref

from pyspark import SparkContext
from pyspark.sql import functions as F


def _pinned(memo):
    """``memo``, emptied whenever the live py4j gateway is not the one
    its entries were built under."""
    owner: list = [None]

    def current():
        gateway = SparkContext._gateway
        if gateway is not owner[0]:
            memo.clear()
            owner[0] = gateway
        return memo

    return current


def cached(builder):
    """Memoise ``builder(*args)`` per JVM gateway (see module doc)."""
    memo = _pinned({})

    @functools.wraps(builder)
    def build(*args):
        built = memo()
        if args not in built:
            built[args] = builder(*args)
        return built[args]

    return build


def cached_on_frame(builder):
    """Memoise ``builder(df, *args)`` on the DataFrame object ``df``
    itself, for values that depend on its rows (a collected set, a
    Column over it).  The contract: a frame's rows are fixed while it
    lives.  The memo holds the frame weakly, so an entry goes with its
    frame, and it is pinned to the gateway like ``cached``'s; a caller
    that builds a new frame (every batch call does) builds afresh."""
    memo = _pinned(weakref.WeakKeyDictionary())

    @functools.wraps(builder)
    def build(df, *args):
        built = memo().setdefault(df, {})
        if args not in built:
            built[args] = builder(df, *args)
        return built[args]

    return build


@cached
def columns(names: tuple) -> tuple:
    """``F.col`` of each name: a select list or grouping key passed as
    names costs a round trip per name on every call."""
    return tuple(map(F.col, names))
