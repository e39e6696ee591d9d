"""Query registry: the single source of truth mapping operator names to
(PySpark implementation, DuckDB oracle SQL) pairs.

Driver contract (__spark_entry__.py): every operator claimed as done
needs a ``queries()`` entry, and — unless genuinely not SQL-expressible
— an ``oracle_sql()`` entry whose column names match the Spark output
exactly (the driver sorts columns by name and value-hashes).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from contextvars import ContextVar
from dataclasses import dataclass, field

from py4j.protocol import Py4JError


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable  # (SparkSession, sf_dir: str) -> DataFrame
    oracle: str | None  # DuckDB SQL over pre-registered views, or None (rows-only)
    tags: tuple = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


# The pin scope of this context (each thread starts with its own, so
# concurrent queries on one session never share one): the list pin()
# appends to while a registered-query invocation is open, frozen into a
# tuple when the top-level invocation returns. The frozen frames stay
# cached for the caller's collect() until this context's next top-level
# entry unpersists them.
SCOPE: ContextVar[list | tuple] = ContextVar("pin_scope", default=())


def _scoped(fn: Callable) -> Callable:
    """Run ``fn`` inside a pin scope (operators/_pin.py). A top-level
    entry first unpersists what this context's previous top-level
    invocation pinned, so no run reads an earlier run's blocks. A
    nested entry (a capstone calling a component query) joins the
    open scope."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        left = SCOPE.get()
        if isinstance(left, list):
            return fn(*args, **kwargs)
        for df in left:
            try:
                df.unpersist(blocking=False)
            except Py4JError:
                pass  # session stopped: nothing is cached there anymore
        SCOPE.set(frames := [])
        try:
            return fn(*args, **kwargs)
        finally:
            SCOPE.set(tuple(frames))

    return wrapped


def query(name: str, oracle: str | None = None, tags: tuple = ()):  # decorator
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=_scoped(fn),
            oracle=oracle,
            tags=tuple(tags),
            doc=fn.__doc__ or "",
        )
        return REGISTRY[name].fn

    return deco
