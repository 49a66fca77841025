"""The query catalog: each registered operator is declared once, at its def.

A registered query is a plain ``fn(spark, sf_dir) -> DataFrame`` marked
with :func:`query`. Its name is ``fn.__name__`` and its pack is
``fn.__module__``. Its oracle, the DuckDB-runnable SQL the correctness
gate compares it against, is named at the declaration and looked up in
the pack when :func:`registered` runs:

- ``@query`` pairs ``fn`` with the pack's ``<name>_oracle()``;
- ``@query(oracle="q2_oracle")`` names another oracle of the pack (twins
  that share one oracle, the TPC-H ``qN_oracle`` names);
- ``@query(oracle=None)`` declares a rows-only entry; the reason is a
  comment at the declaration.

A name declared twice, a query outside :data:`PACKS` or an oracle that
does not resolve raises: a query never quietly turns rows-only and the
catalog never quietly shrinks.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: The packs in catalog order, relative to the package.
PACKS = (
    "operators.relational",
    "operators.events_analytics",
    "operators.tpch_extended",
    "operators.window_ops",
    "operators.reshape",
    "operators.pipeline_ops",
    "operators.corpus",
    "operators.sessions",
    "operators.dedup",
    "operators.text_analysis",
    "operators.similarity",
    "operators.retrieval",
    "operators.multimodal_ops",
    "operators.profiling",
    "operators.graph_ops",
    "operators.join_strategies",
    "operators.stats_ops",
    "operators.timeseries",
    "functions.udtfs",
)

_OWN_ORACLE = object()
#: name -> (query fn, oracle function name or None), in declaration order
_DECLARED: dict[str, tuple[QueryFn, str | None]] = {}


def query(fn: QueryFn | None = None, *, oracle: object = _OWN_ORACLE):
    """Declare ``fn`` a registered query paired with ``oracle`` (see the
    module docstring). Returns ``fn`` unchanged. Raises at decoration time
    when the name is already declared."""

    def declare(fn: QueryFn) -> QueryFn:
        name = fn.__name__
        if name in _DECLARED:
            prev = _DECLARED[name][0]
            raise ValueError(
                f"query {name!r} is already declared by "
                f"{prev.__module__}.{prev.__qualname__}"
            )
        _DECLARED[name] = (
            fn, f"{name}_oracle" if oracle is _OWN_ORACLE else oracle
        )
        return fn

    return declare if fn is None else declare(fn)


def registered() -> dict[str, tuple[QueryFn, str | None]]:
    """name -> (query fn, oracle SQL or None for rows-only), pack by pack
    in :data:`PACKS` order and in declaration order within a pack."""
    packs = {
        m.__name__: m
        for m in (importlib.import_module(f"{__package__}.{p}") for p in PACKS)
    }
    by_pack: dict[str, dict] = {p: {} for p in packs}
    for name, (fn, oracle) in _DECLARED.items():
        if fn.__module__ not in by_pack:
            raise LookupError(
                f"query {name!r} is declared outside PACKS ({fn.__module__})"
            )
        sql = None
        if oracle is not None:
            oracle_fn = getattr(packs[fn.__module__], oracle, None)
            if not callable(oracle_fn):
                raise LookupError(
                    f"query {name!r}: {fn.__module__} has no oracle {oracle!r}"
                )
            sql = oracle_fn()
        by_pack[fn.__module__][name] = (fn, sql)
    return {name: entry for pack in by_pack.values() for name, entry in pack.items()}
