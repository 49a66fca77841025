"""Session-scoped memo for expensive deterministic fits.

A real pipeline trains once and applies everywhere: across sessions via
the published parquet stores (``text_bpe_publish`` /
``publish_ivfpq_model`` + ``require_store``), within a session via this
memo. An operator family declares its shared fit once, as a plain
``fn(spark, sf_dir, *params)`` decorated with :func:`shared_fit`; the
first consumer pays the fit, later consumers reuse the materialized
frames. The whole contract:

- **Deterministic in the files under ``sf_dir``.** A fit must return the
  same frames for the same input files and params, so a memo hit is
  frame-identical to a refit (pinned per family in tests). Directory
  params are keyed by ``sources.tables.files_fingerprint`` (name, size,
  mtime of each file), not their path string: a table rewritten in place
  misses the memo, as it misses ``load_table``'s schema cache.
- **Per-application keys.** The key is (applicationId, family, bound
  params with defaults applied). A new session never reads a dead
  session's blocks: keys of other applications are evicted on first
  touch.
- **Stale fits are evicted.** A refit of the same family over the same
  paths whose files were rewritten drops every entry over the old files,
  so their checkpointed blocks are released by the ContextCleaner. Fits
  over the same files with other params (the two BPE trainer
  geometries), and fits over different paths (a warm-up scale and the
  bench scale), coexist.
- **What is materialized.** Every returned DataFrame whose plan is not
  already a ``LogicalRDD`` is eager-``localCheckpoint``ed, so its blocks
  need no recomputation lineage. Frames that already scan an existing
  RDD (ones the fit checkpointed itself, ``spark.createDataFrame`` rows)
  are returned as they are: checkpointing them again costs a job and
  buys nothing. Non-DataFrame values pass through. A fit that raises
  memoizes nothing, so the next call fits again.
"""

from __future__ import annotations

import functools
import inspect
import os
import tempfile
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from komodo_data_spark.sources.tables import files_fingerprint

_MEMO: dict[tuple, Any] = {}
#: family -> qualified name of the fit that declared it
_FAMILIES: dict[str, str] = {}


def _dirs(key: tuple) -> tuple:
    """The (path, fingerprint) pairs of a memo key's directory params."""
    return tuple(p for p in key[2:] if isinstance(p, tuple))


def session_model(
    spark: SparkSession, family: str, params: tuple, fit: Callable[[], Any]
) -> Any:
    """Return ``fit()``'s result memoized for this Spark application
    under (family, params) — the key and eviction rules of the module
    docstring. The memo stores and returns ``fit()``'s value as-is."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _MEMO if k[0] != app]:
        del _MEMO[k]
    key = (app, family) + tuple(
        (os.path.abspath(p), files_fingerprint(os.path.abspath(p)))
        if isinstance(p, str) and os.path.isdir(p)
        else p
        for p in params
    )
    if key not in _MEMO:
        # drop the family's fits over stale files (same paths, rewritten
        # => new fingerprints) so their checkpointed blocks are GC-released
        # instead of accumulating; fits over the same files with other
        # params, and over DIFFERENT paths (e.g. the warm-up sf and the
        # bench sf), still coexist
        dirs = _dirs(key)
        for k in [
            k
            for k in _MEMO
            if k[:2] == key[:2]
            and [p for p, _ in _dirs(k)] == [p for p, _ in dirs]
            and _dirs(k) != dirs
        ]:
            del _MEMO[k]
        _MEMO[key] = fit()
    return _MEMO[key]


def session_model_path(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """The store path a registered query publishes a ``kind`` model to and
    applies it from: per application and scale dir under the system temp
    dir (a registered query cannot take a model path; production passes a
    durable one). The temp dir is read per call, so a re-pointed TMPDIR
    takes effect."""
    return os.path.join(
        tempfile.gettempdir(),
        f"komodo_{kind}_model",
        spark.sparkContext.applicationId,
        os.path.basename(os.path.abspath(sf_dir)),
    )


def _materialize(out: Any) -> Any:
    if isinstance(out, tuple):
        return tuple(_materialize(x) for x in out)
    if not isinstance(out, DataFrame):
        return out
    # the optimized plan: a no-op select over created rows is still a
    # Project before optimization (the batched BPE merge table)
    plan = out._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        return out
    return out.localCheckpoint(eager=True)


def shared_fit(family: str) -> Callable[[Callable], Callable]:
    """Declare ``fn(spark, sf_dir, *params)`` the session-shared fit of
    ``family``: calls are memoized through :func:`session_model` keyed by
    the bound params (defaults applied), and the returned frames are
    materialized as the module docstring states. Raises at decoration
    time when another fit already declared ``family`` — two fits sharing
    a key would silently serve each other's frames."""

    def declare(fn: Callable) -> Callable:
        if family in _FAMILIES:
            raise ValueError(
                f"shared fit family {family!r} is already declared by "
                f"{_FAMILIES[family]}"
            )
        _FAMILIES[family] = f"{fn.__module__}.{fn.__qualname__}"
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def shared(spark: SparkSession, *args: Any, **kwargs: Any) -> Any:
            bound = sig.bind(spark, *args, **kwargs)
            bound.apply_defaults()
            params = tuple(bound.arguments.values())[1:]
            # module-global lookup at call time: probes patch session_model
            return session_model(
                spark,
                family,
                params,
                lambda: _materialize(fn(*bound.args, **bound.kwargs)),
            )

        return shared

    return declare
