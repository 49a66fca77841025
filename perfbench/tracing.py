"""Layer counters read from outside the package.

Nothing here is instrumented inside ``komodo_data_spark``. Counters come
from three places:

- Spark's scheduler and status store. Job and stage ids grow by one per
  job and stage, so the ids taken before and after a call bound exactly
  the jobs and stages it ran (the benchmark is a single client). Stage
  run time, CPU, GC, shuffle, spill and input bytes are read from the
  local UI REST endpoint right after each call, before the status store
  evicts them (it keeps 1,000 jobs and stages).
- Catalyst's phase tracker and final plan of the query an action ran.
- Wrappers around the package's own seams (``model_memo.session_model``
  and, for the lifecycle, the stream starters, dispatcher, CSV export and
  fulfillment callback), installed by ``patch`` and removed after the run.
"""

from __future__ import annotations

import json
import re
import time
import urllib.error
import urllib.request
from collections import Counter
from contextlib import contextmanager

import harness

#: Stage fields summed into the counters, with the counter each feeds.
_STAGE_FIELDS = {
    "executorRunTime": "executor.run_ms",
    "executorCpuTime": "executor.cpu_ns",
    "jvmGcTime": "executor.gc_ms",
    "shuffleReadBytes": "shuffle.read_bytes",
    "shuffleWriteBytes": "shuffle.write_bytes",
    "memoryBytesSpilled": "shuffle.spill_bytes",
    "diskBytesSpilled": "shuffle.spill_bytes",
    "inputBytes": "input_bytes",
    "numCompleteTasks": "scheduler.tasks",
}


class SparkCounters:
    """Jobs, stages, tasks and stage metrics between two ``mark()``s."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def read(self, start: tuple[int, int], end: tuple[int, int]) -> Counter:
        """Counters for jobs [start, end) and their stages. Waits for the
        listener bus so the last stage's task metrics are in the store."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        out: Counter = Counter()
        out["scheduler.jobs"] = end[0] - start[0]
        for sid in range(start[1], end[1]):
            try:
                with urllib.request.urlopen(f"{self._base}/stages/{sid}", timeout=30) as r:
                    attempts = json.load(r)
            except urllib.error.HTTPError:  # evicted; reading per call keeps this away
                continue
            for a in attempts:
                if a.get("status") == "SKIPPED":
                    continue
                out["scheduler.stages"] += 1
                for field, name in _STAGE_FIELDS.items():
                    out[name] += a.get(field, 0) or 0
        return out


def layer_medians(traced: list[tuple[float, Counter]], untraced_walls: list[float]) -> dict:
    """Per-layer metrics from traced passes or cycles, given as (wall,
    counters): the median of each counter, stage times in seconds,
    ``scheduler.busy_frac`` (executor run time over cores x wall) and
    ``trace.overhead_frac`` (traced over untraced median wall, minus 1)."""
    if not traced:
        return {}
    keys = set().union(*(c for _, c in traced))
    out = {k: harness.median([c[k] for _, c in traced]) for k in keys}
    for name, raw, scale in (("executor.run_s", "executor.run_ms", 1e3),
                             ("executor.cpu_s", "executor.cpu_ns", 1e9),
                             ("executor.gc_s", "executor.gc_ms", 1e3)):
        out[name] = harness.median([c[raw] / scale for _, c in traced])
    out["scheduler.busy_frac"] = harness.median(
        [c["executor.run_ms"] / 1e3 / (harness.CORES * wall) for wall, c in traced])
    if untraced_walls:
        out["trace.overhead_frac"] = (harness.median([w for w, _ in traced])
                                      / harness.median(untraced_walls) - 1.0)
    return out


def catalyst(df) -> tuple[float, float, str]:
    """(optimization s, planning s, final executed-plan text) of ``df``'s
    query execution, read after an action on ``df`` ran it."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()

    def seconds(name: str) -> float:
        opt = phases.get(name)
        return opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0

    return seconds("optimization"), seconds("planning"), plan


_SHUFFLE = re.compile(r"^[\s|:+-]*(?:\*\(\d+\) )?Exchange\b", re.MULTILINE)


def shuffle_exchanges(plan: str) -> int:
    """Shuffle exchanges in the final section of an executed AQE plan,
    one per ``Exchange`` node (a reused exchange runs no shuffle).
    ``plans.audit.plan_stats`` adds each materialized ``ShuffleQueryStage``
    to the ``Exchange`` node it prints below it, so it counts these twice."""
    return len(_SHUFFLE.findall(plan.split("== Initial Plan ==")[0]))


class MemoProbe:
    """Counts ``model_memo.session_model`` fits and hits, the fit seconds,
    and which operation paid each fit (``current`` names the running one)."""

    def __init__(self) -> None:
        self.fits = 0
        self.hits = 0
        self.fit_s = 0.0
        self.payers: list[tuple[str | None, str]] = []
        self.current: str | None = None

    def wrap(self, original):
        def session_model(spark, family, params, fit):
            took: list[float] = []

            def timed_fit():
                t0 = time.perf_counter()
                try:
                    return fit()
                finally:
                    took.append(time.perf_counter() - t0)

            result = original(spark, family, params, timed_fit)
            if took:
                self.fits += 1
                self.fit_s += took[0]
                self.payers.append((self.current, family))
            else:
                self.hits += 1
            return result

        return session_model


@contextmanager
def patch(*replacements):
    """Set ``(module, name, new)`` attributes for the duration, then restore."""
    saved = [(m, n, getattr(m, n)) for m, n, _ in replacements]
    try:
        for m, n, new in replacements:
            setattr(m, n, new)
        yield
    finally:
        for m, n, old in saved:
            setattr(m, n, old)
