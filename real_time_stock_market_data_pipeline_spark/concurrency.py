"""Driver-side concurrency: one scope for overlapping independent Spark work.

    with overlap() as o:
        sig = o.submit("dd18/leg_sig", leg_sig)
        sh = o.submit("dd18/leg_sh", leg_sh)
    rows = sig.result() + sh.result()

Many lifecycle legs and metric counts are chains of small, fixed-overhead
Spark jobs that read or write disjoint state, so running them on driver
threads overlaps their jobs in the scheduler.  This module is the only
place in the package that starts a thread.  Its contract:

- **One thread per submit.**  Each ``submit`` starts one
  ``pyspark.InheritableThread`` at once; there is no shared bounded pool.
  Scopes nest (a dd18 leg opens inner scopes for its prebuild and its
  counts), and a bounded pool would deadlock once the outer tasks held
  every worker while waiting on inner tasks queued behind them.  A call
  site's concurrency is exactly what it submits.
- **Inherited properties.**  A task starts with the submitting thread's
  Spark local properties (job group, scheduler pool, ...), so a caller's
  job group also covers the jobs its tasks launch.  The task's jobs carry
  the ``name`` passed to ``submit`` as their job description.
- **Results.**  ``handle.result()`` joins the task and returns its value,
  or re-raises its error.
- **Join-all on exit.**  Leaving the scope joins every task, whether the
  body returned or raised, so no Spark job started in the scope outlives
  it.  If the body raised, that error propagates.  Otherwise the first
  failed task in submission order raises, whatever order they failed in.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark import InheritableThread, SparkContext


class Handle:
    """One submitted task: ``result()`` joins it."""

    def __init__(self, name: str, fn: Callable[..., Any], args, kwargs):
        self._value: Any = None
        self._error: BaseException | None = None

        def run() -> None:
            sc = SparkContext._active_spark_context
            if sc is not None:
                sc.setJobDescription(name)
            try:
                self._value = fn(*args, **kwargs)
            except BaseException as e:  # re-raised by result() / scope exit
                self._error = e

        self._thread = InheritableThread(target=run, name=name, daemon=True)
        self._thread.start()

    def join(self) -> BaseException | None:
        self._thread.join()
        return self._error

    def result(self) -> Any:
        if self.join() is not None:
            raise self._error
        return self._value


class Overlap:
    """The scope ``overlap()`` yields; see the module docstring."""

    def __init__(self) -> None:
        self._handles: list[Handle] = []

    def submit(self, name: str, fn: Callable[..., Any], *args, **kwargs) -> Handle:
        h = Handle(name, fn, args, kwargs)
        self._handles.append(h)
        return h

    def __enter__(self) -> Overlap:
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        errors = [h.join() for h in self._handles]
        if exc_type is None:
            first = next((e for e in errors if e is not None), None)
            if first is not None:
                raise first
        return False


def overlap() -> Overlap:
    return Overlap()
