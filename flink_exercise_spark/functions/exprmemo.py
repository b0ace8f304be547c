"""Process-lifetime memo for STATIC Column expression trees — the
generalized form of the r13 CLF parse-column memo (VERDICT r13 item 5).

Why: PySpark Column construction crosses the py4j socket once per
builder call (~0.3 ms each); a composed operator's projection/agg
expression lists run to hundreds of round trips, i.e. 0.1–0.5 s of
driver-side latency PER INVOCATION that recurs on every bench pass and
every registry run (measured r14: ~15 s of per-pass driver-side build
time across the 92-query suite before this memo). Column objects are
immutable, unresolved expression trees — session-agnostic within one
process (the py4j gateway is process-level), so building them once and
reusing them is an input-METADATA memo, the same class as
``tables._TABLE_CACHE`` and the parquet-footer schema memo: no data,
no results, nothing keyed on a data directory.

Rules for call sites (the r13 lessons, measured):
- STATIC keys only — key on the builder's value-affecting parameters,
  never on DataFrames or plans (the semanticHash-keyed variant was
  measured a net loss in r13).
- A non-deterministic expression must not depend on a seed. An
  unseeded rand draws a fresh seed per build, which is exactly what a
  memo must not freeze, and forces a codegen recompile per build
  (~0.5 s, r13). A pinned ``F.rand(seed=0)`` is stable across batch
  builds only: each streaming micro-batch re-seeds every random
  expression, so the generated source still changes per batch (6
  Janino compiles per 3-batch CLF drain, 19-32 ms each). Use a
  seedless one such as ``F.spark_partition_id()`` (as parse_clf's
  barriers do).
- Memoized lists are shared objects: callers must not mutate them
  (pass straight to ``select(*...)``/``agg(*...)``).
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import TypeVar

T = TypeVar("T")

_MEMO: dict[Hashable, object] = {}


def expr_memo(key: Hashable, build: Callable[[], T]) -> T:
    """Return the memoized value for ``key``, building it on first use."""
    v = _MEMO.get(key)
    if v is None:
        v = _MEMO[key] = build()
    return v  # type: ignore[return-value]
