"""As-of (nearest-predecessor) join — the canonical time-series operator
Spark lacks natively.

Not present in the reference (cpdd has no temporal notion); included
because a transcript/event corpus engine constantly needs "attach the most
recent prior X to each Y" (last model checkpoint before a run, last
purchase before a click, config active at event time). DuckDB ships it as
``ASOF JOIN``, which is exactly what the driver oracle uses to check this
implementation.

Implementation — union + ordered forward-fill, NOT a range join:

- tag both inputs and union them (right rows carry their payload, left
  rows carry nulls there);
- one window per ``by`` key ordered by ``(on, side)`` where right sorts
  BEFORE left at equal timestamps (backward-inclusive semantics);
- ``last(payload, ignorenulls=True)`` over rows UNBOUNDED PRECEDING ..
  CURRENT ROW forward-fills the latest right payload onto every row;
- keep the left rows.

Why this shape at scale: the obvious formulations are a non-equi range
join (O(n*m) worst case, no hash strategy — Spark falls back to
BroadcastNestedLoop) or a per-key ``merge_asof`` in ``applyInPandas``
(Python workers + whole-group materialization). The union+ffill plan is
ONE shuffle on the ``by`` key + an in-partition sort, entirely JVM-side,
and skew follows the ``by`` cardinality like any window — the same cost
class as sessionization, at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | None = None,
    tolerance: int | None = None,
) -> DataFrame:
    """Backward-inclusive as-of join: every ``left`` row gains the payload
    of the LATEST ``right`` row with ``right.on <= left.on`` (and equal
    ``by`` key, when given) — nulls when no predecessor exists.

    ``by=None`` runs a GLOBAL as-of — inherently one ordered partition
    (sequential at any engine); supply ``by`` whenever one exists, which
    partitions the window and scales like sessionization.

    ``on`` must be numerically ordered (epoch long, numeric); ``tolerance``
    (same unit as ``on``) null-outs matches older than ``left.on -
    tolerance``. Right payload columns are prefixed with ``right_``;
    a ``right_{on}`` column carries the matched row's own
    timestamp. Ties inside ``right`` on ``(by, on)`` resolve to the row
    LAST in the window order — pre-aggregate the right side when tie
    determinism matters (the oracle query does).

    The right payload forward-fills as ONE struct (non-null exactly on
    right rows), not per column: a per-column ``last(ignorenulls)`` would
    splice a legitimately-NULL payload column from an OLDER right row —
    mixing values across right rows and violating the single-matched-row
    contract (DuckDB ASOF / pandas merge_asof attach the matched row
    including its NULLs). One fill, then unpack the struct's fields.
    """
    if by is None:
        import warnings

        warnings.warn(
            "asof_join(by=None) runs a GLOBAL ordered window: every row "
            "lands in ONE partition on ONE executor — a silent scale-killer "
            "on large frames. Supply `by` whenever any key exists (it "
            "partitions the window and scales like sessionization).",
            # UserWarning: visible under Python's DEFAULT warning filters —
            # ResourceWarning is ignored by default, which would make this
            # scale notice invisible in a plain interpreter
            UserWarning,
            stacklevel=2,
        )
    payload_cols = [c for c in right.columns if c not in {on, by}]
    keys = ([by] if by else []) + [on]

    r = right.select(
        *keys,
        F.lit(0).alias("_side"),
        F.struct(
            *[F.col(c).alias(c) for c in payload_cols], F.col(on).alias(on)
        ).alias("_asof"),
    )
    l = left.select(
        "*",
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_asof"].dataType).alias("_asof"),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)

    w = (
        (Window.partitionBy(by) if by else Window.partitionBy(F.lit(0)))
        .orderBy(F.col(on), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        unioned.withColumn("_asof", F.last("_asof", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        .drop("_side")
    )

    if tolerance is not None:
        stale = F.col("_asof")[on] < (F.col(on) - F.lit(tolerance))
        out = out.withColumn(
            "_asof", F.when(stale, F.lit(None)).otherwise(F.col("_asof"))
        )
    return out.select(
        "*",
        *[F.col("_asof")[c].alias(f"right_{c}") for c in payload_cols],
        F.col("_asof")[on].alias(f"right_{on}"),
    ).drop("_asof")
