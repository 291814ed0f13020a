"""Bucket-count pivot — the reference's flagship computation.

Reference pipeline (``pivot_all_files.py:165-292`` + ``combine_into_wide_table
:307-340``): per batch, count rows by (taxi_type, date, pickup_place, hour);
merge partials per file; pivot hour into 24 wide ``hour_0..hour_23`` columns
with zero fill; drop rows whose horizontal total < min_rides; merge the
per-file tables with a second group-sum.

Spark collapses that whole cascade into ONE logical plan with ONE shuffle:

    GROUP BY index_cols
    SELECT count(1) FILTER (WHERE bucket = v) AS prefix_v  -- per v in domain

* Catalyst plans it as partial HashAggregate (map-side: the reference's
  per-batch partial A1 — 24 counters per in-flight group) -> ONE exchange
  on the index keys -> final HashAggregate (the reference's per-file merge
  A2 + global combine A5 in one step).
* Each counter is ``count(1)`` with a FILTER clause: the aggregate buffer
  slot updates only where the predicate holds, and the predicate is
  evaluated inside the aggregate's generated code. ``count_if(p)`` gives
  the same non-null bigint, but Spark rewrites it to
  ``count(if(NOT p, NULL, p))`` and hoists ``p`` into a Project under the
  partial aggregate, which materializes 24 booleans per input row (2 M
  rows, 4 cores: 0.99 s per pass against 0.59 s with FILTER;
  ``count(CASE WHEN p THEN 1 END)`` read 0.70 s, and
  ``sum(CAST(p AS BIGINT))`` 0.78 s with a nullable result).
* `RelationalGroupedDataset.pivot(values).count()` would plan the same
  result as TWO aggregates (agg on index+bucket, then PivotFirst regroup
  on index) = two shuffles; the conditional-aggregate form halves the
  shuffle count — measured in PLANS.md (`sql_hourly_pivot`'s FILTER
  clause compiles to exactly this shape).
* The explicit domain (0..23) guarantees all 24 columns exist even for
  hours absent from the data — the reference's zero-backfill contract
  (``pivot_utils.py:204-207``) — with no distinct-values pre-job.
* The min-total HAVING filter runs post-pivot on the wide row, exactly like
  the reference (``pivot_utils.py:211-224``); at 100 TB this is a cheap
  filter over the (much smaller) aggregated table, after the only shuffle.

Scale notes: the shuffle key is the index tuple — high cardinality
(type x date x place), so it distributes evenly; skew would only arise from a
single monster (date, place) pair, which AQE's skew handling covers. Pivot
with an explicit small domain adds 24 count slots per group to the hash map —
constant memory per group, no second shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HOUR_COLUMNS = [f"hour_{h}" for h in range(24)]


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (a backtick inside doubles)."""
    return "`" + name.replace("`", "``") + "`"


def row_total(columns: Sequence[str]) -> str:
    """SQL text of the horizontal sum across wide count columns (reference A6)."""
    return " + ".join(f"coalesce({sql_ident(c)}, 0)" for c in columns)


def pivot_counts(
    df: DataFrame,
    index_cols: Sequence[str],
    bucket_col: str,
    domain: Sequence[int],
    prefix: str,
    min_total: int | None = None,
    extra: Sequence[str] = (),
) -> DataFrame:
    """Count rows per (index_cols, bucket) and pivot bucket into wide columns.

    One shuffle (FILTER-clause counters over the explicit ``domain``, not
    `.pivot()` — see module doc). Stable output schema
    ``index_cols + [f'{prefix}{v}' for v in domain] + extra`` with zero
    fill. ``extra`` holds further SQL aggregate expressions (``"count(1)
    AS n"``) computed in the same aggregate. Each aggregate is one SQL
    expression, parsed once in the JVM.
    """
    bucket = sql_ident(bucket_col)
    counters = [f"count(1) FILTER (WHERE {bucket} = {v}) AS {sql_ident(f'{prefix}{v}')}"
                for v in domain]
    wide = df.groupBy(*index_cols).agg(*[F.expr(e) for e in [*counters, *extra]])
    if min_total is not None and min_total > 0:
        wide = wide.filter(f"{row_total([f'{prefix}{v}' for v in domain])} >= {min_total}")
    return wide


def hourly_pivot(
    trips: DataFrame,
    ts_col: str = "pickup_datetime",
    place_col: str = "pickup_place",
    type_col: str = "taxi_type",
    min_rides: int = 50,
) -> DataFrame:
    """The reference's wide table: (taxi_type, date, pickup_place) x hour_0..23.

    Null timestamps are dropped (reference P2); missing cells are 0; rows with
    fewer than ``min_rides`` total trips are dropped (reference P3).
    """
    ts = sql_ident(ts_col)
    prepared = trips.filter(f"{ts} IS NOT NULL").selectExpr(
        f"{sql_ident(type_col)} AS taxi_type",
        f"to_date({ts}) AS date",
        f"CAST({sql_ident(place_col)} AS STRING) AS pickup_place",
        f"hour({ts}) AS hour",
    )
    return pivot_counts(
        prepared,
        index_cols=["taxi_type", "date", "pickup_place"],
        bucket_col="hour",
        domain=range(24),
        prefix="hour_",
        min_total=min_rides,
    )


def cleanup_low_count_rows(
    wide: DataFrame, min_rides: int = 50, hour_cols: Sequence[str] | None = None
) -> tuple[DataFrame, dict[str, Column]]:
    """Standalone HAVING-on-total filter over an already-pivoted wide table.

    Returns (filtered_df, stats_exprs); feed ``stats_exprs`` to
    ``wide.agg(...)`` or ``observe`` for the dropped/kept counts the
    reference reports (``pivot_utils.py:211-224``).
    """
    cols = list(hour_cols) if hour_cols is not None else [
        c for c in wide.columns if c.startswith("hour_")
    ]
    total = row_total(cols)
    kept = wide.filter(f"{total} >= {min_rides}")
    stats = {
        "kept": F.expr(f"sum(CAST({total} >= {min_rides} AS BIGINT)) AS kept"),
        "dropped": F.expr(f"sum(CAST({total} < {min_rides} AS BIGINT)) AS dropped"),
    }
    return kept, stats
