"""Seeded input generators for the benchmark (numpy + pyarrow, no Spark).

Two datasets:

* ``make_trips``: reference-shaped monthly yellow/green taxi files for the
  flagship pivot (the shape of ``tools/pivot_throughput.generate``), with a
  share of files in a second, older column naming that the schema detector
  must resolve. Every file carries an integer pickup location id, so the
  pipeline takes its int-key path. Returns the ground truth the pipeline's
  observed counters must reproduce.
* ``make_tables``: the sf-scaled tables the query workload reads
  (``documents`` and ``events``), with the column names, types
  and value domains of the engine's sf0.1 test tables. One parquet file
  with one row group per table, as the engine's loaders expect.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (datetime column, location column) per schema era. The first is the
# post-2011 TLC naming; the second is the older trip-record naming, which
# the detector resolves by case-insensitive candidate match.
CURRENT_SCHEMA = {"yellow": ("tpep_pickup_datetime", "PULocationID"),
                  "green": ("lpep_pickup_datetime", "PULocationID")}
OLD_SCHEMA = ("Trip_Pickup_DateTime", "PU_Location_ID")
OLD_SCHEMA_EVERY = 4  # every 4th file uses OLD_SCHEMA

_US_PER_DAY = 86400 * 1_000_000


@dataclass
class TripFile:
    path: str
    taxi_type: str
    datetime_col: str
    location_col: str


@dataclass
class TripTruth:
    """What the generator wrote: the pipeline's observed counters must match."""

    rows: int = 0
    null_ts: int = 0
    month_mismatch: int = 0
    files: list[TripFile] = field(default_factory=list)


def make_trips(out_dir: str, seed: int, n_rows: int, n_files: int) -> TripTruth:
    """Write ``n_files`` monthly files holding ``n_rows`` rows in total."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    truth = TripTruth()
    per = n_rows // n_files
    for i in range(n_files):
        year, month = 2020 + i // 12, i % 12 + 1
        taxi = "yellow" if i % 2 == 0 else "green"
        ts_col, loc_col = (
            OLD_SCHEMA if i % OLD_SCHEMA_EVERY == OLD_SCHEMA_EVERY - 1
            else CURRENT_SCHEMA[taxi]
        )
        start = np.datetime64(f"{year}-{month:02d}-01", "us").astype(np.int64)
        end = (np.datetime64(f"{year}-{month:02d}", "M") + 1).astype(
            "datetime64[us]").astype(np.int64)
        # Uniform over the month; 0.2% of rows land a month later (the
        # month-mismatch audit) and 0.1% have no timestamp (parse failures).
        ts = rng.integers(start, end, size=per, dtype=np.int64)
        late = rng.random(per) < 0.002
        ts[late] += 31 * _US_PER_DAY
        null = rng.random(per) < 0.001
        # Zipf-ish location skew: square a uniform to concentrate mass.
        u = rng.random(per)
        loc = (u * u * 264).astype(np.int32) + 1
        fare = np.round(rng.gamma(2.0, 9.0, size=per), 2)
        dist = np.round(rng.gamma(1.5, 2.0, size=per), 2)
        table = pa.table({
            ts_col: pa.array(ts.view("datetime64[us]"), mask=null,
                             type=pa.timestamp("us")),
            loc_col: pa.array(loc),
            "fare_amount": pa.array(fare),
            "trip_distance": pa.array(dist),
        })
        path = os.path.join(out_dir, f"{taxi}_tripdata_{year}-{month:02d}.parquet")
        pq.write_table(table, path, row_group_size=1_000_000)
        truth.rows += per
        truth.null_ts += int(null.sum())
        truth.month_mismatch += int((~null & ((ts < start) | (ts >= end))).sum())
        truth.files.append(TripFile(path, taxi, ts_col, loc_col))
    return truth


# --- query tables ---------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=len(table) or 1)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bags of words over a 30-word vocabulary; 5% are near-duplicates
    (an earlier document's text plus the token ``dup``)."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """Time-ordered events over January 2024."""
    ts = np.sort(rng.integers(_EPOCH_2024, _EPOCH_2024 + 30 * _US_PER_DAY,
                              size=n, dtype=np.int64))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.view("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": rng.integers(0, users, size=n, dtype=np.int64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, size=n)],
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def make_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the query workload's tables at scale ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, int(50_000 * sf)),
        "events": _events(rng, int(1_000_000 * sf), int(15_000 * sf)),
    }
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: len(t) for name, t in tables.items()}
