"""Path-level dataset discovery and metadata.

Reference semantics (cited for parity, implementation is new):

* dataset = recursive set of ``*.parquet`` under a local dir or ``s3://``
  prefix, sorted (reference ``pivot_utils.py:261-297``);
* taxi type inferred from path substrings yellow/green/fhv else "unknown"
  (``pivot_utils.py:141-154``);
* (year, month) inferred from ``year=YYYY/month=MM`` Hive paths, else
  ``YYYY-MM`` / ``YYYY_MM`` anchored before ``.parquet`` or ``/``, else
  anywhere (``pivot_utils.py:157-176``);
* ``parse_size``: "200MB" -> bytes, 1024 base, K/M/G/T/P
  (``partition_optimization.py:17-31``).

Spark-first notes: discovery is only needed when per-file schema control
matters (multi-era taxi schemas); a homogeneous dataset should be read as
``spark.read.parquet(base)`` with ``recursiveFileLookup`` so Catalyst handles
listing and partition pruning. Path metadata is parsed here, driver-side,
once per file; ingest attaches it to rows by file path.
"""

from __future__ import annotations

import glob
import os
import re

_SIZE_RE = re.compile(r"^\s*([0-9]*\.?[0-9]+)\s*([KMGTP]?)B?\s*$", re.IGNORECASE)
_SIZE_MULT = {"": 1, "K": 1024, "M": 1024**2, "G": 1024**3, "T": 1024**4, "P": 1024**5}

# Hive-style partition dirs take precedence, then year-month tokens anchored
# to a filename/dir boundary, then anywhere in the path.
_HIVE_YM_RE = re.compile(r"year=(\d{4})/month=(\d{1,2})")
_ANCHORED_YM_RE = re.compile(r"(\d{4})[-_](\d{1,2})(?=\.parquet$|/|$)")
_ANYWHERE_YM_RE = re.compile(r"(\d{4})[-_](\d{1,2})")


def is_s3_path(path: str) -> bool:
    """True for s3:// / s3a:// / s3n:// URIs (case-insensitive scheme)."""
    return bool(re.match(r"^s3[an]?://", path, re.IGNORECASE))


def parse_size(size: str | int | float) -> int:
    """Parse a human size string ("200MB", "1.5GB", "500K") into bytes.

    1024 base. Bare numbers are bytes. Raises ValueError on junk.
    """
    if isinstance(size, (int, float)):
        return int(size)
    m = _SIZE_RE.match(size)
    if not m:
        raise ValueError(f"unparseable size: {size!r}")
    value, unit = float(m.group(1)), m.group(2).upper()
    return int(value * _SIZE_MULT[unit])


def discover_parquet_files(input_path: str, pattern: str = "*.parquet") -> list[str]:
    """Recursively list parquet files under a local directory, sorted.

    Only regular files are listed: a Spark-written dataset directory named
    ``x.parquet`` contributes its ``part-*.parquet`` files, not itself too.
    For object stores pass the ``s3a://`` URI straight to ``spark.read``
    (Hadoop FS handles listing); driver-side S3 listing is deliberately not
    reimplemented here. A single file path is returned as-is.
    """
    if is_s3_path(input_path):
        raise ValueError(
            "S3 datasets should be read via spark.read.parquet('s3a://...') "
            "with recursiveFileLookup=true; driver-side listing is local-only"
        )
    if os.path.isfile(input_path):
        return [input_path]
    return sorted(
        p
        for p in glob.glob(os.path.join(input_path, "**", pattern), recursive=True)
        if os.path.isfile(p)
    )


def infer_taxi_type_from_path(path: str) -> str:
    """yellow/green/fhv from the path's basename-ish content, else 'unknown'."""
    low = path.lower()
    for t in ("yellow", "green", "fhv"):
        if t in low:
            return t
    return "unknown"


def infer_month_from_path(path: str) -> tuple[int, int] | None:
    """(year, month) from the path, or None.

    Precedence: ``year=YYYY/month=MM`` -> anchored ``YYYY-MM``/``YYYY_MM``
    (immediately before ``.parquet``, a ``/`` or end) -> first occurrence
    anywhere. Months outside 1..12 are rejected.
    """
    for rx in (_HIVE_YM_RE, _ANCHORED_YM_RE, _ANYWHERE_YM_RE):
        for m in rx.finditer(path):
            year, month = int(m.group(1)), int(m.group(2))
            if 1 <= month <= 12:
                return year, month
    return None

