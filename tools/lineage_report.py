"""Generate LINEAGE.md: per-query source tables and the COLUMNS actually
read, extracted from the analyzed physical plan's scan nodes.

This is both a lineage report (which queries touch which inputs) and
mechanical evidence of column pruning: the ReadSchema of every scan is
what survives Catalyst's pruning, so a query listed as reading
``lineitem(l_extendedprice, l_quantity)`` provably never deserializes
the other 9 columns — at 100 TB that is the difference between reading
a table and reading a fiftieth of it.

Usage: python tools/lineage_report.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e
from taxi_data_datapipeline_spark.session import get_spark

SCAN_RE = re.compile(r"Location:.*?/(\w+)\.parquet")
SCHEMA_RE = re.compile(r"ReadSchema: struct<([^>]*)>")
STREAM_GLOB_RE = re.compile(r"/(\w+)\*\.parquet")

# True sources of the localCheckpoint-memoized builders. An eager
# localCheckpoint makes every consumer plan read `Scan ExistingRDD`, hiding
# the builder's parquet scans from this tool — which previously mislabeled
# the CF-eval queries "(no parquet scan — generated input)" (ADVICE r8).
# Keyed by the builder symbol; matched mechanically against the consumer
# function's code-object name tables (co_names, recursively through nested
# code objects), so new consumers inherit the right label without touching
# this file — and a mere MENTION of a builder in a comment or docstring
# cannot mislabel provenance (ADVICE r9: the old inspect.getsource substring
# match would).
MEMO_SOURCES = {
    "_cf_eval_frames": (
        "via _cf_eval_frames memo: lineitem(l_orderkey, l_partkey); "
        "orders(o_custkey, o_orderdate, o_orderkey)"
    ),
    "_copurchase_pair_counts": (
        "via _copurchase_pair_counts memo: lineitem(l_orderkey, l_partkey)"
    ),
    "_copurchase_edges": (
        "via _copurchase_pair_counts memo: lineitem(l_orderkey, l_partkey)"
    ),
    "_copurchase_edges_support": (
        "via _copurchase_pair_counts memo: lineitem(l_orderkey, l_partkey)"
    ),
}


def _code_objects(fn):
    """The function's code object and every nested one (functions,
    lambdas, comprehensions)."""
    import types

    try:
        stack = [fn.__code__]
    except AttributeError:
        return
    while stack:
        code = stack.pop()
        yield code
        stack.extend(c for c in code.co_consts if isinstance(c, types.CodeType))


def referenced_names(fn) -> set[str]:
    """Every global/attribute name the function's code actually references,
    including inside nested functions/lambdas — docstrings and comments are
    not code, so they can't appear here."""
    names: set[str] = set()
    for code in _code_objects(fn):
        names.update(code.co_names)
        names.update(code.co_freevars)
    return names


def streamed_tables(fn) -> list[str]:
    """Tables a streaming query's file streams read: ``_stream_events``
    streams events; any other stream names its ``<table>*.parquet`` glob
    in a string constant of the query's code."""
    tables = {"events"} if "_stream_events" in referenced_names(fn) else set()
    for code in _code_objects(fn):
        for const in code.co_consts:
            if isinstance(const, str):
                tables.update(STREAM_GLOB_RE.findall(const))
    return sorted(tables)


def memo_note(fn) -> str | None:
    """Provenance note when a query consumes a checkpoint-memoized builder."""
    names = referenced_names(fn)
    for builder, note in MEMO_SOURCES.items():
        if builder in names:
            return note
    return None


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "LINEAGE.md"
    spark = get_spark("lineage", cpus=4)
    qs = e.queries()
    rows = []
    for name, fn in qs.items():
        if name.startswith("streaming_"):
            tables = ", ".join(streamed_tables(fn))
            rows.append((name, f"(streaming — file-stream over {tables})"))
            continue
        try:
            df = fn(spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:
            rows.append((name, f"error: {str(ex).splitlines()[0][:80]}"))
            continue
        reads: dict[str, set[str]] = {}
        # Scan blocks appear as "Location: ... <table>.parquet" followed
        # (within the same node body) by a ReadSchema line.
        blocks = plan.split("Location:")
        for block in blocks[1:]:
            m = SCAN_RE.match("Location:" + block.split("\n")[0] + "\n")
            tm = re.search(r"/(\w+)\.parquet", block.split("\n")[0])
            sm = SCHEMA_RE.search(block)
            if tm:
                cols = set()
                if sm:
                    cols = {
                        c.split(":")[0]
                        for c in sm.group(1).split(",")
                        if c
                    }
                reads.setdefault(tm.group(1), set()).update(cols)
        desc = "; ".join(
            f"{t}({', '.join(sorted(cs))})" for t, cs in sorted(reads.items())
        )
        if not desc:
            # Distinguish checkpoint-hidden provenance from true generated
            # input: an eager localCheckpoint surfaces as `Scan ExistingRDD`
            # and swallows the builder's parquet scans (ADVICE r8).
            note = memo_note(fn)
            if note:
                desc = f"(checkpoint-memoized — {note})"
            elif "ExistingRDD" in plan:
                desc = ("(localCheckpoint input — source scans consumed "
                        "during the iterative/memoized build)")
            else:
                desc = "(no parquet scan — generated input)"
        rows.append((name, desc))
    lines = [
        "# LINEAGE — per-query source tables and pruned column sets",
        "",
        "Extracted from each query's physical plan scan nodes"
        " (`tools/lineage_report.py`); the column lists are the scans'",
        "ReadSchema — what Catalyst's column pruning actually reads.",
        "",
        "| query | reads |",
        "|---|---|",
    ]
    for name, desc in rows:
        lines.append(f"| `{name}` | {desc} |")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(rows)} queries")


if __name__ == "__main__":
    main()
