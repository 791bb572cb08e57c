"""Discovered-header CSV source (S5 + S7 + R2 composed).

The reference reads SINAPI sheets as headerless CSV and locates the
header by keyword scan (``processor.py:352-380``). Here the discovery
is a bounded driver-side pre-scan (first ~22 lines through Python's
csv module), and the DATA read is a fully distributed
``spark.read.csv`` with the discovered names applied positionally as an
all-string schema.

Pre-header junk rows cannot be dropped by position in a distributed
scan (row order across partitions is undefined), and don't need to
be: SINAPI's own discipline — numeric-coerce the id column and drop
nulls (``processor.py:385-388``) — removes titles, headers, and
legends in one filter. ``read_discovered_csv`` leaves every column as
string; callers apply the coercion filter, which subsumes the skip.
"""

from __future__ import annotations

import csv
import io
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .normalize import (
    HEADER_SEARCH_LIMIT,
    dedupe_names,
    find_header_row,
    flatten_two_row_header,
    normalize_name,
    standardize_id_names,
)


def _prescan(path: str, sep: str, n_rows: int) -> list[list[str]]:
    rows: list[list[str]] = []
    with io.open(path, "r", encoding="utf-8", errors="replace") as fh:
        for row in csv.reader(fh, delimiter=sep):
            rows.append(row)
            if len(rows) >= n_rows:
                break
    return rows


def read_discovered_csv(
    spark: SparkSession,
    path: str,
    header_keywords: Iterable[str],
    sep: str = ";",
    two_row_header: bool = False,
) -> DataFrame:
    """Distributed scan of a junk-prefixed SINAPI CSV.

    Returns an all-string DataFrame with normalized, standardized,
    deduplicated column names. Raises ValueError when the header is
    not found within HEADER_SEARCH_LIMIT rows.
    """
    sample = _prescan(path, sep, HEADER_SEARCH_LIMIT + 2)
    hdr = find_header_row(sample, header_keywords)
    if hdr is None:
        raise ValueError(
            f"header with keywords {list(header_keywords)!r} not found in "
            f"first {HEADER_SEARCH_LIMIT} rows of {path}"
        )
    if two_row_header:
        if hdr == 0:
            raise ValueError(f"two-row header needs a row above row {hdr}")
        raw_names = flatten_two_row_header(sample[hdr - 1], sample[hdr])
    else:
        raw_names = [str(c) for c in sample[hdr]]

    names = dedupe_names(
        standardize_id_names([normalize_name(n) for n in raw_names])
    )

    # an explicit schema fixes the width up front: Spark would otherwise
    # take it from the first physical line (a narrow preamble truncates
    # every row) and fire a job to read that line
    width = max(len(names), *(len(r) for r in sample))
    names = names + [f"COL_{i}" for i in range(len(names), width)]
    schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
    return spark.read.csv(path, schema=schema, sep=sep, header=False)
