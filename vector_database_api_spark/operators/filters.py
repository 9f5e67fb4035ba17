"""Metadata-filter mini-language as Catalyst predicates.

Reference: ``/root/reference/app/services/search_service.py:155-197`` — four
predicate forms over ``metadata: Dict[str, Any]``, AND-ed (no OR/NOT):

- exact match: ``metadata[key] == value``; missing key => no match
  (search_service.py:188-191)
- ``created_after*`` key prefix: ``created_at > value`` strict
  (search_service.py:170-174)
- ``created_before*`` key prefix: ``created_at < value``
  (search_service.py:175-178)
- ``<key>_contains`` suffix: case-insensitive substring on the stringified
  value (search_service.py:179-187)

Spark mapping: MapType access returns NULL for a missing key, and a NULL
comparison is NULL, which ``filter`` drops — identical to the reference's
"missing key fails the filter" semantics, with no special-casing needed.
Because these are plain column predicates, Catalyst pushes them below joins
and into the parquet scan (partition pruning when the table is partitioned
by ``library_id``).
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_form(key: str) -> str:
    """The predicate form of a filter key: 'created_after',
    'created_before', 'contains' or 'exact'."""
    for prefix in ("created_after", "created_before"):
        if key.startswith(prefix):
            return prefix
    return "contains" if key.endswith("_contains") else "exact"


def metadata_predicate(
    filters: dict[str, Any],
    metadata_col: str = "metadata",
    created_at_col: str = "created_at",
) -> Column:
    """Build the AND-of-predicates Column for a reference-style filter dict."""
    preds: list[Column] = []
    meta = F.col(metadata_col)
    for key, value in filters.items():
        form = filter_form(key)
        if form == "created_after":
            preds.append(F.col(created_at_col) > F.lit(value))
        elif form == "created_before":
            preds.append(F.col(created_at_col) < F.lit(value))
        elif form == "contains":
            base = key[: -len("_contains")]
            preds.append(
                F.lower(meta[base]).contains(F.lower(F.lit(str(value))))
            )
        else:
            preds.append(meta[key] == F.lit(str(value)))
    if not preds:
        return F.lit(True)
    return reduce(lambda a, b: a & b, preds)


def exact_match(metadata: dict[str, str] | None, filters: dict[str, Any]) -> bool:
    """Python twin of :func:`metadata_predicate` for exact-match keys
    only: a missing map, a missing key or a NULL value fails."""
    return metadata is not None and all(
        metadata.get(key) == str(value) for key, value in filters.items()
    )


def apply_metadata_filters(
    df: DataFrame,
    filters: dict[str, Any] | None,
    metadata_col: str = "metadata",
    created_at_col: str = "created_at",
) -> DataFrame:
    if not filters:
        return df
    return df.filter(metadata_predicate(filters, metadata_col, created_at_col))


def library_scope(df: DataFrame, library_id: str | None) -> DataFrame:
    """Library confinement (reference search_service.py:99) — a pushed-down
    equality predicate; partition pruning when partitioned by library_id."""
    if library_id is None:
        return df
    return df.filter(F.col("library_id") == F.lit(library_id))
