"""Order-dependent misaligned-row-group split (SURVEY.md §2f op 35).

Reference behavior (ecommerce_s3_to_pg.py:364-413): scan the
International report's rows IN FILE ORDER; the first row whose cells
are all letter-containing strings is an embedded second header. Rows
above it stay ``part1`` under the original header; that row becomes the
header of ``part2`` and the remaining rows its data. No such row →
everything is part1.

This is non-relational (row order matters), so it is isolated here:

- The input must carry a total order. ``with_file_order`` attaches one
  from parquet/CSV scan order using ``monotonically_increasing_id`` on a
  SINGLE-partition read. These report files are small (≤ tens of MB);
  forcing one partition is correct and cheap. For big ordered inputs,
  pass an explicit ordinal column instead.
- Exactly ONE 1-row ``collect`` fetches the embedded header (documented
  exception to the no-collect rule — it is a header, i.e. metadata).
- Both parts are lazy filters over the same scan; Catalyst reuses it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.normalize.columns import normalize_name
from kaggle_ecommerce_etl_spark.util import qident, sql_str

ORDINAL = "__row_ordinal"


def with_file_order(df: DataFrame, coalesce_to_one: bool = True) -> DataFrame:
    """Attach a file-order ordinal. Single partition ⇒ monotonic ids are
    sequential scan order."""
    src = df.coalesce(1) if coalesce_to_one else df
    return src.withColumn(ORDINAL, F.monotonically_increasing_id())


def all_letter_string_row(df: DataFrame) -> Column:
    """Reference ``is_all_strings`` predicate (pg.py:45-55): every cell
    non-null and containing at least one ASCII letter."""
    letters = sql_str("[a-zA-Z]")
    conds = [
        f"({qident(c)} IS NOT NULL AND {qident(c)} RLIKE {letters})"
        for c in df.columns
        if c != ORDINAL
    ]
    return F.expr(" AND ".join(["true", *conds]))


def split_misaligned_rowgroups(
    ordered: DataFrame,
) -> tuple[DataFrame, DataFrame | None]:
    """Split an ordinal-carrying all-string frame into (part1, part2).

    part2 is None when no embedded header exists. part2's columns are
    renamed from the embedded header row's non-null cells (normalized);
    trailing cells that are NULL in the header row are dropped.
    """
    if ORDINAL not in ordered.columns:
        raise ValueError("input must carry the __row_ordinal column; use with_file_order()")

    header_row = (
        ordered.filter(all_letter_string_row(ordered))
        .orderBy(ORDINAL)
        .limit(1)
        .collect()
    )
    if not header_row:
        return ordered.drop(ORDINAL), None

    hdr = header_row[0]
    split_id = hdr[ORDINAL]
    data_cols = [c for c in ordered.columns if c != ORDINAL]

    part1 = ordered.filter(F.col(ORDINAL) < split_id).drop(ORDINAL)

    new_names = [(c, hdr[c]) for c in data_cols if hdr[c] is not None]
    part2 = ordered.filter(F.col(ORDINAL) > split_id).selectExpr(
        *[f"{qident(c)} AS {qident(normalize_name(str(new)))}" for c, new in new_names]
    )
    return part1, part2
