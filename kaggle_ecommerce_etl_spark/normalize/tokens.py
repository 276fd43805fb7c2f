"""String/NA canonicalization ops (SURVEY.md §2e ops 23-25, 30).

Reference behavior re-expressed:
- NA-token set → NULL (ecommerce_s3_to_pg.py:137, 196-197)
- upper+trim columns whose name contains sku/customer/style/size
  (ecommerce_s3_to_pg.py:57-72)
- lower+trim on named columns (ecommerce_s3_to_pg.py:223, 237-240)
- global trim of string columns (ecommerce_s3_to_pg.py:190-192)

All pure projections: narrow, codegen'd, no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kaggle_ecommerce_etl_spark.util import qident, sql_str

#: exact token spellings the reference maps to missing
#: (ecommerce_s3_to_pg.py:137)
NA_TOKENS: tuple[str, ...] = (
    " ", "", "NA", "na", "n/a", "N/A", "n/A", "N/a", "null", "Null", "NULL",
)


def _string_cols(df: DataFrame, cols: Iterable[str] | None) -> list[str]:
    if cols is not None:
        return [c for c in cols if c in df.columns]
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


def na_token_to_null(name: str) -> str:
    """SQL text: NULL iff the (trimmed) value is an NA token or empty,
    else the value unchanged."""
    tokens = ", ".join(sql_str(t) for t in dict.fromkeys(t.strip() for t in NA_TOKENS))
    ref = qident(name)
    return f"CASE WHEN trim({ref}) IN ({tokens}) THEN NULL ELSE {ref} END"


def canonicalize_na(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Replace every NA-token spelling (and blank) with SQL NULL in the
    given (default: all string) columns."""
    targets = _string_cols(df, cols)
    return df.withColumns({c: F.expr(na_token_to_null(c)) for c in targets})


def trim_string_columns(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Trim every (default: all string) column."""
    targets = _string_cols(df, cols)
    return df.withColumns({c: F.expr(f"trim({qident(c)})") for c in targets})


def standardize_text_columns(
    df: DataFrame,
    name_contains: Sequence[str] = ("sku", "customer", "style", "size"),
) -> DataFrame:
    """upper(trim(c)) for string columns whose name contains any of the
    given substrings (reference standardize_text_columns)."""
    targets = [
        c
        for c in _string_cols(df, None)
        if any(s in c.lower() for s in name_contains)
    ]
    return df.withColumns({c: F.expr(f"upper(trim({qident(c)}))") for c in targets})


def lower_trim_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """lower(trim(c)) for the listed columns (skips absent)."""
    targets = [c for c in cols if c in df.columns]
    return df.withColumns({c: F.expr(f"lower(trim({qident(c)}))") for c in targets})
