"""The shared rule-driven normalization pass (SURVEY.md §2f op 37's
inner ``transform()``, reference ecommerce_s3_to_pg.py:123-214).

Two-phase execution, made explicit:

1. **Profile** — ONE aggregation job over the raw frame computes every
   data-dependent gate: per-branch success counts (numeric / date /
   month-prefix / NA-canonicalized keep) and per-column null counts.
2. **Plan** — emit ONE ``selectExpr`` projection applying, per column:
   - name contains ``date``  → tolerant parse → ISO ``yyyy-MM-dd`` string
   - name contains ``month`` → month-name normalization (datetime branch
     iff any value parses, else 3-letter-prefix branch)  [pg.py:157-169]
   - ≥90% numeric-parseable  → noise-strip + double cast + round(2)
     [pg.py:175-184]
   - remaining string cols   → NA tokens to NULL, then trim
     [pg.py:190-197]
   and leaving out all-null columns [pg.py:202-204] — decided from the
   SAME profile (each branch's success count IS its post-coercion
   non-null count), so no second scan.

Both phases are SQL text from the ``casts`` / ``tokens`` builders: the
profile is one ``agg`` and the projection one ``selectExpr``, so the
driver pays one py4j call per expression instead of one per Column
node, and Catalyst fuses the projection into one codegen stage over
the scan. The projection is lazy: each execution of the result re-reads
its input (the batch job materializes every cleaned table once for
that reason). No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kaggle_ecommerce_etl_spark.normalize.columns import normalize_column_names
from kaggle_ecommerce_etl_spark.normalize.casts import (
    date_to_iso,
    normalize_month_expr_datetime,
    normalize_month_expr_prefix,
    tolerant_numeric,
)
from kaggle_ecommerce_etl_spark.normalize.profile import column_profile
from kaggle_ecommerce_etl_spark.normalize.tokens import na_token_to_null
from kaggle_ecommerce_etl_spark.util import qident

NUMERIC_GATE = 0.9  # reference: converted.notna().sum() > 0.9*len(df)


def transform(df: DataFrame, numeric_gate: float = NUMERIC_GATE) -> DataFrame:
    """Rule-driven cleanup of a raw all-string frame (see module doc).

    Emits ONE flat projection (not layered withColumns passes): the
    coercion branches null out NA tokens inherently ('' / 'NA' fail
    every parse), and the keep-branch composes NA-canonicalize + trim
    at the expression level. A flat projection keeps Catalyst analysis
    cost linear in columns — layered projections made plan compilation
    the dominant cost for wide frames.
    """
    df = normalize_column_names(df)

    string_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    prof = column_profile(df, string_cols)
    n_rows = prof["__rows__"]

    select_exprs = []
    for c in df.columns:
        info = prof[c]
        role = info["role"]
        if c not in string_cols:
            expr, nonnull = qident(c), n_rows - (info["nulls"] or 0)
        elif role == "date":
            expr, nonnull = date_to_iso(c), info["date_ok"]
        elif role == "month":
            if info["date_ok"]:
                expr, nonnull = normalize_month_expr_datetime(c), info["date_ok"]
            else:
                expr, nonnull = normalize_month_expr_prefix(c), info["prefix_ok"]
        elif n_rows > 0 and info["numeric_ok"] is not None and (
            info["numeric_ok"] / n_rows > numeric_gate
        ):
            expr, nonnull = tolerant_numeric(c), info["numeric_ok"]
        else:
            expr, nonnull = f"trim({na_token_to_null(c)})", info["keep_ok"]
        if nonnull != 0:  # all-NULL after coercion: drop the column
            select_exprs.append(f"{expr} AS {qident(c)}")
    return df.selectExpr(*select_exprs)
