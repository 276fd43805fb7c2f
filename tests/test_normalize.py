"""Unit + property tests for the normalization layer (SURVEY.md §5.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.normalize import (
    NA_TOKENS,
    canonicalize_na,
    drop_all_null_columns,
    normalize_column_names,
    normalize_name,
    transform,
)
from kaggle_ecommerce_etl_spark.normalize.casts import (
    date_to_iso,
    normalize_month_expr_datetime,
    normalize_month_expr_prefix,
    tolerant_numeric,
)


def test_normalize_name():
    assert normalize_name("  Ship - Postal  Code ") == "ship_postal_code"
    assert normalize_name("GROSS AMT") == "gross_amt"
    assert normalize_name("design_no.") == "design_no."  # '.' survives


def test_normalize_column_names(spark):
    df = spark.createDataFrame([(1, 2)], ["Order ID", "ship-state"])
    assert normalize_column_names(df).columns == ["order_id", "ship_state"]


def test_na_tokens_all_null(spark):
    """Property: every NA token spelling maps to NULL, others survive."""
    rows = [(t,) for t in NA_TOKENS] + [("keep",), ("NAture",)]
    df = spark.createDataFrame(rows, ["v"])
    out = canonicalize_na(df).collect()
    nulls = [r.v for r in out if r.v is None]
    kept = sorted(r.v for r in out if r.v is not None)
    assert len(nulls) == len(NA_TOKENS)
    assert kept == ["NAture", "keep"]


def test_tolerant_numeric(spark):
    """Every NUMERIC_NOISE character strips, including the ones that
    need escaping inside the SQL literal of translate's char set."""
    df = spark.createDataFrame(
        [("$1,234.567",), ("(12.3)",), (" 42 ",), ("abc",), (None,),
         ("\x0b7.5\f",), ("\t1 000\r\n",), ("\\9",), ("'3'",)],
        ["v"],
    )
    out = [r.n for r in df.selectExpr(f"{tolerant_numeric('v')} AS n").collect()]
    assert out == [1234.57, 12.3, 42.0, None, None, 7.5, 1000.0, None, None]


def test_date_to_iso(spark):
    df = spark.createDataFrame(
        [("04-30-22",), ("2022-04-30",), ("04/30/2022",), ("junk",)], ["v"]
    )
    out = [r.d for r in df.selectExpr(f"{date_to_iso('v')} AS d").collect()]
    assert out == ["2022-04-30", "2022-04-30", "2022-04-30", None]


def test_month_branches(spark):
    df = spark.createDataFrame(
        [("2022-03-15",), ("jan",), ("FEB ",), ("garbage",)], ["v"]
    )
    dt = [r.m for r in df.selectExpr(f"{normalize_month_expr_datetime('v')} AS m").collect()]
    assert dt == ["March", None, None, None]
    pfx = [r.m for r in df.selectExpr(f"{normalize_month_expr_prefix('v')} AS m").collect()]
    # '202' (datetime prefix) and 'gar' are unmapped in the prefix branch
    assert pfx == [None, "January", "February", None]


def test_transform_gates(spark):
    """≥90% numeric → cast; 50% → string; all-null col dropped."""
    rows = []
    for i in range(100):
        rows.append(
            (
                str(i) if i != 0 else "xx",          # 99% numeric
                str(i) if i % 2 == 0 else "yy",      # 50% numeric
                None,                                 # all null
                "2022-01-%02d" % (i % 28 + 1),       # date by name
            )
        )
    df = spark.createDataFrame(
        rows, "`Amount` string, `Mixed Col` string, `Dead` string, `Order Date` string"
    )
    out = transform(df)
    assert "dead" not in out.columns
    schema = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert schema["amount"] == "double"
    assert schema["mixed_col"] == "string"
    assert schema["order_date"] == "string"
    sample = out.filter(F.col("order_date").isNotNull()).first()
    assert sample.order_date.startswith("2022-01-")


def test_drop_all_null_columns(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "a int, b string")
    assert drop_all_null_columns(df).columns == ["a"]


def test_summary_stats_contract(spark, sf_dir):
    """Local correctness anchor for the rows-only `summary_stats`
    registry entry (no SQL oracle can restate summary()'s
    Greenwald-Khanna approximate percentiles): schema is pinned, exact
    stats (count/mean/min/max) match the oracle-checked exact twin,
    and approximate quartiles land within 1% relative tolerance of the
    exact percentiles."""
    from kaggle_ecommerce_etl_spark.normalize.profile import (
        summary_stats,
        summary_stats_exact,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice"]
    wide = summary_stats(li, cols)
    assert wide.columns == ["summary"] + cols
    stats = {r["summary"]: r for r in wide.collect()}
    assert set(stats) == {"count", "mean", "stddev", "min", "25%", "50%", "75%", "max"}

    exact = {
        r["col_name"]: r for r in summary_stats_exact(li, cols).collect()
    }
    for c in cols:
        assert int(stats["count"][c]) == exact[c]["cnt"]
        assert abs(float(stats["mean"][c]) - exact[c]["mean"]) <= 1e-4 * abs(exact[c]["mean"])
        assert float(stats["min"][c]) == exact[c]["min_v"]
        assert float(stats["max"][c]) == exact[c]["max_v"]
        for pct, name in (("25%", "p25"), ("50%", "p50"), ("75%", "p75")):
            approx, ex = float(stats[pct][c]), exact[c][name]
            assert abs(approx - ex) <= max(0.01 * abs(ex), 1e-9), (c, pct, approx, ex)


def test_transform_round_trip_budget(spark, monkeypatch):
    """transform() builds its profile and projection as SQL text, one
    py4j call per expression. On this 20-column all-string frame the
    Column-composition builders made 9,140–9,635 Python→JVM calls per
    transform() and the SQL-text builders make ≈ 350 (PySpark 4.1); the
    bound is a quarter of 9,140, so a return to per-node Column
    building fails here."""
    names = ([f"Amount {i}" for i in range(8)] + [f"Note-{i}" for i in range(6)]
             + [f"Order Date {i}" for i in range(3)] + [f"Month {i}" for i in range(3)])

    def row(j):
        return ([f"${j},{i}00.5" for i in range(8)]
                + [f" n{j} " if j % 3 else "NA" for _ in range(6)]
                + ["04/30/2022"] * 3 + ["2022-03-15" if j % 2 else "mar"] * 3)

    df = spark.createDataFrame(
        [row(j) for j in range(40)], ", ".join(f"`{n}` string" for n in names)
    )
    transform(df)  # warm: first-use JVM lookups are not the builders' cost
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counted(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    out = transform(df)
    monkeypatch.undo()
    assert len(out.columns) == 20
    assert len(calls) <= 9140 // 4, len(calls)
