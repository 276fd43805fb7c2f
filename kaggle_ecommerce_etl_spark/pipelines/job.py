"""End-to-end batch job — the reference's ``lambda_handler``
(SURVEY.md §3 EP1; ecommerce_s3_to_pg.py:687-750) as one Spark job.

Flow: discover recent files in the drop directory → classify each by
name (op 36) → run its cleaning pipeline (op 37) → write cleaned CSV
per table (op 3) → idempotently upsert into the warehouse tables
(ops 5, 16, here an in-memory/parquet stand-in for JDBC).

Scale notes:
- per-file routing happens on the LISTING (driver metadata), not the
  data; each route's files are read as one multi-file scan.
- each cleaned table is computed ONCE per run: every route's output
  is materialized with an eager ``localCheckpoint`` inside the route's
  ``try`` (so an execution failure stays isolated to that route; the
  idiom of ``sources.csv_source``, storage reclaimed when the frame is
  garbage-collected), and the CSV sink and the caller's warehouse
  upsert both read the materialized rows instead of re-running the
  chain from the raw CSVs.
  Audit columns (``loaded_at``) therefore carry the same value in the
  CSV and in the warehouse. Amazon's two outputs share one
  materialization. Nothing is collected to the driver except the 1-row
  embedded-header fetch of the international split (documented in
  operators.structural).
- the international report needs file order → read single-partition
  per file (these report files are tens of MB; at scale this is the
  one operator that intentionally does not parallelize per file —
  parallelism comes from processing many files at once).
"""

from __future__ import annotations

import datetime as _dt
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from kaggle_ecommerce_etl_spark.operators.structural import with_file_order
from kaggle_ecommerce_etl_spark.pipelines.amazon import clean_amazon_sale
from kaggle_ecommerce_etl_spark.pipelines.dispatch import classify_file
from kaggle_ecommerce_etl_spark.pipelines.international import clean_international_sale
from kaggle_ecommerce_etl_spark.pipelines.sale import clean_sale
from kaggle_ecommerce_etl_spark.sinks.csv_sink import write_csv
from kaggle_ecommerce_etl_spark.sources.csv_source import (
    read_csv_with_encoding_fallback,
)


def discover_files(raw_dir: str, minutes: int | None = None) -> list[str]:
    """List candidate CSVs; optional recency window (op 4 semantics)."""
    out = []
    cutoff = (
        _dt.datetime.now().timestamp() - minutes * 60 if minutes is not None else None
    )
    for name in sorted(os.listdir(raw_dir)):
        if not name.lower().endswith(".csv"):
            continue
        path = os.path.join(raw_dir, name)
        if cutoff is not None and os.path.getmtime(path) < cutoff:
            continue
        out.append(path)
    return out


def _materialize_split(clean: DataFrame, flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Materialize two outputs of one plan in ONE job: tag and union
    them (Spark reuses their common exchange, so the shared chain runs
    once), checkpoint, and split the tag back out."""
    side = "__flagged"
    both = (
        clean.withColumn(side, F.lit(False))
        .unionByName(flagged.withColumn(side, F.lit(True)))
        .localCheckpoint(eager=True)
    )
    return (
        both.filter(~F.col(side)).drop(side),
        both.filter(F.col(side)).drop(side),
    )


def run_batch(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str | None = None,
    minutes: int | None = None,
    errors: dict[str, str] | None = None,
) -> dict[str, DataFrame]:
    """Process one drop of raw report files; returns the cleaned tables
    (and writes CSV outputs when out_dir is given).

    Output keys mirror the reference's warehouse tables: amazon_sale,
    amazon_sale_version, sale_report, international_sale.

    Error isolation (the reference wraps every step in try/except +
    logging ~30×, e.g. pg.py:139-144, 229-233): one corrupt/malformed
    file must not kill the whole drop. Each route — and within the
    international route, each FILE — is built independently; failures
    are logged and, when the caller passes an ``errors`` dict, recorded
    there (key = route/path, value = message) while healthy routes
    still load.
    """
    routes: dict[str, list[str]] = {}
    for path in discover_files(raw_dir, minutes):
        route = classify_file(os.path.basename(path))
        if route:
            routes.setdefault(route, []).append(path)

    results: dict[str, DataFrame] = {}
    if errors is None:
        errors = {}

    if "amazon" in routes:
        try:
            raw = read_csv_with_encoding_fallback(spark, routes["amazon"])
            clean, flagged = _materialize_split(*clean_amazon_sale(raw))
            results["amazon_sale"] = clean
            results["amazon_sale_version"] = flagged
        except Exception as e:  # noqa: BLE001 — defensive posture (pg.py:229-233)
            logger.exception("amazon route failed: %s", routes["amazon"])
            errors["amazon"] = str(e)
    if "sale" in routes:
        try:
            raw = read_csv_with_encoding_fallback(spark, routes["sale"])
            results["sale_report"] = clean_sale(raw).localCheckpoint(eager=True)
        except Exception as e:  # noqa: BLE001
            logger.exception("sale route failed: %s", routes["sale"])
            errors["sale"] = str(e)
    if "international" in routes:
        # one file at a time: the row-group split is order-dependent,
        # AND per-file isolation means one malformed report only loses
        # that file, not the route
        parts = []
        for path in routes["international"]:
            try:
                raw = read_csv_with_encoding_fallback(spark, path)
                part = clean_international_sale(with_file_order(raw))
                parts.append(part.localCheckpoint(eager=True))
            except Exception as e:  # noqa: BLE001
                logger.exception("international file failed: %s", path)
                errors[path] = str(e)
        if parts:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            results["international_sale"] = df

    if out_dir:
        seen_ids: set[int] = set()  # op 17: skip aliased outputs (pg.py:646-657)
        for table, df in list(results.items()):
            if id(df) in seen_ids:
                continue
            seen_ids.add(id(df))
            try:
                write_csv(df, os.path.join(out_dir, table), single_file=True)
            except Exception as e:  # noqa: BLE001
                logger.exception("writing %s failed", table)
                errors[f"write:{table}"] = str(e)

    return results
