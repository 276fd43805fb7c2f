"""The three workloads: what one operation is, how a pass runs, and how
outputs are checked.

- ``analytics`` and ``similarity``: one operation is one registry query
  forced through the noop sink. Outputs are checked once per run, in
  the untimed warm-up pass, against the query's DuckDB oracle.
- ``etl``: one operation loads one raw drop: ``pipelines.job.run_batch``
  (sources → normalize/operators → CSV sink) and then
  ``sinks.jdbc.write_upsert_jdbc`` for every returned table into one
  embedded-Derby database per run. Checked by the zero-append rule for
  re-deliveries and by hashing the final warehouse tables against a
  DuckDB recomputation.
"""

from __future__ import annotations

import hashlib
import os
import re
import time

import duckdb

from perfbench import datagen
from perfbench.trace import Tracer, job_counts, patched, planning_ms

ANALYTICS = [
    "pricing_summary", "revenue_by_nation", "topk_per_group",
    "top_unshipped", "running_total",
    "exists_late_orders", "nation_volume_pairs", "rollup_sales",
    "quantile_stats",
    "events_sessionize", "events_sliding", "conflict_split_flagged",
    "lateral_topk_orders", "late_supplier_blame",
]
SIMILARITY = [
    "dedup_exact_docs", "minhash_signatures", "word_jaccard_pairs",
    "word_jaccard_capped", "shingle_jaccard_pairs",
    "jaccard_pairs_prefix", "jaccard_cross_gate", "cosine_topk",
    "ann_lsh_topk",
    "dup_clusters", "semantic_dedup_keep", "lang_id", "quality_score",
]

_FROM_TABLE = re.compile(
    r"\b(?:FROM|JOIN)\s+(" + "|".join(datagen.TABLES) + r")\b", re.I)


def oracle_tables(sql: str) -> list[str]:
    """Generated tables an oracle reads (its FROM/JOIN targets)."""
    return sorted({m.lower() for m in _FROM_TABLE.findall(sql)})


def value_hash(rows: list[tuple]) -> str:
    return hashlib.sha1(repr(rows).encode()).hexdigest()[:16]


def compare(spark_pdf, oracle_pdf, oracle_rows, normalize) -> str | None:
    """None when equal by row count, column names and order-insensitive
    values (normalized as scripts/check_oracle.py does), else why not.
    ``oracle_rows`` is ``normalize(oracle_pdf)``, computed once."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} vs {len(oracle_pdf)}"
    if sorted(map(str.lower, spark_pdf.columns)) != sorted(
            map(str.lower, oracle_pdf.columns)):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    a, b = normalize(spark_pdf), oracle_rows
    if value_hash(a) != value_hash(b):
        bad = sum(1 for x, y in zip(a, b) if x != y)
        return f"values differ in {bad} rows"
    return None


class QueryWorkload:
    """A fixed list of registry queries over the generated star schema."""

    def __init__(self, names: list[str], data_dir: str) -> None:
        from kaggle_ecommerce_etl_spark.queries import REGISTRY

        self.names = names
        self.data_dir = data_dir
        self.oracles = {name: REGISTRY[name][1] for name in names}
        self.expected: dict[str, tuple] = {}

    def tables(self) -> list[str]:
        return sorted({t for sql in self.oracles.values() for t in oracle_tables(sql)})

    def prepare(self, normalize) -> float:
        """Compute every oracle's expected output in DuckDB, before the
        Spark session exists. Returns the seconds it took."""
        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            for t in self.tables():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data_dir}/{t}.parquet'")
            for name, sql in self.oracles.items():
                pdf = con.execute(sql).fetchdf()
                self.expected[name] = (pdf, normalize(pdf))
        finally:
            con.close()
        return time.perf_counter() - t0

    def pass_rows(self) -> int:
        """Input rows one pass reads: per operation, the rows of the
        generated tables its oracle reads."""
        return sum(datagen.TABLE_ROWS[t] for sql in self.oracles.values()
                   for t in oracle_tables(sql))

    def check_pass(self, spark, order, normalize) -> tuple[list, float]:
        """The warm-up pass, which is also the output check: run every
        query once, collect it and compare it with its oracle. Returns
        per-op records and the Spark wall time (collects included,
        comparisons excluded)."""
        from kaggle_ecommerce_etl_spark.functions.similarity import (
            release_corpus_caches,
        )
        from kaggle_ecommerce_etl_spark.queries import REGISTRY

        recs, spark_s = [], 0.0
        for name in order:
            release_corpus_caches()
            t0 = time.perf_counter()
            try:
                pdf = REGISTRY[name][0](spark, self.data_dir).toPandas()
            except Exception as e:  # noqa: BLE001 — counted as failed
                recs.append({"op": name, "ok": False, "why": f"raised: {e!r}"[:300]})
                continue
            finally:
                spark_s += time.perf_counter() - t0
            exp_pdf, exp_rows = self.expected[name]
            why = compare(pdf, exp_pdf, exp_rows, normalize)
            recs.append({"op": name, "ok": why is None, "why": why,
                         "rows": len(pdf), "hash": value_hash(exp_rows)})
        release_corpus_caches()
        return recs, spark_s

    def run_pass(self, spark, order, tracer: Tracer, pass_id: int) -> list[dict]:
        """One timed pass; returns one record per operation."""
        from kaggle_ecommerce_etl_spark.functions.similarity import (
            release_corpus_caches,
        )
        from kaggle_ecommerce_etl_spark.queries import REGISTRY

        sc = spark.sparkContext
        recs = []
        for i, name in enumerate(order):
            op = f"p{pass_id}.{i}.{name}"
            release_corpus_caches()
            rec = {"op": name, "id": op, "ok": True}
            tracer.op = op
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    sc.setJobGroup(op + ":construct", name)
                    with tracer.span("queries.construct"):
                        df = REGISTRY[name][0](spark, self.data_dir)
                    sc.setJobGroup(op + ":action", name)
                    if tracer.enabled:
                        with tracer.span("spark.plan"):
                            rec["plan_s"] = planning_ms(df) / 1e3
                    with tracer.span("spark.action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — counted as failed
                rec.update(ok=False, why=f"raised: {e!r}"[:300])
            rec["s"] = time.perf_counter() - t0
            if tracer.enabled:
                rec["construct"] = job_counts(sc, op + ":construct")
                rec["action"] = job_counts(sc, op + ":action")
            recs.append(rec)
        tracer.op = None
        sc.setJobGroup("bench", "between operations")
        release_corpus_caches()
        return recs


class EtlWorkload:
    """Raw report drops loaded through run_batch and the JDBC upsert."""

    def __init__(self, data_dir: str, drops_dir: str, out_dir: str,
                 db_name: str) -> None:
        self.data_dir = data_dir
        self.drops_dir = drops_dir
        self.out_dir = out_dir
        self.db_name = db_name
        self.plan: dict = {}
        self.loaded_keys: list[int] = []

    def prepare(self, seed: int, passes: int) -> None:
        self.plan = datagen.generate_drops(
            self.data_dir, self.drops_dir, seed, passes)

    @property
    def max_passes(self) -> int:
        return len(self.plan["passes"])

    def url(self) -> str:
        from kaggle_ecommerce_etl_spark.sinks.jdbc import derby_memory_url

        return derby_memory_url(self.db_name)

    def load_drop(self, spark, drop: dict, tracer: Tracer, op: str) -> dict:
        """One operation: run_batch on the drop, then upsert every table."""
        from kaggle_ecommerce_etl_spark.pipelines import job
        from kaggle_ecommerce_etl_spark.sinks.jdbc import (
            DERBY_DRIVER,
            write_upsert_jdbc,
        )

        sc = spark.sparkContext
        out = os.path.join(self.out_dir, os.path.basename(drop["dir"]))
        again = drop["redelivery_of"] is not None
        rec = {"op": "redelivery" if again else "new_drop", "id": op,
               "drop": os.path.basename(drop["dir"]), "ok": True,
               "raw_rows": drop["raw_rows"], "redelivery": again}
        tracer.op = op
        appended: dict[str, object] = {}
        targets = [
            (job, "read_csv_with_encoding_fallback", "sources.read"),
            (job, "clean_amazon_sale", "pipelines.clean"),
            (job, "clean_sale", "pipelines.clean"),
            (job, "clean_international_sale", "pipelines.clean"),
            (job, "write_csv", "sinks.csv_write"),
        ] if tracer.enabled else []
        t0 = time.perf_counter()
        try:
            with tracer.span("op"), patched(tracer, targets):
                sc.setJobGroup(op, rec["drop"])
                errors: dict[str, str] = {}
                with tracer.span("pipelines.run_batch"):
                    tables = job.run_batch(spark, drop["dir"], out, errors=errors)
                if errors or len(tables) != len(datagen.UPSERT_KEYS):
                    raise RuntimeError(f"run_batch: {sorted(tables)} {errors}")
                for table, df in tables.items():
                    with tracer.span("sinks.jdbc_upsert"):
                        appended[table] = write_upsert_jdbc(
                            df, self.url(), table, datagen.UPSERT_KEYS[table],
                            properties={"driver": DERBY_DRIVER})
        except Exception as e:  # noqa: BLE001 — counted as failed
            rec.update(ok=False, why=f"raised: {e!r}"[:300])
        rec["s"] = time.perf_counter() - t0
        tracer.op = None
        sc.setJobGroup("bench", "between operations")
        # outside the timed region: counts for the checks and ratios
        rec["appended"] = {t: df.count() for t, df in appended.items()}
        if tracer.enabled and rec["ok"]:
            rec["offered"] = {t: df.count() for t, df in tables.items()}
            rec["jobs"] = job_counts(sc, op)
            rec["csv_bytes"] = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(out) for f in fs if f.endswith(".csv"))
            rec["raw_bytes"] = datagen.raw_bytes(drop["dir"])
        if rec["ok"] and rec["redelivery"] and any(rec["appended"].values()):
            rec.update(ok=False, why=f"re-delivery appended {rec['appended']}")
        return rec

    def load(self, spark, drops: list[dict], tracer: Tracer,
             pass_no: int) -> list[dict]:
        """Load drops in order into the run's warehouse (pass 0 is the
        warm-up drop)."""
        recs = []
        for i, drop in enumerate(drops):
            rec = self.load_drop(spark, drop, tracer, f"p{pass_no}.{i}")
            if rec["ok"] and not rec["redelivery"]:
                self.loaded_keys.extend(drop["keys"])
            recs.append(rec)
        return recs

    def warm_up(self, spark, tracer: Tracer) -> list[dict]:
        return self.load(spark, [self.plan["warmup"]], tracer, 0)

    def run_pass(self, spark, pass_no: int, tracer: Tracer) -> list[dict]:
        return self.load(spark, self.plan["passes"][pass_no - 1], tracer,
                         pass_no)

    def final_check(self, spark, normalize) -> list[dict]:
        """Hash every warehouse table against DuckDB's recomputation
        from the delivered keys."""
        import pandas as pd

        from kaggle_ecommerce_etl_spark.sinks.jdbc import DERBY_DRIVER

        con = duckdb.connect()
        out = []
        try:
            con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                        f"'{self.data_dir}/orders.parquet'")
            keys = pd.DataFrame({"k": sorted(set(self.loaded_keys))}, dtype="int64")
            con.register("etl_keys", keys)
            for table, sql in datagen.etl_expected_sql(self.plan["salt"]).items():
                exp = con.execute(sql).fetchdf()
                exp_rows = normalize(exp)
                try:
                    got = spark.read.jdbc(
                        self.url(), table, properties={"driver": DERBY_DRIVER})
                    got = got.drop("loaded_at").toPandas()
                except Exception as e:  # noqa: BLE001 — counted as failed
                    out.append({"op": f"warehouse.{table}", "ok": False,
                                "why": f"raised: {e!r}"[:300]})
                    continue
                why = compare(got, exp, exp_rows, normalize)
                out.append({"op": f"warehouse.{table}", "ok": why is None,
                            "why": why, "rows": len(got),
                            "hash": value_hash(exp_rows)})
        finally:
            con.close()
        return out
