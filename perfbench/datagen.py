"""Input generation for the benchmark.

Two kinds of input:

- the star schema the registry queries read (``region nation customer
  supplier part orders lineitem events documents embeddings``), one
  parquet file per table, with the column names, types and value
  distributions of the repository's TPC-H-ish test tables (TESTDATA.md)
  at sf0.01, and for ``etl`` an ``orders`` table in the sf0.1 shape.
  The tables are the same on every run (:data:`TABLE_SEED`): the
  benchmark reads and writes only inside its checkout, so it makes
  them rather than reading the test data, and a fixed table set keeps
  data differences out of the spread between seeds;
- the ETL drops: directories of the three raw report CSVs
  (Amazon Sale, Sale, International Sale), cut from the ``orders``
  keys and carrying the noise classes the pipelines clean. The run's
  ``--seed`` sets each drop's key slice, the noise salt and which
  earlier drop a re-delivery repeats.

The engine receives only the files written here. The noise rules are
functions of the order key ``k`` and the salt, so
:func:`etl_expected_sql` can recompute every cleaned warehouse table in
DuckDB from ``orders`` and the list of delivered keys.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at the benchmark's scale (the sf0.01 shape)
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = list(TABLE_ROWS)
#: ``orders`` rows for ``etl`` (the sf0.1 shape), enough keys for the
#: warm-up drop and every timed drop of a run
ETL_ORDERS_ROWS = 150_000
#: every run builds the same tables; only the drops follow ``--seed``
TABLE_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "shiny", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "rod", "plate", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_EMB_DIM = 64
_DUP_DOC_SHARE = 0.05


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _acctbal(rng, m):
    return np.round(rng.uniform(-999.99, 9999.99, m), 2)


def _region(rng, n):
    return {"r_regionkey": pa.array(range(n), pa.int32()), "r_name": _REGIONS}


def _nation(rng, n):
    return {
        "n_nationkey": pa.array(range(n), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n)],
        "n_regionkey": pa.array([i % 5 for i in range(n)], pa.int32()),
    }


def _customer(rng, n):
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _acctbal(rng, n),
        "c_mktsegment": rng.choice(_SEGMENTS, n),
    }


def _supplier(rng, n):
    return {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _acctbal(rng, n),
    }


def _part(rng, n):
    adj, noun = rng.choice(_PART_ADJ, n), rng.choice(_PART_NOUN, n)
    return {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(_PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    }


def _orders(rng, n):
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, TABLE_ROWS["customer"], n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n),
    }


def _lineitem(rng, n):
    return {
        "l_orderkey": rng.integers(0, TABLE_ROWS["orders"], n),
        "l_partkey": rng.integers(0, TABLE_ROWS["part"], n),
        "l_suppkey": rng.integers(0, TABLE_ROWS["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    }


def _events(rng, n):
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n // 66, n),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
    }


def _documents(rng, n):
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < _DUP_DOC_SHARE:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n):
    vecs = rng.standard_normal((n, _EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def generate_tables(out_dir: str, tables=TABLES, rows=None) -> None:
    """Write ``tables`` under ``out_dir``, one parquet file each, with
    ``rows`` overriding :data:`TABLE_ROWS` per table. Every table draws
    from its own stream, so a subset equals the full set's files."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([TABLE_SEED, 1, TABLES.index(name)])
        n = (rows or {}).get(name, TABLE_ROWS[name])
        cols = _BUILDERS[name](rng, n)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# ETL drops
# --------------------------------------------------------------------------

#: order keys per timed new drop; each key yields one row in each of
#: the three reports, plus the duplicate and conflict rows the noise
#: rules add (≈ 6,500 raw rows, ≈ 0.5 MB)
DROP_KEYS = 2_000
#: order keys of the warm-up drop, which only has to run every code
#: path once
WARMUP_KEYS = 1_000
#: a pass is this many new drops plus one re-delivery (a fixed share)
NEW_PER_PASS = 1

_STATES = ["Maharashtra", "Karnataka", "DELHI", "Tamil Nadu", "Gujarat",
           "West Bengal"]
_STATUS = ["Shipped", "Cancelled", "SHIPPED", "Pending", "Delivered to buyer"]
_COURIER = ["On the Way", "Shipped", None, "Delivered"]
_NA_SPELLINGS = ["NA", "n/a", "null", "N/A", "NULL", "na"]
_MONTHS = ["jan", "FEB", "Mar", "apr", "MAY", "jun",
           "JUL", "aug", "sep", "OCT", "nov", "DEC"]
_SIZES = ["s", "M", "l", "XL", "xxl"]
_STOCK = ["In Stock", "Low", "Out of stock"]

AMAZON_HEADER = [
    "index", "Order ID", "Date", "Status", "Fulfilment", "Courier Status",
    "Qty", "Amount", "ship-city", "ship-state", "B2B", "SKU", "currency",
    "Unnamed: 22",
]
SALE_HEADER = ["index", "SKU Code", "Design No.", "Category", "Stock Qty",
               "Ship Date", "Ghost Col"]
INTL_HEADER = ["index", "CUSTOMER", "DATE", "Months", "Style", "SKU", "PCS",
               "RATE", "GROSS AMT", "Size", "Stock"]
_INTL_EMBEDDED = ["idx", "customer", "date", "months", "style", "sku", "pcs",
                  "rate", "gross amt", "size", "stock"]


def _money(k: int, bump: int = 0) -> str:
    v4 = str(1000 + (k + bump) % 9000)
    return f"${v4[0]},{v4[1:]}.{k % 100:02d}"


def _amazon_rows(keys, dates, salt):
    def row(k, d, u, index, mostly, amount):
        def n(v):
            return None if mostly else v

        courier = _COURIER[k % 4] or _NA_SPELLINGS[u % len(_NA_SPELLINGS)]
        return [
            index, f"ORD-{k}", n(d), n(_STATUS[k % 5]),
            "Amazon" if k % 2 == 0 else "Merchant", n(courier),
            str(1 + k % 7), n(amount), n(f"City {k % 50}"), n(_STATES[k % 6]),
            n("True" if k % 2 == 0 else "False"), f"SKU{k % 200}", "INR", None,
        ]

    rows = []
    for k, d in zip(keys, dates):
        u = k + salt
        # 7 of 11 data cells empty when mostly-null: the row is dropped
        base = row(k, d, u, str(k), u % 19 == 7,
                   None if u % 17 == 5 else _money(k))
        rows.append(base)
        if u % 23 == 1:  # duplicate row (differs only in the dropped index)
            rows.append(["d" + base[0]] + base[1:])
        if u % 47 == 3:  # conflicting second version of the same order
            rows.append(row(k, d, u, f"c{k}", False, _money(k, bump=1)))
    return rows


def _sale_rows(keys, dates, salt):
    rows = []
    for k, d in zip(keys, dates):
        u = k + salt
        mostly = u % 31 == 5  # 4 of 6 data cells empty

        def n(v):
            return None if mostly else v

        cat = (_NA_SPELLINGS[u % len(_NA_SPELLINGS)] if u % 29 < 3
               else _PRIORITIES[k % 5])
        row = [str(k), f"SK-{k}", f"D{k % 97}", n(cat),
               n(f"{k % 500}.{k % 100:02d}"), n(d), n("NA")]
        rows.append(row)
        if u % 7 == 0:
            rows.append(["d" + row[0]] + row[1:])
    return rows


def _intl_rows(keys, dates, salt):
    part1, part2 = [], []
    for k, d in zip(keys, dates):
        u = k + salt
        is_part2 = u % 10 == 0
        months = (_NA_SPELLINGS[u % len(_NA_SPELLINGS)] if u % 13 == 1
                  else _MONTHS[k % 12])
        row = [str(k), f"Cust-{k}", d, months, f"St-{k % 40}", f"intl-{k}",
               str(1 + k % 9), f"R-{k % 20}", _money(k), _SIZES[k % 5],
               None if is_part2 else _STOCK[k % 3]]
        out = part2 if is_part2 else part1
        out.append(row)
        if u % 20 == 15:  # exact duplicate, index included
            out.append(list(row))
    return part1 + [_INTL_EMBEDDED] + part2


def _write_csv(path: str, header: list[str], rows: list[list]) -> int:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
    return len(rows)


def _write_drop(d: str, keys: list, dates: list, salt: int) -> int:
    os.makedirs(d)
    stamp = "2024-01-02_03-04-05"
    n_rows = _write_csv(os.path.join(d, f"Amazon Sale Report_{stamp}.csv"),
                        AMAZON_HEADER, _amazon_rows(keys, dates, salt))
    n_rows += _write_csv(os.path.join(d, f"Sale Report_{stamp}.csv"),
                         SALE_HEADER, _sale_rows(keys, dates, salt))
    n_rows += _write_csv(
        os.path.join(d, f"International Sale Report_{stamp}.csv"),
        INTL_HEADER, _intl_rows(keys, dates, salt))
    return n_rows


def generate_drops(
    tables_dir: str, out_dir: str, seed: int, passes: int
) -> dict:
    """Write one warm-up drop and ``passes`` passes of raw drops under
    ``out_dir``.

    The warm-up drop has ``WARMUP_KEYS`` keys. A pass is
    ``NEW_PER_PASS`` new drops of ``DROP_KEYS`` keys followed by one
    byte-identical re-delivery of an earlier timed new drop (the
    duplicate-Lambda case), so every timed drop has the same size. The
    seed picks each new drop's key slice (disjoint across the run, so
    the warehouse grows), the noise salt, and which earlier drop the
    re-delivery repeats; its place in the pass is fixed, so the order
    of work does not vary with the seed. Returns the plan: the warm-up
    drop and, per pass, its drops with their directory, key slice and
    raw row count.
    """
    rng = np.random.default_rng([seed, 2])
    orders = pq.read_table(
        os.path.join(tables_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderdate"],
    ).to_pandas()
    need = WARMUP_KEYS + passes * NEW_PER_PASS * DROP_KEYS
    if need > len(orders):
        raise ValueError(f"{passes} passes need {need} order keys")
    perm = rng.permutation(len(orders))[:need]
    salt = int(rng.integers(0, 9973))
    date_str = orders["o_orderdate"].dt.strftime("%m/%d/%Y").to_numpy()
    keys_all = orders["o_orderkey"].to_numpy()
    taken = 0
    timed: list[dict] = []

    def new_drop(n_keys: int, name: str) -> dict:
        nonlocal taken
        idx = np.sort(perm[taken:taken + n_keys])
        taken += n_keys
        keys, dates = keys_all[idx].tolist(), date_str[idx].tolist()
        d = os.path.join(out_dir, name)
        return {"dir": d, "keys": keys, "raw_rows": _write_drop(d, keys, dates, salt),
                "redelivery_of": None}

    plan: dict = {"salt": salt, "warmup": new_drop(WARMUP_KEYS, "drop000"),
                  "passes": []}
    for p in range(passes):
        seq = [new_drop(DROP_KEYS, f"drop{len(timed) + i + 1:03d}")
               for i in range(NEW_PER_PASS)]
        timed += seq
        src = timed[int(rng.integers(0, len(timed)))]
        again = f"{src['dir']}_again{p + 1}"
        shutil.copytree(src["dir"], again)
        seq.append({"dir": again, "keys": src["keys"],
                    "raw_rows": src["raw_rows"], "redelivery_of": src["dir"]})
        plan["passes"].append(seq)
    return plan


def raw_bytes(drop_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(drop_dir, f)) for f in os.listdir(drop_dir)
    )


#: warehouse table → upsert key (the columns that identify one row)
UPSERT_KEYS = {
    "amazon_sale": ["order_id", "date"],
    "amazon_sale_version": ["order_id", "date", "amount"],
    "sale_report": ["sku_code"],
    "international_sale": ["sku", "data_source"],
}

_MONTH_FULL = ["January", "February", "March", "April", "May", "June", "July",
               "August", "September", "October", "November", "December"]


def etl_expected_sql(salt: int) -> dict[str, str]:
    """DuckDB SQL for each warehouse table after every drop has loaded.

    Reads ``orders`` and ``etl_keys(k)`` (the keys of every new drop;
    re-deliveries add none). Mirrors the row rules above, the same way
    the ``queries_pipeline`` oracles mirror their fixtures."""
    s = int(salt)
    month_case = " ".join(
        f"WHEN {i} THEN '{m}'" for i, m in enumerate(_MONTH_FULL)
    )
    states = " ".join(
        f"WHEN {i} THEN '{v.lower()}'" for i, v in enumerate(_STATES)
    )
    status = " ".join(
        f"WHEN {i} THEN '{v.lower()}'" for i, v in enumerate(_STATUS)
    )
    prio = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(_PRIORITIES))
    sizes = " ".join(
        f"WHEN {i} THEN '{v.upper()}'" for i, v in enumerate(_SIZES)
    )
    stock = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(_STOCK))

    def money(bump: str) -> str:
        return (f"round(CAST(CAST(1000 + (k + {bump}) % 9000 AS VARCHAR) || '.' "
                f"|| lpad(CAST(k % 100 AS VARCHAR), 2, '0') AS DOUBLE), 2)")

    amazon = f"""
WITH src AS (
  SELECT o_orderkey AS k, o_orderdate AS d FROM orders
  JOIN etl_keys ON o_orderkey = etl_keys.k
),
rows_ AS (
  SELECT k, d, 0 AS bump FROM src
  WHERE (k + {s}) % 19 <> 7 AND (k + {s}) % 17 <> 5
  UNION ALL
  SELECT k, d, 1 AS bump FROM src WHERE (k + {s}) % 47 = 3
),
crit AS (
  SELECT 'ORD-' || CAST(k AS VARCHAR) AS order_id,
         strftime(d, '%Y-%m-%d') AS date,
         CASE CAST(k % 5 AS INT) {status} END AS status,
         CASE WHEN k % 2 = 0 THEN 'amazon' ELSE 'merchant' END AS fulfillment,
         CASE CAST(k % 4 AS INT) WHEN 0 THEN 'on the way' WHEN 1 THEN 'shipped'
              WHEN 2 THEN NULL ELSE 'delivered' END AS courier_status,
         round(CAST(CAST(1 + k % 7 AS VARCHAR) AS DOUBLE), 2) AS quantity,
         {money('bump')} AS amount,
         'city ' || CAST(k % 50 AS VARCHAR) AS ship_city,
         CASE CAST(k % 6 AS INT) {states} END AS ship_state,
         CASE WHEN k % 2 = 0 THEN 'true' ELSE 'false' END AS b2b,
         'SKU' || CAST(k % 200 AS VARCHAR) AS sku
  FROM rows_
),
counted AS (SELECT *, count(*) OVER (PARTITION BY order_id) AS c FROM crit)
SELECT order_id, date, status, fulfillment, courier_status, quantity, amount,
       ship_city, ship_state, b2b, sku
FROM counted WHERE c {{op}} 1
"""
    sale = f"""
WITH src AS (
  SELECT o_orderkey AS k, o_orderdate AS d FROM orders
  JOIN etl_keys ON o_orderkey = etl_keys.k WHERE (o_orderkey + {s}) % 31 <> 5
)
SELECT 'SK-' || CAST(k AS VARCHAR) AS sku_code,
       'D' || CAST(k % 97 AS VARCHAR) AS design_no,
       CASE WHEN (k + {s}) % 29 < 3 THEN NULL
            ELSE CASE CAST(k % 5 AS INT) {prio} END END AS category,
       round(CAST(CAST(k % 500 AS VARCHAR) || '.' ||
                  lpad(CAST(k % 100 AS VARCHAR), 2, '0') AS DOUBLE), 2)
         AS stock_qty,
       strftime(d, '%Y-%m-%d') AS ship_date
FROM src
"""
    intl = f"""
WITH vals AS (
  SELECT o_orderkey AS k,
         'CUST-' || CAST(o_orderkey AS VARCHAR) AS customer,
         strftime(o_orderdate, '%Y-%m-%d') AS date,
         CASE WHEN (o_orderkey + {s}) % 13 = 1 THEN NULL
              ELSE CASE CAST(o_orderkey % 12 AS INT) {month_case} END
         END AS months,
         'ST-' || CAST(o_orderkey % 40 AS VARCHAR) AS style,
         'INTL-' || CAST(o_orderkey AS VARCHAR) AS sku,
         round(CAST(CAST(1 + o_orderkey % 9 AS VARCHAR) AS DOUBLE), 2) AS pcs,
         'R-' || CAST(o_orderkey % 20 AS VARCHAR) AS rate,
         round(CAST(CAST(1000 + o_orderkey % 9000 AS VARCHAR) || '.' ||
                    lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') AS DOUBLE),
               2) AS gross_amount,
         CASE CAST(o_orderkey % 5 AS INT) {sizes} END AS size
  FROM orders JOIN etl_keys ON o_orderkey = etl_keys.k
)
SELECT customer, date, months, style, sku, pcs, rate, gross_amount, size,
       CASE CAST(k % 3 AS INT) {stock} END AS stock, 'part1' AS data_source
FROM vals WHERE (k + {s}) % 10 <> 0
UNION ALL
SELECT customer, date, months, style, sku, pcs, rate, gross_amount, size,
       CAST(NULL AS VARCHAR) AS stock, 'part2' AS data_source
FROM vals WHERE (k + {s}) % 10 = 0
"""
    return {
        "amazon_sale": amazon.replace("{op}", "="),
        "amazon_sale_version": amazon.replace("{op}", ">"),
        "sale_report": sale,
        "international_sale": intl,
    }
