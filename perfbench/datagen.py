"""Seeded input generator for the benchmark.

Writes TPC-H-shaped `lineitem`, `orders` and `customer` tables and a
`documents` corpus as single parquet files, with the same schemas and
value domains as the repository's test data, so every registry query
and its DuckDB oracle run on them unchanged. The same seed always
gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the big small fast slow data spark query table row column join "
         "group sort merge hash scan filter window batch stream key value "
         "order line customer part agg vector").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
FLAGS = np.array(["A", "N", "R"])
STATUS = np.array(["F", "O"])
ORDER_STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _days(rng, n, span_days):
    return EPOCH_1995 + rng.integers(0, span_days, n).astype("timedelta64[D]")


def lineitem(rng, n_rows):
    n_orders = max(n_rows // 4, 1)
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_rows), 2)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_rows), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(n_rows // 30, 1), n_rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_rows), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_rows), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_rows) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_rows) / 100.0, pa.float64()),
        "l_returnflag": pa.array(FLAGS[rng.integers(0, 3, n_rows)]),
        "l_linestatus": pa.array(STATUS[rng.integers(0, 2, n_rows)]),
        "l_shipdate": pa.array(_days(rng, n_rows, 2500), pa.timestamp("us")),
    }), n_orders


def orders(rng, n_orders, n_customers):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": pa.array(ORDER_STATUS[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_orders), 2)),
        "o_orderdate": pa.array(_days(rng, n_orders, 2400), pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITY[rng.integers(0, 5, n_orders)]),
    })


def customer(rng, n_customers):
    keys = np.arange(n_customers)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_customers), 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_customers)]),
    })


def documents(rng, n_docs, dup_share=0.05):
    """Random-word documents; about `dup_share` of them are an earlier
    document plus the token "dup" (near-duplicates with Jaccard far above
    the 0.8 threshold every dedup query uses)."""
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    ids = np.arange(n_docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, seed, lineitem_rows=0, documents_rows=0):
    """Write the tables a workload needs into `out_dir`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    if lineitem_rows:
        li, n_orders = lineitem(rng, lineitem_rows)
        n_customers = max(n_orders // 10, 1)
        _write(li, os.path.join(out_dir, "lineitem.parquet"))
        _write(orders(rng, n_orders, n_customers), os.path.join(out_dir, "orders.parquet"))
        _write(customer(rng, n_customers), os.path.join(out_dir, "customer.parquet"))
        counts.update(lineitem=lineitem_rows, orders=n_orders, customer=n_customers)
    if documents_rows:
        _write(documents(rng, documents_rows), os.path.join(out_dir, "documents.parquet"))
        counts["documents"] = documents_rows
    return counts


# numeric lineitem columns a generated rule may bound: (low, high) of the
# generator's value domain above
RULE_COLUMNS = {
    "l_quantity": (1.0, 50.0),
    "l_extendedprice": (900.0, 105000.0),
    "l_discount": (0.0, 0.10),
    "l_tax": (0.0, 0.08),
    "l_linenumber": (1.0, 7.0),
    "l_suppkey": (0.0, 99.0),
}


def rule_record(rule, rule_type, column, expectation, action, tag, description):
    """One row of the fixed 17-column rules table."""
    return {
        "product_id": "graft", "table_name": "lineitem", "rule_type": rule_type,
        "rule": rule, "column_name": column, "expectation": expectation,
        "action_if_failed": action, "tag": tag, "description": description,
        "enable_for_source_dq_validation": True,
        "enable_for_target_dq_validation": True, "is_active": True,
        "enable_error_drop_alert": False, "error_drop_threshold": 100,
        "query_dq_delimiter": "@", "enable_querydq_custom_output": False,
        "priority": "medium",
    }


def row_rules(seed, n_rules, drop_share=0.10):
    """`n_rules` generated row rules, each a bound on one column cut near
    an edge of the column's domain (within 1% of it for drop rules, 0.2%
    for ignore rules), so each rule fails only the rows at that edge.
    About `drop_share` of the rules drop; the rest ignore; none fail the
    run."""
    rng = np.random.default_rng([seed, 1])
    names = sorted(RULE_COLUMNS)
    out = []
    for i in range(n_rules):
        col = names[int(rng.integers(0, len(names)))]
        lo, hi = RULE_COLUMNS[col]
        drop = rng.random() < drop_share
        share = rng.uniform(0.0, 0.01 if drop else 0.002)
        if rng.random() < 0.5:
            expectation = f"{col} <= {hi - share * (hi - lo):.4f}"
        else:
            expectation = f"{col} >= {lo + share * (hi - lo):.4f}"
        out.append(rule_record(f"gen_{i:05d}", "row_dq", col, expectation,
                               "drop" if drop else "ignore", "validity",
                               f"generated bound on {col}"))
    return out
