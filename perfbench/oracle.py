"""Expected outputs, computed once per run with DuckDB, before any op.

DQ workloads: every rule's outcome is evaluated in DuckDB straight from
the rules table (row rules as per-row booleans, agg and query rules as
one scalar each), which gives the input/error/output counts, each row
rule's failed-row count and each agg/query rule's status before and
after the drop filter. For `dq_gate` the counts are also checked against
the registry's own `dq_stats` oracle. Curation queries: the registry's
oracle SQL, in the canonical row form the harness compares against.
"""
import duckdb


def connect(data_dir, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _holds(expr):
    # a NULL outcome counts as a failure, as in the engine
    return f"coalesce(({expr}), false)"


def dq_expectations(data_dir, rules, registry_oracle=None):
    con = connect(data_dir, ("lineitem", "orders", "customer"))
    for t in ("lineitem", "orders", "customer"):
        con.execute(f"CREATE VIEW {t}_src AS SELECT * FROM {t}")
    active = [r for r in rules if r["is_active"]]
    row = [r for r in active if r["rule_type"] == "row_dq"]
    agg = [r for r in active if r["rule_type"] == "agg_dq"]
    query = [r for r in active if r["rule_type"] == "query_dq"]

    flags = ", ".join(f"{_holds(r['expectation'])} AS p{i}" for i, r in enumerate(row))
    con.execute(f"CREATE TEMP TABLE m AS SELECT * {', ' + flags if flags else ''} FROM lineitem")
    all_pass = " AND ".join(f"p{i}" for i in range(len(row))) or "true"
    kept = " AND ".join(f"p{i}" for i, r in enumerate(row)
                        if r["action_if_failed"] == "drop") or "true"
    sel = ["count(*)", f"count(*) FILTER (WHERE NOT ({all_pass}))",
           f"count(*) FILTER (WHERE NOT ({kept}))"]
    sel += [f"count(*) FILTER (WHERE NOT p{i})" for i in range(len(row))]
    got = con.execute(f"SELECT {', '.join(sel)} FROM m").fetchone()
    n, err, dropped = got[0], got[1], got[2]

    def statuses(rs, source):
        if not rs:
            return {}
        vals = con.execute("SELECT " + ", ".join(_holds(r["expectation"]) for r in rs) +
                           f" FROM {source}").fetchone()
        return {r["rule"]: "pass" if v else "fail" for r, v in zip(rs, vals)}

    con.execute(f"CREATE TEMP VIEW kept AS SELECT * FROM m WHERE {kept}")
    exp = {
        "counts": {"input": n, "error": err, "output": n - dropped},
        "per_rule": {r["rule"]: c for r, c in zip(row, got[3:])},
        "source_agg": statuses(agg, "lineitem"),
        "target_agg": statuses(agg, "kept"),
        "query": statuses(query, "(SELECT 1)"),
        "rules": rules,
    }
    if registry_oracle is not None:
        want = con.execute(registry_oracle).fetchone()
        mine = (n, err, n - dropped)
        if tuple(want) != mine:
            raise RuntimeError(f"dq_stats oracle {tuple(want)} disagrees with {mine}")
    con.close()
    return exp


def canonical_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "%.6e" % v
    return str(v)


def canonical_rows(con, sql):
    """Rows as the harness renders them: columns sorted by name,
    `name=value` joined by `|`, doubles in %.6e, rows sorted."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted("|".join(f"{names[i]}={canonical_value(r[i])}" for i in order)
                  for r in cur.fetchall())


def curation_expectations(data_dir, oracles, queries):
    con = connect(data_dir, ("documents",))
    out = [{"name": q, "rows": canonical_rows(con, oracles[q])} for q in queries]
    con.close()
    return out
