"""DuckDB oracle checks for the benchmark's outputs.

Comparison follows the engine's oracle rules (tools/check_oracle.py): columns
are matched by name, doubles are compared at 12 significant digits, rows are
compared as sorted multisets, and a column whose declared type class differs
(64-bit integer, HUGEINT, float, other exact types) fails even when the
values print alike. Each check returns (outputs checked, list of failures).
"""
import glob
import json
import math
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cv(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return "0"
        return f"{v:.12g}"
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cv(r[i]) for i in order) for r in rows)


def tclass(t):
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "INT64"
    if t in ("FLOAT", "DOUBLE"):
        return "FLOAT"
    return t


def corpus_con(corpus):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    return con


# A CTE head: `WITH name AS (` or `, name AS (`.
CTE = re.compile(r"(?i)(\bWITH\s+|,\s*)(\w+)\s+AS\s*\(")


def materialized(sql):
    """The same query with every CTE materialized. DuckDB 1.0 inlines CTEs,
    so an iterative oracle (label propagation, PageRank) whose rounds each
    read the previous round twice recomputes the chain exponentially; the
    results are the same either way."""
    return CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def compare(con, name, sql, files):
    """None when the output at `files` equals the oracle `sql`, else why not."""
    if not files:
        return f"{name}: no output"
    sql = materialized(sql)
    o = con.execute(sql)
    ocols = [d[0] for d in o.description]
    orows = o.fetchall()
    s = con.execute(f"SELECT * FROM read_parquet({files!r})")
    scols = [d[0] for d in s.description]
    srows = s.fetchall()
    if sorted(ocols) != sorted(scols):
        return f"{name}: columns oracle={sorted(ocols)} engine={sorted(scols)}"
    otypes = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    stypes = {r[0]: r[1] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall()}
    drift = {c: (otypes[c], stypes[c]) for c in ocols if tclass(otypes[c]) != tclass(stypes[c])}
    if drift:
        return f"{name}: column type drift {drift}"
    if canon(ocols, orows) != canon(scols, srows):
        return f"{name}: rows differ (oracle {len(orows)}, engine {len(srows)})"
    return None


def check_outputs(corpus, out):
    """Every `<out>/<name>/` parquet output against `<out>/oracle_sql.json`."""
    con = corpus_con(corpus)
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    fails = []
    for name, sql in sorted(oracle.items()):
        try:
            why = compare(con, name, sql, sorted(glob.glob(f"{out}/{name}/*.parquet")))
        except Exception as e:  # an oracle error is a failed check, not a crash
            why = f"{name}: {type(e).__name__}: {e}"
        if why:
            fails.append(why)
    return len(oracle), fails


def check_slices(corpus, out, slices):
    """Dashboard slices (filter, tiles, top-N, drill-down) recomputed from
    the oracle's risk table, in the snapshot's order."""
    con = corpus_con(corpus)
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))["page_load_snapshot"]
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = [dict(zip(cols, r)) for r in cur.fetchall()]
    rows.sort(key=lambda r: (-r["risk_score"], r["s_suppkey"]))
    fails, n = [], 0
    with open(slices) as f:
        for line in f:
            if not line.strip():
                continue
            n += 1
            s = json.loads(line)
            filt = [r for r in rows if r["s_nationkey"] == s["nation"]
                    and s["lo"] <= r["n_lines"] <= s["hi"]]
            tiles = None
            if filt:
                k = len(filt)
                tiles = [k, sum(r["risk_score"] for r in filt) / k,
                         sum(r["on_time_rate"] for r in filt) / k * 100,
                         sum(r["return_rate"] for r in filt) / k * 100]
            top = sorted(filt, key=lambda r: (-r["risk_score"], r["s_suppkey"]))[:s["n"]]
            dd = next((r["s_suppkey"] for r in rows if r["s_name"] == s["name"]), None)
            ok = ([r["s_suppkey"] for r in filt] == s["filtered"]
                  and [r["s_suppkey"] for r in top] == s["top"]
                  and dd == s["drilldown"]
                  and (tiles is None) == (s["tiles"] is None)
                  and (tiles is None or [cv(float(x)) for x in tiles]
                       == [cv(float(x)) for x in s["tiles"]]))
            if not ok:
                fails.append(f"slice {s['nation']}/{s['lo']}-{s['hi']}/{s['n']}/{s['name']}")
    return n, fails


# The reference pipeline's KPI and risk SQL (compute_kpis.py, compute_risk.py)
# with the engine's order-independent rate and mean forms.
DAG_SQL = """
WITH kpis AS (
  SELECT s.supplier_id, s.supplier_name, s.category, s.country, s.financial_risk_score,
    CAST(SUM(CASE WHEN d.delivery_date <= po.promised_date THEN 1 ELSE 0 END) AS DOUBLE)
      / COUNT(*) AS on_time_delivery_rate,
    CAST(SUM(date_diff('day', po.promised_date, d.delivery_date)) AS DOUBLE)
      / COUNT(*) AS avg_delivery_delay_days,
    CAST(SUM(d.quantity_delivered) AS DOUBLE)
      / NULLIF(SUM(po.quantity_ordered), 0) AS fill_rate,
    CAST(SUM(d.quality_issues) AS DOUBLE) / COUNT(*) AS quality_issue_rate,
    COUNT(*) AS n_pos
  FROM suppliers s
  JOIN purchase_orders po ON s.supplier_id = po.supplier_id
  JOIN deliveries d ON po.po_id = d.po_id
  GROUP BY s.supplier_id, s.supplier_name, s.category, s.country, s.financial_risk_score
), b AS (
  SELECT min(on_time_delivery_rate) mn_ot, max(on_time_delivery_rate) mx_ot,
    min(avg_delivery_delay_days) mn_dl, max(avg_delivery_delay_days) mx_dl,
    min(fill_rate) mn_fl, max(fill_rate) mx_fl,
    min(quality_issue_rate) mn_ql, max(quality_issue_rate) mx_ql
  FROM kpis
), n AS (
  SELECT kpis.*,
    CASE WHEN mx_ot = mn_ot THEN 1.0
      ELSE (on_time_delivery_rate - mn_ot) / (mx_ot - mn_ot) END AS norm_on_time,
    CASE WHEN mx_dl = mn_dl THEN 1.0
      ELSE 1.0 - (avg_delivery_delay_days - mn_dl) / (mx_dl - mn_dl) END AS norm_delay,
    CASE WHEN mx_fl = mn_fl THEN 1.0
      ELSE (fill_rate - mn_fl) / (mx_fl - mn_fl) END AS norm_fill,
    CASE WHEN mx_ql = mn_ql THEN 1.0
      ELSE 1.0 - (quality_issue_rate - mn_ql) / (mx_ql - mn_ql) END AS norm_quality
  FROM kpis CROSS JOIN b
), p AS (
  SELECT n.*, (norm_on_time + norm_delay + norm_fill + norm_quality) / 4.0 AS performance_score
  FROM n
)
SELECT p.*, 0.7 * (1.0 - performance_score)
  + 0.3 * (CAST(financial_risk_score AS DOUBLE) / 100.0) AS risk_score
FROM p
"""

CSV_COLUMNS = {
    "suppliers": {"supplier_id": "VARCHAR", "supplier_name": "VARCHAR",
                  "category": "VARCHAR", "country": "VARCHAR",
                  "financial_risk_score": "INTEGER"},
    "purchase_orders": {"po_id": "VARCHAR", "supplier_id": "VARCHAR",
                        "order_date": "DATE", "promised_date": "DATE",
                        "quantity_ordered": "INTEGER"},
    "deliveries": {"po_id": "VARCHAR", "delivery_date": "DATE",
                   "quantity_delivered": "INTEGER", "quality_issues": "INTEGER"},
}


def check_dag(dag_dir, n_suppliers, n_pos):
    """The generated CSVs and the published risk table of one DAG against a
    DuckDB twin of the reference SQL over the same CSVs."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t, cols in CSV_COLUMNS.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv("
                    f"'{dag_dir}/csv/{t}/*.csv', header = true, columns = {cols!r})")
    fails = []
    counts = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in CSV_COLUMNS}
    if counts != {"suppliers": n_suppliers, "purchase_orders": n_pos, "deliveries": n_pos}:
        fails.append(f"dag csv row counts {counts}")
    orphans = con.execute(
        "SELECT (SELECT count(*) FROM purchase_orders WHERE po_id NOT IN (SELECT po_id FROM deliveries)),"
        " (SELECT count(*) FROM deliveries WHERE po_id NOT IN (SELECT po_id FROM purchase_orders))"
    ).fetchone()
    if orphans != (0, 0):
        fails.append(f"dag orphans {orphans}")
    risk_dir = os.path.join(dag_dir, "wh", "supplier_risk_summary")
    cur = open(os.path.join(risk_dir, "_CURRENT")).read().strip()
    why = compare(con, "supplier_risk_summary", DAG_SQL,
                  sorted(glob.glob(os.path.join(risk_dir, cur, "*.parquet"))))
    if why:
        fails.append(why)
    return 3, fails
