"""Independent DuckDB results for every workload, and the checks that
compare a pass's outputs with them.

Comparison follows the repo's correctness gate: columns sorted by name,
values put in one canonical text form, rows compared without regard to
order (as a sorted list, or as a sum of row hashes for large tables).
Doubles compare at 9 significant digits. Report averages are rounded to
2 decimals by both engines, so they compare within one cent.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pandas as pd

import gen

NULL = "\\N"


def canon(v):
    """One canonical text form for a value read from either engine."""
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_float(v)
    s = str(v)
    if s == "":
        return NULL
    try:
        return str(int(s))
    except ValueError:
        pass
    try:
        return canon_float(float(s))
    except ValueError:
        return s


def canon_float(f):
    if math.isnan(f):
        return "NaN"
    if f.is_integer() and abs(f) < 1e15:
        return str(int(f))
    return format(f, ".9g")


def digest(columns, rows):
    """Columns sorted by name; rows canonical, sorted and hashed."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    body = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(body).encode()).hexdigest()
    return {"columns": cols, "rows": len(body), "sha256": h}


def connect():
    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    return con


def relation(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def sql_digest(con, sql, types):
    """Order-free digest of a large relation computed inside DuckDB:
    row count and the sum of hashes of canonical row strings. `types`
    maps every column to its DuckDB type; the relation's columns are
    cast to them first, so both sides of a comparison agree."""
    parts = []
    for c in sorted(types):
        t = types[c]
        q = f'CAST("{c}" AS {t})'
        if t == "DOUBLE":
            parts.append(f"coalesce(format('{{:.9g}}', {q}), '{NULL}')")
        else:
            parts.append(f"coalesce(CAST({q} AS VARCHAR), '{NULL}')")
    row = "concat_ws(chr(31), " + ", ".join(parts) + ")"
    n, h = con.execute(
        f"SELECT count(*), CAST(sum(hash({row})) AS VARCHAR) FROM ({sql})").fetchone()
    return {"columns": sorted(types), "rows": n, "hash": h}


def _sql_types(con, sql):
    cur = con.execute(f"DESCRIBE {sql}")
    return {r[0]: r[1] for r in cur.fetchall()}


# ---------------------------------------------------------------- tlq_sales

RECODE = """CASE order_priority
  WHEN '1-URGENT' THEN 'Critical' WHEN '2-HIGH' THEN 'High'
  WHEN '3-MEDIUM' THEN 'Medium' WHEN '5-LOW' THEN 'Low'
  ELSE 'NULL' END"""


def _duck_columns(cols):
    return "{" + ", ".join(f"'{c}': '{t}'" for c, t in cols) + "}"


def transformed_sql(inputs):
    """Transform as SQL: first row per order_id under the total order
    (line_number, ship_date, revenue_c, cost_c, units_c, then the rest
    in file-column order, nulls first), priority recode, derived
    margin and processing time."""
    src = os.path.join(inputs, "sales.csv")
    return f"""
      WITH src AS (SELECT * FROM read_csv('{src}', header = true,
          columns = {_duck_columns(gen.SALES_COLUMNS)})),
      d AS (SELECT *, row_number() OVER (PARTITION BY order_id ORDER BY
          line_number NULLS FIRST, ship_date NULLS FIRST,
          revenue_c NULLS FIRST, cost_c NULLS FIRST, units_c NULLS FIRST,
          region NULLS FIRST, country NULLS FIRST,
          order_priority NULLS FIRST, order_date NULLS FIRST) AS rn FROM src)
      SELECT order_id, line_number, region, country,
        {RECODE} AS order_priority, order_date, ship_date,
        revenue_c, cost_c, units_c,
        (revenue_c - cost_c) / revenue_c AS gross_margin,
        datediff('day', order_date, ship_date) AS processing_days,
        COALESCE(CAST(datediff('day', order_date, ship_date) AS VARCHAR),
                 'INVALID DATE') AS processing_time
      FROM d WHERE rn = 1"""


def tlq_oracle(inputs):
    """The transformed table's digest and every query's result over it."""
    con = connect()
    con.execute(f"CREATE TABLE SalesData AS {transformed_sql(inputs)}")
    types = _sql_types(con, "SELECT * FROM SalesData")
    with open(os.path.join(inputs, "queries.json")) as f:
        queries = json.load(f)
    out = {
        "types": types,
        "transformed": sql_digest(con, "SELECT * FROM SalesData", types),
        "queries": {q["id"]: digest(*relation(con, q["sql"])) for q in queries},
    }
    con.close()
    return out


def check_tlq(expected, pass_dir, rows):
    """Problems with one pass: T's CSV, L's parquet and every query."""
    problems = []
    types = expected["types"]
    con = connect()
    cols = ", ".join(f"'{c}': '{t}'" for c, t in types.items())
    t_files = sorted(glob.glob(os.path.join(pass_dir, "t", "part-*")))
    l_files = sorted(glob.glob(os.path.join(pass_dir, "l", "part-*.parquet")))
    for name, src in (
            ("transform_csv", f"SELECT * FROM read_csv({t_files!r}, header = true, "
                              f"columns = {{{cols}}})" if t_files else None),
            ("load_parquet", f"SELECT * FROM read_parquet({l_files!r})"
                             if l_files else None)):
        if src is None:
            problems.append(f"{name}: no output files")
            continue
        got = sql_digest(con, src, types)
        if got != expected["transformed"]:
            problems.append(f"{name}: {got} != {expected['transformed']}")
    con.close()
    bad_queries = 0
    for r in rows:
        want = expected["queries"].get(r["id"])
        got = digest(r["columns"], r["rows"]) if r["error"] is None else None
        if got is None or got != want:
            bad_queries += 1
            problems.append(f"query {r['id']}: {r['error'] or got} != {want}")
    return problems, bad_queries


# -------------------------------------------------------------- faas_report

SENTINEL = -999999999999
FAAS_SPEC = {
    "groups": ["functionName", "memory"],
    "sum": {"runtime_ms"},
    "list": {"cpuType"},
    "ignore_all": {"uuid", "platform"},
    "ignore_groups": {"run_id", "pipeline_id", "startTime", "endTime"},
}


def faas_oracle(inputs, keep_rows=False):
    """The report's sections, recomputed from the JSON records:
    chain latency per pipeline stage, iteration ids, sentinel fill,
    warm-up and error purge, first run per container, tenancy, group
    sections, interval overlap and pipeline running totals."""
    schema = gen.faas_schema()
    con = connect()
    src = os.path.join(inputs, "runs", "*.json")
    numeric = [c for c, t in schema.items()
               if t in ("BIGINT", "DOUBLE") and c != "iteration"]
    fills = ", ".join(f"COALESCE({c}, {SENTINEL}) AS {c}" for c in numeric)
    con.execute(f"""CREATE TABLE purged AS
      WITH runs AS (SELECT * FROM read_json('{src}',
          format = 'newline_delimited', columns = {_duck_columns(schema.items())})),
      staged AS (SELECT * REPLACE ({fills}, CAST(iteration AS INTEGER) AS iteration),
          'perfbench' AS experiment,
          CAST(sum(runtime_ms) OVER (PARTITION BY pipeline_id ORDER BY pipeline_stage
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS chain_ms,
          containerID || '[' || CAST(iteration AS VARCHAR) || ']' AS containerID_iter
        FROM runs),
      valid AS (SELECT * FROM staged
        WHERE iteration >= 1 AND status IS DISTINCT FROM 'error'),
      firsts AS (SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (
          PARTITION BY containerID ORDER BY run_id) AS rn FROM valid) WHERE rn = 1),
      ten AS (SELECT containerID, count(*) AS tenants,
          min(CAST(cpuType AS VARCHAR)) AS attr FROM firsts GROUP BY containerID)
      SELECT f.* EXCLUDE (uuid, platform), ten.tenants,
        ten.attr || ' - ' || CAST(ten.tenants AS VARCHAR) AS ztenancy_containerID
      FROM firsts f JOIN ten USING (containerID)""")
    types = _sql_types(con, "SELECT * FROM purged")
    raw = relation(con, f"""
      WITH iv AS (SELECT run_id AS id, functionName AS k, startTime * 1000 AS s,
          startTime * 1000 + CAST(round(runtime_s * 1000000, 0) AS BIGINT) AS e
        FROM purged),
      pairs AS (SELECT a.id, least(a.e, b.e) - greatest(a.s, b.s) AS ov
        FROM iv a JOIN iv b
        ON a.k = b.k AND a.id <> b.id AND a.s < b.e AND b.s < a.e),
      ov AS (SELECT i.id, CAST(COALESCE(sum(p.ov), 0) AS BIGINT) AS ov_us,
          CASE WHEN i.e = i.s THEN 0.0
            ELSE COALESCE(sum(p.ov), 0) / (i.e - i.s) END AS overlap_ratio
        FROM iv i LEFT JOIN pairs p ON i.id = p.id GROUP BY i.id, i.e, i.s)
      SELECT p.*, ov.ov_us, ov.overlap_ratio,
        sum(round(p.runtime_s, 2)) OVER (PARTITION BY p.pipeline_id
          ORDER BY p.pipeline_stage
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runtime_sPipeline
      FROM purged p JOIN ov ON p.run_id = ov.id""")
    out = {"raw": digest(*raw)}
    if keep_rows:
        out["raw_rows"] = raw
    out["successful_runs"] = con.execute("SELECT count(*) FROM purged").fetchone()[0]
    out["groups"] = {}
    for cat in FAAS_SPEC["groups"]:
        excluded = FAAS_SPEC["ignore_all"] | FAAS_SPEC["ignore_groups"] | {cat}
        nums = {c for c, t in types.items()
                if t in ("BIGINT", "DOUBLE", "INTEGER")} - excluded
        aggs = []
        for c in sorted((nums - FAAS_SPEC["sum"] - FAAS_SPEC["list"])
                        | ((FAAS_SPEC["sum"] | FAAS_SPEC["list"]) - excluded)):
            if c in FAAS_SPEC["sum"]:
                aggs.append(f'sum("{c}") AS "sum_{c}"')
            elif c in FAAS_SPEC["list"]:
                aggs.append(f"""array_to_string(list_sort(list_distinct(list(
                    replace(CAST("{c}" AS VARCHAR), ',', ';')))), ';') AS "{c}_list\"""")
            else:
                # round half away from zero on the double's decimal value,
                # as Spark's round does
                aggs.append(f'CAST(round(CAST(avg("{c}") AS DECIMAL(38, 10)), 2) '
                            f'AS DOUBLE) AS "avg_{c}"')
        cols, rows = relation(con, f'SELECT "{cat}", count(*) AS uses, '
                                   f'{", ".join(aggs)} FROM purged GROUP BY "{cat}"')
        out["groups"][cat] = {"columns": cols, "rows": [list(r) for r in rows]}
    con.close()
    return out


def parse_report(path):
    """Sections of a report written by ReportWriter.writeReport."""
    with open(path) as f:
        lines = f.read().split("\n")
    i = 0

    def section(stop):
        nonlocal i
        header = lines[i].split(",")
        i += 1
        rows = []
        while i < len(lines) and not stop(lines[i]):
            rows.append(lines[i].split(","))
            i += 1
        return header, rows

    out = {"groups": {}}
    while i < len(lines):
        ln = lines[i]
        i += 1
        if ln == "Raw results of each run:":
            out["raw"] = section(lambda s: s.startswith("Successful Runs: "))
            out["successful_runs"] = int(lines[i].split(": ")[1])
            i += 1
        elif ln.startswith("Category ") and ln.endswith(":"):
            cat = ln[len("Category "):-1]
            header, rows = section(lambda s: s.startswith("Total number of unique "))
            out["groups"][cat] = (header, rows, int(lines[i].rsplit(": ", 1)[1]))
            i += 1
    return out


def _same_cell(col, a, b):
    if a == b:
        return True
    if col.startswith("avg_"):
        try:
            return abs(float(a) - float(b)) <= 0.0100001 + 1e-9 * abs(float(a))
        except ValueError:
            return False
    return False


def compare_keyed(want_cols, want_rows, got_cols, got_rows, key):
    """Row-by-row comparison of a small section keyed by `key`."""
    if sorted(want_cols) != sorted(got_cols):
        return [f"columns {sorted(got_cols)} != {sorted(want_cols)}"]
    wi = {c: i for i, c in enumerate(want_cols)}
    gi = {c: i for i, c in enumerate(got_cols)}
    want = {canon(r[wi[key]]): r for r in want_rows}
    got = {canon(r[gi[key]]): r for r in got_rows}
    if sorted(want) != sorted(got):
        return [f"keys {sorted(got)} != {sorted(want)}"]
    problems = []
    for k, w in want.items():
        g = got[k]
        for c in want_cols:
            a, b = canon(w[wi[c]]), canon(g[gi[c]])
            if not _same_cell(c, a, b):
                problems.append(f"{key}={k} {c}: {b} != {a}")
    return problems


def check_faas(expected, pass_dir):
    reports = sorted(glob.glob(os.path.join(pass_dir, "report*.csv")))
    if len(reports) != 1:
        return [f"expected one report, found {len(reports)}"]
    rep = parse_report(reports[0])
    problems = []
    if "raw" not in rep:
        return ["no raw section"]
    got = digest(*rep["raw"])
    if got != expected["raw"]:
        problems.append(f"raw section: {got} != {expected['raw']}")
    if rep["successful_runs"] != expected["successful_runs"]:
        problems.append(f"successful runs {rep['successful_runs']} != "
                        f"{expected['successful_runs']}")
    if sorted(rep["groups"]) != sorted(expected["groups"]):
        problems.append(f"groups {sorted(rep['groups'])} != {sorted(expected['groups'])}")
    for cat, want in expected["groups"].items():
        if cat not in rep["groups"]:
            continue
        header, rows, n_unique = rep["groups"][cat]
        if n_unique != len(want["rows"]):
            problems.append(f"group {cat}: {n_unique} unique != {len(want['rows'])}")
        problems += [f"group {cat}: {p}" for p in compare_keyed(
            want["columns"], want["rows"], header, rows, cat)]
    return problems


# ----------------------------------------------------------- curation_chain

def split_ctes(sql):
    """(name, body) of each top-level CTE of `WITH [RECURSIVE] ...`, and
    the final statement."""
    head = sql.strip()
    for kw in ("WITH RECURSIVE ", "WITH "):
        if head.startswith(kw):
            head = head[len(kw):]
            break
    ctes = []
    while True:
        open_at = head.index("AS (")
        name = head[:open_at].strip()
        depth, quoted, i = 0, False, open_at + 3
        while True:
            ch = head[i]
            if ch == "'":
                quoted = not quoted
            elif not quoted and ch == "(":
                depth += 1
            elif not quoted and ch == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        ctes.append((name, head[open_at + 4:i]))
        head = head[i + 1:].lstrip()
        if not head.startswith(","):
            return ctes, head
        head = head[1:].lstrip()


def components(con):
    """lbl(doc_id, cluster_id): the least doc id reachable over the
    verified pairs `ver`, by union-find (the library SQL's recursive
    closure, computed without materializing every reachable pair)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (d,) in con.execute("SELECT doc_id FROM documents").fetchall():
        parent[d] = d
    for a, b in con.execute("SELECT id1, id2 FROM ver").fetchall():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    lbl = pd.DataFrame({"doc_id": list(parent), "cluster_id": [find(d) for d in parent]})
    con.register("lbl_df", lbl)
    con.execute("CREATE TEMP TABLE lbl AS SELECT * FROM lbl_df")


def curation_oracle(inputs, library_sql, keep_rows=False):
    """CurationQueries.qCurationFullSql, the library's own cross-engine
    replay of the chain, over the generated documents. Each CTE is
    materialized in turn; the recursive keep-list closure (reach, lbl)
    is replaced by an equivalent union-find."""
    con = connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(inputs, 'documents.parquet')}')")
    ctes, final = split_ctes(library_sql["curation_full"])
    for name, body in ctes:
        if name.startswith("reach"):
            continue
        if name == "lbl":
            components(con)
            continue
        con.execute(f"CREATE TEMP TABLE {name} AS {body}")
    manifest = relation(con, final)
    out = {"manifest": digest(*manifest)}
    if keep_rows:
        out["manifest_rows"] = manifest
    con.close()
    return out


def check_rows(expected, rows):
    problems = []
    for r in rows:
        want = expected.get(r["id"])
        got = digest(r["columns"], r["rows"]) if r["error"] is None else r["error"]
        if got != want:
            problems.append(f"{r['id']}: {got} != {want}")
    return problems
