"""Checks of graft's outputs against computations made apart from graft.

- ``check_gates``: each gate's collected result against DuckDB's answer to
  the gate's ``SparkEntry.oracleSql`` over the same parquet, canonicalized
  as ``tools/check.py`` does (column names, type class, value rendering).
- ``check_etl``: ``EtlStats`` and the written table, read back with DuckDB,
  against the generator's ledger.
- ``check_curate``: stage counts, output ids and texts, and a near-dedup
  partner for every doc dropped at that stage.

Run as a command, it recomputes the DuckDB answers of a gate-sweep run:

    python3 perfbench/checks.py oracle <data_dir> <results_dir> <answers_dir>

writing one parquet file per gate to ``answers_dir``.
"""
import concurrent.futures
import datetime
import decimal
import glob
import json
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def type_class(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal(scale={t.scale})"
    if pa.types.is_timestamp(t):
        return f"timestamp({t.unit},tz={bool(t.tz)})"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list"
    return str(t)


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def canonical(tbl):
    """(sorted column names, type classes, rows) of an arrow table."""
    fields = sorted(tbl.schema, key=lambda f: f.name.lower())
    cols = [tbl.column(f.name).to_pylist() for f in fields]
    rows = [tuple(canon(v) for v in r) for r in zip(*cols)] if cols else []
    return [f.name.lower() for f in fields], [type_class(f.type) for f in fields], rows


def duck(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_answers(data_dir, results_dir):
    """{gate: arrow table} — DuckDB's answer to each gate's oracle SQL."""
    con = duck(data_dir)
    sql = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    return {g: con.execute(q).fetch_arrow_table() for g, q in sorted(sql.items())}


def check_gates(data_dir, results_dir, gates):
    """Returns a list of mismatch descriptions (empty when all match)."""
    sql = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = duck(data_dir)

    def check(g):
        if g not in sql:
            return f"{g}: no oracle SQL"
        try:
            want = canonical(con.cursor().execute(sql[g]).fetch_arrow_table())
        except Exception as e:  # an oracle that cannot run is a failed check
            return f"{g}: oracle error {e}"
        got = canonical(pq.read_table(os.path.join(results_dir, g)))
        if got[0] != want[0]:
            return f"{g}: columns {got[0]} vs {want[0]}"
        if got[1] != want[1]:
            return f"{g}: types {got[1]} vs {want[1]}"
        if got[2] != want[2]:
            first = next((i for i, (a, b) in enumerate(zip(got[2], want[2])) if a != b), None)
            return f"{g}: {len(got[2])} rows vs {len(want[2])}, first diff at {first}"
        return None

    with concurrent.futures.ThreadPoolExecutor(4) as pool:
        return [b for b in pool.map(check, gates) if b]


def table_slices(con, sink):
    """{"loc/month": [rows, sum qty, sum sale_price cents]} of a sales table."""
    q = f"""SELECT CAST(location_id AS VARCHAR) || '/' || CAST(month AS VARCHAR),
                   count(*), CAST(sum(qty) AS BIGINT),
                   CAST(sum(CAST(sale_price * 100 AS DECIMAL(18, 0))) AS BIGINT)
            FROM read_parquet('{sink}/*/*/*.parquet', hive_partitioning = true)
            GROUP BY ALL"""
    return {k: [r, q_, c] for k, r, q_, c in con.execute(q).fetchall()}


def check_etl(ledger, report):
    bad = []
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    want_after = dict(ledger["slices"])
    want_after[ledger["backfill"]["slice"]] = ledger["backfill"]["rows"]
    for i, rnd in enumerate(report["rounds"]):
        stats = {k: rnd[k] for k in ledger["stats"]}
        if stats != ledger["stats"]:
            bad.append(f"round {i}: EtlStats {stats} vs ledger {ledger['stats']}")
        got = table_slices(con, rnd["sink"])
        if got != want_after:
            bad.append(f"round {i}: table after backfill {got} vs {want_after}")
    loaded = os.path.join(os.path.dirname(report["rounds"][0]["sink"]), "loaded")
    got = table_slices(con, loaded)
    if got != ledger["slices"]:
        bad.append(f"table after load {got} vs ledger {ledger['slices']}")
    return bad


def check_curate(corpus, stride, exact_ids_dir, report, jaccard=0.8):
    bad = []
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet('{corpus}')")
    n = con.execute("SELECT count(*) FROM corpus").fetchone()[0]
    stages = ["input", "after_quality", "after_lang", "after_exact", "after_near",
              "after_semantic", "after_decon", "after_quota"]
    for i, rnd in enumerate(report["rounds"]):
        counts = [rnd[s] for s in stages]
        if rnd["input"] != n:
            bad.append(f"round {i}: input {rnd['input']} vs corpus rows {n}")
        if any(b > a for a, b in zip(counts, counts[1:])):
            bad.append(f"round {i}: stage counts increase: {counts}")
        out = f"read_parquet('{rnd['out']}/*.parquet')"
        rows, ids, texts, foreign = con.execute(
            f"""SELECT count(*), count(DISTINCT doc_id), count(DISTINCT text),
                       count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM corpus))
                FROM {out}""").fetchone()
        if rows != counts[-1]:
            bad.append(f"round {i}: {rows} curated rows vs last stage count {counts[-1]}")
        if ids != rows or foreign:
            bad.append(f"round {i}: doc ids not unique or not in the input")
        if texts != rows:
            bad.append(f"round {i}: {rows - texts} curated docs share a text")
    # near-dedup: every exact-dedup survivor missing from the output has a
    # partner survivor in its copy whose word 3-shingle Jaccard reaches the
    # threshold (checked on the first round's output)
    rnd = report["rounds"][0]
    con.execute(f"""CREATE TABLE exact AS SELECT c.doc_id, c.text FROM corpus c
                    JOIN read_parquet('{exact_ids_dir}/*.parquet') e USING (doc_id)""")
    if con.execute("SELECT count(*) FROM exact").fetchone()[0] != rnd["after_exact"]:
        bad.append("exact-dedup survivors differ from after_exact")
    con.execute(f"""CREATE TABLE dropped AS SELECT doc_id FROM exact
                    WHERE doc_id NOT IN (SELECT doc_id FROM read_parquet('{rnd['out']}/*.parquet'))""")
    dropped = con.execute("SELECT count(*) FROM dropped").fetchone()[0]
    if dropped != rnd["after_exact"] - rnd["after_near"]:
        bad.append(f"{dropped} survivors missing from the output vs "
                   f"{rnd['after_exact'] - rnd['after_near']} dropped at near-dedup")
    con.execute(r"""CREATE TABLE toks AS SELECT doc_id,
        list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t
        FROM exact""")
    con.execute("""CREATE TABLE sh AS SELECT doc_id, unnest(s) AS s, len(s) AS n FROM (
        SELECT doc_id, list_distinct(CASE
            WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
                                                 i -> array_to_string(t[i:i + 2], ' '))
            WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
            ELSE [] END) AS s FROM toks)""")
    orphans = con.execute(f"""
        WITH best AS (
          SELECT a.doc_id, max(count(*) / (a.n + b.n - count(*))) OVER (PARTITION BY a.doc_id) AS j
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
               AND a.doc_id // {stride} = b.doc_id // {stride}
          WHERE a.doc_id IN (SELECT doc_id FROM dropped)
          GROUP BY a.doc_id, b.doc_id, a.n, b.n)
        SELECT count(*) FROM dropped d
        WHERE NOT EXISTS (SELECT 1 FROM best WHERE best.doc_id = d.doc_id AND best.j >= {jaccard})
        """).fetchone()[0]
    if orphans:
        bad.append(f"{orphans} near-dedup drops without a partner at Jaccard >= {jaccard}")
    return bad


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] != "oracle":
        sys.exit(__doc__)
    _, _, data_dir, results_dir, answers_dir = sys.argv
    os.makedirs(answers_dir, exist_ok=True)
    for gate, tbl in oracle_answers(data_dir, results_dir).items():
        pq.write_table(tbl, os.path.join(answers_dir, f"{gate}.parquet"))
        print(f"{gate}: {tbl.num_rows} rows")
