"""Correctness checks, made apart from the program, in DuckDB.

* ingest_parquet: the sink's rows, as a multiset, equal DuckDB's decode of
  the same input files (the q20 oracle semantics), and
  rows_out + rows_malformed = rows_in.
* upsert_jdbc: the Derby table holds one row per (start, src_ip) key and
  equals the DISTINCT projected well-formed input; input records whose key
  is missing from the table are failed operations (the sink logs a failed
  batch and drops it).
* query_mix: every declared query equals its `SparkEntry.oracleSqlFor` SQL
  run by DuckDB over the generated tables; the flows-table surface equals
  the same statements run by DuckDB over the generated JSON; in a traced
  run, the decode's malformed count equals DuckDB's.

Every checker is also run on two tampered copies of the output it has just
accepted, one row dropped and one value changed, and must reject both;
otherwise the run is not correct.
"""
import glob
import json
import os

import duckdb

# q20_flow_pipeline's oracle (PipelineQueries.oracle), over a set of files.
# Same semantics, three mechanical changes for speed and safety: lines are
# read by the parallel CSV reader with no delimiter or quoting, rather than
# split out of whole files; the twelve fields come from one JSON parse per
# line (json_extract_string with a path list; element k equals
# `v->>key_k`); and json_type is guarded, because DuckDB evaluates it even
# on invalid lines.
FIELDS = ["TimeFlowStartMs", "TimeFlowEndMs", "SrcAddr", "DstAddr", "SrcK8S_Name",
          "DstK8S_Name", "SrcK8S_Type", "DstK8S_Type", "SrcK8S_Namespace",
          "DstK8S_Namespace", "Bytes", "Packets"]
DECODE_SQL = """
WITH lines AS (SELECT value FROM read_csv('{glob}', header=false, columns={{'value': 'VARCHAR'}},
                                         delim=chr(31), quote='', escape='', auto_detect=false)
               WHERE value <> ''),
j AS (SELECT json_extract_string(value, [%s]) AS f FROM lines
       WHERE CASE WHEN json_valid(value) THEN json_type(value) = 'OBJECT' ELSE false END)
SELECT coalesce(CAST(f[1] AS DOUBLE),0.0) AS start,
 coalesce(CAST(f[2] AS DOUBLE),0.0) AS "end",
 coalesce(f[3],'') AS src_ip, coalesce(f[4],'') AS dst_ip,
 coalesce(f[5],'') AS src_name, coalesce(f[6],'') AS dst_name,
 coalesce(f[7],'') AS src_kind, coalesce(f[8],'') AS dst_kind,
 coalesce(f[9],'') AS src_namespace, coalesce(f[10],'') AS dst_namespace,
 CAST(trunc(coalesce(CAST(f[11] AS DOUBLE),0)) AS BIGINT) AS bytes,
 CAST(trunc(coalesce(CAST(f[12] AS DOUBLE),0)) AS BIGINT) AS packets
FROM j""" % ", ".join(f"'$.{k}'" for k in FIELDS)

# FlowQueries.verification, in DuckDB: CAST(double AS BIGINT) truncates in
# Spark and rounds in DuckDB, hence trunc; Spark's timestamps read back from
# parquet as naive UTC, hence make_timestamp rather than to_timestamp.
VERIFICATION_SQL = """
SELECT make_timestamp(CAST(trunc(start) AS BIGINT) // 1000 * 1000000) AS start,
       make_timestamp(CAST(trunc("end") AS BIGINT) // 1000 * 1000000) AS "end",
       src_ip, dst_ip, src_name, dst_name, src_kind, dst_kind,
       src_namespace, dst_namespace, bytes, packets
FROM flows ORDER BY start, src_ip LIMIT 100"""

def _con():
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
    con.execute("SET enable_progress_bar = false")
    return con


def _fingerprint(con, rel):
    """Order-free multiset fingerprint: row count and the sum of row hashes."""
    cols = ", ".join(f'"{c[0]}"' for c in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall())
    return con.execute(f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {rel}").fetchone()


def _tampered(con, table):
    """Yield two tampered views of `table`, as SQL relations: one row
    dropped, and one value changed."""
    if con.execute(f"SELECT count(*) FROM {table}").fetchone()[0] == 0:
        return
    yield "row dropped", f"(SELECT * FROM {table} WHERE rowid <> (SELECT max(rowid) FROM {table}))"
    for name, typ, *_ in con.execute(f"DESCRIBE {table}").fetchall():
        t = typ.upper()
        if t in ("BIGINT", "INTEGER", "DOUBLE", "FLOAT", "SMALLINT") or t.startswith("DECIMAL"):
            change = f'"{name}" + 1'
        elif t == "VARCHAR":
            change = f""""{name}" || 'x'"""
        elif t.startswith("TIMESTAMP") or t == "DATE":
            change = f""""{name}" + INTERVAL 1 DAY"""
        elif t == "BOOLEAN":
            change = f'NOT "{name}"'
        else:
            continue
        row = f'(SELECT min(rowid) FROM {table} WHERE "{name}" IS NOT NULL)'
        yield f"value changed in {name}", (
            f'(SELECT * REPLACE (CASE WHEN rowid = {row} THEN {change} ELSE "{name}" END AS "{name}") '
            f"FROM {table})")
        return


class Verdict:
    def __init__(self):
        self.correct = True
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def wrong(self, msg):
        self.correct = False
        self.notes.append(msg)

    def as_dict(self):
        return {"correct": self.correct, "attempted": self.attempted, "failed": self.failed,
                "notes": self.notes[:20]}


def _rejects(v, con, table, accept):
    """The checker `accept(relation) -> bool` must reject both tampered
    views of `table`."""
    for what, rel in _tampered(con, table):
        if accept(rel):
            v.wrong(f"checker accepted a tampered output ({what})")


def check_streams(workload, work, res):
    v = Verdict()
    con = _con()
    flows = os.path.join(work, "in", "flows", "*.json")
    con.execute(f"CREATE TABLE expected AS {DECODE_SQL.format(glob=flows)}")
    lines = int(open(os.path.join(work, "in", "flows.lines")).read())
    n_good = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    if workload == "upsert_jdbc":
        con.execute("CREATE TABLE expected_distinct AS SELECT DISTINCT * FROM expected")
    expected_fp = _fingerprint(con, "expected" if workload == "ingest_parquet" else "expected_distinct")
    for i, r in enumerate(res["rounds"]):
        v.attempted += r["rows_in"]
        if r["rows_in"] != lines:
            v.wrong(f"round {i}: consumed {r['rows_in']} records of {lines}")
        if r["malformed"] != lines - n_good:
            v.wrong(f"round {i}: {r['malformed']} malformed, DuckDB finds {lines - n_good}")
        files = glob.glob(os.path.join(r["path"], "*.parquet"))
        con.execute(f"CREATE OR REPLACE TABLE got AS SELECT * FROM read_parquet({files!r})"
                    if files else "CREATE OR REPLACE TABLE got AS SELECT * FROM expected LIMIT 0")
        if workload == "ingest_parquet":
            rows_out = con.execute("SELECT count(*) FROM got").fetchone()[0]
            if rows_out + r["malformed"] != r["rows_in"]:
                v.wrong(f"round {i}: rows_out {rows_out} + malformed {r['malformed']} != rows_in {r['rows_in']}")

            def accept(rel):
                return _fingerprint(con, rel) == expected_fp
            if not accept("got"):
                v.wrong(f"round {i}: sink rows differ from DuckDB's decode of the input")
        else:
            def accept(rel):
                one_per_key = con.execute(
                    f"SELECT count(*) = count(DISTINCT (start, src_ip)) FROM {rel}").fetchone()[0]
                return one_per_key and _fingerprint(con, rel) == expected_fp
            if not accept("got"):
                dup = con.execute("SELECT count(*) - count(DISTINCT (start, src_ip)) FROM got").fetchone()[0]
                extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
                                    "SELECT * FROM expected_distinct)").fetchone()[0]
                if dup or extra:
                    v.wrong(f"round {i}: {dup} keys hold more than one row, {extra} rows are not in the input")
                # input records whose key is absent from the table failed
                v.failed += con.execute("""SELECT count(*) FROM expected e WHERE NOT EXISTS
                    (SELECT 1 FROM got g WHERE g.start = e.start AND g.src_ip = e.src_ip)""").fetchone()[0]
            if r["table_rows"] != con.execute("SELECT count(*) FROM got").fetchone()[0]:
                v.wrong(f"round {i}: table row count changed between read and check")
        if i == 0:
            _rejects(v, con, "got", accept)
    return v


def _canon(x):
    return round(x, 6) if isinstance(x, float) else x


def _rows(con, rel):
    cur = con.execute(f"SELECT * FROM {rel}")
    cols = [c[0] for c in cur.description]
    order = sorted(range(len(cols)), key=lambda k: cols[k])
    return sorted(cols), [[_canon(row[k]) for k in order] for row in cur.fetchall()]


def check_query_mix(work, res):
    v = Verdict()
    con = _con()
    tables = os.path.join(work, "in", "tables")
    for p in glob.glob(os.path.join(tables, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    flows = os.path.join(work, "in", "flows", "*.json")
    con.execute(f"CREATE TABLE flows AS {DECODE_SQL.format(glob=flows)}")
    oracles = json.load(open(os.path.join(work, "out", "oracle_sql.json")))
    ops = res["ops"]
    v.attempted = res["passes"] * len(ops)
    for name, err in res["failures"].items():
        v.failed += res["passes"]
        v.notes.append(f"{name} failed: {err}")
    for name in res["unstable"]:
        v.wrong(f"{name}: results differ between timed passes")
    for name in ops:
        if name in res["failures"]:
            continue
        out = os.path.join(work, "out", "q", name)
        # rowid follows the parquet's row order, which the comparison needs
        con.execute(f"CREATE OR REPLACE TABLE got AS SELECT * FROM read_parquet('{out}/*.parquet')")
        if name == "flow_probe":
            listed = set(res["tables"])

            def accept(t):
                names = [r[0] for r in con.execute(f"SELECT name FROM {t}").fetchall()]
                return len(names) == min(5, len(listed)) and set(names) <= listed
        else:
            if name == "flow_setup_table":
                exp_sql = "SELECT * FROM flows"
            elif name == "flow_verification":
                exp_sql = VERIFICATION_SQL
            else:
                exp_sql = oracles[name]
            exp_cols, exp = _rows(con, f"({exp_sql})")
            if name == "flow_setup_table":
                exp.sort(key=repr)

            def accept(t, exp_cols=exp_cols, exp=exp, multiset=(name == "flow_setup_table")):
                cols, got = _rows(con, t)
                if multiset:
                    got.sort(key=repr)
                return cols == exp_cols and got == exp
        if not accept("got"):
            v.wrong(f"{name}: result differs from DuckDB")
        else:
            _rejects(v, con, "got", accept)
    if "trace" in res:
        n_bad = int(open(os.path.join(work, "in", "flows.lines")).read()) - \
            con.execute("SELECT count(*) FROM flows").fetchone()[0]
        if res["trace"]["pipeline.rows_malformed"] != n_bad:
            v.wrong(f"decode dropped {res['trace']['pipeline.rows_malformed']} lines, DuckDB finds {n_bad} malformed")
    return v


def run(workload, work, res):
    v = check_query_mix(work, res) if workload == "query_mix" else check_streams(workload, work, res)
    return v.as_dict()
