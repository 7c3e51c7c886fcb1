"""Output checks, run after the JVM has exited (outside the timed window).

- Declared queries: the first result of each query, saved as parquet by
  the JVM next to its oracle SQL, is compared by the repo's own oracle
  compare (tools/check.py) with DuckDB on the same generated tables.
- Analyst answers: the 20-row markdown the engine rendered, against the
  same SQL run by DuckDB over the warehouse parquet and rendered by the
  same rules.
"""
import datetime
import decimal
import os
import re
import subprocess
import sys
from pathlib import Path

import duckdb

CHECK = Path(__file__).resolve().parent.parent / "tools" / "check.py"
WAREHOUSE_TABLES = ["carrefour_data", "mp_data", "bank_payments"]


def _connect():
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=4")
    return con


def check_declared(results_dir, data_dir):
    """{query name: failure text} for each saved result that tools/check.py
    finds different from its oracle SQL, or cannot check."""
    p = subprocess.run([sys.executable, str(CHECK), str(results_dir), str(data_dir)],
                       capture_output=True, text=True, encoding="utf-8",
                       env=dict(os.environ, PYTHONIOENCODING="utf-8"))
    failures = {}
    for line in p.stdout.splitlines():
        m = re.match(r"\s*([✗~]) (\S+): (.*)", line)
        if m:  # ✗: differs from its oracle; ~: no oracle SQL to compare with
            failures[m[2]] = f"{m[2]}: {m[3] if m[1] == '✗' else 'no oracle SQL'}"
    if p.returncode != 0 and not failures:
        failures["oracle compare"] = (f"oracle compare: tools/check.py exited {p.returncode}: "
                                      f"{p.stderr.strip()[-300:]}")
    return failures


def _cell(v):
    """A value as the engine's markdown renders it (String.valueOf, escaped)."""
    if v is None:
        s = ""
    elif isinstance(v, bool):
        s = "true" if v else "false"
    elif isinstance(v, (decimal.Decimal, int, str)):
        s = str(v)
    elif isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        s = v.isoformat()
    else:
        s = repr(v)  # types the templates avoid: never equal to the engine's rendering
    return s.replace("\\", "\\\\").replace("|", "\\|").replace("\r", " ").replace("\n", " ")


def markdown(cols, rows):
    lines = ["| " + " | ".join(_cell(c) for c in cols) + " |",
             "| " + " | ".join("---" for _ in cols) + " |"]
    lines += ["| " + " | ".join(_cell(v) for v in r) + " |" for r in rows]
    return "\n".join(lines) + "\n"


def check_answers(answers, warehouse_dir, limit=20):
    """{op index: failure text} for analyst answers that differ from DuckDB's."""
    con = _connect()
    for t in WAREHOUSE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{warehouse_dir}/{t}/*/*.parquet', hive_partitioning = true)")
    expected = {}
    failures = {}
    for a in answers:
        if a["hostile"] or a["markdown"] is None:
            continue  # hostile SQL is checked by the JVM (it must be rejected)
        sql = a["sql"]
        try:
            if sql not in expected:
                rel = con.sql(sql)
                expected[sql] = markdown(rel.columns, rel.fetchmany(limit))
            if a["markdown"] != expected[sql]:
                failures[a["i"]] = f"question {a['i']}: answer differs from DuckDB for: {sql}"
        except Exception as e:
            failures[a["i"]] = f"question {a['i']}: DuckDB could not run: {type(e).__name__}: {str(e)[:200]}"
    return failures
