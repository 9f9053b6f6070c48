"""Output checks. Each returns the ids of the harness operations whose
output was wrong, with a reason, so that they count as failed.

- adhoc_sql: each sampled query's rows against its DuckDB twin run by
  DuckDB on the same parquet files.
- tpch: first-pass results against the engine's own DuckDB oracle texts.
- llm_curate: every planted exact duplicate is flagged and the flagged set
  is exactly the one the corpus implies; the shards read back hold the
  dedup survivors, id for id.

`corrupt=True` feeds every check a wrong expected result instead; each
check must then fail (see tests/).
"""
import datetime
import decimal
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]
REL_TOL = 1e-9


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _same(a, b):
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    return a == b


def rows_equal(got, expected):
    """Row for row, column by position; numbers within a relative 1e-9."""
    if len(got) != len(expected):
        return False, f"{len(got)} rows, expected {len(expected)}"
    for i, (g, e) in enumerate(zip(got, expected)):
        if len(g) != len(e) or not all(_same(x, y) for x, y in zip(g, e)):
            return False, f"row {i}: {list(g)} != {list(e)}"
    return True, ""


def corrupt_rows(rows):
    """A wrong expected result: one value changed, or a row added."""
    if not rows:
        return [("corrupt",)]
    first = list(rows[0])
    first[0] = "corrupt" if isinstance(first[0], str) else (first[0] or 0) + 1
    return [tuple(first)] + list(rows[1:])


def _duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_sql(results, data_dir, corrupt=False):
    """`results` holds (key, engine rows as JSON, oracle SQL) triples; returns
    {key: reason} for every result that differs from its oracle's rows.
    """
    con = _duck(data_dir)
    bad = {}
    for key, rows, sql in results:
        expected = con.execute(sql).fetchall()
        if corrupt:
            expected = corrupt_rows(expected)
        ok, why = rows_equal([tuple(json.loads(r).values()) for r in rows], expected)
        if not ok:
            bad[key] = why
    con.close()
    return bad


def _check_ops(raw, oracle_of, data_dir, corrupt):
    """Every op that kept its rows, against the rows of its oracle text."""
    results = [(op["id"], op["rows"], oracle_of(op))
               for op in raw["ops"] if op["rows"] is not None]
    return {k: f"{raw['ops'][k]['name']}: {why}"
            for k, why in check_sql(results, data_dir, corrupt).items()}


def check_adhoc(raw, queries, data_dir, corrupt=False):
    by_index = {q["index"]: q for q in queries}
    return _check_ops(raw, lambda op: by_index[int(op["name"].split("#")[1])]["oracle"],
                      data_dir, corrupt)


def check_tpch(raw, data_dir, corrupt=False):
    oracles = raw["facts"]["oracles"]
    return _check_ops(raw, lambda op: oracles[op["name"]], data_dir, corrupt)


def check_llm(raw, manifest, corrupt=False):
    """Per pass: dedup flags against the corpus manifest, read-back ids
    against the survivors. Failures land on the stage that produced them.
    """
    expected_flagged = sorted(manifest["expected_exact_flagged"])
    planted = set(manifest["planted_exact"])
    if corrupt:
        expected_flagged = expected_flagged + [-1]
        planted = planted | {-1}
    stage_op = {(o["pass"], o["name"]): o["id"] for o in raw["ops"]}
    bad = {}
    for c in raw["checks"]:
        p = c["pass"]
        if "exact_flagged" in c:
            flagged = sorted(c["exact_flagged"])
            missing = planted - set(flagged)
            if missing or flagged != expected_flagged:
                bad[stage_op[(p, "llm.Dedup.exactDedup")]] = (
                    f"pass {p}: {len(missing)} planted duplicates not flagged, "
                    f"{len(flagged)} flagged vs {len(expected_flagged)} expected")
        if "read_back" in c:
            survivors = sorted(c["survivors"])
            if corrupt:
                survivors = survivors[1:]
            if sorted(c["read_back"]) != survivors or len(set(survivors)) != len(survivors):
                bad[stage_op[(p, "Sources.parquet")]] = (
                    f"pass {p}: read back {len(c['read_back'])} ids, "
                    f"{len(survivors)} survivors")
    return bad
