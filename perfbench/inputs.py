"""Seeded workload inputs.

Everything a run feeds the engine, apart from the fixed base tables of
datagen.py, is derived here from the run's seed:

- adhoc_sql: a stream of short queries, each instantiated from one of the
  parameterized TEMPLATES with fresh literals, in one of several input
  dialects, with a DuckDB twin used as the independent oracle. A "pass"
  is one round over all templates in a seeded order. No text repeats.
- tpch: a seeded order of the engine's 22 TPC-H query names per pass.
- llm_curate: a corpus built from the base `documents` table with planted
  exact duplicates and near-duplicates (token edits), plus a manifest
  naming the planted ids.

The same seed always yields byte-identical files; see tests/.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- adhoc_sql -------------------------------------------------------------
# (name, dialect, engine text, DuckDB oracle text or None for "same",
#  literal generator). Every template ends in a total ORDER BY, so results
# compare row for row.

DATES = ["1995-03-01", "1995-07-15", "1996-01-01", "1996-06-01",
         "1997-02-01", "1997-09-15", "1998-04-01", "1999-01-01",
         "1999-08-01", "2000-05-01"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _money(r, lo, hi):
    return f"{r.uniform(lo, hi):.2f}"


TEMPLATES = [
    ("dk_filter_cast", "duckdb",
     "SELECT o_orderkey, o_totalprice FROM orders "
     "WHERE o_custkey == {c} AND o_totalprice > {p}::DOUBLE ORDER BY o_orderkey",
     None,
     lambda r: dict(c=r.randint(0, 1499), p=_money(r, 1000, 250000))),
    ("dk_strftime_group", "duckdb",
     "SELECT strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS n, "
     "SUM(o_totalprice) AS s FROM orders "
     "WHERE o_totalprice BETWEEN {lo} AND {hi} GROUP BY 1 ORDER BY 1",
     None,
     lambda r: dict(lo=_money(r, 1000, 200000), hi=_money(r, 300000, 500000))),
    ("dk_qualify", "duckdb",
     "SELECT c_custkey, c_nationkey, c_acctbal FROM customer "
     "WHERE c_acctbal > {x} QUALIFY row_number() OVER "
     "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) <= {k} "
     "ORDER BY c_nationkey, c_acctbal DESC, c_custkey",
     None,
     lambda r: dict(x=_money(r, -999, 8000), k=r.randint(1, 4))),
    ("dk_join3_agg", "duckdb",
     "SELECT r_name, COUNT(*) AS n_supp, MAX(s_acctbal) AS max_bal "
     "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
     "JOIN region ON n_regionkey = r_regionkey "
     "WHERE s_acctbal < {x} GROUP BY r_name ORDER BY r_name",
     None,
     lambda r: dict(x=_money(r, 0, 9999))),
    ("tr_join_interval", "trino",
     "SELECT n.n_name, count(*) AS orders, sum(o.o_totalprice) AS total "
     "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
     "JOIN nation n ON c.c_nationkey = n.n_nationkey "
     "WHERE o.o_orderdate >= DATE '{d}' "
     "AND o.o_orderdate < DATE '{d}' + INTERVAL '{m}' MONTH "
     "AND o.o_totalprice > {p} GROUP BY n.n_name ORDER BY n.n_name",
     None,
     lambda r: dict(d=r.choice(DATES), m=r.randint(1, 12),
                    p=_money(r, 1000, 100000))),
    ("tr_date_trunc", "trino",
     "SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m, "
     "count(*) AS n, sum(l_quantity) AS q FROM lineitem "
     "WHERE l_returnflag = '{f}' AND l_quantity > {q} "
     "AND l_shipdate < TIMESTAMP '{d} 00:00:00' GROUP BY 1 ORDER BY 1 LIMIT {lim}",
     None,
     lambda r: dict(f=r.choice("ANR"), q=r.randint(1, 45), d=r.choice(DATES),
                    lim=r.randint(5, 40))),
    ("tr_window_running", "trino",
     "SELECT o_custkey, o_orderkey, sum(o_totalprice) OVER (PARTITION BY "
     "o_custkey ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
     "CURRENT ROW) AS running FROM orders WHERE o_custkey BETWEEN {a} AND {b} "
     "ORDER BY o_custkey, o_orderkey",
     None,
     lambda r: (lambda a: dict(a=a, b=a + r.randint(2, 8)))(r.randint(0, 1490))),
    ("sf_iff_dateadd", "snowflake",
     "SELECT IFF(o_totalprice > {p}, 'big', 'small') AS bucket, COUNT(*) AS n "
     "FROM orders WHERE o_orderdate >= DATEADD(day, {n}, DATE '1996-01-01') "
     "AND o_orderpriority = '{prio}' GROUP BY 1 ORDER BY 1",
     "SELECT CASE WHEN o_totalprice > {p} THEN 'big' ELSE 'small' END AS bucket, "
     "COUNT(*) AS n FROM orders "
     "WHERE o_orderdate >= DATE '1996-01-01' + INTERVAL {n} DAY "
     "AND o_orderpriority = '{prio}' GROUP BY 1 ORDER BY 1",
     lambda r: dict(p=_money(r, 50000, 450000), n=r.randint(0, 1500),
                    prio=r.choice(PRIORITIES))),
    ("sf_qualify_top1", "snowflake",
     "SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier WHERE s_acctbal > {x} "
     "QUALIFY row_number() OVER (PARTITION BY s_nationkey "
     "ORDER BY s_acctbal DESC, s_suppkey) = 1 ORDER BY s_nationkey",
     None,
     lambda r: dict(x=_money(r, -999, 5000))),
    ("sf_join3_limit", "snowflake",
     "SELECT c.c_mktsegment, COUNT(*) AS n, SUM(l.l_quantity) AS qty "
     "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
     "JOIN customer c ON o.o_custkey = c.c_custkey "
     "WHERE l.l_discount >= {d} AND o.o_orderdate < DATEADD(month, {m}, DATE '1995-01-01') "
     "GROUP BY c.c_mktsegment ORDER BY qty DESC, c.c_mktsegment LIMIT {k}",
     "SELECT c.c_mktsegment, COUNT(*) AS n, SUM(l.l_quantity) AS qty "
     "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
     "JOIN customer c ON o.o_custkey = c.c_custkey "
     "WHERE l.l_discount >= {d} AND o.o_orderdate < DATE '1995-01-01' + INTERVAL {m} MONTH "
     "GROUP BY c.c_mktsegment ORDER BY qty DESC, c.c_mktsegment LIMIT {k}",
     lambda r: dict(d=f"{r.randint(0, 10) / 100:.2f}", m=r.randint(3, 70),
                    k=r.randint(2, 5))),
    ("pg_distinct_on", "postgres",
     "SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal "
     "FROM customer WHERE c_mktsegment = '{seg}' AND c_acctbal < {x} "
     "ORDER BY c_nationkey, c_acctbal DESC, c_custkey",
     None,
     lambda r: dict(seg=r.choice(SEGMENTS), x=_money(r, 1000, 9999))),
    ("pg_agg_filter", "postgres",
     "SELECT l_returnflag, count(*) FILTER (WHERE l_discount > {d}) AS n_disc, "
     "count(*) AS n, max(l_quantity)::int AS max_q FROM lineitem "
     "WHERE l_orderkey < {k} GROUP BY l_returnflag ORDER BY l_returnflag",
     None,
     lambda r: dict(d=f"{r.randint(0, 9) / 100:.2f}", k=r.randint(100, 15000))),
    ("pg_extract_year", "postgres",
     "SELECT EXTRACT(YEAR FROM o_orderdate)::int AS y, count(*) AS n, "
     "avg(o_totalprice) AS avg_price FROM orders WHERE o_custkey < {c} "
     "GROUP BY 1 ORDER BY 1",
     None,
     lambda r: dict(c=r.randint(10, 1500))),
    ("pg_limit_offset", "postgres",
     "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
     "WHERE o_orderstatus = '{st}' AND o_totalprice > {p} "
     "ORDER BY o_totalprice DESC, o_orderkey LIMIT {k} OFFSET {off}",
     None,
     lambda r: dict(st=r.choice("FOP"), p=_money(r, 1000, 400000),
                    k=r.randint(5, 50), off=r.randint(0, 100))),
    ("ts_top", "tsql",
     "SELECT TOP {k} o_orderkey, o_totalprice FROM orders "
     "WHERE o_orderpriority = '{prio}' AND o_custkey > {c} "
     "ORDER BY o_totalprice DESC, o_orderkey",
     "SELECT o_orderkey, o_totalprice FROM orders "
     "WHERE o_orderpriority = '{prio}' AND o_custkey > {c} "
     "ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}",
     lambda r: dict(k=r.randint(3, 60), prio=r.choice(PRIORITIES),
                    c=r.randint(0, 1400))),
    ("ts_datepart", "tsql",
     "SELECT DATEPART(year, o_orderdate) AS y, COUNT(*) AS n FROM orders "
     "WHERE o_custkey BETWEEN {a} AND {b} "
     "GROUP BY DATEPART(year, o_orderdate) ORDER BY y",
     "SELECT date_part('year', o_orderdate) AS y, COUNT(*) AS n FROM orders "
     "WHERE o_custkey BETWEEN {a} AND {b} "
     "GROUP BY date_part('year', o_orderdate) ORDER BY y",
     lambda r: (lambda a: dict(a=a, b=a + r.randint(10, 400)))(r.randint(0, 1000))),
    ("ts_rank_top", "tsql",
     "SELECT TOP {k} c_custkey, c_acctbal, RANK() OVER (ORDER BY c_acctbal DESC) AS r "
     "FROM customer WHERE c_nationkey = {n} ORDER BY c_acctbal DESC, c_custkey",
     "SELECT c_custkey, c_acctbal, RANK() OVER (ORDER BY c_acctbal DESC) AS r "
     "FROM customer WHERE c_nationkey = {n} ORDER BY c_acctbal DESC, c_custkey LIMIT {k}",
     lambda r: dict(k=r.randint(3, 30), n=r.randint(0, 24))),
    ("ts_join_isnull", "tsql",
     "SELECT p.p_type, COUNT(*) AS n, SUM(ISNULL(l.l_tax, 0)) AS tax "
     "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
     "WHERE p.p_size < {s} AND l.l_discount >= {d} GROUP BY p.p_type ORDER BY p.p_type",
     "SELECT p.p_type, COUNT(*) AS n, SUM(COALESCE(l.l_tax, 0)) AS tax "
     "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
     "WHERE p.p_size < {s} AND l.l_discount >= {d} GROUP BY p.p_type ORDER BY p.p_type",
     lambda r: dict(s=r.randint(2, 50), d=f"{r.randint(0, 10) / 100:.2f}")),
    ("sp_group_having", "spark",
     "SELECT l_linestatus, l_returnflag, COUNT(*) AS n, SUM(l_extendedprice) AS rev "
     "FROM lineitem WHERE l_shipdate >= TIMESTAMP '{d} 00:00:00' AND l_tax <= {t} "
     "GROUP BY l_linestatus, l_returnflag HAVING COUNT(*) > {h} "
     "ORDER BY l_linestatus, l_returnflag",
     None,
     lambda r: dict(d=r.choice(DATES), t=f"{r.randint(0, 8) / 100:.2f}",
                    h=r.randint(0, 500))),
]

ADHOC_PASSES = 400      # far more than one run consumes
ADHOC_CHECK_SHARE = 6   # one query in this many is checked against DuckDB


def adhoc_queries(seed):
    """The seeded query stream: list of dicts, the warm-up pass (-1) first."""
    r = random.Random(f"adhoc_sql:{seed}")
    seen = set()
    out = []
    for p in range(-1, ADHOC_PASSES):
        order = list(range(len(TEMPLATES)))
        r.shuffle(order)
        for t in order:
            name, dialect, sql, oracle, gen = TEMPLATES[t]
            while True:
                params = gen(r)
                text = sql.format(**params)
                if text not in seen:
                    break
            seen.add(text)
            out.append({"pass": p, "index": len(out), "tidx": t,
                        "template": name, "dialect": dialect,
                        "sql": text,
                        "oracle": (oracle or sql).format(**params),
                        "check": p >= 0 and r.randrange(ADHOC_CHECK_SHARE) == 0})
    return out


# --- tpch ------------------------------------------------------------------

TPCH_QUERIES = 22
TPCH_PASSES = 60


def tpch_order(seed):
    """A seeded permutation of query numbers 1..22 per pass."""
    r = random.Random(f"tpch:{seed}")
    passes = []
    for _ in range(TPCH_PASSES):
        order = list(range(1, TPCH_QUERIES + 1))
        r.shuffle(order)
        passes.append(order)
    return passes


# --- llm_curate --------------------------------------------------------------

CORPUS_BASE_DOCS = 2000    # sampled from documents
EXACT_DUP_SHARE = 0.10     # planted exact copies, as a share of base docs
NEAR_DUP_SHARE = 0.10      # planted near-duplicates (token edits)
NEAR_DUP_EDITS = 2


def _edit(r, tokens, vocab):
    toks = list(tokens)
    for _ in range(NEAR_DUP_EDITS):
        op = r.randrange(3)
        i = r.randrange(len(toks))
        if op == 0:
            toks[i] = r.choice(vocab)
        elif op == 1 and len(toks) > 4:
            del toks[i]
        else:
            toks.insert(i, r.choice(vocab))
    return toks


def llm_corpus(seed, documents_path):
    """Build the corpus table and its manifest from the base documents."""
    r = random.Random(f"llm_curate:{seed}")
    docs = pq.read_table(documents_path).to_pylist()
    vocab = sorted({w for d in docs for w in d["text"].split(" ")})
    base = r.sample(docs, CORPUS_BASE_DOCS)
    rows = [{"doc_id": i, "text": d["text"], "lang": d["lang"],
             "source": d["source"]} for i, d in enumerate(base)]
    n_exact = int(CORPUS_BASE_DOCS * EXACT_DUP_SHARE)
    n_near = int(CORPUS_BASE_DOCS * NEAR_DUP_SHARE)
    exact, near = [], []
    for _ in range(n_exact):
        src = rows[r.randrange(CORPUS_BASE_DOCS)]
        exact.append(len(rows))
        rows.append({"doc_id": len(rows), "text": src["text"],
                     "lang": src["lang"], "source": f"mirror{r.randrange(4)}"})
    for _ in range(n_near):
        src = rows[r.randrange(CORPUS_BASE_DOCS)]
        near.append(len(rows))
        rows.append({"doc_id": len(rows),
                     "text": " ".join(_edit(r, src["text"].split(" "), vocab)),
                     "lang": src["lang"], "source": f"scrape{r.randrange(4)}"})
    # ids are assigned before the shuffle, so every planted copy has a
    # larger id than the document it copies
    r.shuffle(rows)
    table = pa.table({
        "doc_id": pa.array([x["doc_id"] for x in rows], pa.int64()),
        "text": [x["text"] for x in rows],
        "lang": [x["lang"] for x in rows],
        "source": [x["source"] for x in rows]})
    first = {}
    for x in sorted(rows, key=lambda x: x["doc_id"]):
        first.setdefault(x["text"], x["doc_id"])
    flagged = sorted(x["doc_id"] for x in rows if first[x["text"]] != x["doc_id"])
    manifest = {"docs": len(rows), "base_docs": CORPUS_BASE_DOCS,
                "planted_exact": sorted(exact), "planted_near": sorted(near),
                "expected_exact_flagged": flagged}
    return table, manifest


# --- writer --------------------------------------------------------------------


def write(workload, seed, out_dir, data_dir):
    """Write the run's inputs into out_dir; returns a short size summary."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "adhoc_sql":
        qs = adhoc_queries(seed)
        with open(os.path.join(out_dir, "queries.jsonl"), "w") as f:
            for q in qs:
                f.write(json.dumps(q, sort_keys=True) + "\n")
        return {"queries_generated": len(qs), "templates": len(TEMPLATES)}
    if workload == "tpch":
        order = tpch_order(seed)
        with open(os.path.join(out_dir, "order.json"), "w") as f:
            json.dump(order, f)
        return {"passes_generated": len(order)}
    if workload == "llm_curate":
        table, manifest = llm_corpus(
            seed, os.path.join(data_dir, "documents.parquet"))
        pq.write_table(table, os.path.join(out_dir, "corpus.parquet"),
                       row_group_size=table.num_rows)
        with open(os.path.join(out_dir, "manifest.json"), "w") as f:
            json.dump(manifest, f, sort_keys=True)
        return {"corpus_docs": manifest["docs"],
                "planted_exact": len(manifest["planted_exact"]),
                "planted_near": len(manifest["planted_near"])}
    raise ValueError(f"unknown workload {workload}")
