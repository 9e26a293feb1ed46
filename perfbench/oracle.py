"""Output checks for the four workloads, run after the timed phase.

Each check returns the set of op indexes whose output was wrong plus a
details dict; `run.py` turns those into `failed` and `correct`.
"""

import math
import os
import zlib
from datetime import date, datetime
from decimal import Decimal

import duckdb

import gen


def _pq(path):
    """DuckDB scan of a parquet file or a Spark output directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"
    return f"read_parquet('{path}')"


# ------------------------------------------------------------------ integrate

def check_integrate(res, inputs, seed, gen_kw, steps_done):
    """The final table (after `steps_done` steps of the last phase)
    against the generator's replay, and every statement's and report's
    rows against DuckDB over the same parquet. A step is wrong when its
    table (the final one: each step rewrites it) or any of its results
    is."""
    ops = res["ops"]
    con = duckdb.connect()
    got = con.execute(
        "SELECT order_id, customer, region, qty, CAST(unit_price * 100 AS BIGINT), "
        f"strftime(order_date, '%Y-%m-%d'), notes FROM {_pq(res['extra']['final_table'])}"
    ).fetchall()
    want = gen.integrate_expected(seed, steps_done, gen_kw["import_rows"],
                                  gen_kw["update_rows"])
    got_map = {r[0]: list(r) for r in got}
    table_ok = len(got) == len(got_map) == len(want) and all(
        got_map.get(k) == v for k, v in want.items())
    # order-independent checksum, recorded with the result
    checksum = sum(zlib.crc32(repr(r).encode()) for r in got_map.values()) & 0xFFFFFFFF
    bad = set() if table_ok else set(range(len(ops)))

    tdir = os.path.join(inputs, "tables")
    for f in sorted(os.listdir(tdir)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM {_pq(os.path.join(tdir, f))}")
    cache, checked, empty, wrong = {}, 0, 0, []
    for i, op in enumerate(ops):
        for st in op["statements"]:
            pairs = [(st["sql"], st["rows"])]
            if st["report"]:
                pairs.append((report_sql(st["sql"], st["report"]), st["report_rows"]))
            for q, rows in pairs:
                if q not in cache:
                    cache[q] = _canon(con.execute(q).fetchall())
                checked += 1
                empty += not rows
                if not _same(_canon(rows), cache[q]):
                    bad.add(i)
                    wrong.append(st["name"])
    return bad, {"final_rows": len(got), "expected_rows": len(want), "table_ok": table_ok,
                 "checksum": checksum, "table_bytes": _bytes(res["extra"]["final_table"]),
                 "results_checked": checked, "empty_results": empty,
                 "wrong_results": wrong[:20]}


def _bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs
               if not f.startswith((".", "_")))


def _norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    if isinstance(v, (date, datetime)):
        return v.isoformat()
    return str(v)


def _sort_key(row):
    return tuple((0, 0.0, "") if v is None else
                 (1, round(v, 4), "") if isinstance(v, float) else (2, 0.0, str(v))
                 for v in row)


def _canon(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=_sort_key)


def _same(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def report_sql(sql, report):
    """DuckDB form of Reports.groupSum / Reports.valueCounts over `sql`."""
    if report[0] == "group_sum":
        return (f"SELECT {report[1]}, CAST(SUM(CAST({report[2]} AS DECIMAL(18,4))) AS DOUBLE) "
                f"FROM ({sql}) t GROUP BY {report[1]}")
    return f"SELECT {report[1]} AS value, COUNT(*) AS n FROM ({sql}) t GROUP BY {report[1]}"


# ---------------------------------------------------------------- crawl_delta

def _components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_crawl(res, expect):
    """Corpus preparation dropped the planted copies and contamination and
    kept everything else; each increment's planted pairs were found; the
    advanced index equals a rebuild over standing ∪ increments; the folded
    labels equal connected components over every pair found."""
    extra = res["extra"]
    n = extra["increments_done"]
    con = duckdb.connect()
    kept = set(r[0] for r in con.execute(
        f"SELECT doc_id FROM {_pq(extra['prepared'])}").fetchall())
    prepare_ok = not (kept & set(expect["must_drop"])) and kept == set(expect["must_keep"])
    bad, found_total, planted_total = set(), 0, 0
    all_pairs = list(con.execute(
        f"SELECT id_a, id_b FROM {_pq(os.path.join(extra['pairs'], 'p0'))}").fetchall())
    for i in range(n):
        found = set(con.execute(
            f"SELECT id_a, id_b FROM {_pq(os.path.join(extra['pairs'], f'p{i + 1}'))}").fetchall())
        all_pairs.extend(found)
        planted = set(tuple(p) for p in expect["planted"][i])
        hit = len(planted & found)
        found_total += hit
        planted_total += len(planted)
        if hit < len(planted):
            bad.add(i)
    index_ok = True
    for part in ("groups", "bands", "shingles", "fps"):
        a = _pq(os.path.join(extra["index"], part))
        b = _pq(os.path.join(extra["index_rebuilt"], part))
        diff = con.execute(f"SELECT COUNT(*) FROM ((SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}) "
                           f"UNION ALL (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))").fetchone()[0]
        index_ok &= diff == 0
    meta = [con.execute(f"SELECT max_id FROM {_pq(os.path.join(d, 'meta'))}").fetchone()[0]
            for d in (extra["index"], extra["index_rebuilt"])]
    index_ok &= meta[0] == meta[1]
    labels = dict(con.execute(f"SELECT id, cluster_id FROM {_pq(extra['map'])}").fetchall())
    cc_ok = labels == _components(all_pairs)
    if not (index_ok and cc_ok and prepare_ok):
        bad = set(range(len(res["ops"])))
    return bad, {"prepare_ok": prepare_ok, "prepared_docs": len(kept),
                 "expected_kept": len(expect["must_keep"]),
                 "pair_recall": found_total / planted_total if planted_total else 1.0,
                 "planted_pairs": planted_total, "index_identity": index_ok,
                 "labels_identity": cc_ok, "labelled_nodes": len(labels)}
