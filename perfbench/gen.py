"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, sizes): the same seed writes
byte-identical inputs. Each returns an `expect` dict that the checker
(`oracle.py`) uses and an `stats` dict that is recorded in the result.
"""

import json
import os
import random
import zipfile
from datetime import date, timedelta
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- xlsx writer

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '{sheets}'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    '</Types>')
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    '</Relationships>')


def _col_letters(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, sheets):
    """Write a minimal but standard .xlsx: `sheets` is a list of
    (name, rows) with rows[0] the header. Strings go through the shared
    string table; ints and floats are numeric cells."""
    shared, index = [], {}

    def sid(s):
        if s not in index:
            index[s] = len(shared)
            shared.append(s)
        return index[s]

    parts = []
    for name, rows in sheets:
        out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
               '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>']
        for r, row in enumerate(rows, start=1):
            out.append(f'<row r="{r}">')
            for c, v in enumerate(row):
                if v is None:
                    continue
                ref = f"{_col_letters(c)}{r}"
                if isinstance(v, str):
                    out.append(f'<c r="{ref}" t="s"><v>{sid(v)}</v></c>')
                else:
                    out.append(f'<c r="{ref}"><v>{v}</v></c>')
            out.append("</row>")
        out.append("</sheetData></worksheet>")
        parts.append("".join(out))
    wb = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
          '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>']
    rels = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">']
    overrides = []
    for i, (name, _) in enumerate(sheets, start=1):
        wb.append(f'<sheet name="{escape(name)}" sheetId="{i}" r:id="rId{i}"/>')
        rels.append(f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/'
                    f'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i}.xml"/>')
        overrides.append(f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType="application/'
                         f'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>')
    wb.append("</sheets></workbook>")
    rels.append("</Relationships>")
    sst = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           f'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
           f'count="{len(shared)}" uniqueCount="{len(shared)}">']
    sst.extend(f"<si><t>{escape(s)}</t></si>" for s in shared)
    sst.append("</sst>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        # fixed timestamps keep the archive byte-identical per seed
        def put(name, text):
            z.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)), text,
                       zipfile.ZIP_DEFLATED)
        put("[Content_Types].xml", _CONTENT_TYPES.format(sheets="".join(overrides)))
        put("_rels/.rels", _ROOT_RELS)
        put("xl/workbook.xml", "".join(wb))
        put("xl/_rels/workbook.xml.rels", "".join(rels))
        put("xl/sharedStrings.xml", "".join(sst))
        for i, part in enumerate(parts, start=1):
            put(f"xl/worksheets/sheet{i}.xml", part)


# ------------------------------------------------------------------ integrate

REGIONS = ["North", "South", "East", "West", "Central"]


def gen_integrate(out, seed, cycles, import_rows, update_rows):
    """Per cycle: an import workbook (sheet 'orders' + a decoy sheet) and
    an update workbook keyed on 'Order ID'. Keys are dense and grow across
    cycles; updates hit keys anywhere in the table as it stands at that
    cycle, so the whole table is rewritten on every update."""
    rng = random.Random(seed * 7919 + 1)
    os.makedirs(out, exist_ok=True)
    customers = [f"Customer {rng.randrange(10**6):06d}" for _ in range(400)]
    d0 = date(2021, 1, 1)
    header = ["Order ID", "Customer", "Region", "Quantity", "Unit Price",
              "Order Date", "Notes", "Internal Memo"]
    upd_header = ["Order ID", "Quantity", "Unit Price"]
    files, nbytes, cells, next_id = [], 0, 0, 1
    for c in range(cycles):
        rows = [header]
        for _ in range(import_rows):
            price_cents = rng.randrange(100, 500000)
            rows.append([
                next_id, rng.choice(customers), rng.choice(REGIONS),
                rng.randrange(1, 100), f"{price_cents // 100}.{price_cents % 100:02d}",
                (d0 + timedelta(days=rng.randrange(1200))).isoformat(),
                "" if rng.random() < 0.3 else f"note {rng.randrange(1000)}",
                f"memo {rng.randrange(10**5)}"])
            next_id += 1
        cells += len(rows) * len(header)
        imp = os.path.join(out, f"import_{c:03d}.xlsx")
        write_xlsx(imp, [("orders", rows), ("readme", [["about"], ["generated"]])])
        keys = rng.sample(range(1, next_id), min(update_rows, next_id - 1))
        upd = [upd_header]
        for k in keys:
            price_cents = rng.randrange(100, 500000)
            upd.append([k, rng.randrange(1, 100),
                        f"{price_cents // 100}.{price_cents % 100:02d}"])
        cells += len(upd) * len(upd_header)
        up = os.path.join(out, f"update_{c:03d}.xlsx")
        write_xlsx(up, [("changes", upd)])
        nbytes += os.path.getsize(imp) + os.path.getsize(up)
        files.append({"import": imp, "update": up})
    manifest = {"cycles": files, "import_rows": import_rows,
                "update_rows": update_rows}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    stats = {"cycles_available": cycles, "import_rows_per_cycle": import_rows,
             "update_rows_per_cycle": update_rows, "input_bytes": nbytes,
             "input_cells": cells}
    return manifest, stats


def integrate_expected(seed, cycles_done, import_rows, update_rows):
    """Replay the generator's stream and return the final table rows
    (order_id -> row) after `cycles_done` import + update cycles."""
    rng = random.Random(seed * 7919 + 1)
    customers = [f"Customer {rng.randrange(10**6):06d}" for _ in range(400)]
    d0 = date(2021, 1, 1)
    table, next_id = {}, 1
    for _ in range(cycles_done):
        for _ in range(import_rows):
            price_cents = rng.randrange(100, 500000)
            cust, region = rng.choice(customers), rng.choice(REGIONS)
            qty = rng.randrange(1, 100)
            day = (d0 + timedelta(days=rng.randrange(1200))).isoformat()
            note = "" if rng.random() < 0.3 else f"note {rng.randrange(1000)}"
            rng.randrange(10**5)
            table[next_id] = [next_id, cust, region, qty, price_cents, day,
                              note or None]
            next_id += 1
        keys = rng.sample(range(1, next_id), min(update_rows, next_id - 1))
        for k in keys:
            price_cents = rng.randrange(100, 500000)
            table[k][3] = rng.randrange(1, 100)
            table[k][4] = price_cents
    return table


# ------------------------------------------------ SQL over registered tables

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]


def gen_tables(out, seed, n_orders):
    """TPC-H-shaped tables (region, nation, customer, supplier, part,
    orders, lineitem) as single parquet files, the layout
    `Tables.registerAll` reads."""
    rs = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = n_orders // 10, max(50, n_orders // 150), n_orders // 8

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def money(n, lo, hi):
        return np.round(rs.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION{i:02d}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999, 9999),
        "c_mktsegment": np.array(SEGMENTS)[rs.integers(0, 5, n_cust)].tolist()})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rs.integers(0, 20, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999, 9999)})
    write("part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": [f"Brand#{b}" for b in rs.integers(11, 56, n_part)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])[
            rs.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rs.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": money(n_part, 900, 2000)})
    # some customers never order (left/anti joins have work to do)
    o_cust = rs.integers(1, int(n_cust * 0.8) + 1, n_orders)
    base = np.datetime64("1992-01-01")
    o_date = base + rs.integers(0, 365 * 7, n_orders).astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rs.choice(3, n_orders, p=[0.49, 0.49, 0.02])].tolist(),
        "o_totalprice": money(n_orders, 800, 500000),
        "o_orderdate": pa.array(o_date, pa.date32()),
        "o_orderpriority": np.array(PRIORITIES)[rs.integers(0, 5, n_orders)].tolist()})
    per = rs.integers(1, 8, n_orders)
    n_li = int(per.sum())
    l_order = np.repeat(np.arange(1, n_orders + 1), per)
    l_line = np.concatenate([np.arange(1, p + 1) for p in per])
    l_ship = np.repeat(o_date, per) + rs.integers(1, 122, n_li).astype("timedelta64[D]")
    qty = rs.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rs.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rs.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rs.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rs.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rs.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rs.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rs.integers(0, 2, n_li)].tolist(),
        "l_shipdate": pa.array(l_ship, pa.date32())})
    rows = {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
            "part": n_part, "orders": n_orders, "lineitem": n_li}
    nbytes = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
    return rows, nbytes


# Each template: (name, sql with {placeholders}, literal domains, report)
# report = None | ("group_sum", x, y) | ("value_counts", x): the Reports-tab
# aggregation applied to this statement's result as a follow-up op.
SQL_TEMPLATES = [
    ("revenue_by_nation",
     "SELECT n.n_name, COUNT(*) AS n_lines, "
     "SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
     "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
     "JOIN customer c ON o.o_custkey = c.c_custkey "
     "JOIN nation n ON c.c_nationkey = n.n_nationkey "
     "WHERE YEAR(o.o_orderdate) = {year} GROUP BY n.n_name "
     "HAVING COUNT(*) > {min_lines} ORDER BY revenue DESC, n.n_name",
     {"year": list(range(1992, 1999)), "min_lines": [10, 50, 100]},
     ("group_sum", "n_name", "revenue")),
    ("idle_customers",
     "SELECT c.c_mktsegment, COUNT(*) AS idle FROM customer c "
     "LEFT JOIN orders o ON c.c_custkey = o.o_custkey "
     "WHERE o.o_orderkey IS NULL AND c.c_acctbal > {bal} "
     "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
     {"bal": [-500, 0, 1000, 5000]}, ("value_counts", "c_mktsegment")),
    ("nation_supply_outer",
     "SELECT COALESCE(a.nk, b.nk) AS nation, a.n_cust, b.n_supp FROM "
     "(SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer "
     "WHERE c_mktsegment = '{segment}' GROUP BY c_nationkey) a "
     "FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier "
     "GROUP BY s_nationkey) b ON a.nk = b.nk ORDER BY nation",
     {"segment": SEGMENTS}, None),
    ("monthly_orders",
     "SELECT YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS m, COUNT(*) AS n, "
     "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total FROM orders "
     "WHERE o_orderstatus = '{status}' AND YEAR(o_orderdate) BETWEEN {year} AND {year} + 1 "
     "GROUP BY YEAR(o_orderdate), MONTH(o_orderdate) ORDER BY y, m",
     {"status": ["F", "O"], "year": list(range(1992, 1998))},
     ("group_sum", "m", "total")),
    ("flag_status_distinct",
     "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem "
     "WHERE l_shipdate < DATE '{day}' ORDER BY l_returnflag, l_linestatus",
     {"day": ["1992-03-01", "1994-06-01", "1996-01-15", "1998-08-01"]}, None),
    ("priority_in",
     "SELECT o_orderpriority, COUNT(*) AS n, AVG(o_totalprice) AS avg_price FROM orders "
     "WHERE o_orderpriority IN ('{p1}', '{p2}') AND o_orderdate >= DATE '{year}-01-01' "
     "AND MONTH(o_orderdate) IN ({m}, {m} + 6) GROUP BY o_orderpriority ORDER BY o_orderpriority",
     {"p1": PRIORITIES[:3], "p2": PRIORITIES[3:], "year": list(range(1992, 1998)),
      "m": list(range(1, 7))},
     ("value_counts", "o_orderpriority")),
    ("top_orders_page",
     "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
     "WHERE o_orderstatus = '{status}' ORDER BY o_totalprice DESC, o_orderkey "
     "LIMIT {limit} OFFSET {offset}",
     {"status": ["F", "O"], "limit": [10, 25, 50], "offset": [0, 20, 100]}, None),
    ("richest_per_nation",
     "SELECT n_name, c_name, c_acctbal, rk FROM (SELECT n.n_name, c.c_name, c.c_acctbal, "
     "ROW_NUMBER() OVER (PARTITION BY c.c_nationkey ORDER BY c.c_acctbal DESC, c.c_custkey) AS rk "
     "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
     "WHERE c.c_mktsegment = '{segment}') t WHERE rk <= {k} ORDER BY n_name, rk "
     "LIMIT {limit} OFFSET {offset}",
     {"segment": SEGMENTS, "k": [1, 3], "limit": [10, 20], "offset": [0, 5]}, None),
    ("running_revenue",
     "SELECT m, rev, SUM(rev) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running "
     "FROM (SELECT MONTH(l_shipdate) AS m, "
     "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev FROM lineitem "
     "WHERE YEAR(l_shipdate) = {year} AND l_returnflag = '{flag}' "
     "GROUP BY MONTH(l_shipdate)) t ORDER BY m",
     {"year": list(range(1993, 1998)), "flag": ["A", "N", "R"]}, None),
    ("segment_revenue_3way",
     "SELECT c.c_mktsegment, COUNT(DISTINCT o.o_orderkey) AS orders, "
     "SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS qty FROM customer c "
     "JOIN orders o ON c.c_custkey = o.o_custkey JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
     "WHERE o.o_orderdate BETWEEN DATE '{year}-01-01' AND DATE '{year}-06-30' "
     "AND l.l_discount >= {disc} GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
     {"year": list(range(1992, 1998)), "disc": [0.0, 0.05, 0.08]},
     ("group_sum", "c_mktsegment", "qty")),
    ("big_buyers_in",
     "SELECT c_nationkey, COUNT(*) AS n FROM customer WHERE c_custkey IN "
     "(SELECT o_custkey FROM orders WHERE o_totalprice > {price}) "
     "AND NOT c_mktsegment = '{segment}' GROUP BY c_nationkey ORDER BY c_nationkey",
     {"price": [300000, 400000, 450000], "segment": SEGMENTS}, None),
    ("part_brand_stats",
     "SELECT p.p_brand, COUNT(DISTINCT l.l_suppkey) AS suppliers, AVG(l.l_quantity) AS avg_qty "
     "FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey "
     "WHERE p.p_size BETWEEN {lo} AND {lo} + 5 AND p.p_type = '{ptype}' "
     "GROUP BY p.p_brand HAVING COUNT(*) >= 2 ORDER BY suppliers DESC, p.p_brand LIMIT 20",
     {"lo": [1, 10, 20, 30, 40], "ptype": ["STANDARD", "SMALL", "PROMO"]}, None),
]

# The order the integrate steps run templates and saved queries in. A
# 10 s run reaches the first six or so, so those cover the keyword
# surface: inner, left and full outer joins, GROUP BY/HAVING, ORDER BY/
# LIMIT/OFFSET, a window, a saved query with COUNT(DISTINCT), IN,
# YEAR/MONTH, and both report kinds.
ROTATION = ["revenue_by_nation", "idle_customers", "nation_supply_outer", "richest_per_nation",
            "saved_status_mix", "priority_in", "flag_status_distinct", "top_orders_page",
            "monthly_orders", "segment_revenue_3way", "running_revenue", "big_buyers_in",
            "part_brand_stats", "saved_returns"]

# queries stored in the saved-query registry and run by name
SAVED = {"saved_status_mix":
         "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS buyers "
         "FROM orders GROUP BY o_orderstatus, o_orderpriority "
         "ORDER BY o_orderstatus, o_orderpriority",
         "saved_returns":
         "SELECT l_returnflag, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty, COUNT(*) AS n "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"}


def gen_sql_steps(seed, steps, per_step):
    """The statements each integrate step runs after its cycle: `per_step`
    entries of (templates + saved queries) in a fixed rotation, with
    seeded literals, so every run covers the same keyword mix in the same
    order whatever the seed. Returns (steps, exact-repeat share)."""
    rng = random.Random(seed * 104729 + 3)
    by_name = {t[0]: ("sql",) + t for t in SQL_TEMPLATES}
    by_name.update({name: ("saved", name, sql, {}, None) for name, sql in SAVED.items()})
    entries = [by_name[n] for n in ROTATION]
    out, seen, repeats, k = [], set(), 0, 0
    for _ in range(steps):
        step = []
        for _ in range(per_step):
            kind, name, tmpl, domains, report = entries[k % len(entries)]
            k += 1
            sql = tmpl.format(**{d: rng.choice(v) for d, v in sorted(domains.items())})
            repeats += sql in seen
            seen.add(sql)
            step.append({"kind": kind, "name": name, "sql": sql,
                         "report": list(report) if report else []})
        out.append(step)
    return out, repeats / k


# -------------------------------------------------------------------- corpora

def _vocab(rng, n, alphabet="abcdefghijklmnoprstuvw", lo=3, hi=9):
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(alphabet) for _ in range(rng.randrange(lo, hi))))
    return sorted(words)


class TextSource:
    """Zipf draws over a random vocabulary: distinct words grow
    sub-linearly with corpus size (Heaps' law), as in real text."""

    def __init__(self, seed, vocab=6000, zipf_s=1.1):
        rng = random.Random(seed * 31 + 11)
        self.words = _vocab(rng, vocab)
        rng.shuffle(self.words)
        w = 1.0 / np.arange(1, vocab + 1) ** zipf_s
        self.p = w / w.sum()
        self.rs = np.random.default_rng(seed * 17 + 5)

    def doc(self, n_words):
        idx = self.rs.choice(len(self.words), n_words, p=self.p)
        words = [self.words[i] for i in idx]
        # sentence case and periods: real prose, not a token stream
        out, start = [], True
        for i, w in enumerate(words):
            out.append(w.capitalize() if start else w)
            start = (i % 13 == 12)
            if start:
                out[-1] += "."
        return " ".join(out)

    def _other(self, w):
        while True:
            r = self.words[int(self.rs.integers(0, len(self.words)))]
            if r.lower() != w.lower().strip("."):
                return r

    def near_dup(self, text, edits=2):
        """`edits` adjacent words replaced: word 3-shingle Jaccard
        (n - 2 - (edits + 2)) / (n - 2 + edits + 2), about 0.87 for 2
        edits in 60 words."""
        words = text.split(" ")
        at = int(self.rs.integers(1, len(words) - edits))
        for i in range(at, at + edits):
            words[i] = self._other(words[i])
        return " ".join(words)

    def related(self, text):
        """7% of the words (at least 4) replaced at least 3 apart, so each
        edit changes 3 shingles: Jaccard about 0.65."""
        words = text.split(" ")
        edits = max(4, len(words) * 7 // 100)
        slot = (len(words) - 2) // edits
        for e in range(edits):
            i = 1 + e * slot + int(self.rs.integers(0, slot - 2))
            words[i] = self._other(words[i])
        return " ".join(words)


def jaccard(a, b, k=3):
    """Word k-shingle Jaccard over graft's normalization (lower-case,
    whitespace collapsed), the similarity the dedup operators verify."""
    def sh(t):
        w = " ".join(t.lower().split()).split(" ")
        return {tuple(w[i:i + k]) for i in range(len(w) - k + 1)}
    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y)


def _write_docs(path, ids, texts):
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path)


def gen_crawl(out, seed, n_base, increments, inc_docs, warmups, words=(60, 140)):
    """A raw standing crawl, a benchmark (eval) set, and ordered crawl
    increments with fresh ids, all with structure known by construction.

    The raw crawl carries exact duplicates (re-cased and re-spaced
    copies), near duplicates (2-word edits, clusters of at most three
    docs), boilerplate carriers (a unique body plus a footer shared by 8
    docs), a contamination slice (docs embedding a 12-word span of a
    benchmark text, whose vocabulary is disjoint from the crawl's) and
    related pairs (7% of words edited: Jaccard about 0.65, below the
    pipeline's near-dup cut, above the incremental pair threshold).
    Corpus preparation must drop the first two kinds' extra copies and
    the contaminated docs and keep everything else. Each increment
    re-crawls kept docs exactly and with 2-word edits, adds near-dup
    pairs of its own, and fills up with new text; those are its planted
    pairs."""
    os.makedirs(out, exist_ok=True)
    ts = TextSource(seed)
    rng = random.Random(seed * 13 + 7)
    bench_vocab = _vocab(rng, 400, alphabet="qxyzjk", lo=5, hi=10)
    bench = [" ".join(rng.choice(bench_vocab) for _ in range(40)) for _ in range(20)]
    texts = {i: ts.doc(rng.randrange(*words)) for i in range(1, n_base + 1)}
    order = list(range(1, n_base + 1))
    rng.shuffle(order)
    k = n_base // 12
    exact_src, near_src = order[:k], order[k:2 * k]
    carriers, contaminated = order[2 * k:3 * k], order[3 * k:3 * k + k // 2]
    related_src, untouched = order[3 * k + k // 2:4 * k], order[4 * k:]
    next_id = n_base + 1
    exact_copies, near_copies, related = [], [], []

    def add(t):
        nonlocal next_id
        texts[next_id] = t
        next_id += 1
        return next_id - 1

    for i in exact_src:
        for _ in range(rng.randrange(1, 3)):
            t = texts[i]
            exact_copies.append(add(t.upper() if rng.random() < 0.5 else t.replace(" ", "  ", 3)))
    def variant(src, make, lo, hi):
        # redraw until the pair sits clear of the thresholds it must meet
        while True:
            t = make(src)
            if lo <= jaccard(src, t) <= hi:
                return t

    for i in near_src:
        for _ in range(rng.randrange(1, 3)):
            near_copies.append(add(variant(texts[i], ts.near_dup, 0.84, 1.0)))
    for i in related_src:
        related.append((i, add(variant(texts[i], ts.related, 0.55, 0.75))))
    footers = [ts.doc(24) for _ in range(len(carriers) // 8 + 1)]
    for j, i in enumerate(carriers):
        texts[i] = texts[i] + " " + footers[j // 8]
    for i in contaminated:
        b = bench[rng.randrange(len(bench))].split(" ")
        at = rng.randrange(0, len(b) - 12)
        w = texts[i].split(" ")
        cut = rng.randrange(5, len(w) - 5)
        texts[i] = " ".join(w[:cut] + b[at:at + 12] + w[cut:])
    # row order shuffled so planted copies are not adjacent on disk
    ids = sorted(texts)
    rng.shuffle(ids)
    _write_docs(os.path.join(out, "raw.parquet"), ids, [texts[i] for i in ids])
    pq.write_table(pa.table({"text": bench}), os.path.join(out, "benchmark.parquet"))
    must_drop = sorted(exact_copies + near_copies + contaminated)
    must_keep = sorted(untouched + exact_src + near_src + carriers + related_src
                       + [j for _, j in related])

    pool = list(untouched)
    rng.shuffle(pool)
    planted, inc_files = [], []
    for n in range(increments + warmups):
        inc, pairs = [], []
        for _ in range(inc_docs // 10):  # exact re-crawls
            src = pool.pop()
            inc.append((next_id, texts[src])); pairs.append((src, next_id)); next_id += 1
        for _ in range(inc_docs // 10):  # edited re-crawls
            src = pool.pop()
            inc.append((next_id, ts.near_dup(texts[src]))); pairs.append((src, next_id))
            next_id += 1
        for _ in range(inc_docs // 20):  # near-dup pairs inside the increment
            t = ts.doc(rng.randrange(*words))
            inc += [(next_id, t), (next_id + 1, ts.near_dup(t))]
            pairs.append((next_id, next_id + 1))
            next_id += 2
        while len(inc) < inc_docs:
            inc.append((next_id, ts.doc(rng.randrange(*words)))); next_id += 1
        path = os.path.join(out, f"inc_{n:03d}.parquet" if n < increments
                            else f"warmup_{n - increments}.parquet")
        _write_docs(path, [i for i, _ in inc], [t for _, t in inc])
        inc_files.append(path)
        planted.append(pairs)
    distinct = len(set(w.lower().strip(".") for t in texts.values() for w in t.split()))
    # `warmups` more increments of the same make are the set-up's warm-up
    expect = {"must_drop": must_drop, "must_keep": must_keep,
              "increments": inc_files[:increments], "warmup": inc_files[increments:],
              "planted": planted[:increments]}
    stats = {"raw_docs": len(texts), "raw_bytes": sum(len(t) for t in texts.values()),
             "vocab_distinct": distinct, "exact_copies": len(exact_copies),
             "near_copies": len(near_copies), "boilerplate_carriers": len(carriers),
             "contaminated": len(contaminated), "related_pairs": len(related),
             "benchmark_texts": len(bench), "standing_docs": len(must_keep),
             "increments": increments, "increment_docs": inc_docs,
             "planted_pairs_per_increment": len(planted[0])}
    return expect, stats
