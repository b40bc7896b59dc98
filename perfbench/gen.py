"""Seeded input generator: TPC-H-shaped tables and a text corpus, written as
parquet under <work>/stage/<table>/ by DuckDB.

Every value is a hash of (row key, salt, seed), so one seed gives the same
rows on any machine with the same DuckDB; the JVM and the result checks
both read these files.
"""
import os

import duckdb

from plan import CPUS

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
           ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
           ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
           ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
           ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
           ("UNITED STATES", 1)]


def _lst(values):
    return "[" + ",".join("'" + v + "'" for v in values) + "]"


class Gen:
    def __init__(self, work, seed):
        self.stage = os.path.join(work, "stage")
        self.seed = seed
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={CPUS}")

    def h(self, key, salt):
        """Non-negative BIGINT hash of (key, salt, seed)."""
        return f"(hash({key}, {salt}, {self.seed}) % 9223372036854775807)::BIGINT"

    def pick(self, key, salt, values):
        return f"{_lst(values)}[({self.h(key, salt)} % {len(values)}) + 1]"

    def order_date(self, key):
        return f"(DATE '1992-01-01' + ({self.h(key, 4)} % 2406)::INTEGER)"

    def write(self, name, select, parts=1, part_key=None):
        d = os.path.join(self.stage, name)
        os.makedirs(d)
        if parts == 1:
            self.con.execute(f"COPY ({select}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
            return
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE t AS {select}")
        for p in range(parts):
            self.con.execute(f"COPY (SELECT * EXCLUDE ({part_key}) FROM t WHERE {part_key} = {p}) "
                             f"TO '{d}/part-{p:02d}.parquet' (FORMAT PARQUET)")

    def orders_sql(self, n, customers):
        k = "k"
        return f"""SELECT k AS o_orderkey,
            {self.h(k, 1)} % {customers} + 1 AS o_custkey,
            {self.pick(k, 2, ['F', 'O', 'P'])} AS o_orderstatus,
            round(({self.h(k, 3)} % 50000000 + 90000) / 100.0, 2) AS o_totalprice,
            {self.order_date(k)} AS o_orderdate,
            {self.pick(k, 5, PRIORITIES)} AS o_orderpriority
            FROM range(1, {n + 1}) t(k)"""

    def tpch(self, orders, customers, suppliers):
        """lineitem (four items per order), orders, customer, supplier,
        nation and region."""
        i, k = "i", "k"
        qty = f"({self.h(i, 12)} % 50 + 1)::DOUBLE"
        self.write("lineitem", f"""SELECT i // 4 + 1 AS l_orderkey,
            {self.h(i, 10)} % 20000 + 1 AS l_partkey,
            {self.h(i, 11)} % {suppliers} + 1 AS l_suppkey,
            (i % 4 + 1)::INTEGER AS l_linenumber,
            {qty} AS l_quantity,
            round({qty} * ({self.h(i, 13)} % 100000 + 90000) / 100.0, 2) AS l_extendedprice,
            ({self.h(i, 14)} % 11) / 100.0 AS l_discount,
            ({self.h(i, 15)} % 9) / 100.0 AS l_tax,
            {self.pick(i, 16, ['R', 'A', 'N'])} AS l_returnflag,
            {self.pick(i, 17, ['O', 'F'])} AS l_linestatus,
            {self.order_date('(i // 4 + 1)')} + ({self.h(i, 18)} % 121 + 1)::INTEGER AS l_shipdate
            FROM range(0, {orders * 4}) t(i)""")
        self.write("orders", self.orders_sql(orders, customers))
        self.write("customer", f"""SELECT k AS c_custkey, 'Customer#' || k AS c_name,
            ({self.h(k, 20)} % 25)::INTEGER AS c_nationkey,
            round(({self.h(k, 21)} % 1100000 - 100000) / 100.0, 2) AS c_acctbal,
            {self.pick(k, 22, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}
              AS c_mktsegment
            FROM range(1, {customers + 1}) t(k)""")
        self.write("supplier", f"""SELECT k AS s_suppkey, 'Supplier#' || k AS s_name,
            ({self.h(k, 30)} % 25)::INTEGER AS s_nationkey,
            round(({self.h(k, 31)} % 1100000 - 100000) / 100.0, 2) AS s_acctbal
            FROM range(1, {suppliers + 1}) t(k)""")
        nations = ",".join(f"({j}, '{n}', {r})" for j, (n, r) in enumerate(NATIONS))
        self.write("nation", f"""SELECT n::INTEGER AS n_nationkey, name AS n_name,
            r::INTEGER AS n_regionkey FROM (VALUES {nations}) v(n, name, r)""")
        regions = ",".join(f"({j}, '{n}')" for j, n in enumerate(REGIONS))
        self.write("region", f"""SELECT n::INTEGER AS r_regionkey, name AS r_name
            FROM (VALUES {regions}) v(n, name)""")

    def orders_replicated(self, name, orders, customers, reps, shift):
        """`orders` repeated `reps` times, keys shifted by `shift` per replica."""
        self.write(name, f"""SELECT o_orderkey + r * {shift} AS o_orderkey, o_custkey,
            o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM ({self.orders_sql(orders, customers)}) CROSS JOIN range(0, {reps}) t(r)""")

    def documents(self, base, copies, files):
        """`base` distinct texts, each repeated `copies` times (as crawl
        duplicates are), in `files` files of consecutive doc ids. One
        document in ten is a near duplicate of its predecessor: the same
        words with every 29th replaced, so its 3-shingle Jaccard similarity
        to it stays above 0.7."""
        syl = ["ka", "lo", "mi", "ten", "ra", "su", "vo", "pe", "di", "an"]
        words = ",".join(f"({w}, '{syl[w % 10] + syl[w // 10 % 10] + syl[w // 100 % 10]}')"
                         for w in range(1000))
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE vocab AS "
                         f"SELECT * FROM (VALUES {words}) v(w, word)")
        per_file = base * copies // files
        self.write("documents", f"""
            WITH d AS (SELECT id, CASE WHEN id % 10 = 9 THEN id - 1 ELSE id END AS src,
                              id % 10 = 9 AS near FROM range(0, {base}) t(id)),
            p AS (SELECT id, src, near, p FROM d,
                  LATERAL (SELECT unnest(range(1, ({self.h('src', 40)} % 30 + 31)::BIGINT)) AS p)),
            w AS (SELECT id, string_agg(word, ' ' ORDER BY p) AS text
                  FROM p JOIN vocab ON vocab.w = (hash(src, 41, {self.seed},
                      CASE WHEN near AND p % 29 = 0 THEN p + 100000 ELSE p END) % 1000)::INTEGER
                  GROUP BY id)
            SELECT c * {base} + id + 1 AS doc_id, text, 'en' AS lang,
                   {self.pick('id', 42, ['web', 'books', 'code', 'news'])} AS source,
                   length(text)::BIGINT AS n_chars,
                   (c * {base} + id) // {per_file} AS part
            FROM w CROSS JOIN range(0, {copies}) t(c)""", parts=files, part_key="part")
