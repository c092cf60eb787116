"""The nine parameterised read templates of the interactive workload.

Each template is a Cypher query and its DuckDB twin over the same
parquet tables. Literals (anchors, thresholds, pages) are drawn from
the workload seed, so query shapes repeat while literals vary; every
template is drawn once per cycle, in a seeded order, so every seed
sends the same mix.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable


@dataclass(frozen=True)
class Template:
    name: str
    cypher: str
    sql: str
    draw: Callable[[random.Random, int], dict]


def _anchor(rng: random.Random, n_cust: int) -> dict:
    return {"k": rng.randrange(n_cust)}


def _window(rng: random.Random, n_cust: int) -> dict:
    k = rng.randrange(n_cust - 60)
    return {"k": k, "k_end": k + 50}


TEMPLATES = [
    Template(
        "point_1hop",
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
           WHERE c.c_custkey = {k}
           RETURN o.o_orderkey AS ok, o.o_totalprice AS price,
                  o.o_orderstatus AS status""",
        """SELECT o_orderkey AS ok, o_totalprice AS price,
                  o_orderstatus AS status
           FROM orders WHERE o_custkey = {k}""",
        _anchor),
    Template(
        "chain_3hop",
        """MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_LINE]->(l:Lineitem)
                 -[:OF_PART]->(p:Part)
           WHERE c.c_custkey = {k}
           RETURN o.o_orderkey AS ok, p.p_name AS part, l.l_quantity AS qty""",
        """SELECT o.o_orderkey AS ok, p.p_name AS part, l.l_quantity AS qty
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           JOIN part p ON p.p_partkey = l.l_partkey
           WHERE o.o_custkey = {k}""",
        _anchor),
    Template(
        "region_agg",
        """MATCH (c:Customer)-[:CUST_IN]->(n:Nation)-[:IN_REGION]->(r:Region)
           WHERE c.c_acctbal > {bal}
           RETURN r.r_name AS region, count(*) AS n,
                  avg(c.c_acctbal) AS avg_bal""",
        """SELECT r.r_name AS region, count(*) AS n,
                  avg(c.c_acctbal) AS avg_bal
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE c.c_acctbal > {bal} GROUP BY r.r_name""",
        lambda rng, n: {"bal": rng.randrange(-500, 9000)}),
    Template(
        "topk_page",
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
           WHERE o.o_orderpriority = '{prio}'
           RETURN c.c_custkey AS ck, count(*) AS n,
                  sum(o.o_totalprice) AS total
           ORDER BY total DESC, ck ASC SKIP {skip} LIMIT 20""",
        """SELECT o_custkey AS ck, count(*) AS n, sum(o_totalprice) AS total
           FROM orders WHERE o_orderpriority = '{prio}'
           GROUP BY o_custkey ORDER BY total DESC, ck ASC
           LIMIT 20 OFFSET {skip}""",
        lambda rng, n: {"prio": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"]),
                        "skip": rng.randrange(0, 200, 20)}),
    Template(
        "with_having",
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
           WHERE c.c_mktsegment = '{seg}'
           WITH c.c_custkey AS ck, count(*) AS n
           WHERE n >= {min_n} RETURN ck, n""",
        """SELECT c.c_custkey AS ck, count(*) AS n
           FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
           WHERE c.c_mktsegment = '{seg}'
           GROUP BY c.c_custkey HAVING count(*) >= {min_n}""",
        lambda rng, n: {"seg": rng.choice(["AUTOMOBILE", "BUILDING",
                                           "FURNITURE", "HOUSEHOLD",
                                           "MACHINERY"]),
                        "min_n": rng.randrange(8, 15)}),
    Template(
        "optional_wide",
        """MATCH (c:Customer) WHERE c.c_nationkey >= {nk}
           OPTIONAL MATCH (c)-[:PLACED]->(o:Order)
           WHERE o.o_totalprice > {price}
           RETURN c.c_custkey AS ck, c.c_name AS name, c.c_acctbal AS bal,
                  c.c_mktsegment AS seg, o.o_orderkey AS ok,
                  o.o_totalprice AS price, o.o_orderstatus AS status""",
        """SELECT c.c_custkey AS ck, c.c_name AS name, c.c_acctbal AS bal,
                  c.c_mktsegment AS seg, o.o_orderkey AS ok,
                  o.o_totalprice AS price, o.o_orderstatus AS status
           FROM customer c
           LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > {price}) o
             ON o.o_custkey = c.c_custkey
           WHERE c.c_nationkey >= {nk}""",
        lambda rng, n: {"nk": rng.randrange(0, 8),
                        "price": rng.randrange(300_000, 400_000)}),
    Template(
        "qpp_2to3",
        """MATCH (a:Customer) ((x)-[:NEXT_CUST]->(y)){{2,3}} (b:Customer)
           WHERE a.c_custkey >= {k} AND a.c_custkey < {k_end}
           RETURN a.c_custkey AS src, b.c_custkey AS dst""",
        """SELECT a.c_custkey AS src, b.c_custkey AS dst
           FROM customer a JOIN customer b
             ON b.c_custkey - a.c_custkey IN (2, 3)
           WHERE a.c_custkey >= {k} AND a.c_custkey < {k_end}""",
        _window),
    Template(
        "shortest_path",
        """MATCH p = shortestPath((a:Customer)-[:NEXT_CUST*..3]->(b:Customer))
           WHERE a.c_custkey >= {k} AND a.c_custkey < {k_end}
           RETURN a.c_custkey AS src, b.c_custkey AS dst, length(p) AS dist""",
        """SELECT a.c_custkey AS src, b.c_custkey AS dst,
                  b.c_custkey - a.c_custkey AS dist
           FROM customer a JOIN customer b
             ON b.c_custkey - a.c_custkey IN (1, 2, 3)
           WHERE a.c_custkey >= {k} AND a.c_custkey < {k_end}""",
        _window),
    Template(
        "call_subquery",
        """MATCH (c:Customer) WHERE c.c_custkey = {k}
           CALL {{ WITH c
                  MATCH (c)-[:PLACED]->(o:Order)-[:HAS_LINE]->(l:Lineitem)
                  RETURN count(*) AS lines,
                         sum(l.l_extendedprice) AS value }}
           RETURN c.c_custkey AS ck, lines, value""",
        """SELECT {k} AS ck, count(l.l_orderkey) AS lines,
                  sum(l.l_extendedprice) AS value
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           WHERE o.o_custkey = {k}""",
        _anchor),
]

BY_NAME = {t.name: t for t in TEMPLATES}


@dataclass(frozen=True)
class Request:
    rid: int
    template: str
    params: dict

    @property
    def cypher(self) -> str:
        return BY_NAME[self.template].cypher.format(**self.params)

    @property
    def sql(self) -> str:
        return BY_NAME[self.template].sql.format(**self.params)


def request_stream(seed: int, n_cust: int):
    """Endless seeded request sequence: cycles of all nine templates,
    each cycle in its own seeded order with fresh literals."""
    rng = random.Random(seed)
    rid = 0
    while True:
        order = [t.name for t in TEMPLATES]
        rng.shuffle(order)
        for name in order:
            yield Request(rid, name, BY_NAME[name].draw(rng, n_cust))
            rid += 1


def canon_rows(rows: list[dict]) -> list[tuple]:
    """Order-free canonical form of result rows (as in
    tools/check_entry.canon): columns sorted by name, numbers compared
    as floats rounded to 6 places, rows sorted."""
    out = []
    for row in rows:
        vals = []
        for key in sorted(row):
            v = row[key]
            if isinstance(v, bool) or v is None or isinstance(v, str):
                vals.append(v)
            elif isinstance(v, (int, float)) or hasattr(v, "as_integer_ratio"):
                f = float(v)
                vals.append("NaN" if f != f else round(f, 6))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out, key=repr)
