"""Seeded request generators for the three workloads.

A request is a dict the JVM harness executes (`op` picks the engine entry
point) plus the DuckDB SQL that must produce the same rows (`sql`), or the
name of a registry row whose oracle SQL the engine ships. Requests are
dealt in decks: every deck holds each template of the workload once (the
cypher_mixed deck holds its write templates once too), shuffled by the
seed, so any seed exercises the same mix and only the order and the
literal values change.
"""
import random

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# Scales of the generated tables (datagen.py). The graph tables stay small:
# Cypher and algorithm requests are bound by per-query and per-job
# overhead, and their build/action split barely moves at 5x this size.
# The pipeline tables are 25x larger, where their scan, shuffle and
# codegen work shows in task time (SCALE_CHECK.md).
SCALE = 0.002
PIPELINE_SCALE = 0.05
N_CUSTOMERS = int(150_000 * SCALE)


def _range(rnd, width):
    lo = rnd.randrange(N_CUSTOMERS - width)
    return lo, lo + width


# --------------------------------------------------------------------------
# cypher_mixed: reads
# --------------------------------------------------------------------------

def r_scan_filter(rnd):
    seg, bal = rnd.choice(SEGMENTS), rnd.randrange(0, 9000)
    return dict(op="cypher",
        q=f"MATCH (c:Customer) WHERE c.c_mktsegment = '{seg}' AND c.c_acctbal > {bal}.0 "
          "RETURN c.c_custkey AS ck, c.c_name AS name, c.c_acctbal AS bal",
        sql=f"SELECT c_custkey AS ck, c_name AS name, c_acctbal AS bal FROM customer "
            f"WHERE c_mktsegment = '{seg}' AND c_acctbal > {bal}.0")


def r_expand_1hop(rnd):
    nk, price = rnd.randrange(25), rnd.randrange(100_000, 450_000)
    return dict(op="cypher",
        q=f"MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_nationkey = {nk} "
          f"AND o.o_totalprice > {price}.0 "
          "RETURN c.c_custkey AS ck, o.o_orderkey AS ok, o.o_totalprice AS price",
        sql=f"SELECT c_custkey AS ck, o_orderkey AS ok, o_totalprice AS price "
            f"FROM customer JOIN orders ON o_custkey = c_custkey "
            f"WHERE c_nationkey = {nk} AND o_totalprice > {price}.0")


def r_expand_2hop_agg(rnd):
    rk, seg = rnd.randrange(5), rnd.choice(SEGMENTS)
    return dict(op="cypher",
        q="MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) "
          f"WHERE r.r_regionkey = {rk} AND c.c_mktsegment = '{seg}' "
          "RETURN n.n_name AS nation, count(*) AS n, avg(c.c_acctbal) AS avg_bal",
        sql="SELECT n_name AS nation, count(*) AS n, avg(c_acctbal) AS avg_bal "
            "FROM customer JOIN nation ON n_nationkey = c_nationkey "
            "JOIN region ON r_regionkey = n_regionkey "
            f"WHERE r_regionkey = {rk} AND c_mktsegment = '{seg}' GROUP BY n_name")


def r_expand_3hop(rnd):
    lo, hi = _range(rnd, 20)
    return dict(op="cypher",
        q="MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_ITEM]->(l:LineItem) "
          f"WHERE c.c_custkey >= {lo} AND c.c_custkey < {hi} "
          "RETURN c.c_custkey AS ck, count(*) AS items, sum(l.l_quantity) AS qty",
        sql="SELECT c_custkey AS ck, count(*) AS items, sum(l_quantity) AS qty "
            "FROM customer JOIN orders ON o_custkey = c_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            f"WHERE c_custkey >= {lo} AND c_custkey < {hi} GROUP BY c_custkey")


def r_agg_lineitem(rnd):
    flag, disc = rnd.choice("ANR"), rnd.randrange(11) / 100
    return dict(op="cypher",
        q=f"MATCH (l:LineItem) WHERE l.l_returnflag = '{flag}' AND l.l_discount >= {disc} "
          "RETURN l.l_linestatus AS st, count(*) AS cnt, sum(l.l_quantity) AS qty, "
          "avg(l.l_extendedprice) AS avg_price, max(l.l_tax) AS max_tax",
        sql="SELECT l_linestatus AS st, count(*) AS cnt, sum(l_quantity) AS qty, "
            "avg(l_extendedprice) AS avg_price, max(l_tax) AS max_tax FROM lineitem "
            f"WHERE l_returnflag = '{flag}' AND l_discount >= {disc} GROUP BY l_linestatus")


def r_optional(rnd):
    lo, hi = _range(rnd, 50)
    price = rnd.randrange(200_000, 480_000)
    return dict(op="cypher",
        q=f"MATCH (c:Customer) WHERE c.c_custkey >= {lo} AND c.c_custkey < {hi} "
          f"OPTIONAL MATCH (c)-[:PLACED]->(o:Order) WHERE o.o_totalprice > {price}.0 "
          "RETURN c.c_custkey AS ck, o.o_orderkey AS ok",
        sql="SELECT c_custkey AS ck, o_orderkey AS ok FROM customer "
            f"LEFT JOIN orders ON o_custkey = c_custkey AND o_totalprice > {price}.0 "
            f"WHERE c_custkey >= {lo} AND c_custkey < {hi}")


def r_exists(rnd):
    size = rnd.randrange(1, 51)
    return dict(op="cypher",
        q=f"MATCH (p:Part) WHERE p.p_size = {size} AND (p)<-[:OF_PART]-(:LineItem) "
          "RETURN p.p_partkey AS pk",
        sql=f"SELECT p_partkey AS pk FROM part WHERE p_size = {size} "
            "AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)")


def r_count_subquery(rnd):
    k = rnd.randrange(2, 8)
    return dict(op="cypher",
        q="MATCH (n:Nation) WHERE COUNT { MATCH (s:Supplier)-[:FROM_NATION]->(n) "
          f"RETURN s }} >= {k} RETURN n.n_name AS nn",
        sql="SELECT n_name AS nn FROM nation WHERE "
            f"(SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) >= {k}")


def r_varlength(rnd):
    lo, hi = _range(rnd, 10)
    where = f"c_custkey >= {lo} AND c_custkey < {hi}"
    return dict(op="cypher",
        q=f"MATCH (c:Customer)-[*1..2]->(x) WHERE c.c_custkey >= {lo} AND c.c_custkey < {hi} "
          "RETURN c.c_custkey AS ck, count(*) AS paths",
        sql="SELECT c_custkey AS ck, count(*) AS paths FROM ("
            f"SELECT c_custkey FROM customer JOIN orders ON o_custkey = c_custkey WHERE {where} "
            f"UNION ALL SELECT c_custkey FROM customer WHERE {where} "
            "UNION ALL SELECT c_custkey FROM customer JOIN orders ON o_custkey = c_custkey "
            f"JOIN lineitem ON l_orderkey = o_orderkey WHERE {where} "
            "UNION ALL SELECT c_custkey FROM customer JOIN nation ON n_nationkey = c_nationkey "
            f"JOIN region ON r_regionkey = n_regionkey WHERE {where}) p GROUP BY c_custkey")


def r_shortest_path(rnd):
    lo, hi = _range(rnd, 40)
    return dict(op="cypher",
        q="MATCH p = shortestPath((c:Customer)-[*1..3]->(r:Region)) "
          f"WHERE c.c_custkey >= {lo} AND c.c_custkey < {hi} "
          "RETURN c.c_custkey AS ck, r.r_name AS rn, length(p) AS l",
        sql="SELECT c_custkey AS ck, r_name AS rn, 2 AS l FROM customer "
            "JOIN nation ON n_nationkey = c_nationkey JOIN region ON r_regionkey = n_regionkey "
            f"WHERE c_custkey >= {lo} AND c_custkey < {hi}")


def r_union(rnd):
    nk = rnd.randrange(25)
    return dict(op="cypher",
        q=f"MATCH (c:Customer) WHERE c.c_nationkey = {nk} RETURN c.c_mktsegment AS v "
          f"UNION MATCH (s:Supplier) WHERE s.s_nationkey = {nk} RETURN s.s_name AS v",
        sql=f"SELECT c_mktsegment AS v FROM customer WHERE c_nationkey = {nk} "
            f"UNION SELECT s_name AS v FROM supplier WHERE s_nationkey = {nk}")


def r_call_subquery(rnd):
    lo, hi = _range(rnd, 100)
    price = rnd.randrange(100_000, 450_000)
    return dict(op="cypher",
        q=f"MATCH (c:Customer) WHERE c.c_custkey >= {lo} AND c.c_custkey < {hi} "
          "CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) "
          f"WHERE o.o_totalprice > {price}.0 RETURN count(*) AS big }} "
          "RETURN c.c_custkey AS ck, big",
        sql="SELECT c_custkey AS ck, (SELECT count(*) FROM orders "
            f"WHERE o_custkey = c_custkey AND o_totalprice > {price}.0) AS big "
            f"FROM customer WHERE c_custkey >= {lo} AND c_custkey < {hi}")


def r_strings(rnd):
    nk, start, ch = rnd.randrange(25), rnd.randrange(0, 10), rnd.choice("#@*")
    return dict(op="cypher",
        q=f"MATCH (c:Customer) WHERE c.c_nationkey = {nk} "
          f"RETURN c.c_custkey AS ck, toLower(c.c_mktsegment) AS lo, "
          f"substring(c.c_name, {start}, 4) AS sub, size(c.c_name) AS len, "
          f"replace(c.c_mktsegment, 'E', '{ch}') AS rep",
        sql=f"SELECT c_custkey AS ck, lower(c_mktsegment) AS lo, "
            f"substring(c_name, {start + 1}, 4) AS sub, length(c_name) AS len, "
            f"replace(c_mktsegment, 'E', '{ch}') AS rep FROM customer WHERE c_nationkey = {nk}")


def r_lists(rnd):
    k, m = rnd.randrange(10, 60), rnd.randrange(2, 10)
    return dict(op="cypher",
        q=f"MATCH (s:Supplier) WHERE s.s_suppkey < {k} "
          f"RETURN s.s_suppkey AS sk, [x IN range(0, s.s_nationkey % 4) | x * {m}] AS xs, "
          "size([x IN range(1, s.s_nationkey) WHERE x % 3 = 0]) AS n3",
        sql=f"SELECT s_suppkey AS sk, list_transform(range(0, s_nationkey % 4 + 1), x -> x * {m}) AS xs, "
            "len(list_filter(range(1, s_nationkey + 1), x -> x % 3 = 0)) AS n3 "
            f"FROM supplier WHERE s_suppkey < {k}")


def r_temporal(rnd):
    y = rnd.randrange(1995, 2001)
    return dict(op="cypher",
        q=f"MATCH (o:Order) WHERE o.o_orderdate >= localdatetime('{y}-01-01 00:00:00') "
          f"AND o.o_orderdate < localdatetime('{y + 1}-01-01 00:00:00') "
          "RETURN o.o_orderdate.month AS m, count(*) AS n",
        sql="SELECT month(o_orderdate) AS m, count(*) AS n FROM orders "
            f"WHERE o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
            f"AND o_orderdate < TIMESTAMP '{y + 1}-01-01 00:00:00' GROUP BY 1")


def r_orderby_limit(rnd):
    nk, n = rnd.randrange(25), rnd.randrange(3, 20)
    return dict(op="cypher",
        q=f"MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_nationkey = {nk} "
          f"RETURN o.o_orderkey AS ok, o.o_totalprice AS price ORDER BY price DESC, ok LIMIT {n}",
        sql="SELECT o_orderkey AS ok, o_totalprice AS price FROM customer "
            f"JOIN orders ON o_custkey = c_custkey WHERE c_nationkey = {nk} "
            f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {n}")


def r_distinct_agg(rnd):
    prio = rnd.choice(PRIORITIES)
    return dict(op="cypher",
        q=f"MATCH (o:Order) WHERE o.o_orderpriority = '{prio}' "
          "RETURN o.o_orderstatus AS st, count(DISTINCT o.o_custkey) AS custs, "
          "min(o.o_totalprice) AS lo, max(o.o_totalprice) AS hi",
        sql="SELECT o_orderstatus AS st, count(DISTINCT o_custkey) AS custs, "
            "min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders "
            f"WHERE o_orderpriority = '{prio}' GROUP BY o_orderstatus")


def r_with_having(rnd):
    nk, total = rnd.randrange(25), rnd.randrange(1_000_000, 4_000_000)
    return dict(op="cypher",
        q=f"MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_nationkey = {nk} "
          f"WITH c.c_custkey AS ck, sum(o.o_totalprice) AS total WHERE total > {total}.0 "
          "RETURN ck, total",
        sql="SELECT c_custkey AS ck, sum(o_totalprice) AS total FROM customer "
            f"JOIN orders ON o_custkey = c_custkey WHERE c_nationkey = {nk} "
            f"GROUP BY c_custkey HAVING sum(o_totalprice) > {total}.0")


# --------------------------------------------------------------------------
# cypher_mixed: writes, each followed by a read of the derived graph
# --------------------------------------------------------------------------

def w_create(rnd):
    k, c = rnd.randrange(5), rnd.randrange(1, 1000)
    return dict(op="update",
        w=f"MATCH (r:Region) WHERE r.r_regionkey <= {k} "
          f"CREATE (m:Marker {{rname: r.r_name, ln: r.r_regionkey + {c}}})",
        q="MATCH (m:Marker) RETURN m.rname AS rname, m.ln AS ln",
        sql=f"SELECT r_name AS rname, r_regionkey + {c} AS ln FROM region WHERE r_regionkey <= {k}")


def w_set(rnd):
    bal = rnd.randrange(-900, 2000)
    return dict(op="update",
        w=f"MATCH (c:Customer) WHERE c.c_acctbal < {bal}.0 SET c.flagged = true",
        q="MATCH (c:Customer) WHERE c.flagged RETURN c.c_mktsegment AS seg, count(*) AS n",
        sql=f"SELECT c_mktsegment AS seg, count(*) AS n FROM customer "
            f"WHERE c_acctbal < {bal}.0 GROUP BY 1")


def w_delete(rnd):
    price, nk = rnd.randrange(20_000, 400_000), rnd.randrange(25)
    return dict(op="update",
        w=f"MATCH (:Customer)-[r:PLACED]->(o:Order) WHERE o.o_totalprice < {price}.0 DELETE r",
        q=f"MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_nationkey = {nk} RETURN count(*) AS n",
        sql="SELECT count(*) AS n FROM customer JOIN orders ON o_custkey = c_custkey "
            f"WHERE c_nationkey = {nk} AND o_totalprice >= {price}.0")


def w_merge(rnd):
    lo, hi = _range(rnd, 4)
    return dict(op="update",
        w=f"MATCH (c:Customer) WHERE c.c_custkey >= {lo} AND c.c_custkey < {hi} "
          "MERGE (m:Segment {name: c.c_mktsegment})",
        q="MATCH (m:Segment) RETURN m.name AS name",
        sql="SELECT DISTINCT c_mktsegment AS name FROM customer "
            f"WHERE c_custkey >= {lo} AND c_custkey < {hi}")


def w_construct(rnd):
    rk = rnd.randrange(5)
    return dict(op="construct",
        w="MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
          f"WHERE n.n_regionkey = {rk} CONSTRUCT NEW (c)-[:LIVES_IN]->(n) RETURN GRAPH",
        q="MATCH (p:Customer)-[:LIVES_IN]->(n:Nation) RETURN n.n_name AS nation, count(*) AS n",
        sql="SELECT n_name AS nation, count(*) AS n FROM customer "
            f"JOIN nation ON n_nationkey = c_nationkey WHERE n_regionkey = {rk} GROUP BY 1")


READS = [r_scan_filter, r_expand_1hop, r_expand_2hop_agg, r_expand_3hop,
         r_agg_lineitem, r_optional, r_exists, r_count_subquery, r_varlength,
         r_shortest_path, r_union, r_call_subquery, r_strings, r_lists,
         r_temporal, r_orderby_limit, r_distinct_agg, r_with_having]
WRITES = [w_create, w_set, w_delete, w_merge, w_construct]


# --------------------------------------------------------------------------
# algo_iterative: one GraphAlgorithms call per request. The SQL unrolls the
# same recurrences as the engine's registry oracles, with the seeded
# parameters substituted. Iteration counts are fixed per algorithm; the seed
# picks sources, relationship types and graph subsets, which change what is
# computed but hardly how much.
# --------------------------------------------------------------------------

SEP = ",\n  "
GEO = ["IN_REGION", "FROM_NATION"]
GEO_PLACED = GEO + ["PLACED"]

_NODES = """nodes AS (
  SELECT 'r' || CAST(r_regionkey AS VARCHAR) AS id FROM region
  UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR) FROM nation
  UNION ALL SELECT 'c' || CAST(c_custkey AS VARCHAR) FROM customer
  UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR) FROM supplier
  UNION ALL SELECT 'o' || CAST(o_orderkey AS VARCHAR) FROM orders
  UNION ALL SELECT 'l' || CAST(row_number() OVER () AS VARCHAR) FROM lineitem
  UNION ALL SELECT 'p' || CAST(p_partkey AS VARCHAR) FROM part)"""

_EDGE_SQL = {
    "IN_REGION": ["SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS src, "
                  "'r' || CAST(n_regionkey AS VARCHAR) AS dst FROM nation"],
    "FROM_NATION": ["SELECT 'c' || CAST(c_custkey AS VARCHAR), "
                    "'n' || CAST(c_nationkey AS VARCHAR) FROM customer",
                    "SELECT 's' || CAST(s_suppkey AS VARCHAR), "
                    "'n' || CAST(s_nationkey AS VARCHAR) FROM supplier"],
    "PLACED": ["SELECT 'c' || CAST(o_custkey AS VARCHAR), "
               "'o' || CAST(o_orderkey AS VARCHAR) FROM orders"],
}



def _pairs(mod, rem, name="e0"):
    """The co-order part-pair graph over the orders with orderkey % mod = rem."""
    return f"""lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
    FROM lineitem WHERE l_orderkey % {mod} = {rem}),
  {name} AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
    FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p)"""


def _edges(rel_types):
    parts = [s for t in rel_types for s in _EDGE_SQL[t]]
    return "edges AS (" + "\n  UNION ALL ".join(parts) + ")"


def pagerank_sql(iterations, rel_types):
    rounds = []
    for k in range(1, iterations + 1):
        p = f"r{k - 1}"
        rounds.append(f"""c{k} AS (SELECT e.dst AS id, sum({p}.rank / g.d) AS contrib
    FROM edges e JOIN deg g ON e.src = g.src JOIN {p} ON {p}.id = e.src GROUP BY e.dst),
  m{k} AS (SELECT (nn.n - coalesce((SELECT sum(contrib) FROM c{k}), 0)) / nn.n AS miss FROM nn),
  r{k} AS (SELECT nodes.id, 0.15 + 0.85 * (coalesce(c{k}.contrib, 0) + m{k}.miss) AS rank
    FROM nodes LEFT JOIN c{k} ON nodes.id = c{k}.id CROSS JOIN m{k})""")
    return f"""WITH {_NODES}, {_edges(rel_types)},
  deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
  nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
  r0 AS (SELECT id, 1.0 AS rank FROM nodes),
  {SEP.join(rounds)}
SELECT round(rank, 5) AS rank, count(*) AS n FROM r{iterations} GROUP BY 1"""


def ppr_sql(seed_below, iterations, rel_types):
    rounds = []
    for j in range(1, iterations + 1):
        p = f"r{j - 1}"
        rounds.append(f"""c{j} AS (SELECT e.dst AS id, sum({p}.rank / g.d) AS contrib
    FROM edges e JOIN deg g ON e.src = g.src JOIN {p} ON {p}.id = e.src GROUP BY e.dst),
  m{j} AS (SELECT 1 - coalesce((SELECT sum(contrib) FROM c{j}), 0) AS miss),
  r{j} AS (SELECT base.id, 0.15 * base.p + 0.85 * (coalesce(c{j}.contrib, 0) + m{j}.miss * base.p) AS rank
    FROM base LEFT JOIN c{j} ON base.id = c{j}.id CROSS JOIN m{j})""")
    return f"""WITH {_edges(rel_types)},
  seeds AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) AS id FROM customer WHERE c_custkey < {seed_below}),
  kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM seeds),
  w AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
    UNION ALL SELECT id FROM seeds)),
  base AS (SELECT w.id, CASE WHEN s.id IS NULL THEN 0 ELSE 1 / kk.k END AS p
    FROM w LEFT JOIN seeds s ON w.id = s.id CROSS JOIN kk),
  deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
  r0 AS (SELECT id, p AS rank FROM base),
  {SEP.join(rounds)}
SELECT round(rank, 5) AS rank, count(*) AS n FROM r{iterations} WHERE rank > 0 GROUP BY 1"""


_SSSP_EDGES = {
    "IN_REGION": ["SELECT 'n' || n_nationkey AS src, 'r' || n_regionkey AS dst, 1.0 AS w FROM nation"],
    "FROM_NATION": ["SELECT 'c' || c_custkey, 'n' || c_nationkey, 2.0 FROM customer",
                    "SELECT 's' || s_suppkey, 'n' || s_nationkey, 2.0 FROM supplier"],
    "PLACED": ["SELECT 'c' || o_custkey, 'o' || o_orderkey, 3.0 FROM orders"],
}


def sssp_sql(region, rel_types):
    e0 = "\n    UNION ALL ".join(s for t in rel_types for s in _SSSP_EDGES[t])
    return f"""WITH RECURSIVE
  e0 AS ({e0}),
  und AS (SELECT src, dst, CAST(w AS DOUBLE) AS w FROM e0
    UNION ALL SELECT dst, src, CAST(w AS DOUBLE) FROM e0),
  walk(node, d) AS (
    SELECT 'r{region}', CAST(0 AS DOUBLE)
    UNION
    SELECT u.dst, walk.d + u.w FROM walk JOIN und u ON u.src = walk.node
    WHERE walk.d + u.w < 30.0)
SELECT CAST(d AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n
FROM (SELECT node, min(d) AS d FROM walk GROUP BY node) t GROUP BY 1"""


def components_sql(rel_types):
    if rel_types == GEO:
        members = """SELECT r_regionkey AS rk FROM region
    UNION ALL SELECT n_regionkey FROM nation
    UNION ALL SELECT n_regionkey FROM customer JOIN nation ON n_nationkey = c_nationkey
    UNION ALL SELECT n_regionkey FROM supplier JOIN nation ON n_nationkey = s_nationkey"""
        singles = "(SELECT count(*) FROM orders) + (SELECT count(*) FROM lineitem) + (SELECT count(*) FROM part)"
    else:  # IN_REGION only: each region with its nations
        members = """SELECT r_regionkey AS rk FROM region
    UNION ALL SELECT n_regionkey FROM nation"""
        singles = ("(SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier) + "
                   "(SELECT count(*) FROM orders) + (SELECT count(*) FROM lineitem) + "
                   "(SELECT count(*) FROM part)")
    return f"""WITH members AS ({members}),
  comp AS (SELECT rk, count(*) AS sz FROM members GROUP BY rk),
  singles AS (SELECT {singles} AS n1)
SELECT sz, CAST(count(*) AS BIGINT) AS n_components FROM comp GROUP BY sz
UNION ALL SELECT CAST(1 AS BIGINT) AS sz, n1 AS n_components FROM singles"""


def kcore_sql(k, mod, rem, rounds=10):
    steps = []
    for j in range(1, rounds + 1):
        p = f"e{j - 1}"
        steps.append(f"""d{j} AS MATERIALIZED (SELECT id, count(*) AS d FROM (
      SELECT a AS id FROM {p} UNION ALL SELECT b FROM {p}) GROUP BY 1),
  e{j} AS MATERIALIZED (SELECT e.a, e.b FROM {p} e
      JOIN d{j} da ON da.id = e.a JOIN d{j} db ON db.id = e.b
      WHERE da.d >= {k} AND db.d >= {k})""")
    return f"""WITH {_pairs(mod, rem)},
  {SEP.join(steps)},
  deg AS (SELECT id, count(*) AS degree FROM (
    SELECT a AS id FROM e{rounds} UNION ALL SELECT b FROM e{rounds}) GROUP BY 1)
SELECT degree, count(*) AS n FROM deg GROUP BY 1"""


def labelprop_sql(iterations):
    steps = []
    for j in range(1, iterations + 1):
        p = f"l{j - 1}"
        steps.append(f"""c{j} AS MATERIALIZED (SELECT s.u AS id, l.label, count(*) AS cnt
      FROM sym s JOIN {p} l ON l.id = s.v GROUP BY 1, 2),
  l{j} AS MATERIALIZED (SELECT id, label FROM (
      SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label) AS rn
      FROM c{j}) WHERE rn = 1)""")
    last = f"l{iterations}"
    return f"""WITH edges AS (
    SELECT 100000000 + n_nationkey AS u, 0 + n_regionkey AS v FROM nation
    UNION ALL SELECT 200000000 + c_custkey, 100000000 + c_nationkey FROM customer
    UNION ALL SELECT 300000000 + s_suppkey, 100000000 + s_nationkey FROM supplier),
  sym AS (SELECT DISTINCT u, v FROM (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges)),
  l0 AS (SELECT DISTINCT u AS id, u AS label FROM sym),
  {SEP.join(steps)},
  allnodes AS (
    SELECT 0 + r_regionkey AS id FROM region
    UNION ALL SELECT 100000000 + n_nationkey FROM nation
    UNION ALL SELECT 200000000 + c_custkey FROM customer
    UNION ALL SELECT 300000000 + s_suppkey FROM supplier
    UNION ALL SELECT 400000000 + p_partkey FROM part
    UNION ALL SELECT 500000000 + o_orderkey FROM orders
    UNION ALL SELECT 600000000 + row_number() OVER () FROM lineitem),
  sizes AS (SELECT label, count(*) AS sz FROM {last} GROUP BY 1),
  iso AS (SELECT id FROM allnodes WHERE id NOT IN (SELECT id FROM {last}))
SELECT sz, count(*) AS n_communities FROM (
  SELECT sz FROM sizes UNION ALL SELECT 1 AS sz FROM iso) GROUP BY 1"""


def hits_sql(iterations):
    steps = ["h0f AS (SELECT id, 1::HUGEINT AS hub FROM nodes)"]
    for k in range(1, iterations + 1):
        steps.append(f"""a{k} AS (SELECT e.dst AS id, sum(h{k - 1}f.hub) AS auth
      FROM edges e JOIN h{k - 1}f ON h{k - 1}f.id = e.src GROUP BY 1),
  a{k}f AS (SELECT nodes.id, coalesce(a{k}.auth, 0) AS auth FROM nodes LEFT JOIN a{k} USING (id)),
  h{k} AS (SELECT e.src AS id, sum(a{k}f.auth) AS hub
      FROM edges e JOIN a{k}f ON a{k}f.id = e.dst GROUP BY 1),
  h{k}f AS (SELECT nodes.id, coalesce(h{k}.hub, 0) AS hub FROM nodes LEFT JOIN h{k} USING (id))""")
    n = iterations
    return f"""WITH nodes AS (
    SELECT 'r' || CAST(r_regionkey AS VARCHAR) AS id FROM region
    UNION ALL SELECT 'n' || CAST(n_nationkey AS VARCHAR) FROM nation
    UNION ALL SELECT 'c' || CAST(c_custkey AS VARCHAR) FROM customer
    UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR) FROM supplier
    UNION ALL SELECT 'o' || CAST(o_orderkey AS VARCHAR) FROM orders),
  {_edges(GEO_PLACED)},
  {SEP.join(steps)}
SELECT CAST(h{n}f.hub AS BIGINT) AS hub, CAST(a{n}f.auth AS BIGINT) AS auth, count(*) AS n
FROM h{n}f JOIN a{n}f USING (id) GROUP BY 1, 2"""


def louvain_sql(sweeps, mod, rem):
    steps = []
    for s in range(1, sweeps + 1):
        p = f"comm{s - 1}"
        steps.append(f"""ctot{s} AS (SELECT c, sum(k) AS tot FROM {p} JOIN strength USING (id) GROUP BY c),
  mv{s} AS (SELECT id AS u, c AS oc FROM {p} WHERE (id + {s}) % 2 = 0),
  nbr{s} AS (SELECT sym.u, m.oc, c2.c AS nc, sum(sym.w) AS kin
    FROM sym JOIN mv{s} m ON sym.u = m.u JOIN {p} c2 ON sym.v = c2.id GROUP BY 1, 2, 3),
  cand{s} AS (SELECT u, oc, nc, max(kin) AS kin FROM (
      SELECT u, oc, nc, kin FROM nbr{s}
      UNION ALL SELECT u, oc, oc AS nc, 0.0 AS kin FROM mv{s}) GROUP BY 1, 2, 3),
  sc{s} AS (SELECT cd.u, cd.nc,
      cd.kin - (1.0 * st.k) * (ct.tot - CASE WHEN cd.nc = cd.oc THEN st.k ELSE 0.0 END) / (SELECT m2 FROM m2t) AS score
    FROM cand{s} cd JOIN strength st ON st.id = cd.u JOIN ctot{s} ct ON ct.c = cd.nc),
  best{s} AS (SELECT u AS id, nc AS newc FROM (
      SELECT u, nc, row_number() OVER (PARTITION BY u ORDER BY score DESC, nc) AS rk
      FROM sc{s}) WHERE rk = 1),
  comm{s} AS (SELECT p.id, coalesce(b.newc, p.c) AS c FROM {p} p LEFT JOIN best{s} b ON b.id = p.id)""")
    return f"""WITH {_pairs(mod, rem, "e")},
  sym AS (SELECT a AS u, b AS v, 1.0 AS w FROM e UNION ALL SELECT b, a, 1.0 FROM e),
  strength AS (SELECT u AS id, CAST(sum(w) AS DOUBLE) AS k FROM sym GROUP BY u),
  m2t AS (SELECT sum(k) AS m2 FROM strength),
  comm0 AS (SELECT id, id AS c FROM strength),
  {SEP.join(steps)}
SELECT sz, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT c, CAST(count(*) AS BIGINT) AS sz FROM comm{sweeps} GROUP BY c) GROUP BY sz"""


def toposort_sql(rel_types):
    """Levels of the customer/supplier -> nation -> region DAG, plus
    customer -> order when PLACED is included; edge-less nodes sit at 0."""
    order_level = 1 if "PLACED" in rel_types else 0
    return f"""WITH nl AS (SELECT n_regionkey AS rk,
      CASE WHEN n_nationkey IN (SELECT c_nationkey FROM customer)
             OR n_nationkey IN (SELECT s_nationkey FROM supplier) THEN 1 ELSE 0 END AS lvl
    FROM nation),
  lvl AS (
    SELECT 0 AS level FROM customer
    UNION ALL SELECT 0 FROM supplier
    UNION ALL SELECT 0 FROM part
    UNION ALL SELECT 0 FROM lineitem
    UNION ALL SELECT {order_level} FROM orders
    UNION ALL SELECT lvl FROM nl
    UNION ALL SELECT 1 + coalesce((SELECT max(lvl) FROM nl WHERE nl.rk = r_regionkey), -1)
      FROM region)
SELECT CAST(level AS BIGINT) AS level, count(*) AS n FROM lvl GROUP BY 1"""


def triangles_sql(mod, rem):
    return f"""WITH {_pairs(mod, rem, "e")}
SELECT CAST(count(*) AS BIGINT) AS triangles
FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b"""


def _algo(name, sql, **params):
    return dict(op="algo", algo=name, params=params, sql=sql)


def a_pagerank(rnd):
    rel = rnd.choice([GEO, GEO_PLACED])
    return _algo("pagerank", pagerank_sql(2, rel), iterations=2, rel_types=rel)


def a_ppr(rnd):
    below = rnd.randrange(2, 40)
    return _algo("ppr", ppr_sql(below, 2, GEO_PLACED),
                 seed_below=below, iterations=2, rel_types=GEO_PLACED)


def _subset(rnd):
    """A seeded quarter of the orders for the part-pair graph algorithms."""
    return 4, rnd.randrange(4)


def a_sssp(rnd):
    region, rel = rnd.randrange(5), rnd.choice([GEO, GEO_PLACED])
    return _algo("sssp", sssp_sql(region, rel), region=region, rel_types=rel)


def a_components(rnd):
    rel = rnd.choice([GEO, ["IN_REGION"]])
    return _algo("components", components_sql(rel), rel_types=rel)


def a_kcore(rnd):
    mod, rem = _subset(rnd)
    return _algo("kcore", kcore_sql(3, mod, rem), k=3, mod=mod, rem=rem)


def a_labelprop(rnd):
    return _algo("labelprop", labelprop_sql(3), iterations=3, rel_types=GEO)


def a_toposort(rnd):
    rel = rnd.choice([GEO, GEO_PLACED])
    return _algo("toposort", toposort_sql(rel), rel_types=rel)


def a_hits(rnd):
    return _algo("hits", hits_sql(2), iterations=2, rel_types=GEO_PLACED)


def a_louvain(rnd):
    mod, rem = _subset(rnd)
    return _algo("louvain", louvain_sql(1, mod, rem), sweeps=1, mod=mod, rem=rem)


def a_triangles(rnd):
    mod, rem = _subset(rnd)
    return _algo("triangles", triangles_sql(mod, rem), mod=mod, rem=rem)


ALGOS = [a_pagerank, a_ppr, a_sssp, a_components, a_kcore, a_labelprop,
         a_toposort, a_hits, a_louvain, a_triangles]


# --------------------------------------------------------------------------
# pipeline_batch: graft.pipeline operator rows; the oracle SQL is the one
# the engine registers for the row.
# --------------------------------------------------------------------------

PIPELINE_ROWS = ["q_dedup_minhash", "q_dedup_simhash", "q_dedup_exact",
                 "q_text_bm25", "q_tfidf", "q_sim_lsh", "q_sim_ivf",
                 "q_decontaminate", "q_sample_hash", "q_sample_stratified",
                 "q_pii_scrub"]


def _pipeline(name):
    def request(rnd):
        return dict(op="pipeline", algo=name, params={}, sql=None)
    request.__name__ = "p_" + name[2:]
    return request


PIPELINE = [_pipeline(n) for n in PIPELINE_ROWS]

# cypher_pipeline is the union of cypher_mixed and pipeline_batch: one deck
# of short requests of both kinds. It is the workload the benchmark gates
# on (with algo_iterative); the two halves stay runnable on their own.
WORKLOADS = {
    "cypher_pipeline": READS + WRITES + PIPELINE,
    "algo_iterative": ALGOS,
    "cypher_mixed": READS + WRITES,
    "pipeline_batch": PIPELINE,
}


def generate(workload, seed, count, stream="measure"):
    """The first `count` requests of the workload's stream at `seed`.

    `stream` separates the warm-up requests from the measured ones, so the
    two never share literal values by construction."""
    templates = WORKLOADS[workload]
    rnd = random.Random(f"{workload}/{stream}/{seed}")
    out = []
    while len(out) < count:
        deck = list(templates)
        rnd.shuffle(deck)
        for t in deck:
            req = t(rnd)
            req["id"] = len(out)
            req["template"] = t.__name__[2:]
            out.append(req)
    return out[:count]
