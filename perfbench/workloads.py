"""Seeded statement lists for the benchmark workloads.

A statement is what the client sends: MiniGQL text plus typed `$params`
(kind "gql"), or the name of a library graph query (kind "lib"). Each
carries the DuckDB SQL that answers it over the same parquet tables, and
an `out` spec naming the frame whose rows are the answer. The seed sets
the order of the statements and every parameter value; the same seed
always gives the same list.

The gql_mix templates and their oracle SQL follow the non-call `gql_*`
inventory in src/main/scala/graft/operators/GraphOps.scala, with
constants lifted into `$params`. The call and library oracles in
oracles.json are that inventory's own SQL (gql_call_* and the g_* twins
in GraphAlgos.scala), with the bfs source made a parameter.
"""
import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

LIDS = ("WITH lids AS (SELECT *, 9999999999 + ROW_NUMBER() OVER (ORDER BY "
        "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, "
        "l_extendedprice, l_shipdate) AS lid FROM lineitem)\n")
NNEXT = """SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
       CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
            ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
FROM nation"""

BINDINGS = {"type": "bindings"}


def nodes(label, *cols):
    return {"type": "nodes", "label": label, "cols": [list(c) for c in cols]}


def edges(key, *cols):
    return {"type": "edges", "key": list(key), "cols": [[c, c] for c in cols]}


def i(v):
    return {"int": int(v)}


def s(v):
    return {"str": str(v)}


# (name, class, text, params(rng, sizes) -> {name: typed},
#  oracle(p) -> sql, out), where p maps each param to its plain value. 16 reads + 4 mutations.
MIX = [
    ("match_edge", "read",
     """match (c:customer) -[:cnation]-> (n:nation)
where n.regionkey = $r
return c, n""",
     lambda g, z: {"r": i(g.randrange(5))},
     lambda p: f"""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c,
       CAST(n_nationkey AS BIGINT) + 2000000000 AS n
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_regionkey = {p['r']}""", BINDINGS),
    ("match_2hop", "read",
     """match (s:supplier) -[:snation]-> (n:nation) -[:nregion]-> (r:region)
where r.name = $rn
return s, n, r""",
     lambda g, z: {"rn": s(g.choice(REGIONS))},
     lambda p: f"""SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s,
       CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
       CAST(r_regionkey AS BIGINT) + 1000000000 AS r
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{p['rn']}'""", BINDINGS),
    ("match_multipattern", "read",
     """match (c:customer) -[:cnation]-> (n:nation), (s:supplier) -[:snation]-> (n)
where n.regionkey = $r
return c, s, n""",
     lambda g, z: {"r": i(g.randrange(5))},
     lambda p: f"""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c,
       CAST(s_suppkey AS BIGINT) + 3000000000 AS s,
       CAST(n_nationkey AS BIGINT) + 2000000000 AS n
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN supplier ON s_nationkey = n_nationkey
WHERE n_regionkey = {p['r']}""", BINDINGS),
    ("where_arith", "read",
     """match (p:part)
where p.psize mod $m = 0 and p.psize / 3 > $t or p.psize < 3
return p""",
     lambda g, z: {"m": i(g.randint(2, 7)), "t": i(g.randint(5, 15))},
     lambda p: f"""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p FROM part
WHERE (p_size % {p['m']} = 0 AND p_size // 3 > {p['t']}) OR p_size < 3""",
     BINDINGS),
    ("where_string", "read",
     """match (c:customer)
where c.mktsegment = $seg and c.nationkey >= $k
return c""",
     lambda g, z: {"seg": s(g.choice(SEGMENTS)), "k": i(g.randrange(25))},
     lambda p: f"""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c FROM customer
WHERE c_mktsegment = '{p['seg']}' AND c_nationkey >= {p['k']}""", BINDINGS),
    ("where_bool", "read",
     """match (o:orders) -[:ocust]-> (c:customer)
where o.urgent = true and c.nationkey < $k
return o, c""",
     lambda g, z: {"k": i(g.randint(1, 6))},
     lambda p: f"""SELECT CAST(o_orderkey AS BIGINT) + 6000000000 AS o,
       CAST(c_custkey AS BIGINT) + 4000000000 AS c
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority = '1-URGENT' AND c_nationkey < {p['k']}""", BINDINGS),
    ("agg", "read",
     """match (c:customer) -[:cnation]-> (n:nation)
where n.regionkey = $r
return n, count(c)""",
     lambda g, z: {"r": i(g.randrange(5))},
     lambda p: f"""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
       count(*) AS count_c
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_regionkey = {p['r']} GROUP BY 1""", BINDINGS),
    ("agg_global", "read",
     """match (p:part)
where p.psize >= $sz
return count(p), min(p.psize), max(p.psize), sum(p.psize)""",
     lambda g, z: {"sz": i(g.randint(1, 40))},
     lambda p: f"""SELECT count(*) AS count_p,
       CAST(min(p_size) AS BIGINT) AS min_p_psize,
       CAST(max(p_size) AS BIGINT) AS max_p_psize,
       CAST(sum(p_size) AS BIGINT) AS sum_p_psize
FROM part WHERE p_size >= {p['sz']}""", BINDINGS),
    ("agg_order", "read",
     """match (c:customer) -[:cnation]-> (n:nation)
return n, count(c) order by count(c) desc, n limit $k""",
     lambda g, z: {"k": i(g.randint(3, 10))},
     lambda p: f"""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
       count(*) AS count_c
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1 ORDER BY count_c DESC, n LIMIT {p['k']}""", BINDINGS),
    ("order_skip", "read",
     """match (p:part)
return p, p.psize order by p.psize desc, p skip $off limit $k""",
     lambda g, z: {"off": i(g.randint(0, 20)), "k": i(g.randint(5, 15))},
     lambda p: f"""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p,
       CAST(p_size AS BIGINT) AS p_psize
FROM part ORDER BY p_size DESC, 1 LIMIT {p['k']} OFFSET {p['off']}""", BINDINGS),
    ("edge_props_match", "read",
     """match (l:lineitem) -[x:lpart]-> (p:part)
where x.qty >= $q and p.psize <= $sz
return l, p, x.qty""",
     lambda g, z: {"q": i(g.randint(44, 49)), "sz": i(g.randint(2, 6))},
     lambda p: LIDS + f"""SELECT lid AS l,
       CAST(l_partkey AS BIGINT) + 5000000000 AS p,
       CAST(l_quantity AS BIGINT) AS x_qty
FROM lids JOIN part ON l_partkey = p_partkey
WHERE CAST(l_quantity AS BIGINT) >= {p['q']} AND p_size <= {p['sz']}""",
     BINDINGS),
    ("optional", "read",
     """match (n:nation)
where n.regionkey = $r
optional match (n) -[:nnext]-> (m:nation)
return n, m""",
     lambda g, z: {"r": i(g.randrange(5))},
     lambda p: f"""WITH e AS ({NNEXT})
SELECT CAST(n.n_nationkey AS BIGINT) + 2000000000 AS n, e.dst AS m
FROM nation n
LEFT JOIN e ON e.src = CAST(n.n_nationkey AS BIGINT) + 2000000000
           AND e.dst IS NOT NULL
WHERE n.n_regionkey = {p['r']}""", BINDINGS),
    ("exists", "read",
     """match (s:supplier)
where exists { (s) -[:snation]-> (n:nation)
               where n.name ends with $suf }
return s""",
     lambda g, z: {"suf": s(g.randrange(10))},
     lambda p: f"""SELECT CAST(s_suppkey + 3000000000 AS BIGINT) AS s
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name LIKE '%{p['suf']}'""", BINDINGS),
    ("varpath", "read",
     """match (a:nation) -[:nnext*1..3]-> (b:nation)
where a.regionkey = $r
return a, b""",
     lambda g, z: {"r": i(g.randrange(5))},
     lambda p: f"""WITH RECURSIVE e AS ({NNEXT}),
r AS (SELECT src, dst, 1 AS d FROM e WHERE dst IS NOT NULL
      UNION ALL
      SELECT r.src, e.dst, r.d + 1
      FROM r JOIN e ON r.dst = e.src
      WHERE e.dst IS NOT NULL AND r.d < 3)
SELECT DISTINCT src AS a, dst AS b FROM r
JOIN nation ON src = CAST(n_nationkey AS BIGINT) + 2000000000
WHERE n_regionkey = {p['r']}""", BINDINGS),
    ("with_where", "read",
     """match (c:customer) -[:cnation]-> (n:nation)
with n, count(c) as cnt where cnt.val >= $m
return n, cnt.val as cnt""",
     # thresholds around the per-nation mean (customers / 25)
     lambda g, z: {"m": i(z["customer"] * g.uniform(0.85, 1.15) / 25)},
     lambda p: f"""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS cnt
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n_nationkey HAVING count(*) >= {p['m']}""", BINDINGS),
    ("count_distinct", "read",
     """match (c:customer) -[:cnation]-> (n:nation)
where c.nationkey < $k
return n.regionkey, count(distinct n), sum(distinct n.nationkey)""",
     lambda g, z: {"k": i(g.randint(5, 25))},
     lambda p: f"""SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
       count(DISTINCT n_nationkey) AS count_distinct_n,
       CAST(sum(DISTINCT n_nationkey) AS BIGINT) AS sum_distinct_n_nationkey
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_nationkey < {p['k']} GROUP BY 1""", BINDINGS),
    # --- mutations: each runs on the base graph; the answer is the
    # mutated frame (or the bindings), as in the inventory
    ("create_edge", "mutation",
     """match (n:nation)
where n.regionkey = $r
create (t:tag)
create (n) -[:tagged]-> (t)""",
     lambda g, z: {"r": i(g.randrange(5))},
     lambda p: f"""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
       20000000000 + ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS dst
FROM nation WHERE n_regionkey = {p['r']}""",
     edges(("nation", "tagged", "tag"), "src", "dst")),
    ("set", "mutation",
     "match (p:part) where p.psize < $sz set p.psize = p.psize * 100 + 7",
     lambda g, z: {"sz": i(g.randint(3, 12))},
     lambda p: f"""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p,
       CAST(CASE WHEN p_size < {p['sz']} THEN p_size * 100 + 7 ELSE p_size END AS BIGINT) AS psize
FROM part""",
     nodes("part", ("id", "p"), ("psize", "psize"))),
    ("delete_edge", "mutation",
     """match (c:customer) -[:cnation]-> (n:nation)
where n.regionkey = $r
delete c -[:cnation]-> n""",
     lambda g, z: {"r": i(g.randrange(5))},
     lambda p: f"""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS src,
       CAST(c_nationkey AS BIGINT) + 2000000000 AS dst
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_regionkey <> {p['r']}""",
     edges(("customer", "cnation", "nation"), "src", "dst")),
    ("merge_create", "mutation",
     """match (r:region)
merge (n:nation {name: $nm, regionkey: 7, nationkey: $k})
return r, n""",
     lambda g, z: {"nm": s(f"zz{g.randrange(1000)}"), "k": i(100 + g.randrange(900))},
     lambda p: """SELECT CAST(r_regionkey AS BIGINT) + 1000000000 AS r,
       20000000000 AS n
FROM region""", BINDINGS),
]

# Call procedures the session workload sends, as in the inventory
# (gql_call_cc, gql_call_bfs), and their library twins (GraphAlgos.scala).
# The bfs source is a parameter; its oracle has a ${SRC} hole for it.
CALL = {
    "cc": """call cc() yield id, comp
return comp, count(id) as n""",
    "bfs": """call bfs($src) yield id, dist
return dist, count(id) as n""",
}
LIB = {"cc": "g_connected_components", "bfs": "g_bfs"}

# Per workload: data scale factor; whether the session threads the result
# graph of each statement into the next; the nominal seconds of one round
# on a 4-core machine, which turns --seconds into a round count; and the
# untimed rounds played first. gql_mix warms up three rounds: the JIT
# compiler is still busy through the first two (on 4 vCPUs they took
# 2.4x and 1.6x as long as a later round, the third 1.15x), and a
# measured round that still carries that trend makes every figure depend
# on how fast the host compiled. A session_mutate round is part of the
# session's history, so it has none.
WORKLOADS = {
    "gql_mix": {"sf": 0.01, "threaded": False, "round_s": 7.5, "warmup_rounds": 3},
    "session_mutate": {"sf": 0.001, "threaded": True, "round_s": 15, "warmup_rounds": 0},
}


def _oracles():
    with open(os.path.join(HERE, "oracles.json")) as f:
        return json.load(f)


def _plain(params):
    return {k: next(iter(v.values())) for k, v in params.items()}


def _stmt(name, cls, text, params, out, oracle, kind="gql"):
    return {"name": name, "kind": kind, "class": cls, "text": text,
            "params": params, "out": out, "oracle": oracle}


def _template(t, params):
    name, cls, text, _, oracle, out = t
    return _stmt(name, cls, text, params, out, oracle(_plain(params)))


def _call(orc, name, src=None):
    sql = orc["gql_call_" + name]
    params = {}
    if src is not None:
        params = {"src": i(src)}
        sql = sql.replace("${SRC}", str(src))
    return _stmt("call_" + name, "call", CALL[name], params, BINDINGS, sql)


def _lib(orc, name):
    q = LIB[name]
    return _stmt(q, "lib", q, {}, BINDINGS, orc[q], kind="lib")


def _mix_rounds(rng, sizes):
    """Every round sends each of the 20 templates once, in a seeded order
    and with seeded parameters: 16 reads and 4 mutations."""
    while True:
        deck = list(MIX)
        rng.shuffle(deck)
        yield [_template(t, t[3](rng, sizes)) for t in deck]


def _session_rounds(rng, sizes):
    """Every round: create an extra cnation edge and delete it again (a new
    graph version with the base topology), call cc(), a node-only set (a
    new version that keeps the edge map), call bfs from a seeded region.
    Each call sits next to its library twin, which reads the base tables
    through Q.run; the seed picks which door goes first."""
    orc = _oracles()
    base_cnation = """SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS src,
       CAST(c_nationkey AS BIGINT) + 2000000000 AS dst FROM customer"""
    while True:
        cust = rng.randrange(sizes["customer"])
        nk = rng.randrange(25)
        sz = rng.randint(1, 50)
        pair = {"cn": s(f"Customer#{cust:09d}"), "nk": i(nk)}
        cc = [_call(orc, "cc"), _lib(orc, "cc")]
        bfs = [_call(orc, "bfs", 1000000000 + rng.randrange(5)), _lib(orc, "bfs")]
        for doors in (cc, bfs):
            if rng.random() < 0.5:
                doors.reverse()
        yield [
            _stmt("create", "mutation", """match (c:customer), (n:nation)
where c.name = $cn and n.nationkey = $nk and c.nationkey <> $nk
create (c) -[:cnation]-> (n)
return c, n""", pair, BINDINGS,
                  f"""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c,
       CAST({nk} AS BIGINT) + 2000000000 AS n
FROM customer WHERE c_custkey = {cust} AND c_nationkey <> {nk}"""),
            _stmt("delete", "mutation", """match (c:customer) -[:cnation]-> (n:nation)
where c.name = $cn and n.nationkey = $nk and c.nationkey <> $nk
delete c -[:cnation]-> n""", pair,
                  edges(("customer", "cnation", "nation"), "src", "dst"), base_cnation),
            *cc,
            _stmt("set", "mutation", """match (p:part) where p.psize = $sz
set p.psize = $sz
return count(p)""", {"sz": i(sz)}, BINDINGS,
                  f"SELECT count(*) AS count_p FROM part WHERE p_size = {sz}"),
            *bfs,
        ]


ROUNDS = {"gql_mix": _mix_rounds, "session_mutate": _session_rounds}


def generate(workload, seed, sizes, rounds):
    """The statement list for `workload` under `seed`: a fixed, cheap read
    (match_edge), so that the setup it ends is the same for every seed,
    then `rounds` rounds. `sizes` holds the table row counts the
    parameters range over."""
    rng = random.Random(f"{workload}:{seed}")
    gen = ROUNDS[workload](rng, sizes)
    stmts = [_template(MIX[0], {"r": i(0)})]
    for _ in range(rounds):
        stmts += next(gen)
    for k, st in enumerate(stmts):
        st["id"] = k
    return stmts
