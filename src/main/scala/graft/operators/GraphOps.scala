package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.sources.GraphLoader

/** The MiniGQL operator inventory (SURVEY.md §2.1-2.2) as driver-verifiable
  * queries: each runs a MiniGQL program through the full front end + Spark
  * executor over the parquet→graph projection of a testdata directory, and
  * pairs it with the equivalent ANSI SQL the DuckDB oracle runs on the raw
  * parquet tables. Node ids are deterministic functions of the source keys
  * (see GraphLoader), and fresh ids from `create` are rank-ordered over the
  * sorted binding table (the engine's create), so every result —
  * including graph mutations — is SQL-reconstructible.
  *
  * strict=false here: the loaded graph has every declared attribute set, so
  * the reference's error-on-unset-attribute path (sem.ml:148-158) cannot
  * trigger; plain NULL semantics keep attribute predicates codegen-friendly
  * and pushdown-eligible.
  */
object GraphOps {

  /** Declared MiniGQL schema of the parquet graph — the loader owns the
    * single copy (also used by the CLI `g` mode). */
  private val header: String = GraphLoader.headerGql

  private val cfg = Engine.Config(strict = false)

  /** Runs program `q` (with `$name` query `params`) against the loaded
    * graph. */
  private def exec(spark: SparkSession, dir: String, q: String,
      params: Map[String, graft.lang.Value] = Map.empty): Engine.QueryResult = {
    val (g, nextId) = GraphLoader.load(spark, dir)
    Engine.runSourceOn(spark, header + q, g, nextId, cfg, params)
  }

  /** Unrolled undirected BFS from region 0 over the LOADED gql graph's
    * edge set (the FK edges [[GraphAlgos.edgeSql]] plus the derived
    * nnext successor chain; tagged/flagged start empty) — the oracle
    * for `call bfs(...)`. Same MATERIALIZED recurrence as the g-family
    * BFS oracles; 9 steps = diameter bound + margin. */
  private lazy val callBfsOracle: String = {
    val steps = (1 to 9).map { i =>
      s"""d$i AS MATERIALIZED (SELECT x.id, min(x.d) AS d FROM (
         |  SELECT id, d FROM d${i - 1}
         |  UNION ALL SELECT ue.dst AS id, d${i - 1}.d + 1
         |  FROM ue JOIN d${i - 1} ON ue.src = d${i - 1}.id) x GROUP BY x.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($gqlEdgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |d0 AS MATERIALIZED (SELECT CAST(1000000000 AS BIGINT) AS id, 0::BIGINT AS d),
       |$steps
       |SELECT d AS dist, count(*) AS n FROM d9 GROUP BY d""".stripMargin
  }

  /** The gql graph's DIRECTED edge set for call-procedure oracles: the
    * FK edges plus the derived nnext successor chain (tagged/flagged
    * start empty). */
  private lazy val gqlEdgeSql: String =
    s"""${GraphAlgos.edgeSql}
       |UNION ALL SELECT src, dst FROM (
       |  SELECT n_nationkey + 2000000000 AS src,
       |         2000000000 + LEAD(n_nationkey) OVER (
       |           PARTITION BY n_regionkey ORDER BY n_nationkey) AS dst
       |  FROM nation) x WHERE dst IS NOT NULL""".stripMargin

  /** Unrolled fixed-point integer PageRank over the gql edge set — the
    * `call pagerank()` oracle (the analytics prOracle recurrence with
    * nnext added; same 8 iterations, rank0 1e9, integer damping). */
  private lazy val callPrOracle: String = prOracleOver(gqlEdgeSql)

  /** Unrolled HITS over the gql edge set (the analytics hitsStepsSql
    * recurrence, same 8 fixed-point iterations and max rescale) — the
    * `call hits()` oracle. */
  private lazy val callHitsOracle: String =
    s"""WITH nn AS MATERIALIZED (${GraphAlgos.nodeSql}),
       |e AS MATERIALIZED ($gqlEdgeSql),
       |h0 AS MATERIALIZED (SELECT id, 1000000::BIGINT AS hub FROM nn),
       |${GraphAlgos.hitsStepsSql(8)}
       |SELECT a.id, a.auth, h.hub FROM a8 a JOIN h8 h ON a.id = h.id
       |ORDER BY a.auth DESC, a.id LIMIT 20""".stripMargin

  /** Unrolled synchronous LPA over the gql edge set (the analytics
    * lpStepsSql recurrence, same fixed 4 rounds and deterministic
    * tie-break) — the `call labelprop()` oracle. */
  private lazy val callLpOracle: String =
    s"""WITH nn AS MATERIALIZED (${GraphAlgos.nodeSql}),
       |e AS MATERIALIZED ($gqlEdgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |${GraphAlgos.lpStepsSql(GraphAlgos.lpIters)}
       |SELECT lbl AS comm, CAST(count(*) AS BIGINT) AS n
       |FROM l${GraphAlgos.lpIters} GROUP BY lbl
       |ORDER BY n DESC, comm LIMIT 20""".stripMargin

  /** The same unrolled fixed-point integer PageRank recurrence over an
    * arbitrary edge set — shared by the whole-graph and the
    * relation-scoped `call pagerank(...)` oracles (round 12). */
  private def prOracleOver(edgeSql: String): String = {
    val steps = (1 to 8).map { i =>
      s"""r$i AS MATERIALIZED (SELECT nn.id,
         |  CAST(150000000 + (85 * coalesce(m$i.s, 0)) // 100 AS BIGINT) AS rank
         |  FROM nn LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(r${i - 1}.rank // od.d) AS BIGINT) AS s
         |    FROM e JOIN r${i - 1} ON e.src = r${i - 1}.id
         |    JOIN od ON e.src = od.id GROUP BY e.dst) m$i ON nn.id = m$i.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH nn AS MATERIALIZED (${GraphAlgos.nodeSql}),
       |e AS MATERIALIZED ($edgeSql),
       |od AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM e GROUP BY src),
       |r0 AS MATERIALIZED (SELECT id, 1000000000::BIGINT AS rank FROM nn),
       |$steps
       |SELECT id, rank FROM r8 ORDER BY rank DESC, id LIMIT 100""".stripMargin
  }

  /** Unrolled Bellman–Ford over the gql edge set (weight 1 + (u+v)%2,
    * the library g_sssp recurrence) — the `call sssp(...)` oracle.
    * Full relaxation per step; 16 = 2×(hop eccentricity ≤ 7) + margin,
    * steps past the fixpoint are no-ops so the engine's delta
    * iteration + early exit still matches. */
  private lazy val callSsspOracle: String = {
    val steps = (1 to 16).map { i =>
      s"""s$i AS MATERIALIZED (SELECT x.id, min(x.d) AS d FROM (
         |  SELECT id, d FROM s${i - 1}
         |  UNION ALL SELECT ue.dst AS id, s${i - 1}.d + 1 + (ue.src + ue.dst) % 2
         |  FROM ue JOIN s${i - 1} ON ue.src = s${i - 1}.id) x GROUP BY x.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($gqlEdgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |s0 AS MATERIALIZED (SELECT CAST(1000000000 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d),
       |$steps
       |SELECT d AS dist, count(*) AS n FROM s16 GROUP BY d""".stripMargin
  }

  /** Unrolled k-core peel over the gql edge set (k = 3, the library
    * g_kcore recurrence) — the `call kcore(3)` oracle. 8 rounds =
    * measured fixpoint (5) + margin; output is the in-core degree
    * histogram. */
  private lazy val callKcoreOracle: String = {
    val steps = (1 to 8).map { i =>
      s"""a$i AS MATERIALIZED (SELECT u.src AS id FROM ue u
         |  JOIN a${i - 1} x ON u.src = x.id JOIN a${i - 1} y ON u.dst = y.id
         |  GROUP BY u.src HAVING count(*) >= 3)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($gqlEdgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
       |$steps,
       |fd AS (SELECT u.src AS id, count(*) AS c FROM ue u
       |  JOIN a8 x ON u.src = x.id
       |  JOIN a8 y ON u.dst = y.id GROUP BY u.src)
       |SELECT c AS coredeg, count(*) AS n FROM fd GROUP BY c""".stripMargin
  }

  /** Per-node triangle counts over the gql graph's canonical undirected
    * pair set, enumerated by id order (the triangle SET is identical
    * under any acyclic orientation, so the counts match the engine's
    * degree-ordered enumeration) — the `call triangles()` oracle. Only
    * the graph's triangles are nation–successor–region wedges closing
    * through nregion, so participating nodes are regions and
    * chain-adjacent nations. */
  private lazy val callTriOracle: String =
    s"""WITH e AS MATERIALIZED ($gqlEdgeSql),
       |pairs AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
       |        FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
       |        JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
       |corners AS (SELECT unnest([u, v, w]) AS id FROM tri)
       |SELECT id, CAST(count(*) AS BIGINT) AS ntri FROM corners GROUP BY id""".stripMargin

  /** Local clustering coefficient over the gql pair set in ppm integer
    * division (the library g_clustering formula) — the
    * `call clustering()` oracle, aggregated into the coefficient
    * histogram so the check covers every d≥2 node. */
  private lazy val callClusteringOracle: String =
    s"""WITH e AS MATERIALIZED ($gqlEdgeSql),
       |pairs AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       |deg AS MATERIALIZED (SELECT id, count(*) AS d FROM (
       |  SELECT a AS id FROM pairs UNION ALL SELECT b AS id FROM pairs) x GROUP BY id),
       |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
       |        FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
       |        JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
       |corners AS (SELECT unnest([u, v, w]) AS id FROM tri),
       |tc AS (SELECT id, count(*) AS ntri FROM corners GROUP BY id)
       |SELECT CAST((2000000 * coalesce(tc.ntri, 0)) // (deg.d * (deg.d - 1)) AS BIGINT) AS lcc,
       |       CAST(count(*) AS BIGINT) AS n
       |FROM deg LEFT JOIN tc ON deg.id = tc.id
       |WHERE deg.d >= 2 GROUP BY 1""".stripMargin

  /** Unrolled multi-source BFS from the region seeds over the gql edge
    * set + the 1e-6 fixed-point harmonic sum (the library
    * g_harmonic_landmarks recurrence) — the `call harmonic()` oracle.
    * 9 steps = diameter bound + margin (same as callBfsOracle). */
  private lazy val callHarmonicOracle: String = {
    val steps = (1 to 9).map { i =>
      s"""d$i AS MATERIALIZED (SELECT x.seed, x.id, min(x.d) AS d FROM (
         |  SELECT seed, id, d FROM d${i - 1}
         |  UNION ALL SELECT d${i - 1}.seed, ue.dst AS id, d${i - 1}.d + 1
         |  FROM ue JOIN d${i - 1} ON ue.src = d${i - 1}.id) x GROUP BY x.seed, x.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($gqlEdgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |d0 AS MATERIALIZED (SELECT CAST(r_regionkey + 1000000000 AS BIGINT) AS seed,
       |  CAST(r_regionkey + 1000000000 AS BIGINT) AS id, 0::BIGINT AS d FROM region),
       |$steps
       |SELECT id, CAST(sum(1000000 // d) AS BIGINT) AS h
       |FROM d9 WHERE d > 0 GROUP BY id ORDER BY h DESC, id LIMIT 50""".stripMargin
  }

  /** Program result = final binding table; `params` bind `$name` query
    * parameters (round 12). */
  private def bindings(q: String, params: Map[String, graft.lang.Value] = Map.empty)(
      spark: SparkSession, dir: String): DataFrame =
    exec(spark, dir, q, params).bindings

  /** Program result = a post-mutation graph frame (for create/delete/set,
    * whose observable output is the graph, not the table). */
  private def nodeFrame(q: String, label: String, cols: (String, String)*)(
      spark: SparkSession, dir: String): DataFrame =
    exec(spark, dir, q).graph.nodes(label)
      .select(cols.map { case (c, a) => col(c).as(a) }: _*)

  private def edgeFrame(q: String, key: (String, String, String))(
      spark: SparkSession, dir: String): DataFrame =
    exec(spark, dir, q).graph.edges(key).select(col("src"), col("dst"))

  /** [[edgeFrame]] with explicit columns — for relation types carrying
    * typed edge attributes (round 10). */
  private def edgeFrameCols(q: String, key: (String, String, String),
      cols: String*)(spark: SparkSession, dir: String): DataFrame =
    exec(spark, dir, q).graph.edges(key).select(cols.map(col): _*)

  /** Oracle prelude: the id-assigned lineitem table as `lids` (column
    * `lid` IS the node id — LineitemBase-rooted ROW_NUMBER over the
    * loader's total order). */
  private def lineIdSql(body: String): String =
    s"WITH lids AS (SELECT *, ${GraphLoader.lineIdSql} AS lid FROM lineitem)\n$body"

  val all: List[Q] = List(

    // §2.1#3 match node: label scan × cross product (here on the unit table)
    Q("gql_match_node",
      bindings("match (n:nation) return n"),
      Some("SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n FROM nation")),

    // §2.1#4 match edge: existence semi-join on (src,dst), constant label
    Q("gql_match_edge",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |where n.regionkey = 1
          |return c, n""".stripMargin),
      Some("""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c,
             |       CAST(n_nationkey AS BIGINT) + 2000000000 AS n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE n_regionkey = 1""".stripMargin)),

    // 2-hop right-nested path (reference test2.q shape)
    Q("gql_match_2hop",
      bindings(
        """match (s:supplier) -[:snation]-> (n:nation) -[:nregion]-> (r:region)
          |where r.name = "EUROPE"
          |return s, n, r""".stripMargin),
      Some("""SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s,
             |       CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(r_regionkey AS BIGINT) + 1000000000 AS r
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'EUROPE'""".stripMargin)),

    // multi-pattern match sharing a variable via VarRefPattern
    Q("gql_match_multipattern",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation), (s:supplier) -[:snation]-> (n)
          |where n.regionkey = 3
          |return c, s, n""".stripMargin),
      Some("""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c,
             |       CAST(s_suppkey AS BIGINT) + 3000000000 AS s,
             |       CAST(n_nationkey AS BIGINT) + 2000000000 AS n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN supplier ON s_nationkey = n_nationkey
             |WHERE n_regionkey = 3""".stripMargin)),

    // §2.2 arithmetic: div truncation, mod, precedence (or < and < cmp)
    Q("gql_where_arith",
      bindings(
        """match (p:part)
          |where p.psize mod 5 = 0 and p.psize / 3 > 10 or p.psize < 3
          |return p""".stripMargin),
      Some("""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p FROM part
             |WHERE (p_size % 5 = 0 AND p_size // 3 > 10) OR p_size < 3""".stripMargin)),

    // §2.2 string equality + int comparison conjunction
    Q("gql_where_string",
      bindings(
        """match (c:customer)
          |where c.mktsegment = "BUILDING" and c.nationkey >= 10
          |return c""".stripMargin),
      Some("""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c FROM customer
             |WHERE c_mktsegment = 'BUILDING' AND c_nationkey >= 10""".stripMargin)),

    // §2.2 bool attribute: polymorphic equality on BoolT + conjunction
    // (the loaded graph's only bool attribute; reference lang.ml:29-33)
    Q("gql_where_bool",
      bindings(
        """match (o:orders) -[:ocust]-> (c:customer)
          |where o.urgent = true and c.nationkey < 5
          |return o, c""".stripMargin),
      Some("""SELECT CAST(o_orderkey AS BIGINT) + 6000000000 AS o,
             |       CAST(c_custkey AS BIGINT) + 4000000000 AS c
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderpriority = '1-URGENT' AND c_nationkey < 5""".stripMargin)),

    // §2.1#7 return: projection with column reorder + drop
    Q("gql_return_reorder",
      bindings(
        """match (s:supplier) -[:snation]-> (n:nation) -[:nregion]-> (r:region)
          |return r, s""".stripMargin),
      Some("""SELECT CAST(r_regionkey AS BIGINT) + 1000000000 AS r,
             |       CAST(s_suppkey AS BIGINT) + 3000000000 AS s
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // §2.1#1 create node: one fresh dense id per binding row (spec, PDF §3.6)
    Q("gql_create_node",
      bindings("match (r:region) create (t:tag) return r, t"),
      Some("""SELECT CAST(r_regionkey AS BIGINT) + 1000000000 AS r,
             |       20000000000 + ROW_NUMBER() OVER (ORDER BY r_regionkey) - 1 AS t
             |FROM region""".stripMargin)),

    // §2.1#2 create edge: set semantics on (src,label,dst)
    Q("gql_create_edge",
      edgeFrame(
        """match (n:nation)
          |where n.regionkey = 0
          |create (t:tag)
          |create (n) -[:tagged]-> (t)""".stripMargin,
        ("nation", "tagged", "tag")),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |       20000000000 + ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS dst
             |FROM nation WHERE n_regionkey = 0""".stripMargin)),

    // §2.1#5 delete node: nodes removed…
    Q("gql_delete_node",
      nodeFrame(
        "match (s:supplier) where s.nationkey = 3 delete s",
        "supplier", ("id", "s")),
      Some("""SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s
             |FROM supplier WHERE s_nationkey <> 3""".stripMargin)),

    // …and incident edges removed (no dangling edges, sem.ml:212-215)
    Q("gql_delete_node_edges",
      edgeFrame(
        "match (s:supplier) where s.nationkey = 3 delete s",
        ("lineitem", "lsupp", "supplier")),
      Some(s"""WITH li AS (SELECT *, ${GraphLoader.lineIdSql} AS lid FROM lineitem)
              |SELECT lid AS src, CAST(l_suppkey AS BIGINT) + 3000000000 AS dst
              |FROM li
              |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 3)""".stripMargin)),

    // §2.1#6 delete edge
    Q("gql_delete_edge",
      edgeFrame(
        """match (c:customer) -[:cnation]-> (n:nation)
          |where n.regionkey = 2
          |delete c -[:cnation]-> n""".stripMargin,
        ("customer", "cnation", "nation")),
      Some("""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS src,
             |       CAST(c_nationkey AS BIGINT) + 2000000000 AS dst
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE n_regionkey <> 2""".stripMargin)),

    // §2.1#9 set: per-row expression evaluation (spec, not the first-row bug)
    Q("gql_set",
      nodeFrame(
        "match (p:part) where p.psize < 10 set p.psize = p.psize * 100 + 7",
        "part", ("id", "p"), ("psize", "psize")),
      Some("""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p,
             |       CAST(CASE WHEN p_size < 10 THEN p_size * 100 + 7 ELSE p_size END AS BIGINT) AS psize
             |FROM part""".stripMargin)),

    // --- merge (Cypher-shaped upsert, engine extension — see lang.Merge)

    // match path: constant-prop lookup finds nodes → binds them all,
    // graph unchanged (like match with an inline prop filter)
    Q("gql_merge_match",
      bindings("merge (n:nation {regionkey: 0}) return n"),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n
             |FROM nation WHERE n_regionkey = 0""".stripMargin)),

    // create path: no nation carries these props → ONE node is created
    // and bound to every binding row (Cypher's sequential
    // created-node-visible-to-later-rows semantics, collapsed)
    Q("gql_merge_create",
      bindings(
        """match (r:region)
          |merge (n:nation {name: "zz", regionkey: 7, nationkey: 77})
          |return r, n""".stripMargin),
      Some("""SELECT CAST(r_regionkey AS BIGINT) + 1000000000 AS r,
             |       20000000000 AS n
             |FROM region""".stripMargin)),

    // …and the created node carries exactly the constant props
    Q("gql_merge_props",
      nodeFrame(
        """merge (n:nation {name: "zz", regionkey: 7, nationkey: 77})""",
        "nation", ("id", "n"), ("nationkey", "k"), ("name", "nm")),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(n_nationkey AS BIGINT) AS k, n_name AS nm
             |FROM nation
             |UNION ALL SELECT 20000000000, 77, 'zz'""".stripMargin)),

    // edge form: merge (t:tag) creates the upsert target (no tag nodes
    // load), then the edge merge inserts per-row and the REPEATED merge
    // proves idempotence — create-edge set semantics are the upsert
    Q("gql_merge_edge",
      edgeFrame(
        """merge (t:tag)
          |match (n:nation)
          |merge (n) -[:tagged]-> (t)
          |merge (n) -[:tagged]-> (t)""".stripMargin,
        ("nation", "tagged", "tag")),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |       20000000000 AS dst
             |FROM nation""".stripMargin)),

    // Composite program: create-then-match sequencing in ONE query.
    // The second match's VarRefPattern reuses `n` (bound before the
    // creates) and its semi-join runs against the graph AFTER the tag
    // creates — read-your-writes across clauses (SURVEY §3.4
    // materialization policy), which none of the single-clause entries
    // exercises under the driver oracle (GoldenSpec pins it in-JVM only).
    Q("gql_pipeline",
      bindings(
        """match (n:nation)
          |where n.regionkey = 4
          |create (t:tag)
          |create (n) -[:tagged]-> (t)
          |match (c:customer) -[:cnation]-> (n)
          |where c.nationkey >= 20
          |return c, n, t""".stripMargin),
      Some("""WITH nt AS (SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |    20000000000 + ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS t
             |  FROM nation WHERE n_regionkey = 4)
             |SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c, nt.n, nt.t
             |FROM customer
             |JOIN nt ON CAST(c_nationkey AS BIGINT) + 2000000000 = nt.n
             |WHERE c_nationkey >= 20""".stripMargin)),

    // --- return extension: aggregation, attribute projection, order/limit
    // (VERDICT r05 item 4 — the relational machinery reachable from the
    // .q language; no reference counterpart, lang.ml:73 is idents-only)

    // grouped aggregation: plain items become grouping keys
    Q("gql_agg",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |return n, count(c)""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       count(*) AS count_c
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1""".stripMargin)),

    // global aggregate (no grouping keys): one row
    Q("gql_agg_global",
      bindings(
        "match (p:part) return count(p), min(p.psize), max(p.psize), sum(p.psize)"),
      Some("""SELECT count(*) AS count_p,
             |       CAST(min(p_size) AS BIGINT) AS min_p_psize,
             |       CAST(max(p_size) AS BIGINT) AS max_p_psize,
             |       CAST(sum(p_size) AS BIGINT) AS sum_p_psize
             |FROM part""".stripMargin)),

    // integer average: sum div count with the language's truncating
    // division (no floats in MiniGQL — documented deviation from
    // Cypher's float avg; exact in both engines). Grouped AND composed
    // with the other aggregates over a positive-domain attribute.
    Q("gql_agg_avg",
      bindings(
        """match (p:part)
          |return p.brand, avg(p.psize), count(p)""".stripMargin),
      Some("""SELECT p_brand AS p_brand,
             |       CAST(sum(p_size) AS BIGINT) // count(*) AS avg_p_psize,
             |       count(*) AS count_p
             |FROM part GROUP BY 1""".stripMargin)),

    // aggregated top-n: order by the aggregate, id tiebreak, limit
    Q("gql_agg_order",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |return n, count(c) order by count(c) desc, n limit 5""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       count(*) AS count_c
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY count_c DESC, n LIMIT 5""".stripMargin)),

    // non-aggregated top-n (TakeOrderedAndProject, the distributed top-n)
    Q("gql_order_limit",
      bindings(
        "match (p:part) return p, p.psize order by p.psize desc, p limit 10"),
      Some("""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p,
             |       CAST(p_size AS BIGINT) AS p_psize
             |FROM part ORDER BY p_size DESC, 1 LIMIT 10""".stripMargin)),

    // `skip` (Cypher's OFFSET): page 2 of the same deterministic order —
    // rows 6..15; Spark folds offset+limit into the one global-limit
    // operator (drivers fetch skip+n, discard skip — still top-k shaped)
    Q("gql_order_skip",
      bindings(
        "match (p:part) return p, p.psize order by p.psize desc, p skip 5 limit 10"),
      Some("""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p,
             |       CAST(p_size AS BIGINT) AS p_psize
             |FROM part ORDER BY p_size DESC, 1 LIMIT 10 OFFSET 5""".stripMargin)),

    // skip mid-query: `with … skip … limit` pages the binding table and
    // the query keeps matching against the page
    Q("gql_with_skip",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |with n, count(c) as cnt order by count(c) desc, n skip 2 limit 3
          |match (s:supplier) -[:snation]-> (n)
          |return n, cnt.val, s""".stripMargin),
      Some("""WITH w AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n, count(*) AS cnt
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1 ORDER BY cnt DESC, n LIMIT 3 OFFSET 2)
             |SELECT w.n AS n, w.cnt AS cnt_val,
             |       CAST(s_suppkey AS BIGINT) + 3000000000 AS s
             |FROM w JOIN supplier ON CAST(s_nationkey AS BIGINT) + 2000000000 = w.n""".stripMargin)),

    // --- typed edge properties (round 10; the reference excludes edge
    // attrs — "mais pas aux arcs"). The loaded graph declares
    // (:lineitem)-[:lpart {qty int}]->(:part) with qty = l_quantity (a
    // real per-edge datum) and (:nation)-[:tagged {w int}]->(:tag).

    // rel binding + attribute read + inline equality map: x.qty rides
    // the same per-variable left joins as node attrs (edge identity =
    // the (src,dst) pair, one row per pair, multiplicity unchanged)
    Q("gql_edge_props_match",
      bindings(
        """match (l:lineitem) -[x:lpart]-> (p:part)
          |where x.qty >= 45 and p.psize <= 5
          |return l, p, x.qty""".stripMargin),
      Some(lineIdSql(
        """SELECT lid AS l,
          |       CAST(l_partkey AS BIGINT) + 5000000000 AS p,
          |       CAST(l_quantity AS BIGINT) AS x_qty
          |FROM lids JOIN part ON l_partkey = p_partkey
          |WHERE CAST(l_quantity AS BIGINT) >= 45 AND p_size <= 5""".stripMargin))),

    // inline edge-property map on match = equality conjunct through an
    // auto-bound rel variable
    Q("gql_edge_props_match_inline",
      bindings(
        """match (l:lineitem) -[:lpart {qty: 50}]-> (p:part)
          |where p.psize <= 10
          |return l, p""".stripMargin),
      Some(lineIdSql(
        """SELECT lid AS l,
          |       CAST(l_partkey AS BIGINT) + 5000000000 AS p
          |FROM lids JOIN part ON l_partkey = p_partkey
          |WHERE CAST(l_quantity AS BIGINT) = 50 AND p_size <= 10""".stripMargin))),

    // create with an inline edge-property map: each created edge takes
    // its own row's expression values (per-row evaluation, like node
    // create props)
    Q("gql_edge_props_create",
      edgeFrameCols(
        """match (n:nation)
          |where n.regionkey = 2
          |create (t:tag)
          |create (n) -[:tagged {w: n.nationkey * 10}]-> (t)""".stripMargin,
        ("nation", "tagged", "tag"), "src", "dst", "w"),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |       20000000000 + ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS dst,
             |       CAST(n_nationkey AS BIGINT) * 10 AS w
             |FROM nation WHERE n_regionkey = 2""".stripMargin)),

    // set through a rel binding: join-update of the edge frame on its
    // (src,dst) identity — the node-set mirror
    Q("gql_edge_props_set",
      edgeFrameCols(
        """match (l:lineitem) -[x:lpart]-> (p:part)
          |where p.psize = 1
          |set x.qty = x.qty + 100""".stripMargin,
        ("lineitem", "lpart", "part"), "src", "dst", "qty"),
      Some(lineIdSql(
        """SELECT lid AS src,
          |       CAST(l_partkey AS BIGINT) + 5000000000 AS dst,
          |       CAST(l_quantity AS BIGINT)
          |         + CASE WHEN p_size = 1 THEN 100 ELSE 0 END AS qty
          |FROM lids JOIN part ON l_partkey = p_partkey""".stripMargin))),

    // delete through a rel binding removes exactly the bound pairs
    Q("gql_edge_props_delete",
      edgeFrameCols(
        """match (l:lineitem) -[x:lpart]-> (p:part)
          |where x.qty >= 48
          |delete x""".stripMargin,
        ("lineitem", "lpart", "part"), "src", "dst", "qty"),
      Some(lineIdSql(
        """SELECT lid AS src,
          |       CAST(l_partkey AS BIGINT) + 5000000000 AS dst,
          |       CAST(l_quantity AS BIGINT) AS qty
          |FROM lids
          |WHERE CAST(l_quantity AS BIGINT) < 48""".stripMargin))),

    // --- `[:a|b]` relation alternation (round 10; Cypher's type
    // union). Per-PAIR existence semantics: a pair connected by several
    // listed types yields ONE row. Built on in-query edges over the two
    // nation→tag relations; a single merged tag node keeps the
    // multiplicity accounting trivial for the oracle.
    Q("gql_match_alt",
      bindings(
        """merge (t:tag)
          |match (a:nation) where a.regionkey = 0
          |create (a) -[:tagged]-> (t)
          |match (b:nation) where b.nationkey < 4
          |create (b) -[:flagged]-> (t)
          |match (m:nation) -[:tagged|flagged]-> (t2:tag)
          |return distinct m""".stripMargin),
      Some("""SELECT DISTINCT CAST(n_nationkey AS BIGINT) + 2000000000 AS m
             |FROM nation WHERE n_regionkey = 0 OR n_nationkey < 4""".stripMargin)),

    // bound-bound alternation: the semi-join path (no fused join), with
    // row multiplicity preserved like any match-edge
    Q("gql_match_alt_semi",
      bindings(
        """merge (t:tag)
          |match (a:nation) where a.regionkey = 0
          |create (a) -[:tagged]-> (t)
          |match (b:nation) where b.nationkey < 4
          |create (b) -[:flagged]-> (t)
          |with distinct t as t3
          |match (m:nation), (t2:tag)
          |match (m) -[:tagged|flagged]-> (t2)
          |return m, t2""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS m,
             |       20000000000 AS t2
             |FROM nation WHERE n_regionkey = 0 OR n_nationkey < 4""".stripMargin)),

    // --- `with … where` sugar (round 16, VERDICT r15 item 7): Cypher
    // allows the filter attached to the projection; it desugars to a
    // standalone where AFTER the with (projection → order/skip/limit →
    // filter), so the predicate sees exactly the projected scope — the
    // aggregate alias here, like SQL's HAVING.
    Q("gql_with_where",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |with n, count(c) as cnt where cnt.val >= 8
          |return n, cnt.val as cnt""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
             |       CAST(count(*) AS BIGINT) AS cnt
             |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
             |GROUP BY n_nationkey HAVING count(*) >= 8""".stripMargin)),

    // --- unwind: per-row list explosion (Cypher UNWIND; round 10).
    // Elements are full expressions evaluated per row; the alias binds
    // a scalar pseudo-label, so `k.val` feeds the typed where machinery.
    // Plans as a codegen'd Generate over the scan — no shuffle.
    Q("gql_unwind",
      bindings(
        """match (n:nation)
          |unwind [1, n.nationkey mod 3, 2] as k
          |where k.val >= 1
          |return n, k""".stripMargin),
      Some("""SELECT n, k FROM (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |         unnest([CAST(1 AS BIGINT), CAST(n_nationkey AS BIGINT) % 3,
             |                 CAST(2 AS BIGINT)]) AS k
             |  FROM nation) u
             |WHERE k >= 1""".stripMargin)),

    // unwound scalars group like any binding: the row-multiplying dual
    // of with-aggregation, composed here with extended return
    Q("gql_unwind_agg",
      bindings(
        """match (n:nation)
          |unwind [n.regionkey, 7] as k
          |return k, count(n)""".stripMargin),
      Some("""SELECT k, count(*) AS count_n FROM (
             |  SELECT n_nationkey,
             |         unnest([CAST(n_regionkey AS BIGINT), CAST(7 AS BIGINT)]) AS k
             |  FROM nation) u
             |GROUP BY k""".stripMargin)),

    // --- string predicates + functions + case (round 10 continued —
    // Cypher's STARTS WITH / ENDS WITH / CONTAINS at comparison
    // precedence, lower/upper/trim/size call shapes, searched CASE with
    // a mandatory else). All compile to codegen'd Spark SQL functions
    // inside the same filter/projection — no UDFs, scan-speed.
    Q("gql_str_pred",
      bindings(
        """match (n:nation) -[:nregion]-> (r:region)
          |where r.name starts with "A" or r.name ends with "PE"
          |   or n.name contains "2" and n.nationkey < 21
          |return n, r""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(r_regionkey AS BIGINT) + 1000000000 AS r
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |WHERE starts_with(r_name, 'A') OR ends_with(r_name, 'PE')
             |   OR (contains(n_name, '2') AND n_nationkey < 21)""".stripMargin)),

    // regex matching `s =~ pat` (round 12 — Cypher's operator at the
    // same comparison tier): compiles to Spark's codegen'd RLIKE (find
    // semantics, java.util.regex); the oracle is DuckDB regexp_matches
    // (RE2, also find semantics). The patterns below stay inside the
    // shared dialect subset pinned at [[graft.lang.BSregex]] — anchors,
    // classes, quantifiers, alternation — where both engines agree.
    Q("gql_regex",
      bindings(
        """match (n:nation) -[:nregion]-> (r:region)
          |where n.name =~ "^NATION_1[0-9]$" or r.name =~ "^A(FRI|SI)A$"
          |   or not n.name =~ "_[0-9]+$"
          |return n, r""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(r_regionkey AS BIGINT) + 1000000000 AS r
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |WHERE regexp_matches(n_name, '^NATION_1[0-9]$')
             |   OR regexp_matches(r_name, '^A(FRI|SI)A$')
             |   OR NOT regexp_matches(n_name, '_[0-9]+$')""".stripMargin)),

    // string functions compose with predicates and feed unwind's scalar
    // projection idiom (a 1-element list projects a computed value)
    Q("gql_str_fn",
      bindings(
        """match (r:region)
          |where size(r.name) >= 6 and lower(r.name) contains "a"
          |unwind [trim(upper(r.name))] as u
          |return r, u""".stripMargin),
      Some("""SELECT CAST(r_regionkey AS BIGINT) + 1000000000 AS r,
             |       trim(upper(r_name)) AS u
             |FROM region
             |WHERE length(r_name) >= 6 AND contains(lower(r_name), 'a')""".stripMargin)),

    // searched case: first matching branch wins, else is mandatory
    // (MiniGQL has no NULL value to default to); only the taken branch
    // evaluates — SQL CASE semantics
    Q("gql_case",
      bindings(
        """match (n:nation)
          |unwind [case when n.regionkey = 0 then "zero"
          |             when n.name ends with "1" then "one like"
          |             else lower(n.name) end] as bucket
          |return n, bucket""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CASE WHEN n_regionkey = 0 THEN 'zero'
             |            WHEN ends_with(n_name, '1') THEN 'one like'
             |            ELSE lower(n_name) END AS bucket
             |FROM nation""".stripMargin)),

    // --- in-list membership / coalesce / count(*) (round 11 — Cypher's
    // IN over the inline-list constructor, NULL recovery, row count).
    // All compile into the same codegen'd filter/projection/aggregate
    // as their hand-written equivalents — no new plan shapes.

    // `e in [..]` and `not in` at comparison precedence; elements are
    // full expressions; SQL IN NULL semantics ride along for free
    Q("gql_in_list",
      bindings(
        """match (n:nation)
          |where n.nationkey in [1, 3, 5 + 2] or n.regionkey not in [0, 1]
          |return n""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n
             |FROM nation
             |WHERE n_nationkey IN (1, 3, 7) OR n_regionkey NOT IN (0, 1)""".stripMargin)),

    // coalesce recovers an unmatched optional target's guarded NULL
    // attribute (each region's chain tail has no nnext successor);
    // the lexer has no negative literals, hence `0 - 1`
    Q("gql_coalesce",
      bindings(
        """match (n:nation)
          |optional match (n) -[:nnext]-> (m:nation)
          |return n, coalesce(m.nationkey, 0 - 1) as succ""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       COALESCE(CAST(LEAD(n_nationkey) OVER (
             |         PARTITION BY n_regionkey ORDER BY n_nationkey) AS BIGINT),
             |         -1) AS succ
             |FROM nation""".stripMargin)),

    // lists (round 11 — Cypher's collect()/UNWIND roundtrip, sorted
    // ascending for determinism): collect into a with-bound list, read
    // size/elements (0-based; sorted ⇒ [0] = min, [size-1] = max), then
    // unwind back to rows. One hash aggregate (map-side partial
    // collect) + one codegen'd Generate — no extra shuffles.
    Q("gql_collect",
      bindings(
        """match (n:nation)
          |with n.regionkey as rk, collect(n.nationkey) as ks
          |return rk, size(ks.val) as cnt, ks.val[0] as lo, ks.val[size(ks.val) - 1] as hi""".stripMargin),
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS rk,
             |       count(*) AS cnt,
             |       CAST(min(n_nationkey) AS BIGINT) AS lo,
             |       CAST(max(n_nationkey) AS BIGINT) AS hi
             |FROM nation GROUP BY n_regionkey""".stripMargin)),

    Q("gql_collect_unwind",
      bindings(
        """match (n:nation)
          |with n.regionkey as rk, collect(distinct n.nationkey mod 3) as ms
          |unwind ms as m
          |return rk, m""".stripMargin),
      Some("""SELECT DISTINCT CAST(n_regionkey AS BIGINT) AS rk,
             |       CAST(n_nationkey % 3 AS BIGINT) AS m
             |FROM nation""".stripMargin)),

    // range(a, b) + in-over-expression (round 11): inclusive int list
    // constructor — Cypher's row-generation workhorse — and general
    // membership over any list value. sequence() is codegen'd; the
    // explode inherits the scan partitioning (no shuffle).
    Q("gql_range",
      bindings(
        """match (n:nation)
          |where n.nationkey < 4
          |unwind range(0, n.regionkey) as i
          |where i.val mod 2 = 0
          |return n, i""".stripMargin),
      Some("""SELECT n, i FROM (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |         unnest(generate_series(0, CAST(n_regionkey AS BIGINT)))::BIGINT AS i
             |  FROM nation WHERE n_nationkey < 4) t
             |WHERE i % 2 = 0""".stripMargin)),

    Q("gql_in_collected",
      bindings(
        """match (n:nation)
          |where n.nationkey < 8
          |with collect(distinct n.regionkey) as rs
          |match (m:nation)
          |where m.regionkey in rs.val and m.nationkey >= 20
          |return m""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS m
             |FROM nation
             |WHERE n_regionkey IN (SELECT DISTINCT n_regionkey FROM nation
             |                      WHERE n_nationkey < 8)
             |  AND n_nationkey >= 20""".stripMargin)),

    // prefix not + simple case (round 11): boolean negation at its own
    // precedence tier, and SQL/Cypher's value-dispatch case form
    // (desugared in the parser to searched equality arms)
    Q("gql_not_case",
      bindings(
        """match (n:nation)
          |where not n.regionkey = 2 and not (n.nationkey >= 15 or n.regionkey = 0)
          |unwind [case n.regionkey when 1 then "one" when 3 then "three" else "other" end] as b
          |return n, b""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CASE n_regionkey WHEN 1 THEN 'one' WHEN 3 THEN 'three'
             |            ELSE 'other' END AS b
             |FROM nation
             |WHERE NOT n_regionkey = 2
             |  AND NOT (n_nationkey >= 15 OR n_regionkey = 0)""".stripMargin)),

    // id(): the deterministic node id as a first-class int (Cypher's
    // id() — interop code keys caches/external joins on it). The loader
    // contract (nationkey + NationBase) makes it oracle-checkable.
    Q("gql_id",
      bindings(
        """match (n:nation)
          |where id(n) mod 2 = 0 and n.regionkey < 2
          |return id(n) as nid, n.name as name""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS nid,
             |       n_name AS name
             |FROM nation
             |WHERE (n_nationkey + 2000000000) % 2 = 0 AND n_regionkey < 2""".stripMargin)),

    // list predicates (round 11 — Cypher's any/all/none/single over a
    // collected list): each compiles to ONE codegen'd higher-order
    // function (exists/forall/filter) over the grouped array — per-row
    // evaluation, no joins, no shuffle beyond collect's own aggregate.
    // Vacuous truth follows Cypher: all over [] = true, any/single
    // false (region 42, if empty, would pin it — sf graphs are dense
    // so the oracle covers the populated legs).
    Q("gql_listpred",
      bindings(
        """match (n:nation)
          |with n.regionkey as rk, collect(n.nationkey) as ks
          |return rk,
          |  any(x in ks.val where x.val mod 7 = 0) as p7,
          |  all(x in ks.val where x.val < 20) as lt20,
          |  none(x in ks.val where x.val = 3) as no3,
          |  single(x in ks.val where x.val mod 5 = 0) as one5""".stripMargin),
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS rk,
             |  count(*) FILTER (WHERE n_nationkey % 7 = 0) > 0 AS p7,
             |  count(*) FILTER (WHERE NOT n_nationkey < 20) = 0 AS lt20,
             |  count(*) FILTER (WHERE n_nationkey = 3) = 0 AS no3,
             |  count(*) FILTER (WHERE n_nationkey % 5 = 0) = 1 AS one5
             |FROM nation GROUP BY n_regionkey""".stripMargin)),

    // list comprehension (round 11): filter preserves the collected
    // list's canonical ascending order; the mapping arm re-sorts (a
    // list is a pure function of its element bag — the collect rule),
    // then unwind explodes it back to rows. An all-odd group yields
    // the empty list, whose unwind drops the group — bag semantics.
    Q("gql_listcomp",
      bindings(
        """match (n:nation)
          |with n.regionkey as rk, collect(n.nationkey) as ks
          |unwind [x in ks.val where x.val mod 2 = 0 | x.val * x.val] as sq
          |return rk, sq""".stripMargin),
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS rk,
             |       CAST(n_nationkey * n_nationkey AS BIGINT) AS sq
             |FROM nation WHERE n_nationkey % 2 = 0""".stripMargin)),

    // reduce (round 11 — Cypher's left fold): folds the list's
    // canonical ASCENDING order, so non-commutative bodies (the Horner
    // hash) are deterministic cross-engine — the oracle's list_reduce
    // over an ORDER BY'd list pins the fold order itself, not just a
    // commutative collapse of it.
    Q("gql_reduce",
      bindings(
        """match (n:nation)
          |with n.regionkey as rk, collect(n.nationkey) as ks
          |return rk,
          |  reduce(s = 0, x in ks.val | s.val + x.val) as tot,
          |  reduce(h = 0, x in ks.val | h.val * 31 + x.val) as horner""".stripMargin),
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS rk,
             |  CAST(sum(n_nationkey) AS BIGINT) AS tot,
             |  CAST(list_reduce(list(n_nationkey ORDER BY n_nationkey),
             |       (h, x) -> h * 31 + x) AS BIGINT) AS horner
             |FROM nation GROUP BY n_regionkey""".stripMargin)),

    // abs/sign (round 11): integer magnitude and signum — the lexer
    // has no negative literals, so abs is how distance expressions
    // stay non-negative; codegen'd, pushdown-eligible like the rest
    // of the arithmetic tier.
    Q("gql_abs_sign",
      bindings(
        """match (n:nation)
          |where abs(n.regionkey - 2) <= 1
          |return n, abs(n.nationkey - 10) as d, sign(n.nationkey - 10) as s""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(abs(n_nationkey - 10) AS BIGINT) AS d,
             |       CAST(sign(n_nationkey - 10) AS BIGINT) AS s
             |FROM nation WHERE abs(n_regionkey - 2) <= 1""".stripMargin)),

    // split (round 11): literal-separator tokenization into a string
    // list that KEEPS token order (a pure function of the string — no
    // canonical re-sort needed for determinism, unlike collect's bag);
    // pairs with unwind/indexing for in-language tokenization. Empty
    // separators raise (Spark/DuckDB disagree on that edge — banned).
    Q("gql_split",
      bindings(
        """match (n:nation)
          |where n.nationkey < 6
          |with n, split(n.name, "_") as ps
          |unwind ps as p
          |return n, p, size(ps.val) as k, ps.val[1] as num""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       unnest(string_split(n_name, '_')) AS p,
             |       CAST(len(string_split(n_name, '_')) AS BIGINT) AS k,
             |       string_split(n_name, '_')[2] AS num
             |FROM nation WHERE n_nationkey < 6""".stripMargin)),

    // call procedures (round 11 — the GDS-style bridge): whole-graph
    // analytics procedures run INSIDE MiniGQL against the current
    // graph state, yields binding int scalars that compose with
    // where/return like any binding. degree() counts over every
    // relation type (nregion + the derived nnext chain + the FK
    // in-edges from customer/supplier; tagged/flagged start empty).
    Q("gql_call_degree",
      bindings(
        """call degree() yield id, outdeg, indeg
          |where id.val >= 2000000000 and id.val < 3000000000
          |return id, outdeg, indeg""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS id,
             |  CAST(1 + CASE WHEN n_nationkey < (SELECT max(n2.n_nationkey)
             |                   FROM nation n2 WHERE n2.n_regionkey = nation.n_regionkey)
             |           THEN 1 ELSE 0 END AS BIGINT) AS outdeg,
             |  CAST((SELECT count(*) FROM customer c WHERE c.c_nationkey = nation.n_nationkey)
             |     + (SELECT count(*) FROM supplier s WHERE s.s_nationkey = nation.n_nationkey)
             |     + CASE WHEN n_nationkey > (SELECT min(n2.n_nationkey)
             |              FROM nation n2 WHERE n2.n_regionkey = nation.n_regionkey)
             |       THEN 1 ELSE 0 END AS BIGINT) AS indeg
             |FROM nation""".stripMargin)),

    // cc() — component labels (comp = component min id) as bindings.
    // The loaded TPC-H graph is ONE component at the tested SFs
    // (lineitems bridge regions via their order's customer AND their
    // supplier; pinned independently by g_bipartite's n_nodes), whose
    // minimum id is region 0 — so the oracle is the total node count.
    Q("gql_call_cc",
      bindings(
        """call cc() yield id, comp
          |return comp, count(id) as n""".stripMargin),
      Some("""SELECT CAST(1000000000 AS BIGINT) AS comp,
             |  CAST((SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
             |     + (SELECT count(*) FROM supplier) + (SELECT count(*) FROM customer)
             |     + (SELECT count(*) FROM part) + (SELECT count(*) FROM orders)
             |     + (SELECT count(*) FROM lineitem) AS BIGINT) AS n""".stripMargin)),

    // bfs(src) — the parameterized procedure form: undirected hop
    // distances from a literal node id over the whole loaded graph
    // (incl. the derived nnext chain), reached nodes only. The same
    // frontier-delta discipline as the analytics g_bfs, surfaced
    // in-language.
    Q("gql_call_bfs",
      bindings(
        """call bfs(1000000000) yield id, dist
          |return dist, count(id) as n""".stripMargin),
      Some(callBfsOracle)),

    // pagerank() — the library's fixed-point integer PageRank as an
    // in-language procedure; ranks compose with return's top-n
    // (TakeOrderedAndProject — the distributed top-k, no global sort).
    Q("gql_call_pagerank",
      bindings(
        """call pagerank() yield id, rank
          |return id, rank
          |order by rank desc, id
          |limit 100""".stripMargin),
      Some(callPrOracle)),

    // degree("rel") — the RELATION-SCOPED procedure form (round 12):
    // degrees count only the named relation's edges, so per-relation
    // analytics ("how many customers per nation?") run without
    // whole-graph noise. Nodes stay whole-graph (zeros elsewhere);
    // the filter keeps the checked rows to the nation id band.
    Q("gql_call_degree_rel",
      bindings(
        """call degree("cnation") yield id, outdeg, indeg
          |where id.val >= 2000000000 and id.val < 3000000000
          |return id, outdeg, indeg""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS id,
             |  CAST(0 AS BIGINT) AS outdeg,
             |  CAST((SELECT count(*) FROM customer c
             |        WHERE c.c_nationkey = nation.n_nationkey) AS BIGINT) AS indeg
             |FROM nation""".stripMargin)),

    // cc("rel") — components over ONE relation's subgraph: nregion
    // yields one component per region (min id = the region node);
    // every unscoped node is a singleton, filtered out by the id band.
    Q("gql_call_cc_rel",
      bindings(
        """call cc("nregion") yield id, comp
          |where comp.val < 2000000000
          |return comp, count(id) as n""".stripMargin),
      Some("""SELECT CAST(r_regionkey + 1000000000 AS BIGINT) AS comp,
             |  CAST(1 + (SELECT count(*) FROM nation n
             |            WHERE n.n_regionkey = region.r_regionkey) AS BIGINT) AS n
             |FROM region""".stripMargin)),

    // named paths (round 12 — Cypher's path values over the engine's
    // reachability semantics): `p = (a)-[:r*lo..hi]->(b)` binds ONE
    // canonical witness per row — the lex-smallest minimal-hop node
    // sequence — as a list value; length(p)/nodes(p) read it through
    // the round-11 list machinery. Over the nnext successor chain the
    // witness is the unique run of region-sorted nations, so the oracle
    // reconstructs it with one window + two self-joins.
    Q("gql_named_path",
      bindings(
        """match p = (a:nation) -[:nnext*1..3]-> (b:nation)
          |where a.regionkey = 0
          |with a, b, length(p) as l, nodes(p) as ns
          |unwind ns as nid
          |return a, b, l, ns.val[1] as second, nid""".stripMargin),
      Some("""WITH n0 AS (SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS id,
             |         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS pos,
             |         n_regionkey AS rk FROM nation)
             |SELECT x.id AS a, y.id AS b, CAST(y.pos - x.pos AS BIGINT) AS l,
             |       s2.id AS second, z.id AS nid
             |FROM n0 x
             |JOIN n0 y  ON y.rk = x.rk AND y.pos - x.pos BETWEEN 1 AND 3
             |JOIN n0 s2 ON s2.rk = x.rk AND s2.pos = x.pos + 1
             |JOIN n0 z  ON z.rk = x.rk AND z.pos BETWEEN x.pos AND y.pos
             |WHERE x.rk = 0""".stripMargin)),

    // …and the OPTIONAL form (round 12 continued): the witness sub-plan
    // declares the path binding like any fresh variable, so a row with
    // no witness binds p (and nodes/length reads) to NULL — recovered
    // here through null(p) + case into a sentinel. Chain tails (the
    // last 1-2 nations per region) exercise the NULL leg.
    Q("gql_named_path_opt",
      bindings(
        """match (n:nation)
          |optional match p = (n) -[:nnext*1..2]-> (m:nation)
          |with n, m, case when null(p) then 0 - 1 else length(p) end as l
          |return n, m, l""".stripMargin),
      Some("""WITH n0 AS (SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS id,
             |         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS pos,
             |         n_regionkey AS rk FROM nation)
             |SELECT x.id AS n, y.id AS m,
             |       coalesce(CAST(y.pos - x.pos AS BIGINT), -1) AS l
             |FROM n0 x LEFT JOIN n0 y
             |  ON y.rk = x.rk AND y.pos - x.pos BETWEEN 1 AND 2""".stripMargin)),

    // shortestPath(...) (round 14 — Cypher's spelling): a transparent
    // wrapper over the named-path form, whose witness is already the
    // canonical minimal-hop walk
    Q("gql_shortest_fn",
      bindings(
        """match p = shortestPath((a:nation) -[:nnext*1..3]-> (b:nation))
          |where a.regionkey = 0
          |return a, b, length(p) as l""".stripMargin),
      Some("""WITH n0 AS (SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS id,
             |         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS pos,
             |         n_regionkey AS rk FROM nation)
             |SELECT x.id AS a, y.id AS b, CAST(y.pos - x.pos AS BIGINT) AS l
             |FROM n0 x JOIN n0 y ON y.rk = x.rk AND y.pos - x.pos BETWEEN 1 AND 3
             |WHERE x.rk = 0""".stripMargin)),

    // general named paths (round 13): the name attaches to ANY pure hop
    // chain — fixed hops are the lo = hi = 1 window of the witness
    // machinery; multi-segment chains desugar into per-segment hidden
    // witnesses concatenated in PATTERN order (junctions dropped);
    // relationships(p) reads the hop-label companion. A single fixed
    // hop: witness [n, r], length 1, one label.
    Q("gql_named_path_fixed",
      bindings(
        """match p = (n:nation) -[:nregion]-> (r:region)
          |with n, r, length(p) as l, nodes(p) as ns, relationships(p) as rs
          |return n, r, l, ns.val[0] as h0, ns.val[1] as h1, rs.val[0] as rel0""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
             |       CAST(r_regionkey + 1000000000 AS BIGINT) AS r,
             |       CAST(1 AS BIGINT) AS l,
             |       CAST(n_nationkey + 2000000000 AS BIGINT) AS h0,
             |       CAST(r_regionkey + 1000000000 AS BIGINT) AS h1,
             |       'nregion' AS rel0
             |FROM nation JOIN region ON r_regionkey = n_regionkey""".stripMargin)),

    // two heterogeneous fixed segments: the junction nation appears
    // once; labels in pattern order, one per hop.
    Q("gql_named_path_multi",
      bindings(
        """match p = (c:customer) -[:cnation]-> (n:nation) -[:nregion]-> (r:region)
          |where n.regionkey = 0
          |with c, r, length(p) as l, nodes(p) as ns, relationships(p) as rs
          |return c, r, l, ns.val[1] as mid, rs.val[0] as rel0, rs.val[1] as rel1""".stripMargin),
      Some("""SELECT CAST(c_custkey + 4000000000 AS BIGINT) AS c,
             |       CAST(r_regionkey + 1000000000 AS BIGINT) AS r,
             |       CAST(2 AS BIGINT) AS l,
             |       CAST(n_nationkey + 2000000000 AS BIGINT) AS mid,
             |       'cnation' AS rel0, 'nregion' AS rel1
             |FROM customer
             |JOIN nation ON n_nationkey = c_nationkey
             |JOIN region ON r_regionkey = n_regionkey
             |WHERE n_regionkey = 0""".stripMargin)),

    // trailing REVERSE varpath: round 13 fixes the witness to PATTERN
    // order (it starts at the pattern's left endpoint b and walks back
    // to a), consistent with multi-segment concatenation and Cypher's
    // nodes(p). The oracle reads the region-sorted chain positions.
    Q("gql_named_path_rev",
      bindings(
        """match p = (b:nation) <-[:nnext*1..3]- (a:nation)
          |where a.regionkey = 0
          |with a, b, length(p) as l, nodes(p) as ns
          |return a, b, l, ns.val[0] as h0, ns.val[1] as second""".stripMargin),
      Some("""WITH n0 AS (SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS id,
             |         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS pos,
             |         n_regionkey AS rk FROM nation)
             |SELECT x.id AS a, y.id AS b, CAST(y.pos - x.pos AS BIGINT) AS l,
             |       y.id AS h0, s2.id AS second
             |FROM n0 x
             |JOIN n0 y  ON y.rk = x.rk AND y.pos - x.pos BETWEEN 1 AND 3
             |JOIN n0 s2 ON s2.rk = x.rk AND s2.pos = y.pos - 1
             |WHERE x.rk = 0""".stripMargin)),

    // varpath + trailing fixed hop (the shape round 12 rejected): the
    // varpath witness splices in, the fixed hop extends it; the hidden
    // relationships companion survives the `with` (re-aliased
    // implicitly) and unwinds one row per hop label.
    Q("gql_named_path_rels",
      bindings(
        """match p = (a:nation) -[:nnext*2..2]-> (b:nation) -[:nregion]-> (r:region)
          |where a.regionkey = 0
          |with a, r, p
          |unwind relationships(p) as lbl
          |return a, r, length(p) as l, lbl""".stripMargin),
      Some("""WITH n0 AS (SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS id,
             |         n_regionkey AS rk,
             |         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS pos
             |         FROM nation)
             |SELECT x.id AS a, CAST(1000000000 AS BIGINT) AS r,
             |       CAST(3 AS BIGINT) AS l, u.lbl AS lbl
             |FROM n0 x
             |JOIN n0 y ON y.rk = x.rk AND y.pos = x.pos + 2
             |CROSS JOIN (SELECT 'nnext' AS lbl UNION ALL SELECT 'nnext'
             |            UNION ALL SELECT 'nregion') u
             |WHERE x.rk = 0""".stripMargin)),

    // unlabeled match (round 14): a bare `(n)` scans the union of every
    // label's ids (virtual any-label binding — id/count/order work,
    // attribute access is a type error until a hop narrows the label);
    // unlabeled HOP endpoints infer the relation's declared endpoint
    // labels, so attribute access works without a label.
    Q("gql_match_any",
      bindings(
        """match (n)
          |where id(n) < 3000000000
          |return n""".stripMargin),
      Some("""SELECT CAST(r_regionkey + 1000000000 AS BIGINT) AS n FROM region
             |UNION ALL
             |SELECT CAST(n_nationkey + 2000000000 AS BIGINT) FROM nation""".stripMargin)),

    Q("gql_match_any_count",
      bindings(
        """match (n)
          |return count(n) as total""".stripMargin),
      Some("""SELECT CAST((SELECT count(*) FROM region) +
             |  (SELECT count(*) FROM nation) + (SELECT count(*) FROM supplier) +
             |  (SELECT count(*) FROM customer) + (SELECT count(*) FROM part) +
             |  (SELECT count(*) FROM orders) + (SELECT count(*) FROM lineitem)
             |  AS BIGINT) AS total""".stripMargin)),

    // endpoint inference: c and m take customer/nation from cnation's
    // declaration — m.name proves the binding carries a REAL label
    Q("gql_match_any_edge",
      bindings(
        """match (c) -[:cnation]-> (m)
          |where m.regionkey = 0
          |return c, m, m.name as mname""".stripMargin),
      Some("""SELECT CAST(c_custkey + 4000000000 AS BIGINT) AS c,
             |       CAST(n_nationkey + 2000000000 AS BIGINT) AS m,
             |       n_name AS mname
             |FROM customer JOIN nation ON n_nationkey = c_nationkey
             |WHERE n_regionkey = 0""".stripMargin)),

    // varpath endpoint inference over the label-homogeneous chain
    Q("gql_match_any_varpath",
      bindings(
        """match (u) -[:nnext*2..2]-> (v)
          |return u, v, u.regionkey as rk""".stripMargin),
      Some("""WITH n0 AS (SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS id,
             |         n_regionkey AS rk,
             |         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS pos
             |         FROM nation)
             |SELECT x.id AS u, y.id AS v, CAST(x.rk AS BIGINT) AS rk
             |FROM n0 x JOIN n0 y ON y.rk = x.rk AND y.pos = x.pos + 2""".stripMargin)),

    // any-relation hop -[]-> (round 14 — Cypher's untyped relationship):
    // the union of every declared relation type between the endpoint
    // labels — here BOTH nation->tag relations, built in-program like
    // the alternation oracle
    Q("gql_match_any_rel",
      bindings(
        """merge (t:tag)
          |match (a:nation) where a.regionkey = 0
          |create (a) -[:tagged]-> (t)
          |match (b:nation) where b.nationkey < 4
          |create (b) -[:flagged]-> (t)
          |match (m:nation) -[]-> (t2:tag)
          |return distinct m""".stripMargin),
      Some("""SELECT DISTINCT CAST(n_nationkey AS BIGINT) + 2000000000 AS m
             |FROM nation WHERE n_regionkey = 0 OR n_nationkey < 4""".stripMargin)),

    // label(n) on an unlabeled binding: the RUNTIME label from the
    // hidden per-leg literal companion the any-scan binds
    Q("gql_match_any_label",
      bindings(
        """match (n)
          |where id(n) < 3000000000
          |return n, label(n) as lbl""".stripMargin),
      Some("""SELECT CAST(r_regionkey + 1000000000 AS BIGINT) AS n,
             |       'region' AS lbl FROM region
             |UNION ALL
             |SELECT CAST(n_nationkey + 2000000000 AS BIGINT), 'nation'
             |FROM nation""".stripMargin)),

    // unlabeled node WITH props (round 14 continued): the inline map
    // desugars to where conjuncts that type AFTER the hop's inference
    // binds the real label
    Q("gql_match_any_props",
      bindings(
        """match (c {mktsegment: "BUILDING"}) -[:cnation]-> (m)
          |where m.regionkey = 0
          |return c, m""".stripMargin),
      Some("""SELECT CAST(c_custkey + 4000000000 AS BIGINT) AS c,
             |       CAST(n_nationkey + 2000000000 AS BIGINT) AS m
             |FROM customer JOIN nation ON n_nationkey = c_nationkey
             |WHERE n_regionkey = 0 AND c_mktsegment = 'BUILDING'""".stripMargin)),

    // unlabeled DELETE (round 14): deletion needs only ids — every
    // label frame anti-joins the doomed set, every relation frame drops
    // incident edges on both endpoints
    Q("gql_delete_any",
      bindings(
        """match (n)
          |where id(n) < 1000000002
          |delete n
          |match (r:region)
          |return distinct r""".stripMargin),
      Some("""SELECT CAST(r_regionkey + 1000000000 AS BIGINT) AS r
             |FROM region WHERE r_regionkey >= 2""".stripMargin)),

    // pagerank("rel") / bfs(src, "rel") — relation scope on the other
    // two procedures (round 12 continued): the scoped edge frame is the
    // only change, the iterative bodies are untouched. nnext is the
    // per-region successor chain, so scoped PageRank ranks grow along
    // each chain and scoped BFS from a region node sees exactly its
    // nregion neighbourhood.
    Q("gql_call_pagerank_rel",
      bindings(
        """call pagerank("nnext") yield id, rank
          |return id, rank
          |order by rank desc, id
          |limit 100""".stripMargin),
      Some(prOracleOver(
        """SELECT src, dst FROM (
          |  SELECT n_nationkey + 2000000000 AS src,
          |         2000000000 + LEAD(n_nationkey) OVER (
          |           PARTITION BY n_regionkey ORDER BY n_nationkey) AS dst
          |  FROM nation) x WHERE dst IS NOT NULL""".stripMargin))),

    Q("gql_call_bfs_rel",
      bindings(
        """call bfs(1000000000, "nregion") yield id, dist
          |return dist, count(id) as n""".stripMargin),
      Some("""SELECT CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS n
             |UNION ALL
             |SELECT CAST(1 AS BIGINT),
             |       CAST((SELECT count(*) FROM nation WHERE n_regionkey = 0) AS BIGINT)"""
        .stripMargin)),

    // sssp(src) — weighted shortest paths through the bridge (round 13):
    // the library's Bellman–Ford delta iteration (deterministic integer
    // weight 1 + (u+v) mod 2) over the whole loaded graph, inheriting
    // the hoisted pre-partitioned loop-invariant edge frame.
    Q("gql_call_sssp",
      bindings(
        """call sssp(1000000000) yield id, dist
          |return dist, count(id) as n""".stripMargin),
      Some(callSsspOracle)),

    // sssp(src, "rel") — the relation-scoped form: over nregion alone
    // the reachable set from region 0 is its star (the region plus its
    // nations), each nation at weight 1 + (nation_id + region_id) mod 2
    // — closed-form oracle, no recurrence needed.
    Q("gql_call_sssp_rel",
      bindings(
        """call sssp(1000000000, "nregion") yield id, dist
          |return dist, count(id) as n""".stripMargin),
      Some("""SELECT CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS n
             |UNION ALL
             |SELECT dist, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT CAST(1 + (CAST(n_nationkey AS BIGINT) + 2000000000 + 1000000000) % 2 AS BIGINT) AS dist
             |  FROM nation WHERE n_regionkey = 0) GROUP BY dist""".stripMargin)),

    // kcore(k) — the iterative peel through the bridge (round 13): k is
    // the call argument; yields the surviving nodes' in-core degrees,
    // aggregated here into the degree histogram (the library g_kcore
    // output shape).
    Q("gql_call_kcore",
      bindings(
        """call kcore(3) yield id, coredeg
          |return coredeg, count(id) as n""".stripMargin),
      Some(callKcoreOracle)),

    // triangles() — per-node triangle participation through the bridge
    // (round 13): degree-ordered enumeration, zero-participation nodes
    // yield 0 and are filtered here (the where exercises yield-binding
    // composition; the oracle's GROUP BY produces participants only).
    Q("gql_call_triangles",
      bindings(
        """call triangles() yield id, ntri
          |where ntri.val > 0
          |return id, ntri""".stripMargin),
      Some(callTriOracle)),

    // call { … } subqueries (round 15 — Cypher's CALL subquery): a
    // read-only correlated subquery per input row, imports-only scope,
    // order/skip/limit paging PER INVOCATION. The flagship use is the
    // per-key top-k no other clause can express: top-2 customers by
    // name within EACH nation (a keyed row_number window in the plan,
    // never a global sort).
    Q("gql_callsub_topk",
      bindings(
        """match (n:nation)
          |call {
          |  with n
          |  match (c:customer) -[:cnation]-> (n)
          |  return c order by c.name desc limit 2
          |}
          |return n, c""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
             |       CAST(c_custkey + 4000000000 AS BIGINT) AS c
             |FROM (SELECT c_nationkey, c_custkey,
             |        row_number() OVER (PARTITION BY c_nationkey
             |                           ORDER BY c_name DESC) AS rn
             |      FROM customer) x
             |JOIN nation ON n_nationkey = x.c_nationkey
             |WHERE rn <= 2""".stripMargin)),

    // aggregation per invocation + Cypher's one-row-per-invocation rule:
    // a selective inner filter leaves some nations with ZERO matches,
    // which must surface as k = 0 (count pads), not as dropped rows
    Q("gql_callsub_agg",
      bindings(
        """match (n:nation)
          |call {
          |  with n
          |  match (c:customer) -[:cnation]-> (n)
          |  where c.mktsegment = "MACHINERY" and c.name ends with "7"
          |  return count(c) as k
          |}
          |return n, k""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
             |       CAST((SELECT count(*) FROM customer c
             |             WHERE c.c_nationkey = n.n_nationkey
             |               AND c.c_mktsegment = 'MACHINERY'
             |               AND c.c_name LIKE '%7') AS BIGINT) AS k
             |FROM nation n""".stripMargin)),

    // uncorrelated form: no imports — the subquery runs once from the
    // unit table and its single aggregate row cross-joins every outer
    // row (a global scalar usable per row)
    Q("gql_callsub_uncorr",
      bindings(
        """call { match (c:customer) return count(c) as total }
          |match (n:nation) where n.regionkey <= 1
          |return n, total""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
             |       CAST((SELECT count(*) FROM customer) AS BIGINT) AS total
             |FROM nation WHERE n_regionkey <= 1""".stripMargin)),

    // distinct + a multi-hop inner pattern: the market segments present
    // in each region (per-invocation dedup over the 2-hop inner match)
    Q("gql_callsub_distinct",
      bindings(
        """match (r:region)
          |call {
          |  with r
          |  match (c:customer) -[:cnation]-> (n:nation) -[:nregion]-> (r)
          |  return distinct c.mktsegment as seg
          |}
          |return r, seg""".stripMargin),
      Some("""SELECT DISTINCT CAST(r_regionkey + 1000000000 AS BIGINT) AS r,
             |       c_mktsegment AS seg
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // optional match inside call { } (round-15 v2): a LEFT witness per
    // invocation — here over the EMPTY tagged relation, so every
    // invocation is unmatched and count pads 0 through the aggregate
    // (the NULL-binding leg, not the zero-row pad)
    Q("gql_callsub_optional",
      bindings(
        """match (n:nation) where n.nationkey < 5
          |call {
          |  with n
          |  optional match (n) -[:tagged]-> (t:tag)
          |  return count(t) as k
          |}
          |return n, k""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
             |       CAST(0 AS BIGINT) AS k
             |FROM nation WHERE n_nationkey < 5""".stripMargin)),

    // count { } subquery EXPRESSIONS (round 15 v2 — Cypher's COUNT
    // subquery): parse-time sugar hoisting a hidden call { } subquery,
    // so the plan is the keyed-aggregate call-sub one. The return-item
    // form: per-nation customer counts as an aliased expression item.
    Q("gql_count_expr",
      bindings(
        """match (n:nation)
          |return n, count { (c:customer) -[:cnation]-> (n) } as k""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
             |       CAST((SELECT count(*) FROM customer c
             |             WHERE c.c_nationkey = n.n_nationkey) AS BIGINT) AS k
             |FROM nation n""".stripMargin)),

    // the where form with an inner filter: count { <pattern> where … }
    // compared against a threshold — zero-match nations pad 0 and fail
    // the predicate (never drop before it)
    Q("gql_count_expr_where",
      bindings(
        """match (n:nation) -[:nregion]-> (r:region)
          |where count { (c:customer) -[:cnation]-> (n)
          |              where c.mktsegment = "MACHINERY" } >= 12
          |return n, r""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
             |       CAST(n_regionkey + 1000000000 AS BIGINT) AS r
             |FROM nation n
             |WHERE (SELECT count(*) FROM customer c
             |       WHERE c.c_nationkey = n.n_nationkey
             |         AND c.c_mktsegment = 'MACHINERY') >= 12""".stripMargin)),

    // the with form: the count becomes a scalar binding that later
    // clauses filter and return (scope composition through with)
    Q("gql_count_expr_with",
      bindings(
        """match (n:nation)
          |with n, count { (s:supplier) -[:snation]-> (n) } as ns
          |where ns.val >= 1
          |return n, ns""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
             |       CAST((SELECT count(*) FROM supplier s
             |             WHERE s.s_nationkey = n.n_nationkey) AS BIGINT) AS ns
             |FROM nation n
             |WHERE (SELECT count(*) FROM supplier s
             |       WHERE s.s_nationkey = n.n_nationkey) >= 1""".stripMargin)),

    // exists { } — sugar for count { } > 0: suppliers whose nation
    // name ends in "1" (the inner where references the fresh labeled
    // binding; the bare head imports the outer row)
    Q("gql_exists_expr",
      bindings(
        """match (s:supplier)
          |where exists { (s) -[:snation]-> (n:nation)
          |               where n.name ends with "1" }
          |return s""".stripMargin),
      Some("""SELECT CAST(s_suppkey + 3000000000 AS BIGINT) AS s
             |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
             |WHERE n.n_name LIKE '%1'""".stripMargin)),

    // pattern comprehensions [ <pattern> | <expr> ] (round 15 v2 —
    // Cypher's pattern comprehension, same call-subquery sugar): the
    // per-region nation-key lists, read back through the round-11 list
    // machinery (sorted-ascending collect determinism ⇒ [0] is the min)
    Q("gql_patcomp",
      bindings(
        """match (r:region)
          |with r, [ (n:nation) -[:nregion]-> (r) | n.nationkey ] as ks
          |return r, size(ks.val) as cnt, ks.val[0] as lo""".stripMargin),
      Some("""SELECT CAST(n_regionkey + 1000000000 AS BIGINT) AS r,
             |       count(*) AS cnt,
             |       CAST(min(n_nationkey) AS BIGINT) AS lo
             |FROM nation GROUP BY n_regionkey""".stripMargin)),

    // the filtered form + the NULL-on-empty semantics: a nation with
    // zero MACHINERY customers binds the list to NULL, which the size
    // predicate drops (the documented binding-NULL deviation)
    Q("gql_patcomp_filter",
      bindings(
        """match (n:nation)
          |with n, [ (c:customer) -[:cnation]-> (n)
          |          where c.mktsegment = "MACHINERY" | id(c) ] as ms
          |where size(ms.val) >= 1
          |return n, size(ms.val) as k, ms.val[0] as first""".stripMargin),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n,
             |       count(*) AS k,
             |       CAST(min(c_custkey) + 4000000000 AS BIGINT) AS first
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_mktsegment = 'MACHINERY'
             |GROUP BY n_nationkey""".stripMargin)),

    // comprehension + unwind: the collected list re-explodes through
    // the round-11 unwind-expression machinery (string elements)
    Q("gql_patcomp_unwind",
      bindings(
        """match (r:region) where id(r) <= 1000000001
          |with r, [ (n:nation) -[:nregion]-> (r) | n.name ] as nms
          |unwind nms.val as nm
          |return r, nm""".stripMargin),
      Some("""SELECT CAST(n_regionkey + 1000000000 AS BIGINT) AS r,
             |       n_name AS nm
             |FROM nation WHERE n_regionkey <= 1""".stripMargin)),

    // …and the DIRECT unwind position (round 16, ADVICE r15 item 3):
    // the comprehension hoists before the unwind clause itself, no
    // `with` detour — `unwind [ pattern | expr ] as v` now works as
    // Cypher users expect.
    Q("gql_patcomp_unwind_direct",
      bindings(
        """match (r:region) where id(r) <= 1000000001
          |unwind [ (n:nation) -[:nregion]-> (r) | n.name ] as nm
          |return r, nm""".stripMargin),
      Some("""SELECT CAST(n_regionkey + 1000000000 AS BIGINT) AS r,
             |       n_name AS nm
             |FROM nation WHERE n_regionkey <= 1""".stripMargin)),

    // hits() — Kleinberg hubs & authorities through the bridge
    // (round 15): the library g_hits fixed-point recurrence over the
    // gql edge set; yields compose with return's top-n unchanged.
    Q("gql_call_hits",
      bindings(
        """call hits() yield id, auth, hub
          |return id, auth, hub
          |order by auth desc, id
          |limit 20""".stripMargin),
      Some(callHitsOracle)),

    // labelprop() — synchronous LPA communities through the bridge
    // (round 15): fixed 6 rounds, self-inclusive closed-neighborhood
    // mode with the (most-frequent, smallest) tie-break — the library
    // g_labelprop recurrence over the gql edge set (FK edges + the
    // nnext chain). Top-20 communities by size.
    Q("gql_call_labelprop",
      bindings(
        """call labelprop() yield id, comm
          |return comm, count(id) as n
          |order by n desc, comm
          |limit 20""".stripMargin),
      Some(callLpOracle)),

    // labelprop("rel") — the relation-scoped form over the cnation
    // stars: with self-inclusion each star settles in ONE round on the
    // NATION's label (every count ties at 1, and the nation id band
    // 2e9 undercuts the customer band 4e9 on both the leaf and hub
    // argmax), so the nation-band filter keeps one community per
    // nation — closed-form oracle: 1 + its customer count. Every
    // non-cnation node is a singleton outside the band.
    Q("gql_call_labelprop_rel",
      bindings(
        """call labelprop("cnation") yield id, comm
          |where comm.val >= 2000000000 and comm.val < 3000000000
          |return comm, count(id) as n""".stripMargin),
      Some("""SELECT CAST(2000000000 + n_nationkey AS BIGINT) AS comm,
             |       CAST(1 + (SELECT count(*) FROM customer c
             |                 WHERE c.c_nationkey = n.n_nationkey) AS BIGINT) AS n
             |FROM nation n""".stripMargin)),

    // clustering() — local clustering coefficients through the bridge
    // (round 15): ppm integer division over the canonical pair set
    // (the library g_clustering formula), shared triangle build with
    // triangles(). Aggregated into the coefficient histogram so the
    // oracle covers every node with pair-degree ≥ 2.
    Q("gql_call_clustering",
      bindings(
        """call clustering() yield id, lcc
          |return lcc, count(id) as n""".stripMargin),
      Some(callClusteringOracle)),

    // degreedist() — the out-degree histogram through the bridge
    // (round 15): the first thing you compute on an unknown graph (the
    // library g_degree_dist over the gql edge set).
    Q("gql_call_degreedist",
      bindings(
        """call degreedist() yield deg, n
          |return deg, n""".stripMargin),
      Some(s"""WITH e AS MATERIALIZED ($gqlEdgeSql),
              |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src)
              |SELECT deg, CAST(count(*) AS BIGINT) AS n
              |FROM d GROUP BY deg""".stripMargin)),

    // harmonic() — landmark harmonic centrality through the bridge
    // (round 15): one multi-source BFS from the region seed band,
    // ĥ(v) = Σ_s 1/d(s,v) in 1e-6 fixed point (the library
    // g_harmonic_landmarks recurrence over the gql edge set); top-50
    // with the deterministic id tiebreak.
    Q("gql_call_harmonic",
      bindings(
        """call harmonic() yield id, h
          |return id, h
          |order by h desc, id
          |limit 50""".stripMargin),
      Some(callHarmonicOracle)),

    // scc("nnext") — strongly connected components through the bridge
    // (round 16), exercised against a graph the program itself makes
    // CYCLIC: each of regions 0-2 gets a wrap-around nnext edge from
    // its chain tail (no outgoing nnext) to its chain head (no
    // incoming), turning those chains into directed cycles. Scoped SCC
    // must then fuse each wrapped region's nations into ONE component
    // labeled the region's max nation id, leave regions 3-4 as
    // singletons, and the where prunes the non-nation singleton mass.
    // The oracle is closed-form from the nation table — no closure
    // needed, the construction pins the answer.
    Q("gql_call_scc",
      bindings(
        """match (a:nation), (b:nation)
          |where a.regionkey = b.regionkey and a.regionkey <= 2
          |  and not exists { (a) -[:nnext]-> (x:nation) }
          |  and not exists { (y:nation) -[:nnext]-> (b) }
          |create (a) -[:nnext]-> (b)
          |call scc("nnext") yield id, comp
          |where id.val >= 2000000000 and id.val < 3000000000
          |return comp, count(distinct id) as n""".stripMargin),
      Some("""SELECT CAST(2000000000 + max(n_nationkey) AS BIGINT) AS comp,
             |       CAST(count(*) AS BIGINT) AS n
             |FROM nation WHERE n_regionkey <= 2 GROUP BY n_regionkey
             |UNION ALL
             |SELECT CAST(2000000000 + n_nationkey AS BIGINT), CAST(1 AS BIGINT)
             |FROM nation WHERE n_regionkey > 2""".stripMargin)),

    // $name query parameters (round 12 — Cypher's `$param`): typed
    // constants substituted BEFORE typing, so the parameterized filter
    // is a foldable literal to Catalyst — same pushdown as a
    // hand-written constant. The int, string, AND call-argument forms
    // in one program.
    Q("gql_param",
      bindings(
        """match (n:nation) -[:nregion]-> (r:region)
          |where n.nationkey >= $lo and r.name starts with $pre
          |return n, r""".stripMargin,
        Map("lo" -> graft.lang.IntV(10), "pre" -> graft.lang.StringV("A"))),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(r_regionkey AS BIGINT) + 1000000000 AS r
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |WHERE n_nationkey >= 10 AND starts_with(r_name, 'A')""".stripMargin)),

    // …and a parameterized procedure argument: call bfs($src)
    Q("gql_param_call",
      bindings(
        """call bfs($src) yield id, dist
          |return dist, count(id) as n""".stripMargin,
        Map("src" -> graft.lang.IntV(1000000000L))),
      Some(callBfsOracle)),

    // $param in skip/limit position (round 14): substitution turns the
    // param into the same foldable constant a literal gives, so the
    // TakeOrderedAndProject shaping is identical
    Q("gql_param_limit",
      bindings(
        """match (n:nation)
          |return n, n.name as name
          |order by n skip $off limit $k""".stripMargin,
        Map("off" -> graft.lang.IntV(3L), "k" -> graft.lang.IntV(7L))),
      Some("""SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS n, n_name AS name
             |FROM nation ORDER BY 1 OFFSET 3 LIMIT 7""".stripMargin)),

    // $param as a procedure's relation-scope string argument
    Q("gql_param_call_rel",
      bindings(
        """call cc($rel) yield id, comp
          |where comp.val < 2000000000
          |return comp, count(id) as n""".stripMargin,
        Map("rel" -> graft.lang.StringV("nregion"))),
      Some("""SELECT CAST(r_regionkey + 1000000000 AS BIGINT) AS comp,
             |  CAST(1 + (SELECT count(*) FROM nation n
             |            WHERE n.n_regionkey = region.r_regionkey) AS BIGINT) AS n
             |FROM region""".stripMargin)),

    // toInteger (round 11): strict string→int parse (non-numeric
    // raises under ANSI — the strict flavor of Cypher's null); with
    // split it recovers numbers from structured strings, and it
    // inverts toString on the int domain.
    Q("gql_tointeger",
      bindings(
        """match (n:nation)
          |where n.nationkey >= 20
          |return n, toInteger(split(n.name, "_")[1]) as num,
          |       toInteger(toString(n.nationkey * 3)) as rt""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(string_split(n_name, '_')[2] AS BIGINT) AS num,
             |       CAST(n_nationkey * 3 AS BIGINT) AS rt
             |FROM nation WHERE n_nationkey >= 20""".stripMargin)),

    // list slice (round 11): 0-based end-EXCLUSIVE [lo..hi], both
    // bounds clamped (a slice is a set carve — no ANSI raise, unlike
    // single-element indexing); over the ascending collect, [1..4]
    // reads the 2nd..4th smallest, and a negative lo clamps to 0.
    Q("gql_slice",
      bindings(
        """match (n:nation)
          |with n.regionkey as rk, collect(n.nationkey) as ks
          |return rk, size(ks.val[1..4]) as mid, ks.val[1..4][0] as second,
          |       size(ks.val[0 - 2..99]) as clamped""".stripMargin),
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS rk,
             |  CAST(len((list(n_nationkey ORDER BY n_nationkey))[2:4]) AS BIGINT) AS mid,
             |  CAST(((list(n_nationkey ORDER BY n_nationkey))[2:4])[1] AS BIGINT) AS second,
             |  CAST(len(list(n_nationkey ORDER BY n_nationkey)) AS BIGINT) AS clamped
             |FROM nation GROUP BY n_regionkey""".stripMargin)),

    // median (round 11): the exact LOW median — element (n-1) div 2 of
    // the group's ascending sort. Deterministic (no interpolation, no
    // floats) so it oracle-checks bit-exactly; the distinct variant
    // medians the value SET. Exact medians gather the group at the
    // merge — the sketch twin (p_events_quantiles_approx) is the
    // 100 TB fallback when groups are too wide.
    Q("gql_median",
      bindings(
        """match (n:nation)
          |return n.regionkey as rk, median(n.nationkey) as med,
          |       median(distinct n.nationkey mod 5) as dmed, count(n) as cnt""".stripMargin),
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS rk,
             |  CAST((list(n_nationkey ORDER BY n_nationkey))[(count(*) + 1) // 2]
             |       AS BIGINT) AS med,
             |  CAST((list(DISTINCT n_nationkey % 5 ORDER BY n_nationkey % 5))
             |       [(count(DISTINCT n_nationkey % 5) + 1) // 2] AS BIGINT) AS dmed,
             |  count(*) AS cnt
             |FROM nation GROUP BY n_regionkey""".stripMargin)),

    // label(v)/type(x) (round 11): Cypher's labels()/type() specialized
    // to the single-label model — statically resolved, so they fold to
    // string CONSTANTS at typing time (zero runtime cost; interop
    // provenance tags for generic result-shaping code).
    Q("gql_label_type",
      bindings(
        """match (n:nation) -[x:nregion]-> (r:region)
          |where n.nationkey < 3
          |return n, label(n) as lbl, type(x) as rel""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       'nation' AS lbl, 'nregion' AS rel
             |FROM nation WHERE n_nationkey < 3""".stripMargin)),

    // merge conditional actions (round 11 — Cypher ON CREATE SET /
    // ON MATCH SET): the first merge misses (no nationkey-999 nation)
    // so only its on-create sets fire; the second hits nationkey 1 so
    // only its on-match set fires. Observable output = the mutated
    // nation frame (created node id = FreshBase, the loader contract).
    Q("gql_merge_actions",
      nodeFrame(
        """merge (x:nation {nationkey: 999})
          |on create set x.name = "ghost", x.regionkey = 42
          |on match set x.name = "seen"
          |merge (y:nation {nationkey: 1})
          |on create set y.name = "ghost2"
          |on match set y.regionkey = y.regionkey + 100
          |return x, y""".stripMargin, "nation",
        ("id", "id"), ("name", "name"), ("regionkey", "regionkey")),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS id,
             |       n_name AS name,
             |       CAST(n_regionkey AS BIGINT) +
             |         CASE WHEN n_nationkey = 1 THEN 100 ELSE 0 END AS regionkey
             |FROM nation
             |UNION ALL
             |SELECT 20000000000 AS id, 'ghost' AS name, 42 AS regionkey""".stripMargin)),

    // strjoin: the deterministic collect() stand-in — the group's
    // strings concatenated in ASCENDING order (a pure function of the
    // value bag, so partitioning can't perturb it); map-side partial
    // collect_list, one sort per group at the merge
    Q("gql_strjoin",
      bindings(
        """match (n:nation) -[:nregion]-> (r:region)
          |where n.nationkey < 10
          |return r, strjoin(n.name) as members, strjoin(distinct substring(n.name, 1, 6)) as prefixes""".stripMargin),
      Some("""SELECT CAST(r_regionkey AS BIGINT) + 1000000000 AS r,
             |       string_agg(n_name, ',' ORDER BY n_name) AS members,
             |       string_agg(DISTINCT substring(n_name, 1, 6), ','
             |                  ORDER BY substring(n_name, 1, 6)) AS prefixes
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |WHERE n_nationkey < 10
             |GROUP BY r_regionkey""".stripMargin)),

    // count(*) counts ROWS; count(m) skips NULL optional bindings —
    // the SQL distinction, reproduced over the same left-join witness
    Q("gql_count_star",
      bindings(
        """match (n:nation)
          |optional match (n) -[:nnext]-> (m:nation)
          |return count(*) as total, count(m) as hits""".stripMargin),
      Some("""SELECT COUNT(*) AS total, COUNT(dst) AS hits FROM (
             |  SELECT LEAD(n_nationkey) OVER (
             |    PARTITION BY n_regionkey ORDER BY n_nationkey) AS dst
             |  FROM nation) t""".stripMargin)),

    // --- expression projection items (round 10 continued): full
    // expressions ride `with … as x` (alias machinery names them),
    // aggregate arguments (`sum(case … end)` — conditional
    // aggregation), and `order by` keys. All stay inside the one
    // shaping projection/aggregate — the plan cost is identical to the
    // equivalent attr item.
    Q("gql_with_expr",
      bindings(
        """match (n:nation)
          |with n, case when n.regionkey = 0 then n.nationkey * 100
          |             else n.nationkey end as score
          |where score.val >= 100
          |return n, score""".stripMargin),
      Some("""SELECT n, score FROM (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |         CASE WHEN n_regionkey = 0 THEN CAST(n_nationkey AS BIGINT) * 100
             |              ELSE CAST(n_nationkey AS BIGINT) END AS score
             |  FROM nation) t
             |WHERE score >= 100""".stripMargin)),

    // conditional aggregation: sum over a case expression, grouped by a
    // plain attr item — the SQL sum-filter idiom
    Q("gql_agg_expr",
      bindings(
        """match (n:nation)
          |with n.regionkey as rk,
          |     sum(case when n.nationkey mod 2 = 0 then 1 else 0 end) as evens,
          |     count(n) as total
          |return rk, evens, total""".stripMargin),
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS rk,
             |       CAST(SUM(CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS evens,
             |       COUNT(*) AS total
             |FROM nation GROUP BY 1""".stripMargin)),

    // a STRING expression as the grouping key (scalar pseudo-label
    // carries its type through the continued query)
    Q("gql_group_expr",
      bindings(
        """match (s:supplier)
          |with case when s.nationkey < 12 then "low" else upper("hi") end as bucket,
          |     count(s) as c
          |return bucket, c""".stripMargin),
      Some("""SELECT CASE WHEN s_nationkey < 12 THEN 'low' ELSE upper('hi') END AS bucket,
             |       COUNT(*) AS c
             |FROM supplier GROUP BY 1""".stripMargin)),

    // expression ORDER BY key in return: top-3 regions by name length
    // (desc), name as the tiebreak — the key never becomes a column
    Q("gql_order_expr",
      bindings(
        "match (r:region)\nreturn r, r.name order by size(r.name) desc, r.name limit 3"),
      Some("""SELECT CAST(r_regionkey AS BIGINT) + 1000000000 AS r,
             |       r_name AS r_name
             |FROM region ORDER BY length(r_name) DESC, r_name LIMIT 3""".stripMargin)),

    // return item aliases (Cypher's RETURN expr AS x): expression items
    // ride return directly once aliased; attr/agg items rename — the
    // one projection/aggregate names the output columns, nothing extra
    Q("gql_ret_alias",
      bindings(
        """match (n:nation)
          |return n.regionkey as rk,
          |       sum(case when n.nationkey mod 2 = 0 then 1 else 0 end) as evens,
          |       count(n) as total""".stripMargin),
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS rk,
             |       CAST(SUM(CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS evens,
             |       COUNT(*) AS total
             |FROM nation GROUP BY 1""".stripMargin)),

    // ORDER BY alias + string min/max (round 10 continued): the order
    // key resolves to the aliased item (Cypher ORDER BY alias), and
    // min/max extend to strings lexicographically
    Q("gql_order_alias",
      bindings(
        """match (n:nation) -[:nregion]-> (r:region)
          |return r, min(n.name) as lo, max(n.name) as hi, count(n) as c
          |order by lo desc limit 3""".stripMargin),
      Some("""SELECT CAST(r_regionkey AS BIGINT) + 1000000000 AS r,
             |       min(n_name) AS lo, max(n_name) AS hi, COUNT(*) AS c
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1 ORDER BY lo DESC LIMIT 3""".stripMargin)),

    // concat + substring + replace (round 10 continued): SQL 1-based
    // substring, replace-all, `+` concatenation — the string-building
    // trio, composed in one projection
    Q("gql_str_build",
      bindings(
        """match (c:customer)
          |where c.nationkey = 3
          |return c, replace(substring(c.name, 10, 8), "0", "") + "x" as cid
          |""".stripMargin),
      Some("""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c,
             |       replace(substring(c_name, 10, 8), '0', '') || 'x' AS cid
             |FROM customer WHERE c_nationkey = 3""".stripMargin)),

    // toString completes the conversion story: int/bool render as
    // strings (decimal, true/false) identically in Spark CAST AS STRING
    // and DuckDB CAST AS VARCHAR
    Q("gql_tostring",
      bindings(
        """match (n:nation)
          |where n.nationkey < 5
          |return n, toString(n.nationkey * 7) + substring(n.name, 7, 3) as t,
          |       toString(n.regionkey = 0) as even
          |""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(CAST(n_nationkey AS BIGINT) * 7 AS VARCHAR)
             |         || substring(n_name, 7, 3) AS t,
             |       CAST(n_regionkey = 0 AS VARCHAR) AS even
             |FROM nation WHERE n_nationkey < 5""".stripMargin)),

    // --- remove (round 10 continued — Cypher's attribute REMOVE):
    // unset node / edge attributes, leaving exactly the never-set NULL
    // state (strict raises on read, non-strict predicates non-match)
    Q("gql_remove",
      nodeFrame(
        "match (p:part) where p.psize < 10 remove p.psize",
        "part", ("id", "p"), ("psize", "psize")),
      Some("""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p,
             |       CASE WHEN p_size < 10 THEN NULL
             |            ELSE CAST(p_size AS BIGINT) END AS psize
             |FROM part""".stripMargin)),

    Q("gql_remove_edge",
      edgeFrameCols(
        """match (l:lineitem) -[x:lpart]-> (p:part)
          |where p.psize > 40
          |remove x.qty""".stripMargin,
        ("lineitem", "lpart", "part"), "src", "dst", "qty"),
      Some(lineIdSql(
        """SELECT lid AS src,
          |       CAST(l_partkey AS BIGINT) + 5000000000 AS dst,
          |       CASE WHEN p_size > 40 THEN NULL
          |            ELSE CAST(l_quantity AS BIGINT) END AS qty
          |FROM lids JOIN part ON l_partkey = p_partkey""".stripMargin))),

    // case drives a conditional set: the computed value lands on the
    // graph and a re-match reads it back (per-row spec semantics)
    Q("gql_case_set",
      nodeFrame(
        """match (p:part) where p.psize < 20
          |set p.psize = case when p.psize mod 2 = 0 then p.psize / 2
          |                   else p.psize * 3 + 1 end""".stripMargin,
        "part", ("id", "p"), ("psize", "psize")),
      Some("""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p,
             |       CAST(CASE WHEN p_size >= 20 THEN p_size
             |                 WHEN p_size % 2 = 0 THEN p_size // 2
             |                 ELSE p_size * 3 + 1 END AS BIGINT) AS psize
             |FROM part""".stripMargin)),

    // --- union: query-level branch composition (Cypher UNION; round
    // 10). Branches are independent read-only queries over one graph;
    // `union` dedups the combined bag — one Catalyst Union + one hash
    // aggregate, each branch keeping its own pushdown/fused-hop plan.
    Q("gql_union",
      bindings(
        """match (s:supplier) -[:snation]-> (n:nation)
          |where n.regionkey = 0
          |return s
          |union
          |match (s:supplier)
          |where s.nationkey < 8
          |return s""".stripMargin),
      Some("""SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |WHERE n_regionkey = 0
             |UNION
             |SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s
             |FROM supplier WHERE s_nationkey < 8""".stripMargin)),

    // union all preserves multiplicity: rows matching both branches
    // appear twice (BUILDING customers of region 1)
    Q("gql_union_all",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |where n.regionkey = 1
          |return n, c
          |union all
          |match (c:customer) -[:cnation]-> (n:nation)
          |where c.mktsegment = "BUILDING"
          |return n, c""".stripMargin),
      Some("""SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(c_custkey AS BIGINT) + 4000000000 AS c
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE n_regionkey = 1
             |UNION ALL
             |SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(c_custkey AS BIGINT) + 4000000000 AS c
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_mktsegment = 'BUILDING'""".stripMargin)),

    // branch output names come from the RETURN shape, so differently-
    // computed aggregates align through `with … as cnt` — the
    // union × with × aggregate composition
    Q("gql_union_agg",
      bindings(
        """match (n:nation) where n.regionkey = 0 with count(n) as cnt return cnt
          |union all
          |match (s:supplier) with count(s) as cnt return cnt""".stripMargin),
      Some("""SELECT count(*) AS cnt FROM nation WHERE n_regionkey = 0
             |UNION ALL
             |SELECT count(*) AS cnt FROM supplier""".stripMargin)),

    // --- return distinct: row-level dedup of the projected output,
    // SQL DISTINCT semantics (project → dedup → order) — one hash
    // aggregate on the out columns, TakeOrderedAndProject above it
    Q("gql_distinct",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |return distinct n, n.regionkey order by n""".stripMargin),
      Some("""SELECT DISTINCT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(n_regionkey AS BIGINT) AS n_regionkey
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |ORDER BY n""".stripMargin)),

    // --- distinct aggregates: count(distinct v) / sum(distinct v.f) —
    // Spark's two-phase distinct aggregation (partial dedup map-side)
    Q("gql_count_distinct",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |return n.regionkey, count(distinct n), sum(distinct n.nationkey)""".stripMargin),
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
             |       count(DISTINCT n_nationkey) AS count_distinct_n,
             |       CAST(sum(DISTINCT n_nationkey) AS BIGINT) AS sum_distinct_n_nationkey
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1""".stripMargin)),

    // --- inline property maps (Cypher-shaped sugar; see Normalize):
    // on match, `(v:L {f: e})` desugars to where-conjuncts appended after
    // the pattern — the engine still fuses the hops into equi-joins
    Q("gql_props_match",
      bindings(
        """match (c:customer {mktsegment: "BUILDING"}) -[:cnation]-> (n:nation {regionkey: 1})
          |return c, n""".stripMargin),
      Some("""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c,
             |       CAST(n_nationkey AS BIGINT) + 2000000000 AS n
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_mktsegment = 'BUILDING' AND n_regionkey = 1""".stripMargin)),

    // on create, props desugar to per-row `set` instructions — each fresh
    // node takes its OWN row's expression values (here: attributes of the
    // matched nation), not a single broadcast constant
    Q("gql_props_create",
      nodeFrame(
        """match (n:nation)
          |where n.regionkey = 1
          |create (p:part {name: n.name, psize: n.nationkey * 10})""".stripMargin,
        "part", ("id", "p"), ("name", "name"), ("psize", "psize")),
      Some("""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p,
             |       p_name AS name, CAST(p_size AS BIGINT) AS psize
             |FROM part
             |UNION ALL
             |SELECT 20000000000 + ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS p,
             |       n_name, CAST(n_nationkey AS BIGINT) * 10
             |FROM nation WHERE n_regionkey = 1""".stripMargin)),

    // attribute projection: v.f output columns alongside ids
    Q("gql_return_attr",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |where n.regionkey = 2
          |return c, c.name, n.name""".stripMargin),
      Some("""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c,
             |       c_name AS c_name, n_name AS n_name
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE n_regionkey = 2""".stripMargin)),

    // --- variable-length path (VERDICT r05 item 5): bounded closure over
    // the label-homogeneous successor relation; DuckDB recursive-CTE oracle
    Q("gql_varpath",
      bindings(
        "match (a:nation) -[:nnext*1..3]-> (b:nation) return a, b"),
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |r AS (SELECT src, dst, 1 AS d FROM e WHERE dst IS NOT NULL
             |      UNION ALL
             |      SELECT r.src, e.dst, r.d + 1
             |      FROM r JOIN e ON r.dst = e.src
             |      WHERE e.dst IS NOT NULL AND r.d < 3)
             |SELECT DISTINCT src AS a, dst AS b FROM r""".stripMargin)),

    // UNBOUNDED `*` (round 16, VERDICT r15 item 2): no written upper
    // bound and no silent cap — the engine runs the seeded closure to
    // its convergence fixed point (deltaCC-style frontier-count probe
    // per superstep), so the oracle's recursive CTE carries NO level
    // bound either: both sides compute true reachability. The nnext
    // chain is acyclic (per-region successor runs), so the CTE
    // terminates on its own; hop counts come through `as d` to pin the
    // BFS levels, not just membership.
    Q("gql_varpath_unbounded",
      bindings(
        """match (a:nation) -[:nnext* as d]-> (b:nation)
          |return a, b, d.hops""".stripMargin),
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |r AS (SELECT src, dst, 1 AS d FROM e WHERE dst IS NOT NULL
             |      UNION ALL
             |      SELECT r.src, e.dst, r.d + 1
             |      FROM r JOIN e ON r.dst = e.src
             |      WHERE e.dst IS NOT NULL)
             |SELECT src AS a, dst AS b, CAST(min(d) AS BIGINT) AS d_hops
             |FROM r GROUP BY src, dst""".stripMargin)),

    // UNBOUNDED with a floor >= 2 (round 17, VERDICT r16 item 5): the
    // last open-ended spelling that silently truncated at the depth
    // cap. The executor runs the closure to convergence and then
    // composes the floor as step^(lo-1) of the converged result (exact
    // on cyclic graphs too — the step map distributes over the level
    // union); the oracle's recursive CTE carries NO level bound either
    // (the nnext chain is acyclic so it terminates), windowed by the
    // same per-pair min >= 2 the dist binding exposes.
    Q("gql_varpath_unbounded_lo2",
      bindings(
        """match (a:nation) -[:nnext*2.. as d]-> (b:nation)
          |return a, b, d.hops""".stripMargin),
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |r AS (SELECT src, dst, 1 AS d FROM e WHERE dst IS NOT NULL
             |      UNION ALL
             |      SELECT r.src, e.dst, r.d + 1
             |      FROM r JOIN e ON r.dst = e.src
             |      WHERE e.dst IS NOT NULL)
             |SELECT src AS a, dst AS b, CAST(min(d) AS BIGINT) AS d_hops
             |FROM r GROUP BY src, dst HAVING min(d) >= 2""".stripMargin)),

    // shortest-path distance binding `as d` (Cypher shortestPath +
    // length(p), without path values): d.hops = minimal hop count per
    // reachable pair within the bounds window, flowing through the
    // ordinary typed expression machinery (here: a where filter AND the
    // projected output). Oracle = recursive CTE + per-pair MIN.
    Q("gql_shortest",
      bindings(
        """match (a:nation) -[:nnext*1..4 as d]-> (b:nation)
          |where d.hops >= 2
          |return a, b, d.hops""".stripMargin),
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |r AS (SELECT src, dst, 1 AS d FROM e WHERE dst IS NOT NULL
             |      UNION ALL
             |      SELECT r.src, e.dst, r.d + 1
             |      FROM r JOIN e ON r.dst = e.src
             |      WHERE e.dst IS NOT NULL AND r.d < 4),
             |m AS (SELECT src AS a, dst AS b, CAST(min(d) AS BIGINT) AS d_hops
             |      FROM r GROUP BY src, dst)
             |SELECT a, b, d_hops FROM m WHERE d_hops >= 2""".stripMargin)),

    // allShortestPaths (round 15 — Cypher's enumeration form): one row
    // per MINIMAL-hop walk, not one canonical witness per pair. The
    // undirected 2..2 window over the nnext chain is the tie case:
    // every interior chain node self-pairs through BOTH neighbors (two
    // witnesses), the endpoints through one, and the ±2 pairs through
    // their unique middle — the oracle builds all witnesses closed-form
    // from the chain positions.
    Q("gql_allshortest",
      bindings(
        """match p = allShortestPaths((a:nation) -[:nnext*2..2]- (b:nation))
          |where a.regionkey = 0
          |with a, b, nodes(p) as ns
          |return a, b, ns.val[1] as mid""".stripMargin),
      Some("""WITH n0 AS (SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS id,
             |         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS pos,
             |         n_regionkey AS rk FROM nation)
             |SELECT x.id AS a, y.id AS b, m.id AS mid
             |FROM n0 x JOIN n0 y ON y.rk = x.rk AND abs(y.pos - x.pos) = 2
             |JOIN n0 m ON m.rk = x.rk AND m.pos = (x.pos + y.pos) / 2
             |WHERE x.rk = 0
             |UNION ALL
             |SELECT x.id, x.id, m.id
             |FROM n0 x JOIN n0 m ON m.rk = x.rk AND abs(m.pos - x.pos) = 1
             |WHERE x.rk = 0""".stripMargin)),

    // ...and the directed tie-free window (the prefix-pruned BFS-DAG
    // branch): on the chain every pair has exactly one minimal walk, so
    // the enumeration must produce exactly the single-witness rows —
    // no duplicates, composed through nodes(p)/unwind like gql_named_path
    Q("gql_allshortest_dir",
      bindings(
        """match p = allShortestPaths((a:nation) -[:nnext*1..3]-> (b:nation))
          |where a.regionkey <= 1
          |with a, b, length(p) as l, nodes(p) as ns
          |unwind ns as nid
          |return a, b, l, nid""".stripMargin),
      Some("""WITH n0 AS (SELECT CAST(n_nationkey + 2000000000 AS BIGINT) AS id,
             |         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS pos,
             |         n_regionkey AS rk FROM nation)
             |SELECT x.id AS a, y.id AS b, CAST(y.pos - x.pos AS BIGINT) AS l, z.id AS nid
             |FROM n0 x
             |JOIN n0 y ON y.rk = x.rk AND y.pos - x.pos BETWEEN 1 AND 3
             |JOIN n0 z ON z.rk = x.rk AND z.pos BETWEEN x.pos AND y.pos
             |WHERE x.rk <= 1""".stripMargin)),

    // lower bound > 1: hops 2..3 only, composed with where + return attr
    Q("gql_varpath_bounds",
      bindings(
        """match (a:nation) -[:nnext*2..3]-> (b:nation)
          |where a.regionkey = 0
          |return a, b, b.name""".stripMargin),
      Some("""WITH RECURSIVE e AS (
             |  SELECT n_regionkey AS rk,
             |         CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |r AS (SELECT rk, src, dst, 1 AS d FROM e WHERE dst IS NOT NULL
             |      UNION ALL
             |      SELECT r.rk, r.src, e.dst, r.d + 1
             |      FROM r JOIN e ON r.dst = e.src
             |      WHERE e.dst IS NOT NULL AND r.d < 3)
             |SELECT DISTINCT r.src AS a, r.dst AS b, n.n_name AS b_name
             |FROM r JOIN nation n
             |  ON r.dst = CAST(n.n_nationkey AS BIGINT) + 2000000000
             |WHERE r.d >= 2 AND r.rk = 0""".stripMargin)),

    // open/short bound spellings (round 15 — the Cypher forms `*`,
    // `*n`, `*lo..`, `*..hi`): omitted lower bound is 1, omitted upper
    // bound is the typing depth cap (10). `*2` = exactly two hops,
    // `*..2` = one or two; over the nnext chain (max run length 7 at
    // every SF — nations per region) the bare `*` and `*2..` forms
    // reach the same closure a written *1..10 / *2..10 would.
    Q("gql_varpath_spellings",
      bindings(
        """match (a:nation) -[:nnext*2]-> (b:nation), (a) -[:nnext*..2]-> (c:nation),
          |      (a) -[:nnext*]-> (d:nation)
          |where a.regionkey = 0
          |return distinct a, b, c, d""".stripMargin),
      Some("""WITH RECURSIVE e AS (
             |  SELECT n_regionkey AS rk,
             |         CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |r AS (SELECT rk, src, dst, 1 AS d FROM e WHERE dst IS NOT NULL
             |      UNION ALL
             |      SELECT r.rk, r.src, e.dst, r.d + 1
             |      FROM r JOIN e ON r.dst = e.src
             |      WHERE e.dst IS NOT NULL AND r.d < 10)
             |SELECT DISTINCT b.src AS a, b.dst AS b, c.dst AS c, d.dst AS d
             |FROM r b JOIN r c ON c.src = b.src JOIN r d ON d.src = b.src
             |WHERE b.d = 2 AND c.d <= 2 AND b.rk = 0""".stripMargin)),

    // zero-length lower bound (VERDICT r07 item 5): *0..2 = identity ∪
    // 1..2-hop closure — every nation pairs with itself (even each
    // region's chain tail, which has no outgoing nnext edge); oracle =
    // recursive CTE seeded with the identity pairs at depth 0
    Q("gql_varpath_zero",
      bindings(
        "match (a:nation) -[:nnext*0..2]-> (b:nation) return a, b"),
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |r AS (SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |             CAST(n_nationkey AS BIGINT) + 2000000000 AS dst, 0 AS d
             |      FROM nation
             |      UNION ALL
             |      SELECT r.src, e.dst, r.d + 1
             |      FROM r JOIN e ON r.dst = e.src
             |      WHERE e.dst IS NOT NULL AND r.d < 2)
             |SELECT DISTINCT src AS a, dst AS b FROM r""".stripMargin)),

    // --- `with` clause (engine extension — Cypher's mid-query pipeline
    // composition): project/aggregate the binding table, then KEEP
    // MATCHING. Plain items stay node bindings; aliased attr/agg items
    // bind %-scalar pseudo-labels readable as `<alias>.val`.

    // aggregate → filter on the aggregate → expand again: nations with
    // ≥5 customers, then their regions (count survives as cnt.val)
    Q("gql_with_agg",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |with n, count(c) as cnt
          |where cnt.val >= 5
          |match (n) -[:nregion]-> (r:region)
          |return n, cnt.val, r""".stripMargin),
      Some("""WITH w AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n, count(*) AS cnt
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1)
             |SELECT w.n AS n, w.cnt AS cnt_val,
             |       CAST(n2.n_regionkey AS BIGINT) + 1000000000 AS r
             |FROM w JOIN nation n2 ON w.n = CAST(n2.n_nationkey AS BIGINT) + 2000000000
             |WHERE w.cnt >= 5""".stripMargin)),

    // top-k mid-query: order by the aggregate (item keys only, typing-
    // enforced), limit, then join the survivors against suppliers
    Q("gql_with_topk",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |with n, count(c) as cnt order by count(c) desc, n limit 3
          |match (s:supplier) -[:snation]-> (n)
          |return n, cnt.val, s""".stripMargin),
      Some("""WITH w AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS n, count(*) AS cnt
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1 ORDER BY cnt DESC, n LIMIT 3)
             |SELECT w.n AS n, w.cnt AS cnt_val,
             |       CAST(s_suppkey AS BIGINT) + 3000000000 AS s
             |FROM w JOIN supplier ON CAST(s_nationkey AS BIGINT) + 2000000000 = w.n""".stripMargin)),

    // non-aggregating with: an attribute re-bound as a scalar, reused in
    // arithmetic AFTER the original binding went out of scope
    Q("gql_with_attr",
      bindings(
        """match (p:part)
          |with p, p.psize as sz
          |where sz.val * 2 > 90
          |return p, sz.val""".stripMargin),
      Some("""SELECT CAST(p_partkey AS BIGINT) + 5000000000 AS p,
             |       CAST(p_size AS BIGINT) AS sz_val
             |FROM part WHERE p_size * 2 > 90""".stripMargin)),

    // with distinct: dedup the projection mid-query, then expand — the
    // classic "nations having customers, now their suppliers" pipeline
    Q("gql_with_distinct",
      bindings(
        """match (c:customer) -[:cnation]-> (n:nation)
          |with distinct n, n.regionkey as rk
          |match (s:supplier) -[:snation]-> (n)
          |return n, rk.val, s""".stripMargin),
      Some("""WITH w AS (
             |  SELECT DISTINCT CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |         CAST(n_regionkey AS BIGINT) AS rk
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
             |SELECT w.n AS n, w.rk AS rk_val,
             |       CAST(s_suppkey AS BIGINT) + 3000000000 AS s
             |FROM w JOIN supplier ON CAST(s_nationkey AS BIGINT) + 2000000000 = w.n""".stripMargin)),

    // --- reverse-direction patterns `<-[:r]-` (engine extension; the
    // reference grammar admits only `->`, parser.mly:50-56). The mixed
    // 2-hop below desugars to the SAME IR as gql_match_2hop read
    // right-to-left — the engine fuses both hops into
    // equi-joins exactly as in the forward form.
    Q("gql_match_rev",
      bindings(
        """match (r:region) <-[:nregion]- (n:nation) <-[:snation]- (s:supplier)
          |where r.name = "EUROPE"
          |return s, n, r""".stripMargin),
      Some("""SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s,
             |       CAST(n_nationkey AS BIGINT) + 2000000000 AS n,
             |       CAST(r_regionkey AS BIGINT) + 1000000000 AS r
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'EUROPE'""".stripMargin)),

    // reverse variable-length hop: `(b)<-[:nnext*1..3]-(a)` = 1..3-hop
    // paths FROM a TO b — the seeded expansion runs backward over the
    // flipped edge frame (varPathReachSeeded seedIsSrc=false)
    Q("gql_varpath_rev",
      bindings(
        "match (b:nation) <-[:nnext*1..3]- (a:nation) return a, b"),
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |r AS (SELECT src, dst, 1 AS d FROM e WHERE dst IS NOT NULL
             |      UNION ALL
             |      SELECT r.src, e.dst, r.d + 1
             |      FROM r JOIN e ON r.dst = e.src
             |      WHERE e.dst IS NOT NULL AND r.d < 3)
             |SELECT DISTINCT src AS a, dst AS b FROM r""".stripMargin)),

    // undirected hop `-[:r]-` (Cypher's third direction): the edge may
    // run either way — on the self-label nnext chain each interior
    // nation pairs with BOTH neighbours. Match semantics stay
    // cross+semi: one row per connected node pair (the fused join
    // dedups the two-orientation union)
    Q("gql_match_undir",
      bindings(
        "match (a:nation) -[:nnext]- (b:nation) return a, b"),
      Some("""WITH e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |u AS (SELECT src, dst FROM e WHERE dst IS NOT NULL
             |      UNION
             |      SELECT dst, src FROM e WHERE dst IS NOT NULL)
             |SELECT src AS a, dst AS b FROM u""".stripMargin)),

    // undirected hop where only the REVERSE orientation is declared
    // (snation is supplier->nation): `(n)-[:snation]-(s)` typechecks via
    // the (supplier,snation,nation) triple alone and reads that frame
    // dst-as-src — the rev-only branch of RMatchEdgeUndir
    Q("gql_match_undir_mixed",
      bindings(
        """match (n:nation) -[:snation]- (s:supplier)
          |where n.nationkey = 5
          |return s, n""".stripMargin),
      Some("""SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s,
             |       CAST(n_nationkey AS BIGINT) + 2000000000 AS n
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |WHERE n_nationkey = 5""".stripMargin)),

    // undirected variable-length hop: walks over the SYMMETRIZED chain,
    // so depth 2 includes the a-b-a self-pair and both-direction
    // sibling pairs — walk semantics, exactly like the directed closure
    Q("gql_varpath_undir",
      bindings(
        "match (a:nation) -[:nnext*1..2]- (b:nation) return a, b"),
      Some("""WITH e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |u AS (SELECT src, dst FROM e WHERE dst IS NOT NULL
             |      UNION
             |      SELECT dst, src FROM e WHERE dst IS NOT NULL),
             |w AS (SELECT src, dst FROM u
             |      UNION
             |      SELECT a.src, b.dst FROM u a JOIN u b ON a.dst = b.src)
             |SELECT src AS a, dst AS b FROM w""".stripMargin)),

    // undirected shortest distance: minimal symmetrized walk length in
    // the 1..3 window from one seed nation — backward chain neighbours
    // are distance 1 here, where the directed `as d` would not reach
    // them at all
    Q("gql_shortest_undir",
      bindings(
        """match (a:nation) -[:nnext*1..3 as d]- (b:nation)
          |where a.nationkey = 5
          |return b, d.hops""".stripMargin),
      Some("""WITH RECURSIVE e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |u AS (SELECT src, dst FROM e WHERE dst IS NOT NULL
             |      UNION
             |      SELECT dst, src FROM e WHERE dst IS NOT NULL),
             |w AS (SELECT src, dst, 1 AS d FROM u
             |      UNION ALL
             |      SELECT w.src, u.dst, w.d + 1
             |      FROM w JOIN u ON w.dst = u.src
             |      WHERE w.d < 3)
             |SELECT dst AS b, CAST(min(d) AS BIGINT) AS d_hops
             |FROM w
             |WHERE src = 2000000005
             |GROUP BY dst""".stripMargin)),

    // --- optional match (left-outer edge expansion): the region-last
    // nation has no nnext successor and binds NULL
    Q("gql_optional",
      bindings(
        """match (n:nation)
          |optional match (n) -[:nnext]-> (m:nation)
          |return n, m""".stripMargin),
      Some("""WITH e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation)
             |SELECT CAST(n.n_nationkey AS BIGINT) + 2000000000 AS n, e.dst AS m
             |FROM nation n
             |LEFT JOIN e ON e.src = CAST(n.n_nationkey AS BIGINT) + 2000000000
             |           AND e.dst IS NOT NULL""".stripMargin)),

    // optional match composed with aggregation: count(m) skips the
    // unmatched NULL bindings, count(n) does not
    Q("gql_optional_agg",
      bindings(
        """match (n:nation)
          |optional match (n) -[:nnext]-> (m:nation)
          |return count(n), count(m)""".stripMargin),
      Some("""WITH e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation)
             |SELECT count(*) AS count_n, count(e.dst) AS count_m
             |FROM nation n
             |LEFT JOIN e ON e.src = CAST(n.n_nationkey AS BIGINT) + 2000000000
             |           AND e.dst IS NOT NULL""".stripMargin)),

    // null(v) predicate: filter to the UNMATCHED optional rows — the
    // anti-join shape (region-last nations have no successor)
    Q("gql_optional_null",
      bindings(
        """match (n:nation)
          |optional match (n) -[:nnext]-> (m:nation)
          |where null(m)
          |return n, n.name""".stripMargin),
      Some("""WITH e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation)
             |SELECT CAST(n.n_nationkey AS BIGINT) + 2000000000 AS n,
             |       n.n_name AS n_name
             |FROM nation n JOIN e
             |  ON e.src = CAST(n.n_nationkey AS BIGINT) + 2000000000
             |WHERE e.dst IS NULL""".stripMargin)),

    // --- pattern negation (VERDICT r06 item 2): `where not exists` →
    // left_anti witness join, the mirror of match-edge's left_semi.
    // Existential source (with an inline props conjunct) + bound target:
    // customers with no urgent order (every customer has SOME order in
    // this data, so the props narrowing is what makes the result
    // non-trivial — 203 rows at sf0.01)
    Q("gql_not_exists",
      bindings(
        """match (c:customer)
          |where not exists (o:orders {urgent: true}) -[:ocust]-> (c)
          |return c, c.name""".stripMargin),
      Some("""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c,
             |       c_name AS c_name
             |FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey
             |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin)),

    // --- positive pattern predicate `where exists` (round 9): the
    // left_semi mirror — customers WITH an urgent order, each appearing
    // ONCE regardless of how many urgent orders they have (row
    // multiplicity preserved, unlike a match which would multiply)
    Q("gql_exists",
      bindings(
        """match (c:customer)
          |where exists (o:orders {urgent: true}) -[:ocust]-> (c)
          |return c, c.name""".stripMargin),
      Some("""SELECT CAST(c_custkey AS BIGINT) + 4000000000 AS c,
             |       c_name AS c_name
             |FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_orderpriority = '1-URGENT')""".stripMargin)),

    // bound source + existential target narrowed by an inline props
    // conjunct (filters INSIDE the anti-joined witness)
    Q("gql_not_exists_props",
      bindings(
        """match (s:supplier)
          |where not exists (s) -[:snation]-> (n:nation {regionkey: 1})
          |return s""".stripMargin),
      Some("""SELECT CAST(s_suppkey AS BIGINT) + 3000000000 AS s
             |FROM supplier s
             |WHERE NOT EXISTS (SELECT 1 FROM nation n
             |                  WHERE n.n_nationkey = s.s_nationkey
             |                    AND n.n_regionkey = 1)""".stripMargin)),

    // --- multi-hop optional match (VERDICT r06 item 3): all-or-nothing
    // witness — a nation with a 1-hop but no 2-hop successor binds BOTH
    // m and k to NULL, never a partial path
    Q("gql_optional_path",
      bindings(
        """match (n:nation)
          |optional match (n) -[:nnext]-> (m:nation) -[:nnext]-> (k:nation)
          |return n, m, k""".stripMargin),
      Some("""WITH e AS (
             |  SELECT CAST(n_nationkey AS BIGINT) + 2000000000 AS src,
             |         CAST(LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
             |              ORDER BY n_nationkey) AS BIGINT) + 2000000000 AS dst
             |  FROM nation),
             |w AS (
             |  SELECT e1.src AS src, e1.dst AS m, e2.dst AS k
             |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
             |  WHERE e1.dst IS NOT NULL AND e2.dst IS NOT NULL)
             |SELECT CAST(n.n_nationkey AS BIGINT) + 2000000000 AS n, w.m, w.k
             |FROM nation n LEFT JOIN w
             |  ON w.src = CAST(n.n_nationkey AS BIGINT) + 2000000000""".stripMargin)),
  )
}
