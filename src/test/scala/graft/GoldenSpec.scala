package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine
import graft.lang.{StringV, Value}

/** End-to-end golden tests ported from the reference corpus
  * ({tiny,entreprise,test2,test3}.q), all read off the classpath from
  * `src/test/resources/`. Only tiny.q is there verbatim (FIXTURES.md
  * A.1); the entreprise.q, test2.q and test3.q tests fail, naming the
  * missing resource, until the verbatim files are copied in.
  * `entreprise_graph.q` is not the reference's entreprise.q: it rebuilds
  * the recorded golden graph (FIXTURES.md A.2) with no final match, and
  * is the starting graph of the `call` test here and of StoreSpec.
  * Expected values re-derived from the reference semantics; recorded
  * outputs in entreprise.t:3-22 and table.tex pin the non-obvious ones.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object TestResources {
  /** A fixture in the test resources, read off the classpath. */
  def resource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/$name")
    require(in != null, s"test resource $name not on the classpath")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}

class GoldenSpec extends AnyFunSuite {
  import TestResources.resource
  lazy val spark = SparkTestSession.spark

  private def nodeIds(r: Engine.QueryResult, label: String): Seq[Long] =
    r.graph.nodes(label).select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def edgeSet(r: Engine.QueryResult, key: (String, String, String)): Set[(Long, Long)] =
    r.graph.edges(key).collect().map(row => (row.getLong(0), row.getLong(1))).toSet

  /** A hop's two join shapes agree: `fused` declares the hop's far
    * endpoint in the hop's own match (the fused equi-join), `boundBoth`
    * binds both endpoints first (the join on both endpoints). Same bag
    * of rows, and not an empty one. */
  private def assertFusedIsBoundBoth(graph: String, fused: String, boundBoth: String): Unit = {
    def bag(q: String): Seq[String] = Engine.runSource(spark, graph + q).bindings.collect()
      .map(_.toSeq.mkString("[", ", ", "]")).toSeq.sorted
    val (f, b) = (bag(fused), bag(boundBoth))
    assert(f == b && f.nonEmpty, s"fused $f vs bound-both $b")
  }

  test("tiny.q: two isolated creates") {
    val r = Engine.runSource(spark, resource("tiny.q"))
    assert(nodeIds(r, "A") == Seq(0L))
    assert(nodeIds(r, "B") == Seq(1L))
    // header is latest-first (b, a), single row [1, 0]
    assert(r.bindings.columns.toSeq == Seq("b", "a"))
    assert(r.bindings.collect().map(_.toSeq).toSeq == Seq(Seq(1L, 0L)))
  }

  test("entreprise.q: golden graph + 1-row result (entreprise.t:3-22)") {
    val r = Engine.runSource(spark, resource("entreprise.q"))
    assert(nodeIds(r, "P") == Seq(0L, 2L))
    assert(nodeIds(r, "E") == Seq(1L, 3L))
    assert(edgeSet(r, ("P", "ami", "P")) == Set((0L, 2L)))
    assert(edgeSet(r, ("P", "emp", "E")) == Set((0L, 1L), (2L, 3L)))
    assert(edgeSet(r, ("E", "f", "E")) == Set((3L, 1L)))
    // attributes after set
    val p = r.graph.nodes("P").orderBy("id").collect()
    assert(p.map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq ==
      Seq((0L, "Marie Dubois", 25L), (2L, "Pierre Dupont", 24L)))
    // binding table: (["p";"e"], [[2; 3]])
    assert(r.bindings.columns.toSeq == Seq("p", "e"))
    assert(r.bindings.collect().map(_.toSeq).toSeq == Seq(Seq(2L, 3L)))
  }

  test("test2.q: 20 nodes, rebinding, 2-hop multi-pattern match (table.tex)") {
    val r = Engine.runSource(spark, resource("test2.q"))
    assert(nodeIds(r, "P").size + nodeIds(r, "E").size == 20)
    assert(r.bindings.columns.toSeq == Seq("p1", "p2", "e", "e2"))
    assert(r.bindings.collect().map(_.toSeq).toSeq == Seq(Seq(18L, 10L, 19L, 13L)))
  }

  test("test3.q: re-creating an existing edge dedups (set semantics)") {
    val r = Engine.runSource(spark, resource("test3.q"))
    assert(edgeSet(r, ("P", "emp", "E")) == Set((0L, 1L)))
  }

  test("merge: match-or-create with read-your-writes across clauses") {
    val r = Engine.runSource(spark,
      """(:P {x int})
        |merge (a:P {x: 1})
        |merge (b:P {x: 1})
        |merge (c:P {x: 2})
        |return a, b, c""".stripMargin)
    // first merge creates 0, second MATCHES it, third creates 1
    assert(nodeIds(r, "P") == Seq(0L, 1L))
    assert(r.bindings.collect().map(_.toSeq).toSeq == Seq(Seq(0L, 0L, 1L)))
    val p = r.graph.nodes("P").orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(p == Seq((0L, 1L), (1L, 2L))) // created nodes carry their props
  }

  test("merge: no-match on a multi-row table creates ONE node bound to every row") {
    val r = Engine.runSource(spark,
      """(:P {x int})
        |(:Q {y int})
        |create (a:P)
        |create (b:P)
        |match (m:P)
        |merge (qq:Q {y: 7})
        |return m, qq""".stripMargin)
    assert(nodeIds(r, "Q") == Seq(2L))
    assert(r.bindings.collect().map(_.toSeq).toSet ==
      Set(Seq(0L, 2L), Seq(1L, 2L)))
  }

  test("merge: empty binding table merges nothing (per-row semantics)") {
    val r = Engine.runSource(spark,
      """(:P {x int})
        |(:Q {y int})
        |match (a:P)
        |merge (qq:Q {y: 7})""".stripMargin)
    assert(r.graph.nodes("Q").count() == 0L)
    assert(r.bindings.count() == 0L)
    assert(r.bindings.columns.toSeq == Seq("qq", "a"))
  }

  test("delete node removes incident edges and drops the column") {
    val src =
      """(:P {age int})
        |(:E {})
        |(:P) -[:emp]-> (:E)
        |create (a:P) -[:emp]-> (b:E)
        |create (c:P) -[:emp]-> (b)
        |delete a
        |match (p:P) -[:emp]-> (e:E)
        |return p, e
        |""".stripMargin
    val r = Engine.runSource(spark, src)
    assert(nodeIds(r, "P") == Seq(2L))
    assert(edgeSet(r, ("P", "emp", "E")) == Set((2L, 1L)))
    assert(r.bindings.collect().map(_.toSeq).toSeq == Seq(Seq(2L, 1L)))
  }

  test("delete edge keeps nodes, removes matched pairs") {
    val src2 =
      """(:P {})
        |(:E {})
        |(:P) -[:emp]-> (:E)
        |create (a:P) -[:emp]-> (b:E)
        |create (c:P) -[:emp]-> (b)
        |delete a -[:emp]-> b
        |match (p:P) -[:emp]-> (e:E)
        |return p, e
        |""".stripMargin
    val r = Engine.runSource(spark, src2)
    assert(nodeIds(r, "P") == Seq(0L, 2L))
    assert(edgeSet(r, ("P", "emp", "E")) == Set((2L, 1L)))
    assert(r.bindings.collect().map(_.toSeq).toSeq == Seq(Seq(2L, 1L)))
  }

  test("where with arithmetic: div truncation, mod sign, and/or") {
    val src =
      """(:N {x int})
        |create (a:N), (b:N), (c:N)
        |set a.x = 7, b.x = 8, c.x = 9
        |match (n:N)
        |where (n.x / 2) * 2 = n.x or n.x mod 4 = 1
        |return n
        |""".stripMargin
    val r = Engine.runSource(spark, src)
    // ids a=0 (x=7), b=1 (x=8), c=2 (x=9): 7/2*2=6≠7 and 7%4=3 → out;
    // 8 even → in; 9%4=1 → in
    assert(r.bindings.collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L))
  }

  test("match on multi-row table: cartesian then semi-join") {
    val src =
      """(:P {age int})
        |(:E {})
        |(:P) -[:emp]-> (:E)
        |create (a:P) -[:emp]-> (x:E)
        |create (b:P) -[:emp]-> (x)
        |create (c:P)
        |match (p:P) -[:emp]-> (e:E)
        |return p, e
        |""".stripMargin
    val r = Engine.runSource(spark, src)
    assert(r.bindings.collect().map(_.toSeq).toSet == Set(Seq(0L, 1L), Seq(2L, 1L)))
  }

  test("create on multi-row table allocates one node per row (spec, not the +1 bug)") {
    val src =
      """(:P {})
        |(:Q {})
        |create (a:P), (b:P)
        |match (p:P)
        |create (q:Q)
        |return p, q
        |""".stripMargin
    val r = Engine.runSource(spark, src)
    // 2 P nodes (0,1); match p → 2 rows; create q → fresh ids 2,3
    assert(nodeIds(r, "Q") == Seq(2L, 3L))
    val rows = r.bindings.collect().map(_.toSeq).toSet
    assert(rows.map(_(1)).toSet == Set(2L, 3L))
  }

  test("division by zero raises (ANSI mode ≡ reference Division_by_zero)") {
    val src =
      """(:N {x int})
        |create (a:N)
        |set a.x = 0
        |match (n:N)
        |where 10 / n.x > 1
        |return n
        |""".stripMargin
    val ex = intercept[Exception] {
      Engine.runSource(spark, src).bindings.collect()
    }
    assert(ex.getMessage != null)
  }

  test("strict mode: reading an unset attribute raises") {
    val src =
      """(:N {x int})
        |create (a:N)
        |match (n:N)
        |where n.x > 0
        |return n
        |""".stripMargin
    val ex = intercept[Exception] {
      Engine.runSource(spark, src).bindings.collect()
    }
    assert(ex.getMessage != null)
  }

  test("string predicates/functions and case: values, and case's strict short-circuit") {
    val src =
      """(:N {x int, s string})
        |create (a:N {x: 1, s: "Alpha One"})
        |create (b:N {x: 2, s: " beta "})
        |""".stripMargin
    // predicates + functions in one filter: a matches via contains
    // (case-normalized), b via trim+size
    val r = Engine.runSource(spark, src +
      "match (n:N)\nwhere lower(n.s) contains \"alpha\" or size(trim(n.s)) = 4\nreturn n, n.x")
    assert(r.bindings.collect().map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
    // starts/ends are case-sensitive; upper() feeds them
    val r2 = Engine.runSource(spark, src +
      "match (n:N)\nwhere n.s starts with \"Al\" and upper(n.s) ends with \"ONE\"\nreturn n.x")
    assert(r2.bindings.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // case picks the first matching branch; computed via set, read back
    // (the re-match multiplies against the 2-row binding table: 2×2
    // rows, each m value seen twice — spec cross-join semantics)
    val r3 = Engine.runSource(spark, src +
      """match (n:N)
        |set n.x = case when n.s contains "eta" then 20
        |               when n.s starts with "Al" then 10 else 0 end
        |match (m:N)
        |return m.x""".stripMargin)
    assert(r3.bindings.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 10L, 20L, 20L))
    // STRICT short-circuit: the unset attribute in the UNTAKEN branch
    // must not raise (SQL CASE evaluates only the taken branch — the
    // documented extension semantics, Ast.CaseExpr)
    val partial =
      """(:N {x int, s string})
        |create (a:N {s: "go"})
        |""".stripMargin
    val r4 = Engine.runSource(spark, partial +
      "match (n:N)\nwhere (case when n.s = \"go\" then 7 else n.x end) = 7\nreturn n")
    assert(r4.bindings.collect().length == 1)
    // …and the TAKEN branch still raises on the unset attribute
    val ex = intercept[Exception] {
      Engine.runSource(spark, partial +
        "match (n:N)\nwhere (case when n.s = \"go\" then n.x else 7 end) = 7\nreturn n")
        .bindings.collect()
    }
    assert(ex.getMessage != null)
  }

  test("named paths: canonical lex-min witness, length/nodes, zero-length (round 12)") {
    // diamond + tail: a(0)->b(1), a->c(2), b->d(3), c->d, d->e(4)
    val g =
      """(:N {x int})
        |(:N) -[:r]-> (:N)
        |create (a:N {x: 10}) -[:r]-> (b:N {x: 11})
        |create (c:N {x: 12})
        |create (d:N {x: 13})
        |create (e:N {x: 14})
        |create (a) -[:r]-> (c)
        |create (b) -[:r]-> (d)
        |create (c) -[:r]-> (d)
        |create (d) -[:r]-> (e)
        |""".stripMargin
    def rows(q: String): Seq[Seq[Long]] =
      Engine.runSource(spark, g + q).bindings.collect()
        .map(_.toSeq.map(_.asInstanceOf[Long]).toSeq).toSeq.sortBy(_.mkString(","))
    // two 2-hop paths a->d ([0,1,3] via b, [0,2,3] via c): the canonical
    // witness is the lex-min [0,1,3]; length = min hops = 2
    val r = rows(
      """match p = (s:N) -[:r*1..3]-> (t:N)
        |where id(s) = 0 and id(t) = 3
        |with length(p) as l, nodes(p) as ns
        |unwind ns as n
        |return l, n""".stripMargin)
    assert(r == Seq(Seq(2L, 0L), Seq(2L, 1L), Seq(2L, 3L)), s"got $r")
    // order within the witness: second element is b (1), not c (2)
    val r2 = rows(
      """match p = (s:N) -[:r*1..3]-> (t:N)
        |where id(s) = 0 and id(t) = 3
        |with nodes(p) as ns
        |return ns.val[0] as h0, ns.val[1] as h1, ns.val[2] as h2""".stripMargin)
    assert(r2 == Seq(Seq(0L, 1L, 3L)), s"got $r2")
    // a min-hop direct path beats any longer alternative: a->c is 1 hop
    val r3 = rows(
      """match p = (s:N) -[:r*1..3]-> (t:N)
        |where id(s) = 0 and id(t) = 2
        |with length(p) as l, nodes(p) as ns
        |return l, size(ns.val) as k""".stripMargin)
    assert(r3 == Seq(Seq(1L, 2L)), s"got $r3")
    // zero-length window: the identity witness is the single-node list
    val r0 = rows(
      """match p = (s:N) -[:r*0..2]-> (t:N)
        |where id(s) = 4 and id(t) = 4
        |with length(p) as l, nodes(p) as ns
        |return l, size(ns.val) as k, ns.val[0] as n0""".stripMargin)
    assert(r0 == Seq(Seq(0L, 1L, 4L)), s"got $r0")
    // shortestPath(...) is a transparent wrapper (round 14 — the
    // witness IS the minimal-hop canonical walk)
    val rsp = rows(
      """match p = shortestPath((s:N) -[:r*1..3]-> (t:N))
        |where id(s) = 0 and id(t) = 3
        |return length(p) as l""".stripMargin)
    assert(rsp == Seq(Seq(2L)), s"got $rsp")
    // length(p) agrees with the `as d` distance binding on every pair
    val rd = rows(
      """match p = (s:N) -[:r*1..3 as dd]-> (t:N)
        |with s, t, length(p) as l, dd.hops as h
        |where l.val <> h.val
        |return l, h""".stripMargin)
    assert(rd.isEmpty, s"length(p) disagreed with the distance binding: $rd")
    // the witness and its hop labels are the same in both join shapes
    assertFusedIsBoundBoth(g,
      "match p = (s:N) -[:r*1..3]-> (t:N)\n" +
        "with s, t, nodes(p) as ns, relationships(p) as rs\nreturn s, t, ns, rs",
      "match (s:N)\nmatch (t:N)\nmatch p = (s) -[:r*1..3]-> (t)\n" +
        "with s, t, nodes(p) as ns, relationships(p) as rs\nreturn s, t, ns, rs")
    // multiplicity is UNCHANGED (canonical witness, not per-path rows):
    // a->d has 2 distinct 2-hop paths but exactly ONE row
    val rm = rows(
      """match p = (s:N) -[:r*2..2]-> (t:N)
        |where id(s) = 0 and id(t) = 3
        |return s""".stripMargin)
    assert(rm.size == 1, s"row multiplicity changed: $rm")
    // reverse hop: the witness list runs in PATTERN order (round 13 —
    // Cypher's nodes(p), and what multi-segment concatenation already
    // produces): for t <-[:r*2..2]- s the list starts at t, so the
    // d(3) <- a(0) match reads [3, 1, 0] (storage path a -> b -> d,
    // flipped to the pattern's left-to-right direction)
    val rr = rows(
      """match p = (t:N) <-[:r*2..2]- (s:N)
        |where id(s) = 0 and id(t) = 3
        |with nodes(p) as ns
        |return ns.val[0] as h0, ns.val[1] as h1, ns.val[2] as h2""".stripMargin)
    assert(rr == Seq(Seq(3L, 1L, 0L)), s"got $rr")
    // optional named path: rows without a witness bind p to NULL —
    // null(p) sees it, length(p) reads NULL through the guard (never a
    // strict-mode raise), and matched rows carry the real hop count
    val ro = rows(
      """match (s:N)
        |optional match p = (s) -[:r*2..2]-> (t:N)
        |with s, case when null(p) then 0 - 1 else length(p) end as l
        |return s, l""".stripMargin)
    assert(ro == Seq(Seq(0L, 2L), Seq(1L, 2L), Seq(2L, 2L), Seq(3L, -1L), Seq(4L, -1L)),
      s"got $ro")
    // undirected closure: e(4) reaches a(0) against edge direction in 3
    // hops — witness runs from the hop's LEFT endpoint: [4, 3, 1, 0]
    // (d->b beats d->c at the tie since 1 < 2)
    val ru = rows(
      """match p = (s:N) -[:r*1..3]- (t:N)
        |where id(s) = 4 and id(t) = 0
        |with length(p) as l, nodes(p) as ns
        |return l, ns.val[0] as h0, ns.val[1] as h1, ns.val[2] as h2, ns.val[3] as h3""".stripMargin)
    assert(ru == Seq(Seq(3L, 4L, 3L, 1L, 0L)), s"got $ru")
  }

  test("call subqueries: per-invocation paging, aggregate pad, multiplicity (round 15)") {
    // a(0,x=7) -r-> q1(1,y=10), q2(2,y=20), q3(3,y=30); b(4,x=7) -r-> q1;
    // c(5,x=9) has NO outgoing edges (the unmatched-invocation case)
    val g =
      """(:P {x int})
        |(:Q {y int})
        |(:P) -[:r]-> (:Q)
        |create (a:P {x: 7}) -[:r]-> (q1:Q {y: 10})
        |create (q2:Q {y: 20})
        |create (q3:Q {y: 30})
        |create (b:P {x: 7})
        |create (a) -[:r]-> (q2)
        |create (a) -[:r]-> (q3)
        |create (b) -[:r]-> (q1)
        |create (c:P {x: 9})
        |""".stripMargin
    def rows(q: String): Seq[Seq[Long]] =
      Engine.runSource(spark, g + q).bindings.collect()
        .map(_.toSeq.map(_.asInstanceOf[Long]).toSeq).toSeq.sortBy(_.mkString(","))
    // per-invocation top-2: a keeps {30, 20}, b (one target) keeps {10}
    val r = rows(
      """match (p:P)
        |call { with p match (p) -[:r]-> (q:Q) return q.y as y order by q.y desc limit 2 }
        |return p, y""".stripMargin)
    assert(r == Seq(Seq(0L, 20L), Seq(0L, 30L), Seq(4L, 10L)), s"got $r")
    // skip pages per invocation too; b's single row is skipped away and
    // b DROPS (non-aggregate subqueries are inner-join semantics)
    val rs = rows(
      """match (p:P)
        |call { with p match (p) -[:r]-> (q:Q) return q.y as y order by q.y desc skip 1 limit 1 }
        |return p, y""".stripMargin)
    assert(rs == Seq(Seq(0L, 20L)), s"got $rs")
    // all-aggregate subqueries pad: b has no q.y > 25 row and c no edges
    // at all — both keep k = 0
    val rk = rows(
      """match (p:P)
        |call { with p match (p) -[:r]-> (q:Q) where q.y > 25 return count(q) as k }
        |return p, k""".stripMargin)
    assert(rk == Seq(Seq(0L, 1L), Seq(4L, 0L), Seq(5L, 0L)), s"got $rk")
    // every OUTER row gets the subquery rows (bag semantics): the
    // unwind duplicates each p, both copies receive k
    val rm = rows(
      """match (p:P)
        |unwind [1, 2] as t
        |call { with p match (p) -[:r]-> (q:Q) return count(q) as k }
        |return p, t, k""".stripMargin)
    assert(rm == Seq(Seq(0L, 1L, 3L), Seq(0L, 2L, 3L), Seq(4L, 1L, 1L), Seq(4L, 2L, 1L),
      Seq(5L, 1L, 0L), Seq(5L, 2L, 0L)), s"got $rm")
    // min over an empty invocation pads NULL, which a where drops but
    // coalesce recovers
    val rn = rows(
      """match (p:P)
        |call { with p match (p) -[:r]-> (q:Q) where q.y > 25 return min(q.y) as m }
        |return p, coalesce(m.val, 0 - 1) as mv""".stripMargin)
    assert(rn == Seq(Seq(0L, 30L), Seq(4L, -1L), Seq(5L, -1L)), s"got $rn")
    // optional match inside (round-15 v2): a LEFT witness per invocation
    // — the edge-less c keeps a row with q NULL even for a NON-aggregate
    // return (where plain match drops it), recoverable via coalesce
    val ro = rows(
      """match (p:P)
        |call { with p optional match (p) -[:r]-> (q:Q) return q.y as y }
        |return p, coalesce(y.val, 0 - 1) as yy""".stripMargin)
    assert(ro == Seq(Seq(0L, 10L), Seq(0L, 20L), Seq(0L, 30L), Seq(4L, 10L), Seq(5L, -1L)),
      s"got $ro")
  }

  test("count { } / exists { } subquery expressions (round 15 v2)") {
    // same graph as the call-subquery test: a(0) -r-> q1/q2/q3,
    // b(4) -r-> q1, c(5) edge-less
    val g =
      """(:P {x int})
        |(:Q {y int})
        |(:P) -[:r]-> (:Q)
        |create (a:P {x: 7}) -[:r]-> (q1:Q {y: 10})
        |create (q2:Q {y: 20})
        |create (q3:Q {y: 30})
        |create (b:P {x: 7})
        |create (a) -[:r]-> (q2)
        |create (a) -[:r]-> (q3)
        |create (b) -[:r]-> (q1)
        |create (c:P {x: 9})
        |""".stripMargin
    def rows(q: String): Seq[Seq[Long]] =
      Engine.runSource(spark, g + q).bindings.collect()
        .map(_.toSeq.map(_.asInstanceOf[Long]).toSeq).toSeq.sortBy(_.mkString(","))
    // return-item form: the edge-less c pads 0, never drops
    val r = rows("match (p:P)\nreturn p, count { (p) -[:r]-> (q:Q) } as k")
    assert(r == Seq(Seq(0L, 3L), Seq(4L, 1L), Seq(5L, 0L)), s"got $r")
    // threshold over a filtered count: only a has two q.y > 15 targets
    val rw = rows(
      "match (p:P)\nwhere count { (p) -[:r]-> (q:Q) where q.y > 15 } >= 2\nreturn p")
    assert(rw == Seq(Seq(0L)), s"got $rw")
    // exists { } = count { } > 0
    val re = rows(
      "match (p:P)\nwhere exists { (p) -[:r]-> (q:Q) where q.y > 25 }\nreturn p")
    assert(re == Seq(Seq(0L)), s"got $re")
    // uncorrelated count: a global scalar cross-joined onto every row
    val ru = rows("match (p:P)\nwith p, count { (q:Q) } as nq\nreturn p, nq")
    assert(ru == Seq(Seq(0L, 3L), Seq(4L, 3L), Seq(5L, 3L)), s"got $ru")
    // the counted scalar aggregates downstream like any with-scalar
    val ra = rows(
      "match (p:P)\nwith p, count { (p) -[:r]-> (q:Q) } as k\nreturn sum(k.val) as t")
    assert(ra == Seq(Seq(4L)), s"got $ra")
    // not exists { } composes (the paren-less form reaches the
    // expression parser): only the edge-less c survives
    val rn = rows("match (p:P)\nwhere not exists { (p) -[:r]-> (q:Q) }\nreturn p")
    assert(rn == Seq(Seq(5L)), s"got $rn")
  }

  test("pattern comprehensions: sorted elements, NULL on empty, filter (round 15 v2)") {
    val g =
      """(:P {x int})
        |(:Q {y int})
        |(:P) -[:r]-> (:Q)
        |create (a:P {x: 7}) -[:r]-> (q1:Q {y: 10})
        |create (q2:Q {y: 20})
        |create (q3:Q {y: 30})
        |create (b:P {x: 7})
        |create (a) -[:r]-> (q2)
        |create (a) -[:r]-> (q3)
        |create (b) -[:r]-> (q1)
        |create (c:P {x: 9})
        |""".stripMargin
    def rows(q: String): Seq[Seq[Any]] =
      Engine.runSource(spark, g + q).bindings.collect()
        .map(_.toSeq.toSeq).toSeq.sortBy(_.mkString(","))
    // sorted-ascending elements (the collect determinism rule); the
    // edge-less c binds NULL, dropped by the size guard
    val r = rows(
      """match (p:P)
        |with p, [ (p) -[:r]-> (q:Q) | q.y ] as ys
        |where size(ys.val) >= 1
        |return p, size(ys.val) as n, ys.val[0] as lo""".stripMargin)
    assert(r == Seq(Seq(0L, 3L, 10L), Seq(4L, 1L, 10L)), s"got $r")
    // the inner filter applies before collection
    val rf = rows(
      """match (p:P)
        |with p, [ (p) -[:r]-> (q:Q) where q.y > 15 | q.y ] as ys
        |where size(ys.val) >= 1
        |return p, ys.val[0] as lo, ys.val[1] as hi""".stripMargin)
    assert(rf == Seq(Seq(0L, 20L, 30L)), s"got $rf")
    // NULL-on-empty is observable (the documented deviation from
    // Cypher's []): null() sees it, coalesce-style guards recover
    val rz = rows(
      """match (p:P)
        |with p, [ (p) -[:r]-> (q:Q) | q.y ] as ys
        |where null(ys)
        |return p""".stripMargin)
    assert(rz == Seq(Seq(5L)), s"got $rz")
  }

  test("allShortestPaths enumerates every minimal-hop walk (round 15)") {
    // the round-12 diamond + tail: a(0)->b(1), a->c(2), b->d(3), c->d,
    // d->e(4) — a->d has TWO shortest 2-hop walks, a->e two 3-hop ones
    val g =
      """(:N {x int})
        |(:N) -[:r]-> (:N)
        |create (a:N {x: 10}) -[:r]-> (b:N {x: 11})
        |create (c:N {x: 12})
        |create (d:N {x: 13})
        |create (e:N {x: 14})
        |create (a) -[:r]-> (c)
        |create (b) -[:r]-> (d)
        |create (c) -[:r]-> (d)
        |create (d) -[:r]-> (e)
        |""".stripMargin
    def rows(q: String): Seq[Seq[Long]] =
      Engine.runSource(spark, g + q).bindings.collect()
        .map(_.toSeq.map(_.asInstanceOf[Long]).toSeq).toSeq.sortBy(_.mkString(","))
    // one row PER minimal-hop walk — where the named path binds the
    // single canonical [0,1,3], the enumeration yields both witnesses
    val r = rows(
      """match p = allShortestPaths((s:N) -[:r*1..3]-> (t:N))
        |where id(s) = 0 and id(t) = 3
        |with nodes(p) as ns
        |return ns.val[0] as h0, ns.val[1] as h1, ns.val[2] as h2""".stripMargin)
    assert(r == Seq(Seq(0L, 1L, 3L), Seq(0L, 2L, 3L)), s"got $r")
    // the prefix prune keeps non-shortest walks out: a->e is distance 3
    // with exactly two witnesses (through the diamond), and no 4-hop
    // walk survives despite hi = 4
    val re = rows(
      """match p = allShortestPaths((s:N) -[:r*1..4]-> (t:N))
        |where id(s) = 0 and id(t) = 4
        |with length(p) as l, nodes(p) as ns
        |return l, ns.val[1] as mid""".stripMargin)
    assert(re == Seq(Seq(3L, 1L), Seq(3L, 2L)), s"got $re")
    // the %rels_ companion rides every witness row
    val rr = rows(
      """match p = allShortestPaths((s:N) -[:r*1..3]-> (t:N))
        |where id(s) = 0 and id(t) = 3
        |with relationships(p) as rs
        |return size(rs.val) as k""".stripMargin)
    assert(rr == Seq(Seq(2L), Seq(2L)), s"got $rr")
    // a lo >= 2 window (no prefix prune — the closing per-pair min
    // filter restores minimality): both 3-hop a->e witnesses, and the
    // direct pairs below the floor stay out
    val rw = rows(
      """match p = allShortestPaths((s:N) -[:r*2..4]-> (t:N))
        |where id(s) = 0 and id(t) = 4
        |return length(p) as l""".stripMargin)
    assert(rw == Seq(Seq(3L), Seq(3L)), s"got $rw")
    // a tie-free pair stays a single row (equal to the named-path form)
    val r1 = rows(
      """match p = allShortestPaths((s:N) -[:r*1..3]-> (t:N))
        |where id(s) = 0 and id(t) = 1
        |return length(p) as l""".stripMargin)
    assert(r1 == Seq(Seq(1L)), s"got $r1")
    // one row per minimal walk in both join shapes
    assertFusedIsBoundBoth(g,
      "match p = allShortestPaths((s:N) -[:r*1..3]-> (t:N))\n" +
        "with s, t, nodes(p) as ns\nreturn s, t, ns",
      "match (s:N)\nmatch (t:N)\nmatch p = allShortestPaths((s) -[:r*1..3]-> (t))\n" +
        "with s, t, nodes(p) as ns\nreturn s, t, ns")
  }

  test("named paths: fixed hops, multi-segment concat, relationships (round 13)") {
    // triangle over two relation types: a(0) -r-> b(1) -s-> c(2) -r-> a
    val g =
      """(:N {x int})
        |(:N) -[:r]-> (:N)
        |(:N) -[:s]-> (:N)
        |create (a:N {x: 10}) -[:r]-> (b:N {x: 11})
        |create (c:N {x: 12})
        |create (b) -[:s]-> (c)
        |create (c) -[:r]-> (a)
        |""".stripMargin
    def rows(q: String): Seq[Seq[Any]] =
      Engine.runSource(spark, g + q).bindings.collect()
        .map(_.toSeq.toSeq).toSeq.sortBy(_.mkString(","))
    // a single FIXED hop carries a path value: witness [s, t], length 1,
    // one hop label
    val rf = rows(
      """match p = (a:N) -[:r]-> (b:N)
        |where id(a) = 0
        |with length(p) as l, nodes(p) as ns, relationships(p) as rs
        |return l, ns.val[0] as n0, ns.val[1] as n1, rs.val[0] as r0""".stripMargin)
    assert(rf == Seq(Seq(1L, 0L, 1L, "r")), s"got $rf")
    // multi-segment concat: junction node appears ONCE; hop labels in
    // pattern order, one per hop
    val rm = rows(
      """match p = (a:N) -[:r]-> (b:N) -[:s]-> (c:N)
        |where id(a) = 0
        |with length(p) as l, nodes(p) as ns, relationships(p) as rs
        |return l, ns.val[0] as n0, ns.val[1] as n1, ns.val[2] as n2,
        |  rs.val[0] as r0, rs.val[1] as r1""".stripMargin)
    assert(rm == Seq(Seq(2L, 0L, 1L, 2L, "r", "s")), s"got $rm")
    // varpath + trailing fixed hop (the shape round 12 rejected): the
    // varpath witness splices in, the fixed hop extends it
    val rv = rows(
      """match p = (a:N) -[:r*1..1]-> (b:N) -[:s]-> (c:N)
        |where id(a) = 0
        |with length(p) as l, nodes(p) as ns
        |return l, ns.val[0] as n0, ns.val[2] as n2""".stripMargin)
    assert(rv == Seq(Seq(2L, 0L, 2L)), s"got $rv")
    // reverse fixed hop: witness in PATTERN order (starts at the
    // pattern's left endpoint)
    val rr = rows(
      """match p = (b:N) <-[:r]- (a:N)
        |where id(a) = 0
        |with nodes(p) as ns, relationships(p) as rs
        |return ns.val[0] as n0, ns.val[1] as n1, rs.val[0] as r0""".stripMargin)
    assert(rr == Seq(Seq(1L, 0L, "r")), s"got $rr")
    // relationships(p) survives a `with` that projects the path binding
    // (the hidden companion is carried and re-aliased implicitly)
    val rw = rows(
      """match p = (a:N) -[:r]-> (b:N) -[:s]-> (c:N)
        |where id(a) = 0
        |with p, id(c) as tc
        |return tc, length(p) as l, relationships(p)[1] as r1""".stripMargin)
    assert(rw == Seq(Seq(2L, 2L, "s")), s"got $rw")
    // ... including under an alias: `with p as q` rebinds the companion
    // under the new name
    val ra = rows(
      """match p = (a:N) -[:r]-> (b:N)
        |where id(a) = 0
        |with p as q
        |return length(q) as l, relationships(q)[0] as r0""".stripMargin)
    assert(ra == Seq(Seq(1L, "r")), s"got $ra")
    // unwind over relationships: one row per hop label, pattern order
    val ru = rows(
      """match p = (a:N) -[:r]-> (b:N) -[:s]-> (c:N)
        |where id(a) = 0
        |with relationships(p) as rs
        |unwind rs as lbl
        |return lbl""".stripMargin)
    assert(ru.map(_.head) == Seq("r", "s"), s"got $ru")
    // membership test composes: `in` over the hop-label list
    val ri = rows(
      """match p = (a:N) -[:r]-> (b:N) -[:s]-> (c:N)
        |where "s" in relationships(p)
        |return id(a) as s0""".stripMargin)
    assert(ri == Seq(Seq(0L)), s"got $ri")
  }

  test("unlabeled match: any-label scan, endpoint inference, narrowing (round 14)") {
    // two labels + a cross-label edge + a same-label chain:
    // a(0):N, b(1):N, c(2):M; a -r-> c; a -s-> b
    val g =
      """(:N {x int})
        |(:M {y int})
        |(:N) -[:r]-> (:M)
        |(:N) -[:s]-> (:N)
        |create (a:N {x: 1})
        |create (b:N {x: 2})
        |create (c:M {y: 7})
        |create (a) -[:r]-> (c)
        |create (a) -[:s]-> (b)
        |""".stripMargin
    def rows(q: String): Seq[Seq[Any]] =
      Engine.runSource(spark, g + q).bindings.collect()
        .map(_.toSeq.toSeq).toSeq.sortBy(_.mkString(","))
    // bare (n): the union of every label's scan — all three nodes
    val r0 = rows("match (n)\nreturn n")
    assert(r0 == Seq(Seq(0L), Seq(1L), Seq(2L)), s"got $r0")
    // id()/count/order work on the any-label binding
    val rc = rows("match (n)\nwhere id(n) > 0\nreturn count(n) as c")
    assert(rc == Seq(Seq(2L)), s"got $rc")
    // hop endpoints INFER labels from the relation declaration —
    // attribute access works on both ends without a label
    val re = rows("match (n) -[:r]-> (m)\nreturn n.x as nx, m.y as my")
    assert(re == Seq(Seq(1L, 7L)), s"got $re")
    // an any-label binding NARROWS through a later hop: n is :N after
    // the -[:r]-> hop, so n.x becomes readable
    val rn = rows("match (n)\nmatch (n) -[:r]-> (m)\nreturn n.x as nx, m.y as my")
    assert(rn == Seq(Seq(1L, 7L)), s"got $rn")
    // varpath endpoints infer from the label-homogeneous relation
    val rv = rows("match (u) -[:s*1..1]-> (v)\nreturn u.x as ux, v.x as vx")
    assert(rv == Seq(Seq(1L, 2L)), s"got $rv")
    // optional match: the inferred fresh endpoint binds NULL-or-id
    val ro = rows(
      """match (n:N)
        |optional match (n) -[:r]-> (m)
        |return n, case when null(m) then 0 - 1 else id(m) end as mi""".stripMargin)
    assert(ro == Seq(Seq(0L, 2L), Seq(1L, -1L)), s"got $ro")
    // a bound bare (v) is a no-op re-reference (round-12 behavior kept)
    val rb = rows("match (a:M)\nmatch (a)\nreturn a")
    assert(rb == Seq(Seq(2L)), s"got $rb")
    // any-relation hop -[]->: the union of every declared relation type
    // between the endpoint labels
    val rr1 = rows("match (x:N) -[]-> (y:M)\nreturn x, y")
    assert(rr1 == Seq(Seq(0L, 2L)), s"got $rr1")
    val rr2 = rows("match (x:N) -[]-> (y:N)\nreturn x, y")
    assert(rr2 == Seq(Seq(0L, 1L)), s"got $rr2")
    // undirected any-rel admits the reverse orientation
    val rr3 = rows("match (x:M) -[]- (y:N)\nreturn x, y")
    assert(rr3 == Seq(Seq(2L, 0L)), s"got $rr3")
    // label(n): the RUNTIME label of an unlabeled binding (hidden
    // per-leg literal companion), surviving a with like the path
    // companions do
    val rl = rows("match (n)\nreturn n, label(n) as l")
    assert(rl == Seq(Seq(0L, "N"), Seq(1L, "N"), Seq(2L, "M")), s"got $rl")
    val rlw = rows("match (n)\nwith n\nwhere id(n) = 2\nreturn label(n) as l")
    assert(rlw == Seq(Seq("M")), s"got $rlw")
    // ... and NARROWING folds it to the inferred constant
    val rln = rows("match (n)\nmatch (n) -[:r]-> (m)\nreturn label(n) as l, label(m) as lm")
    assert(rln == Seq(Seq("N", "M")), s"got $rln")
    // runtime-label FILTERING composes: label(n) is an ordinary string
    val rlf = rows("match (n)\nwhere label(n) = \"M\"\nreturn n")
    assert(rlf == Seq(Seq(2L)), s"got $rlf")
    // unlabeled node WITH props: the props desugar to where conjuncts
    // that type after the hop's inference binds the real label
    val rp = rows("match (u {x: 1}) -[:r]-> (m)\nreturn u, m")
    assert(rp == Seq(Seq(0L, 2L)), s"got $rp")
    val rp2 = rows("match (u {x: 2}) -[:r]-> (m)\nreturn u, m")
    assert(rp2.isEmpty, s"got $rp2")
    // the runtime label is an ordinary grouping/ordering value: counts
    // per label via the companion, ordered by it
    val rg = rows(
      """match (n)
        |return label(n) as l, count(n) as c
        |order by l""".stripMargin)
    assert(rg == Seq(Seq("M", 1L), Seq("N", 2L)), s"got $rg")
    // membership over ids composes with the any-label binding
    val rin = rows("match (n)\nwhere id(n) in [0, 2]\nreturn n")
    assert(rin == Seq(Seq(0L), Seq(2L)), s"got $rin")
    // `with distinct n` carries the label companion into the dedup key
    // (the id already determines it, so the row set is unchanged)
    val rwd = rows("match (n)\nwith distinct n\nreturn count(n) as c")
    assert(rwd == Seq(Seq(3L)), s"got $rwd")
    // any-rel hops compose with the pattern predicates and optional
    // match (the witness sub-plans run the same alternation union)
    val re1 = rows("match (x:N)\nwhere exists (x) -[]-> (y:M)\nreturn x")
    assert(re1 == Seq(Seq(0L)), s"got $re1")
    val re2 = rows(
      """match (x:N)
        |optional match (x) -[]-> (w:M)
        |return x, case when null(w) then 0 - 1 else id(w) end as wi""".stripMargin)
    assert(re2 == Seq(Seq(0L, 2L), Seq(1L, -1L)), s"got $re2")
    // unlabeled DELETE: deletion needs only the id — every label frame
    // anti-joins, incident edges die with the node
    val rd = rows(
      """match (n)
        |where id(n) < 1
        |delete n
        |match (m)
        |return m""".stripMargin)
    assert(rd == Seq(Seq(1L), Seq(2L)), s"got $rd")
    val rd2 = rows(
      """match (n)
        |where id(n) = 0
        |delete n
        |match (x:N) -[:s]-> (y:N)
        |return x, y""".stripMargin)
    assert(rd2.isEmpty, s"got $rd2")
  }

  test("regex =~: find semantics, metacharacters, composition (round 12)") {
    val src =
      """(:N {x int, s string})
        |create (a:N {x: 1, s: "Alpha One"})
        |create (b:N {x: 2, s: " beta "})
        |create (c:N {x: 3, s: "a1b22c"})
        |""".stripMargin
    def xs(q: String): Seq[Long] =
      Engine.runSource(spark, src + q).bindings.collect().map(_.getLong(0)).sorted.toSeq
    // FIND semantics: unanchored pattern matches anywhere in the subject
    assert(xs("match (n:N)\nwhere n.s =~ \"a\"\nreturn n.x") == Seq(1L, 2L, 3L))
    // anchors turn find into full/prefix/suffix match
    assert(xs("match (n:N)\nwhere n.s =~ \"^a\"\nreturn n.x") == Seq(3L))
    assert(xs("match (n:N)\nwhere n.s =~ \"^a1b2+c$\"\nreturn n.x") == Seq(3L))
    // `.` is a metacharacter (any char), classes + alternation work
    assert(xs("match (n:N)\nwhere n.s =~ \"A.pha\"\nreturn n.x") == Seq(1L))
    assert(xs("match (n:N)\nwhere n.s =~ \"[0-9][0-9]\"\nreturn n.x") == Seq(3L))
    assert(xs("match (n:N)\nwhere n.s =~ \"(One|beta)\"\nreturn n.x") == Seq(1L, 2L))
    // case-sensitive by default; composes with functions and not
    assert(xs("match (n:N)\nwhere n.s =~ \"one\"\nreturn n.x") == Seq())
    assert(xs("match (n:N)\nwhere lower(n.s) =~ \"one$\"\nreturn n.x") == Seq(1L))
    assert(xs("match (n:N)\nwhere not n.s =~ \"[0-9]\"\nreturn n.x") == Seq(1L, 2L))
    // a malformed pattern raises loudly rather than returning false
    val bad = intercept[Exception] {
      Engine.runSource(spark, src +
        "match (n:N)\nwhere n.s =~ \"[unclosed\"\nreturn n.x").bindings.collect()
    }
    assert(bad.getMessage != null)
  }

  test("expression projection: with items, conditional aggregation, expr order keys") {
    val src =
      """(:N {x int, s string})
        |create (a:N {x: 1, s: "aa"})
        |create (b:N {x: 2, s: "bbb"})
        |create (c:N {x: 3, s: "bbb"})
        |""".stripMargin
    // expression item + continued filter on the scalar
    val r = Engine.runSource(spark, src +
      "match (n:N)\nwith n, case when n.x mod 2 = 1 then n.x * 10 else n.x end as y\nwhere y.val >= 10\nreturn y")
    assert(r.bindings.collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 30L))
    // conditional aggregation over a string-grouped key: group by s,
    // sum(case odd→x else 0)
    val r2 = Engine.runSource(spark, src +
      "match (n:N)\nwith n.s as g, sum(case when n.x mod 2 = 1 then n.x else 0 end) as odds\nreturn g, odds")
    assert(r2.bindings.collect().map(t => (t.getString(0), t.getLong(1))).sortBy(_._1)
      .toSeq == Seq(("aa", 1L), ("bbb", 3L)))
    // expression order key in return: by size(s) desc then x desc, top 2
    val r3 = Engine.runSource(spark, src +
      "match (n:N)\nreturn n.x order by size(n.s) desc, n.x desc limit 2")
    assert(r3.bindings.collect().map(_.getLong(0)).toSeq == Seq(3L, 2L))
    // a literal item is a constant scalar the query continues with
    val r4 = Engine.runSource(spark, src +
      "match (n:N)\nwith n, 5 as k\nwhere n.x < k.val\nreturn n.x")
    assert(r4.bindings.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // return item aliases: expression items directly in return, and
    // aliased attr/agg output columns (Cypher RETURN expr AS x)
    val r5 = Engine.runSource(spark, src +
      "match (n:N)\nreturn n.s as g, sum(case when n.x mod 2 = 1 then n.x else 0 end) as odds")
    assert(r5.bindings.columns.toSeq == Seq("g", "odds"))
    assert(r5.bindings.collect().map(t => (t.getString(0), t.getLong(1))).sortBy(_._1)
      .toSeq == Seq(("aa", 1L), ("bbb", 3L)))
    val r6 = Engine.runSource(spark, src +
      "match (n:N)\nreturn n.x * 10 as tens order by n.x desc limit 2")
    assert(r6.bindings.columns.toSeq == Seq("tens"))
    assert(r6.bindings.collect().map(_.getLong(0)).toSeq == Seq(30L, 20L))
    // ORDER BY alias: the key resolves to the aliased item (round 10
    // continued), here under the aggregated keys-are-items rule
    val r7 = Engine.runSource(spark, src +
      "match (n:N)\nreturn n.s as g, count(n) as c order by c desc, g limit 1")
    assert(r7.bindings.collect().map(t => (t.getString(0), t.getLong(1))).toSeq ==
      Seq(("bbb", 2L)))
    // string min/max: lexicographic over the group
    val r8 = Engine.runSource(spark, src +
      "match (n:N)\nreturn min(n.s) as lo, max(upper(n.s)) as hi")
    assert(r8.bindings.collect().map(t => (t.getString(0), t.getString(1))).toSeq ==
      Seq(("aa", "BBB")))
    // concat / substring / replace: engine values (SQL 1-based
    // substring; negative pos from the end; empty find no-op)
    val r9 = Engine.runSource(spark, src +
      """match (n:N)
        |where n.x = 2
        |unwind [substring(n.s + "X", 2, 3),
        |        substring(n.s, 0 - 2, 2),
        |        replace(n.s, "b", "Q"),
        |        replace(n.s, "", "Z")] as u
        |return u""".stripMargin)
    assert(r9.bindings.collect().map(_.getString(0)).toSeq ==
      Seq("bbX", "bb", "QQQ", "bbb"))
    // toString: ints in decimal, bools as true/false, strings identity
    val r10 = Engine.runSource(spark, src +
      """match (n:N)
        |where n.x = 1
        |unwind [toString(n.x * 100), toString(n.x = 1), toString(n.s)] as u
        |return u""".stripMargin)
    assert(r10.bindings.collect().map(_.getString(0)).toSeq ==
      Seq("100", "true", "aa"))
  }

  test("remove: unset equals never-set — strict raises, non-strict non-matches") {
    val src =
      """(:N {x int, s string})
        |create (a:N {x: 1, s: "aa"})
        |create (b:N {x: 2, s: "bb"})
        |""".stripMargin
    // strict: reading the removed attribute raises like a never-set one
    val ex = intercept[Exception] {
      Engine.runSource(spark, src +
        "match (n:N)\nwhere n.x = 1\nremove n.s\nmatch (m:N)\nwhere m.s = \"aa\"\nreturn m")
        .bindings.collect()
    }
    assert(ex.getMessage != null)
    // non-strict: the removed attribute is a non-match; b survives
    val r = Engine.runSource(spark, src +
      "match (n:N)\nwhere n.x = 1\nremove n.s\nmatch (m:N)\nwhere m.s = \"bb\"\nreturn m, m.x",
      Engine.Config(strict = false))
    assert(r.bindings.collect().map(_.getLong(1)).toSeq == Seq(2L))
    // re-set after remove restores readability (per-row set semantics)
    val r2 = Engine.runSource(spark, src +
      "match (n:N)\nremove n.x\nmatch (m:N)\nset m.x = 7\nmatch (k:N)\nreturn k.x",
      Engine.Config(strict = false))
    assert(r2.bindings.collect().map(_.getLong(0)).forall(_ == 7L))
  }

  test("match-props semantics: strict raises on an unset attribute, non-strict drops the row") {
    // the documented deliberate deviation from Cypher (Ast.DeclPattern):
    // {f: e} desugars to the language's own `where v.f = e`, so it
    // inherits strict mode's unset-attribute raise; non-strict gives the
    // Cypher non-match (NULL ≠ e)
    val src =
      """(:N {x int})
        |create (a:N)
        |create (b:N {x: 1})
        |match (m:N {x: 1})
        |return m
        |""".stripMargin
    val ex = intercept[Exception] {
      Engine.runSource(spark, src).bindings.collect()
    }
    assert(ex.getMessage != null)
    val rows = Engine.runSource(spark, src,
      Engine.Config(strict = false)).bindings.collect()
    assert(rows.length == 1) // b matches; a (x unset) is a non-match, not an error
  }

  // --- engine extensions: extended return + variable-length paths ---

  /** 6-node chain 0→1→2→3→4→5 over a self-relation, x = 10·id. */
  private val chainSrc =
    """(:N {x int})
      |(:N) -[:next]-> (:N)
      |create (n0:N) create (n1:N) create (n2:N)
      |create (n3:N) create (n4:N) create (n5:N)
      |create (n0) -[:next]-> (n1), (n1) -[:next]-> (n2), (n2) -[:next]-> (n3)
      |create (n3) -[:next]-> (n4), (n4) -[:next]-> (n5)
      |set n0.x = 0, n1.x = 10, n2.x = 20, n3.x = 30, n4.x = 40, n5.x = 50
      |""".stripMargin

  test("ext return: grouped aggregation with order and limit") {
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N) -[:next*1..3]-> (b:N)\nreturn a, count(b) order by count(b) desc, a limit 2")
    assert(r.bindings.columns.toSeq == Seq("a", "count_b"))
    // reach counts per source on the 6-chain: 0→{1,2,3}, 1→{2,3,4}, 2→{3,4,5}
    // all count 3; order tiebreak on a keeps sources 0 and 1
    assert(r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet ==
      Set((0L, 3L), (1L, 3L)))
  }

  test("ext return: global aggregate over attributes") {
    val r = Engine.runSource(spark, chainSrc +
      "match (n:N)\nreturn count(n), sum(n.x), min(n.x), max(n.x)")
    assert(r.bindings.columns.toSeq ==
      Seq("count_n", "sum_n_x", "min_n_x", "max_n_x"))
    assert(r.bindings.collect().map(_.toSeq).toSeq ==
      Seq(Seq(6L, 150L, 0L, 50L)))
  }

  test("ext return: attribute projection and non-agg top-n") {
    val r = Engine.runSource(spark, chainSrc +
      "match (n:N)\nreturn n, n.x order by n.x desc limit 2")
    assert(r.bindings.columns.toSeq == Seq("n", "n_x"))
    assert(r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet ==
      Set((5L, 50L), (4L, 40L)))
  }

  test("with: aggregate, filter on the aggregate, keep matching") {
    // per-source reach counts over *1..3 on the 6-chain, kept only where
    // the count is full (3), then expanded one more hop from the source
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N) -[:next*1..3]-> (b:N)\n" +
      "with a, count(b) as c\n" +
      "where c.val = 3\n" +
      "match (a) -[:next]-> (m:N)\n" +
      "return a, c.val, m")
    assert(r.bindings.columns.toSeq == Seq("a", "c_val", "m"))
    // sources 0,1,2 reach 3 nodes; their single next-successors
    assert(r.bindings.collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getLong(2))).toSet ==
      Set((0L, 3L, 1L), (1L, 3L, 2L), (2L, 3L, 3L)))
  }

  test("with: order+limit mid-query select the top rows before expanding") {
    val r = Engine.runSource(spark, chainSrc +
      "match (n:N)\n" +
      "with n, n.x as w order by n.x desc limit 2\n" +
      "match (p:N) -[:next]-> (n)\n" +
      "return n, w.val, p")
    // top-2 by x: nodes 5 (x=50) and 4 (x=40); their predecessors 4 and 3
    assert(r.bindings.collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getLong(2))).toSet ==
      Set((5L, 50L, 4L), (4L, 40L, 3L)))
  }

  test("with: variable re-aliased keeps the node binding; old name unbinds") {
    val r = Engine.runSource(spark, chainSrc +
      "match (n:N)\nwhere n.x = 20\n" +
      "with n as m\n" +
      "set m.x = 99\n" +
      "return m, m.x")
    assert(r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet ==
      Set((2L, 99L)))
  }

  test("with distinct: mid-query dedup") {
    // sources of *1..2 pairs repeat per target; distinct collapses them
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N) -[:next*1..2]-> (b:N)\n" +
      "with distinct a\n" +
      "return a")
    assert(r.bindings.collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L, 4L))
  }

  private val edgeSrc =
    """(:N {x int})
      |(:N) -[:e {w int}]-> (:N)
      |create (a:N) create (b:N) create (c:N)
      |set a.x = 1, b.x = 2, c.x = 3
      |create (a) -[:e {w: a.x * 10}]-> (b)
      |create (b) -[:e {w: 100}]-> (c)
      |""".stripMargin

  test("in-list membership filters; coalesce recovers optional-match NULLs; count(*)") {
    val src =
      """(:N {x int, s string})
        |(:N) -[:e]-> (:N)
        |create (a:N {x: 1, s: "aa"}) create (b:N {x: 2, s: "bb"})
        |create (c:N {x: 3, s: "cc"})
        |create (a) -[:e]-> (b)
        |""".stripMargin
    val r = Engine.runSource(spark, src +
      "match (n:N)\nwhere n.x in [1, 3, 9]\nreturn n.x")
    assert(r.bindings.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    val r2 = Engine.runSource(spark, src +
      "match (n:N)\nwhere n.s not in [\"bb\", \"zz\"]\nreturn n.x")
    assert(r2.bindings.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // coalesce over an unmatched optional target yields the default:
    // only a has an e-successor, so m is NULL for b and c
    val r3 = Engine.runSource(spark, src +
      "match (n:N)\noptional match (n) -[:e]-> (m:N)\n" +
        "return n.x as nx, coalesce(m.x, 0) as mx")
    assert(r3.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 0L), (3L, 0L)))
    // count(*) counts ROWS; count(m) skips NULL bindings
    val r4 = Engine.runSource(spark, src +
      "match (n:N)\noptional match (n) -[:e]-> (m:N)\n" +
        "return count(*) as rows, count(m) as hits")
    assert(r4.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSeq ==
      Seq((3L, 1L)))
    // id() reads the binding id; NULL optional bindings recover via coalesce
    val r5 = Engine.runSource(spark, src +
      "match (n:N)\noptional match (n) -[:e]-> (m:N)\n" +
        "return id(n) as nid, coalesce(id(m), 0 - 1) as mid")
    assert(r5.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSet ==
      Set((0L, 1L), (1L, -1L), (2L, -1L)))
  }

  test("merge on create/on match: exactly the taken branch's sets fire") {
    val src = "(:N {x int, s string})\n"
    // miss → create branch: on create fires, on match doesn't
    val r = Engine.runSource(spark, src +
      "merge (a:N {x: 1}) on create set a.s = \"new\" on match set a.s = \"seen\"\nreturn a, a.s")
    assert(r.bindings.collect().map(t => (t.getLong(0), t.getString(1))).toSeq ==
      Seq((0L, "new")))
    // hit → match branch; the action may reference current attrs
    val r2 = Engine.runSource(spark, src +
      "create (n:N {x: 1, s: \"orig\"})\n" +
        "merge (a:N {x: 1}) on create set a.s = \"new\" on match set a.s = a.s + \" seen\"\n" +
        "return a.s")
    assert(r2.bindings.collect().map(_.getString(0)).toSeq == Seq("orig seen"))
    // actions may target OTHER bound variables too (Cypher)
    val r3 = Engine.runSource(spark, src +
      "create (n:N {x: 5, s: \"keep\"})\n" +
        "merge (a:N {x: 7}) on create set n.s = \"missed\"\nreturn n.s")
    assert(r3.bindings.collect().map(_.getString(0)).toSeq == Seq("missed"))
  }

  test("strjoin aggregates the group's strings in ascending order") {
    val src =
      """(:N {x int, s string})
        |create (a:N {x: 1, s: "cc"}) create (b:N {x: 1, s: "aa"})
        |create (c:N {x: 2, s: "bb"}) create (d:N {x: 1, s: "aa"})
        |""".stripMargin
    val r = Engine.runSource(spark, src +
      "match (n:N)\nreturn n.x as g, strjoin(n.s) as all, strjoin(distinct n.s) as uniq")
    assert(r.bindings.columns.toSeq == Seq("g", "all", "uniq"))
    assert(r.bindings.collect().map(t =>
      (t.getLong(0), t.getString(1), t.getString(2))).toSet ==
      Set((1L, "aa,aa,cc", "aa,cc"), (2L, "bb", "bb")))
    // expression argument + global group; with-binding reads as a string scalar
    val r2 = Engine.runSource(spark, src +
      "match (n:N)\nwith strjoin(distinct upper(n.s)) as j\nwhere j.val contains \"BB\"\nreturn j")
    assert(r2.bindings.collect().map(_.getString(0)).toSeq == Seq("AA,BB,CC"))
  }

  test("lists: collect sorts ascending; index/size read; unwind roundtrips") {
    val src =
      """(:N {x int, s string})
        |create (a:N {x: 3, s: "u"}) create (b:N {x: 1, s: "v"})
        |create (c:N {x: 2, s: "u"}) create (d:N {x: 1, s: "w"})
        |""".stripMargin
    // grouped collect: sorted ascending, duplicates kept (distinct drops)
    val r = Engine.runSource(spark, src +
      "match (n:N)\nwith n.s as g, collect(n.x) as xs\n" +
        "return g, size(xs.val) as n, xs.val[0] as lo, xs.val[size(xs.val) - 1] as hi")
    assert(r.bindings.collect().map(t =>
      (t.getString(0), t.getLong(1), t.getLong(2), t.getLong(3))).toSet ==
      Set(("u", 2L, 2L, 3L), ("v", 1L, 1L, 1L), ("w", 1L, 1L, 1L)))
    // collect → unwind roundtrip (global group), distinct variant
    val r2 = Engine.runSource(spark, src +
      "match (n:N)\nwith collect(distinct n.x) as xs\nunwind xs as x\nreturn x")
    assert(r2.bindings.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // out-of-range index RAISES (ANSI array access — documented rule)
    val r3 = Engine.runSource(spark, src +
      "match (n:N)\nwith collect(n.x) as xs\nreturn xs.val[99] as v")
    val ex = intercept[Exception](r3.bindings.collect())
    assert(ex.getMessage.toLowerCase.contains("index"))
    // range row generation: inclusive bounds, per-row length, empty
    // when lo > hi (Cypher's rule — the reversed pair contributes 0 rows)
    val r4 = Engine.runSource(spark, src +
      "match (n:N)\nwhere n.s = \"u\"\nunwind range(n.x, 3) as i\nreturn n.x as x, i")
    assert(r4.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSet ==
      Set((3L, 3L), (2L, 2L), (2L, 3L))) // x=3 → [3]; x=2 → [2,3]
    val r5 = Engine.runSource(spark, src +
      "match (n:N)\nunwind range(5, n.x) as i\nreturn i")
    assert(r5.bindings.collect().isEmpty) // all x < 5 → every list empty
    // membership over a collected list and over range
    val r6 = Engine.runSource(spark, src +
      "match (n:N)\nwhere n.x in range(2, 9)\nreturn n.x")
    assert(r6.bindings.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    val r7 = Engine.runSource(spark, src +
      "match (n:N)\nwhere n.s = \"u\"\nwith collect(n.x) as xs\n" +
        "match (m:N)\nwhere m.x not in xs.val\nreturn m.x")
    assert(r7.bindings.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 1L))
  }

  test("list predicates/comprehension/reduce: vacuous truth, re-sort, fold order") {
    val src =
      """(:N {x int, s string})
        |create (a:N {x: 3, s: "u"}) create (b:N {x: 1, s: "v"})
        |create (c:N {x: 2, s: "u"}) create (d:N {x: 1, s: "w"})
        |""".stripMargin
    // any/all/none/single over a populated group (u: [2,3])
    val r = Engine.runSource(spark, src +
      "match (n:N)\nwhere n.s = \"u\"\nwith collect(n.x) as xs\n" +
        "return any(x in xs.val where x.val > 2) as a, " +
        "all(x in xs.val where x.val > 1) as b, " +
        "none(x in xs.val where x.val = 9) as c, " +
        "single(x in xs.val where x.val = 3) as d")
    assert(r.bindings.collect().map(t =>
      (t.getBoolean(0), t.getBoolean(1), t.getBoolean(2), t.getBoolean(3))).toSeq ==
      Seq((true, true, true, true)))
    // vacuous truth over the EMPTY list (an always-false comprehension):
    // all/none = true, any/single = false — Cypher's rule
    val r2 = Engine.runSource(spark, src +
      "match (n:N)\nwith collect(n.x) as xs\n" +
        "return any(x in [y in xs.val where y.val > 99] where x.val > 0) as a, " +
        "all(x in [y in xs.val where y.val > 99] where x.val > 0) as b, " +
        "none(x in [y in xs.val where y.val > 99] where x.val > 0) as c, " +
        "single(x in [y in xs.val where y.val > 99] where x.val > 0) as d")
    assert(r2.bindings.collect().map(t =>
      (t.getBoolean(0), t.getBoolean(1), t.getBoolean(2), t.getBoolean(3))).toSeq ==
      Seq((false, true, true, false)))
    // a non-monotonic mapping arm re-sorts: 0 - x over [1,1,2,3] is
    // [-3,-2,-1,-1] ascending — element [0] is the most negative
    val r3 = Engine.runSource(spark, src +
      "match (n:N)\nwith collect(n.x) as xs\n" +
        "unwind [x in xs.val | 0 - x.val] as m\nreturn m")
    assert(r3.bindings.collect().map(_.getLong(0)).toSeq.sorted ==
      Seq(-3L, -2L, -1L, -1L))
    val r3b = Engine.runSource(spark, src +
      "match (n:N)\nwith collect(n.x) as xs\n" +
        "with [x in xs.val | 0 - x.val] as ms\nreturn ms.val[0] as first")
    assert(r3b.bindings.collect().map(_.getLong(0)).toSeq == Seq(-3L))
    // reduce folds ASCENDING: Horner over [1,1,2,3] with base 10 =
    // ((1*10+1)*10+2)*10+3 = 1123 — order-dependent, so this pins it
    val r4 = Engine.runSource(spark, src +
      "match (n:N)\nwith collect(n.x) as xs\n" +
        "return reduce(h = 0, x in xs.val | h.val * 10 + x.val) as horner")
    assert(r4.bindings.collect().map(_.getLong(0)).toSeq == Seq(1123L))
    // reduce over an empty list yields the init value
    val r5 = Engine.runSource(spark, src +
      "match (n:N)\nwith collect(n.x) as xs\n" +
        "return reduce(h = 42, x in [y in xs.val where y.val > 99] | h.val + x.val) as v")
    assert(r5.bindings.collect().map(_.getLong(0)).toSeq == Seq(42L))
    // outer references resolve inside a lambda body: m.x joins the
    // frame as usual and compares against each element
    val r6 = Engine.runSource(spark, src +
      "match (n:N)\nwith collect(n.x) as xs\n" +
        "match (m:N)\nwhere any(x in xs.val where x.val > m.x + 1)\nreturn m.x as mx")
    // elements [1,1,2,3]: m.x=1 sees 3>2 ✓ (twice: two x=1 nodes); 2 sees none>3 ✗...
    assert(r6.bindings.collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 1L))
  }

  test("call degree/cc observe the current graph state (entreprise fixture)") {
    // entreprise graph: nodes 0:P 1:E 2:P 3:E; edges (0,ami,2),(3,f,1),
    // (2,emp,3),(0,emp,1) — degrees: 0→(2,0), 2→(1,1), 3→(1,1), 1→(0,2);
    // one component, min id 0
    val pre = resource("entreprise_graph.q")
    val r = Engine.runSource(spark, pre +
      "\ncall degree() yield v, o, n\nreturn v, o, n")
    assert(r.bindings.collect().map(t =>
      (t.getLong(0), t.getLong(1), t.getLong(2))).toSet ==
      Set((0L, 2L, 0L), (1L, 0L, 2L), (2L, 1L, 1L), (3L, 1L, 1L)))
    val r2 = Engine.runSource(spark, pre +
      "\ncall cc() yield v, c\nreturn c, count(v) as k")
    assert(r2.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSeq ==
      Seq((0L, 4L)))
    // the proc sees MUTATIONS made earlier in the same program
    val r3 = Engine.runSource(spark,
      "(:N {x int})\ncreate (a:N) create (b:N)\n" +
        "call cc() yield v, c\nreturn c, count(v) as k")
    assert(r3.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSet ==
      Set((0L, 1L), (1L, 1L))) // two isolated nodes = two components
  }

  test("median is the LOW median of the sorted group (even sizes unambiguous)") {
    val r = Engine.runSource(spark,
      "(:N {x int})\ncreate (a:N {x: 5}) create (b:N {x: 1}) " +
        "create (c:N {x: 9}) create (d:N {x: 3})\n" +
        "match (n:N)\nreturn median(n.x) as m, median(distinct n.x mod 4) as dm")
    // sorted [1,3,5,9] → element (4-1) div 2 = index 1 = 3;
    // distinct mods {1,3} (5,1,9 ≡ 1) → low median 1
    assert(r.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSeq ==
      Seq((3L, 1L)))
  }

  test("split keeps token order and raises on empty separators; slices clamp") {
    val src =
      """(:N {x int, s string})
        |create (a:N {x: 3, s: "u-vv-w"}) create (b:N {x: 1, s: "-z-"})
        |""".stripMargin
    // token order preserved (NOT sorted): "u-vv-w" -> [u, vv, w] with
    // [0]=u, [2]=w; empty edge tokens kept: "-z-" -> ["", z, ""]
    val r = Engine.runSource(spark, src +
      "match (n:N)\nwith n.s as s, split(n.s, \"-\") as ps\n" +
        "return s, size(ps.val) as k, ps.val[0] as first, ps.val[size(ps.val) - 1] as last")
    assert(r.bindings.collect().map(t =>
      (t.getString(0), t.getLong(1), t.getString(2), t.getString(3))).toSet ==
      Set(("u-vv-w", 3L, "u", "w"), ("-z-", 3L, "", "")))
    // regex metacharacters in the separator are LITERAL (\Q..\E quote)
    val r2 = Engine.runSource(spark,
      "(:N {s string})\ncreate (a:N {s: \"a.b.c\"})\n" +
        "match (n:N)\nreturn size(split(n.s, \".\")) as k")
    assert(r2.bindings.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // empty separator raises (strict-engine rule)
    val r3 = Engine.runSource(spark,
      "(:N {s string})\ncreate (a:N {s: \"ab\"})\n" +
        "match (n:N)\nreturn size(split(n.s, \"\")) as k")
    val ex = intercept[Exception](r3.bindings.collect())
    assert(ex.getMessage.contains("separator"))
    // toInteger parses signed decimals and raises on anything else
    val r5 = Engine.runSource(spark,
      "(:N {s string})\ncreate (a:N {s: \"-42\"})\n" +
        "match (n:N)\nreturn toInteger(n.s) as v, toInteger(trim(\" 7 \")) as t")
    assert(r5.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSeq ==
      Seq((-42L, 7L)))
    val r5b = Engine.runSource(spark,
      "(:N {s string})\ncreate (a:N {s: \"x1\"})\n" +
        "match (n:N)\nreturn toInteger(n.s) as v")
    intercept[Exception](r5b.bindings.collect())
    // slice clamps both bounds; [1..3] of [u,vv,w] = [vv,w]; lo>=hi empty
    val r4 = Engine.runSource(spark, src +
      "match (n:N)\nwhere n.x = 3\nwith split(n.s, \"-\") as ps\n" +
        "return size(ps.val[1..99]) as hi, size(ps.val[0 - 5..1]) as lo, " +
        "size(ps.val[2..1]) as rev, ps.val[1..3][0] as m")
    assert(r4.bindings.collect().map(t =>
      (t.getLong(0), t.getLong(1), t.getLong(2), t.getString(3))).toSeq ==
      Seq((2L, 1L, 0L, "vv")))
  }

  test("split quotes a separator holding \\E: the split stays literal") {
    // Pattern.quote's rule: an \E inside the separator must not close
    // the \Q…\E quote early. Only a $param can carry a backslash.
    val r = Engine.runSource(spark, "unwind split($s, $sep) as x\nreturn x",
      params = Map("s" -> StringV("x\\E.yAz\\E.\\E"), "sep" -> StringV("\\E.")))
    assert(r.bindings.collect().map(_.getString(0)).toSeq == Seq("x", "yAz", "\\E"))
  }

  /** Sorted first-column strings of `q` run after two named nodes. */
  private def paramNames(q: String, params: (String, Value)*): Seq[String] =
    Engine.runSource(spark,
      "(:N {name string})\ncreate (a:N {name: \"Ann\"}) create (b:N {name: \"Bob\"})\n" + q,
      params = params.toMap).bindings.collect().map(_.getString(0)).toSeq.sorted

  test("$param strings are data: a quote cannot rewrite a predicate") {
    assert(paramNames("match (n:N)\nwhere n.name = $p\nreturn n.name as m",
      "p" -> StringV("x' or 'a' = 'a")) == Nil)
  }

  test("$param strings are data: a quoted name written by set is found again") {
    assert(paramNames("match (n:N)\nwhere n.name = \"Bob\"\nset n.name = $q\n" +
      "match (m:N)\nwhere m.name = $q\nreturn m.name as m",
      "q" -> StringV("O'Brien")) == Seq("O'Brien"))
  }

  test("$param strings are data: backslashes round-trip unchanged") {
    assert(paramNames("match (n:N)\nwhere n.name = \"Ann\"\nset n.name = $r\n" +
      "match (m:N)\nwhere m.name = $r\nreturn m.name as m",
      "r" -> StringV("a\\b\\c")) == Seq("a\\b\\c"))
  }

  test("nested lambdas: an inner body reads the outer lambda variable and an outer attribute") {
    val src =
      """(:N {x int})
        |create (a:N {x: 3}) create (b:N {x: 1})
        |create (c:N {x: 2}) create (d:N {x: 1})
        |""".stripMargin
    // xs = [1,1,2,3]; m keeps a row iff some y = x + m.x in xs:
    // m.x = 1 (1+1=2) and 2 (1+2=3) do, m.x = 3 does not
    val r = Engine.runSource(spark, src +
      "match (n:N)\nwith collect(n.x) as xs\n" +
        "match (m:N)\nwhere any(x in xs.val where any(y in xs.val where y.val = x.val + m.x))\n" +
        "return m.x as mx")
    assert(r.bindings.collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 1L, 2L))
  }

  test("duplicate structural items with distinct aliases each get a column") {
    // positional naming (ADVICE r10): `return n.x as a, n.x as b` used
    // to name both columns `a` and fail on the final projection of `b`
    val src = "(:N {x int})\ncreate (n:N) set n.x = 7\n"
    val r = Engine.runSource(spark, src + "match (n:N)\nreturn n.x as a, n.x as b")
    assert(r.bindings.columns.toSeq == Seq("a", "b"))
    assert(r.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSeq ==
      Seq((7L, 7L)))
    // same shape under aggregation (duplicate group keys) and with
    val r2 = Engine.runSource(spark, src +
      "match (n:N)\nreturn n.x as a, n.x as b, count(n) as c")
    assert(r2.bindings.columns.toSeq == Seq("a", "b", "c"))
    assert(r2.bindings.collect().map(t =>
      (t.getLong(0), t.getLong(1), t.getLong(2))).toSeq == Seq((7L, 7L, 1L)))
    val r3 = Engine.runSource(spark, src +
      "match (n:N)\nwith n.x as a, n.x as b\nwhere a.val = b.val\nreturn a, b")
    assert(r3.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSeq ==
      Seq((7L, 7L)))
  }

  test("two rel variables over the same endpoint pair read attrs unambiguously") {
    // per-variable discriminator in the edge-attr ref name (ADVICE r10):
    // x and y alias the same (src,dst) pair — their attr joins used to
    // produce identically-named columns and fail at analysis time
    val r = Engine.runSource(spark, edgeSrc +
      "match (u:N) -[x:e]-> (v:N)\nmatch (u) -[y:e]-> (v)\n" +
        "where x.w = y.w\nreturn u, x.w as xw, y.w as yw")
    assert(r.bindings.columns.toSeq == Seq("u", "xw", "yw"))
    assert(r.bindings.collect().map(t => (t.getLong(0), t.getLong(1), t.getLong(2)))
      .toSet == Set((0L, 10L, 10L), (1L, 100L, 100L)))
  }

  test("edge properties: create map, rel-binding read, strict unset raise") {
    val r = Engine.runSource(spark, edgeSrc +
      "match (u:N) -[x:e]-> (v:N)\nwhere x.w >= 20\nreturn u, v, x.w")
    assert(r.bindings.columns.toSeq == Seq("u", "v", "x_w"))
    assert(r.bindings.collect().map(t => (t.getLong(0), t.getLong(1), t.getLong(2))).toSet ==
      Set((1L, 2L, 100L))) // only b->c carries w=100; a->b has w=10
    // the rel binding aliases the endpoint columns in both join shapes
    assertFusedIsBoundBoth(edgeSrc,
      "match (u:N) -[x:e]-> (v:N)\nwhere x.w >= 20\nreturn u, v, x.w",
      "match (u:N)\nmatch (v:N)\nmatch (u) -[x:e]-> (v)\nwhere x.w >= 20\nreturn u, v, x.w")
    // the stored frame carries the typed column
    val e = r.graph.edges(("N", "e", "N")).orderBy("src").collect()
      .map(t => (t.getLong(0), t.getLong(1), t.getLong(2)))
    assert(e.toSeq == Seq((0L, 1L, 10L), (1L, 2L, 100L)))
    // strict mode: an UNSET edge attribute raises like an unset node attr
    val r2 = Engine.runSource(spark,
      "(:N {x int})\n(:N) -[:e {w int}]-> (:N)\n" +
        "create (a:N) create (b:N)\ncreate (a) -[:e]-> (b)\n" +
        "match (u:N) -[x:e]-> (v:N)\nwhere x.w = 1\nreturn u")
    val ex = intercept[Exception](r2.bindings.collect())
    assert(ex.getMessage.contains("attribute w not set"))
  }

  test("edge properties: set and delete through the rel binding") {
    val r = Engine.runSource(spark, edgeSrc +
      "match (u:N) -[x:e]-> (v:N)\nwhere u.x = 1\nset x.w = x.w + 5")
    assert(r.graph.edges(("N", "e", "N")).orderBy("src").collect()
      .map(t => (t.getLong(0), t.getLong(1), t.getLong(2))).toSeq ==
      Seq((0L, 1L, 15L), (1L, 2L, 100L))) // only a->b updated
    val r2 = Engine.runSource(spark, edgeSrc +
      "match (u:N) -[x:e]-> (v:N)\nwhere x.w = 100\ndelete x")
    assert(r2.graph.edges(("N", "e", "N")).collect()
      .map(t => (t.getLong(0), t.getLong(1))).toSeq == Seq((0L, 1L)))
  }

  test("edge properties: re-creating an existing edge keeps its stored attrs") {
    // the reference's set semantics (test3.q) extended to attrs: the
    // existing pair wins, the re-create's map is a no-op
    val r = Engine.runSource(spark, edgeSrc +
      "match (u:N), (v:N)\nwhere u.x = 1 and v.x = 2\n" +
      "create (u) -[:e {w: 999}]-> (v)")
    assert(r.graph.edges(("N", "e", "N")).orderBy("src").collect()
      .map(t => (t.getLong(0), t.getLong(1), t.getLong(2))).toSeq ==
      Seq((0L, 1L, 10L), (1L, 2L, 100L)))
    // inline match map filters like the explicit conjunct
    val r2 = Engine.runSource(spark, edgeSrc +
      "match (u:N) -[:e {w: 10}]-> (v:N)\nreturn u, v")
    assert(r2.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).toSet ==
      Set((0L, 1L)))
  }

  test("relation alternation: per-pair existence, fused and semi paths, undirected") {
    val altSrc =
      """(:N {x int})
        |(:N) -[:e]-> (:N)
        |(:N) -[:f]-> (:N)
        |create (a:N) create (b:N) create (c:N)
        |set a.x = 1, b.x = 2, c.x = 3
        |create (a) -[:e]-> (b)
        |create (b) -[:f]-> (c)
        |create (a) -[:f]-> (b)
        |""".stripMargin
    // fused (fresh target): a-b connected by BOTH e and f → ONE row
    val r = Engine.runSource(spark, altSrc +
      "match (u:N) -[:e|f]-> (v:N)\nreturn u, v")
    assert(r.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).sorted.toSeq ==
      Seq((0L, 1L), (1L, 2L)))
    // bound-bound (semi path): same pairs, multiplicity preserved
    val r2 = Engine.runSource(spark, altSrc +
      "match (u:N), (v:N)\nmatch (u) -[:e|f]-> (v)\nreturn u, v")
    assert(r2.bindings.collect().map(t => (t.getLong(0), t.getLong(1))).sorted.toSeq ==
      Seq((0L, 1L), (1L, 2L)))
    assertFusedIsBoundBoth(altSrc,
      "match (u:N) -[:e|f]-> (v:N)\nreturn u, v",
      "match (u:N)\nmatch (v:N)\nmatch (u) -[:e|f]-> (v)\nreturn u, v")
    // undirected alternation: b's neighbours via either type, either way
    val r3 = Engine.runSource(spark, altSrc +
      "match (u:N) -[:e|f]- (v:N)\nwhere u.x = 2\nreturn v")
    assert(r3.bindings.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L))
  }

  test("relation alternation composes with exists / not exists / optional match") {
    val altSrc =
      """(:N {x int})
        |(:N) -[:e]-> (:N)
        |(:N) -[:f]-> (:N)
        |create (a:N) create (b:N) create (c:N)
        |set a.x = 1, b.x = 2, c.x = 3
        |create (a) -[:e]-> (b)
        |create (b) -[:f]-> (c)
        |create (a) -[:f]-> (b)
        |""".stripMargin
    // exists: nodes with ANY outgoing e-or-f edge (a and b; not c)
    val r = Engine.runSource(spark, altSrc +
      "match (u:N)\nwhere exists (u) -[:e|f]-> (v:N)\nreturn u")
    assert(r.bindings.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
    // not exists: the mirror (only c has no outgoing edge of either type)
    val r2 = Engine.runSource(spark, altSrc +
      "match (u:N)\nwhere not exists (u) -[:e|f]-> (v:N)\nreturn u")
    assert(r2.bindings.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // optional match: c survives with a NULL binding; a-b stays ONE row
    // despite being connected by both types (per-pair witness dedup)
    val r3 = Engine.runSource(spark, altSrc +
      "match (u:N)\noptional match (u) -[:e|f]-> (v:N)\nreturn u, v")
    assert(r3.bindings.collect()
      .map(t => (t.getLong(0), if (t.isNullAt(1)) -1L else t.getLong(1)))
      .sorted.toSeq == Seq((0L, 1L), (1L, 2L), (2L, -1L)))
  }

  test("unwind: per-row list explosion with expression elements") {
    val r = Engine.runSource(spark, chainSrc +
      "match (n:N)\nwhere n.x <= 10\nunwind [n.x, n.x + 1, 7] as k\nreturn n, k")
    assert(r.bindings.columns.toSeq == Seq("n", "k"))
    // bag semantics: each of the 2 matched rows explodes to its own 3
    // elements, evaluated per row
    assert(r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq ==
      Seq((0L, 0L), (0L, 1L), (0L, 7L), (1L, 7L), (1L, 10L), (1L, 11L)))
  }

  test("unwind: duplicates preserved; scalar alias feeds where and aggregates") {
    // on the untouched unit table the unwind IS the first row source
    val r = Engine.runSource(spark,
      "(:N {x int})\nunwind [2, 2, 3] as k\nwhere k.val = 2\nreturn k")
    assert(r.bindings.collect().map(_.getLong(0)).toSeq == Seq(2L, 2L))
    // the alias groups like any binding (count over exploded rows)
    val r2 = Engine.runSource(spark, chainSrc +
      "match (n:N)\nunwind [1, 1] as k\nreturn n, count(k)")
    assert(r2.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet ==
      (0L to 5L).map(n => (n, 2L)).toSet)
  }

  test("union: distinct dedups across branches, union all preserves the bag") {
    // branches must be read-only, so build the chain first and run the
    // union query against the persisted-in-session graph
    val base = Engine.runSource(spark, chainSrc)
    val hdr = "(:N {x int})\n(:N) -[:next]-> (:N)\n"
    val r = Engine.runSourceOn(spark, hdr +
      "match (n:N) where n.x <= 20 return n\nunion\nmatch (n:N) where n.x >= 20 return n",
      base.graph, base.nextId)
    assert(r.bindings.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 5L)) // node 2 (x=20) matched twice, kept once
    val r2 = Engine.runSourceOn(spark, hdr +
      "match (n:N) where n.x <= 20 return n\nunion all\nmatch (n:N) where n.x >= 20 return n",
      base.graph, base.nextId)
    assert(r2.bindings.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 2L, 2L, 3L, 4L, 5L))
    // a query that builds the graph and then unions is rejected: the
    // creates land in branch 1, which must be read-only
    assert(intercept[graft.lang.Typing.TypeError] {
      graft.lang.Typing.compile(chainSrc +
        "match (n:N) return n\nunion\nmatch (n:N) return n")
    }.getMessage.contains("read-only"))
  }

  test("reverse hop: `<-[:next]-` binds predecessors (same IR as forward)") {
    val r = Engine.runSource(spark, chainSrc +
      "match (n:N) <-[:next]- (p:N)\nwhere n.x = 30\nreturn n, p")
    assert(r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet ==
      Set((3L, 2L)))
    // reverse varpath with the shortest-distance binding
    val rv = Engine.runSource(spark, chainSrc +
      "match (b:N) <-[:next*1..3 as d]- (a:N)\nwhere b.x = 50\nreturn a, b, d.hops")
    assert(rv.bindings.collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getLong(2))).toSet ==
      Set((4L, 5L, 1L), (3L, 5L, 2L), (2L, 5L, 3L)))
  }

  test("varpath: bounded closure semantics on the chain (lo > 1)") {
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N) -[:next*2..3]-> (b:N)\nreturn a, b")
    val pairs = r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val expected = (for {
      a <- 0L to 5L; d <- 2 to 3; b = a + d if b <= 5
    } yield (a, b)).toSet
    assert(pairs == expected)
  }

  test("varpath: zero-length lower bound includes the identity pairs") {
    // *0..2 = identity ∪ 1-hop ∪ 2-hop; every node (even the chain tail,
    // which has no outgoing edge) pairs with itself
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N) -[:next*0..2]-> (b:N)\nreturn a, b")
    val pairs = r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val expected = (for {
      a <- 0L to 5L; d <- 0 to 2; b = a + d if b <= 5
    } yield (a, b)).toSet
    assert(pairs == expected)
    // *0..0 is the pure identity match over the label
    val r0 = Engine.runSource(spark, chainSrc +
      "match (a:N) -[:next*0..0]-> (b:N)\nreturn a, b")
    assert(r0.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet ==
      (0L to 5L).map(i => (i, i)).toSet)
  }

  test("ext return: integer avg truncates like the language's div") {
    // x values 0,10,20,30,40,50 → sum 150, count 6 → avg 25 exactly;
    // restricting to 4 nodes (x <= 30) → sum 60 / 4 = 15; and an
    // INEXACT case: x <= 20 → 30 / 3 = 10; x <= 40 → 100/5 = 20. Truncation
    // case via a filter keeping 0,10,30 → 40/3 = 13 (not 13.33…)
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N)\nwhere a.x = 0 or a.x = 10 or a.x = 30\nreturn avg(a.x), count(a)")
    assert(r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((13L, 3L)))
  }

  // chain plus a shortcut n0→n2: pairs reachable along BOTH the long and
  // the short route must bind the MINIMAL hop count
  private val shortcutSrc = chainSrc + "match (a0:N), (a2:N) where a0.x = 0 and a2.x = 20\ncreate (a0) -[:next]-> (a2)\n"

  test("shortest-path binding: minimal hops under path multiplicity") {
    val r = Engine.runSource(spark, shortcutSrc +
      "match (a:N) -[:next*1..4 as d]-> (b:N)\nwhere a.x = 0\nreturn b, d.hops")
    val got = r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    // from n0 (id 0): n1→1, n2→1 (shortcut beats 0-1-2), n3→2 (0-2-3),
    // n4→3, n5→4
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // the fused closure seeds from its bound side, the bound-both one
    // from sv: same pairs and minima either way
    assertFusedIsBoundBoth(shortcutSrc,
      "match (a:N) -[:next*1..3]-> (b:N)\nreturn a, b",
      "match (a:N)\nmatch (b:N)\nmatch (a) -[:next*1..3]-> (b)\nreturn a, b")
    assertFusedIsBoundBoth(shortcutSrc,
      "match (a:N) -[:next*1..3 as d]-> (b:N)\nreturn a, b, d.hops",
      "match (a:N)\nmatch (b:N)\nmatch (a) -[:next*1..3 as d]-> (b)\nreturn a, b, d.hops")
  }

  test("shortest-path binding: lo > 1 windows the minimum; d usable in where and bare return") {
    // *2..3: (n0,n2) has a 1-hop shortcut AND the 2-hop chain route —
    // within the 2..3 window the minimum is 2
    val r = Engine.runSource(spark, shortcutSrc +
      "match (a:N) -[:next*2..3 as d]-> (b:N)\nwhere a.x = 0 and d.hops = 2\nreturn b, d")
    val got = r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // exactly-2-hop minima from n0: n2 (0-1-2), n3 (0-2-3), n4 (0-2-3-4? no:
    // 0-2-3-4 is 3 — n4's window minimum is 3, filtered) — plus n3 via the
    // long route is still min 2
    assert(got == Set((2L, 2L), (3L, 2L)))
  }

  test("shortest-path binding: zero-length window binds hops 0 on the identity") {
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N) -[:next*0..1 as d]-> (b:N)\nwhere a.x = 50\nreturn b, d.hops")
    // the chain tail has no outgoing edge: only its identity pair at 0
    assert(r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet ==
      Set((5L, 0L)))
  }

  test("shortest-path binding inside an optional match witness") {
    // the dist binding is a fresh witness variable like any other:
    // matched rows bind (b, hops) per witness, unmatched rows bind BOTH
    // to NULL (all-or-nothing), and d.hops through an unmatched row is
    // NULL like any attribute through an unmatched optional binding
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N)\noptional match (a) -[:next*2..3 as d]-> (b:N)\nreturn a, b, d.hops")
    val rows = r.bindings.collect().map { x =>
      (x.getLong(0),
        if (x.isNullAt(1)) -1L else x.getLong(1),
        if (x.isNullAt(2)) -1L else x.getLong(2))
    }.toSet
    val matched = for {
      a <- 0L to 5L; b <- 0L to 5L if b - a >= 2 && b - a <= 3
    } yield (a, b, b - a) // linear chain: unique path, hops = b - a
    val unmatched = Set((4L, -1L, -1L), (5L, -1L, -1L)) // no 2..3-hop tail
    assert(rows == matched.toSet ++ unmatched)
  }

  test("optional match: unmatched rows survive with a NULL binding") {
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N)\noptional match (a) -[:next]-> (b:N)\nreturn a, b")
    val rows = r.bindings.collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    // every node has its successor bound; the chain's tail (5) binds NULL
    assert(rows == Set((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, -1L)))
  }

  test("null(v) filters optional-match rows both ways") {
    val base = chainSrc + "match (a:N)\noptional match (a) -[:next]-> (b:N)\n"
    val unmatched = Engine.runSource(spark, base + "where null(b)\nreturn a")
      .bindings.collect().map(_.getLong(0)).toSet
    assert(unmatched == Set(5L)) // only the chain tail has no successor
    val matched = Engine.runSource(spark, base + "where null(b) = false\nreturn a")
      .bindings.collect().map(_.getLong(0)).toSet
    assert(matched == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("optional match: multi-hop path is all-or-nothing (no partial binding)") {
    // node 4 has a 1-hop successor (5) but no 2-hop path: BOTH b and c
    // must bind NULL, never (4, 5, NULL) — Cypher OPTIONAL MATCH semantics
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N)\noptional match (a) -[:next]-> (b:N) -[:next]-> (c:N)\nreturn a, b, c")
    val rows = r.bindings.collect().map { x =>
      (x.getLong(0),
        if (x.isNullAt(1)) -1L else x.getLong(1),
        if (x.isNullAt(2)) -1L else x.getLong(2))
    }.toSet
    assert(rows == Set(
      (0L, 1L, 2L), (1L, 2L, 3L), (2L, 3L, 4L), (3L, 4L, 5L),
      (4L, -1L, -1L), (5L, -1L, -1L)))
  }

  test("optional match: tail props filter inside the witness, rows survive as NULL") {
    // only node 2's successor has x = 30; every other row keeps with NULL b
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N)\noptional match (a) -[:next]-> (b:N {x: 30})\nreturn a, b")
    val rows = r.bindings.collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    assert(rows == Set((0L, -1L), (1L, -1L), (2L, 3L), (3L, -1L), (4L, -1L), (5L, -1L)))
  }

  test("exists: keeps rows with a witness, multiplicity preserved") {
    // node 0 has TWO successors via the shortcut chain below; with
    // `exists` it still appears exactly once (match would duplicate it)
    val r = Engine.runSource(spark, chainSrc +
      "match (e:N {x: 50})\nmatch (s:N {x: 0})\ncreate (s) -[:next]-> (e)\n" +
      "match (n:N)\nwhere exists (n) -[:next]-> (m:N)\nreturn n")
    // every node except the tail (5) has an outgoing edge; node 0 has 2
    val got = r.bindings.collect().map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(0L, 1L, 2L, 3L, 4L), s"got $got")
  }

  test("not exists: keeps exactly the rows with no witness") {
    // only the chain tail (5) has no successor
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N)\nwhere not exists (a) -[:next]-> (b:N)\nreturn a")
    assert(r.bindings.collect().map(_.getLong(0)).toSet == Set(5L))
  }

  test("not exists: existential props narrow the predicate") {
    // "no successor with x = 30" removes only node 2 (2→3, x3 = 30)
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N)\nwhere not exists (a) -[:next]-> (b:N {x: 30})\nreturn a")
    assert(r.bindings.collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 3L, 4L, 5L))
  }

  test("not exists: 2-hop pattern (anti of the bounded path)") {
    // nodes 4 and 5 have no 2-hop successor
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N)\nwhere not exists (a) -[:next]-> (b:N) -[:next]-> (c:N)\nreturn a")
    assert(r.bindings.collect().map(_.getLong(0)).toSet == Set(4L, 5L))
  }

  test("not exists: NULL optional binding trivially has no witness") {
    // b is NULL only for a = 5; "not exists (b)-[:next]->(c)" then keeps
    // rows where b is NULL or b's successor is absent (b = 5, i.e. a = 4)
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N)\noptional match (a) -[:next]-> (b:N)\n" +
        "where not exists (b) -[:next]-> (c:N)\nreturn a")
    assert(r.bindings.collect().map(_.getLong(0)).toSet == Set(4L, 5L))
  }

  test("strict mode: attribute access through a NULL optional binding yields NULL, not a raise") {
    // runSource defaults to strict = true; b.x on the unmatched tail row
    // must NOT hit the unset-attribute raise_error — the row just drops
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N)\noptional match (a) -[:next]-> (b:N)\nwhere b.x >= 30\nreturn a")
    assert(r.bindings.collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
  }

  test("varpath: engine matches RefInterp on the same program") {
    val prog = chainSrc + "match (a:N) -[:next*1..4]-> (b:N)\nreturn a, b"
    val tp = graft.lang.Typing.compile(prog)
    val eng = Engine.run(spark, tp,
      graft.engine.PropertyGraph.empty(spark, tp.schema))
      .bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val ref = RefInterp.run(tp).rows.map(r => (r(0), r(1))).toSet
    assert(eng == ref && eng.nonEmpty)
  }

  test("undirected hop: interior node pairs with both chain neighbours") {
    // bound-bound form (RMatchEdgeUndir semi-join)
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N {x: 20})\nmatch (b:N)\nmatch (a) -[:next]- (b)\nreturn b")
    assert(r.bindings.collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 3L))
    // fused form (the equi-join on the deduped orientation union) —
    // same answer
    val f = Engine.runSource(spark, chainSrc +
      "match (a:N {x: 20}) -[:next]- (b:N)\nreturn b")
    assert(f.bindings.collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 3L))
    // with a reciprocal edge n2 -> n1 the orientation union holds the
    // pair (1, 2) twice: still one row per connected pair in both shapes
    val reciprocal = chainSrc +
      "match (a1:N), (a2:N) where a1.x = 10 and a2.x = 20\ncreate (a2) -[:next]-> (a1)\n"
    assertFusedIsBoundBoth(reciprocal,
      "match (a:N) -[:next]- (b:N)\nreturn a, b",
      "match (a:N)\nmatch (b:N)\nmatch (a) -[:next]- (b)\nreturn a, b")
  }

  test("undirected varpath: exact-2 walks include the a-b-a self-pair") {
    // from the chain head, length-2 symmetrized walks reach 2 (forward
    // twice) and 0 itself (out and back over the same edge — walk
    // semantics, deliberately not Cypher's relationship-unique trails)
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N {x: 0}) -[:next*2..2]- (b:N)\nreturn b")
    assert(r.bindings.collect().map(_.getLong(0)).toSeq.sorted == Seq(0L, 2L))
  }

  test("undirected shortest distance: backward neighbours at distance 1") {
    val r = Engine.runSource(spark, chainSrc +
      "match (a:N {x: 30}) -[:next*1..2 as d]- (b:N)\nreturn b, d.hops")
    val got = r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == Set((2L, 1L), (4L, 1L), (1L, 2L), (5L, 2L), (3L, 2L)), s"got $got")
  }

  test("skip pages a deterministic order in return and with") {
    val r = Engine.runSource(spark, chainSrc +
      "match (n:N)\nreturn n, n.x order by n.x desc, n skip 2 limit 2")
    assert(r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((3L, 30L), (2L, 20L)))
    // mid-query: the page is what later clauses see
    val w = Engine.runSource(spark, chainSrc +
      "match (n:N)\nwith n order by n.x, n skip 4\nreturn n")
    assert(w.bindings.collect().map(_.getLong(0)).toSeq.sorted == Seq(4L, 5L))
  }

  test("x-mode explain golden: fused 2-hop match is stable and shows the pinned shapes") {
    // The user-facing EXPLAIN (Cli x-mode) over the parquet graph must
    // not silently drift from the PlanSpec-pinned plan shapes. Two
    // independent loader+engine runs must produce the SAME formatted
    // explain modulo expression ids (the golden-stability contract), and
    // that text must show: both hop expansions as equi-joins (join keys
    // present, zero cartesian products) over scans with non-empty
    // PushedFilters and pruned ReadSchema.
    def xExplain(): String = {
      val (g, nextId) = graft.sources.GraphLoader.load(spark, "/root/testdata/sf0.001")
      val r = Engine.runSourceOn(spark,
        graft.sources.GraphLoader.headerGql +
          """match (s:supplier {nationkey: 1}) -[:snation]-> (n:nation) -[:nregion]-> (rg:region)
            |return s, n, rg""".stripMargin,
        g, nextId, Engine.Config(strict = false))
      Cli.explainString(r)
    }
    // normalize the run-varying parts: expression ids (#123), plan ids
    // inside AQE result annotations, and memory sizes in stats
    def norm(x: String): String =
      x.replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
    val a = norm(xExplain())
    val b = norm(xExplain())
    assert(a == b, s"x-mode explain not stable across two runs:\n--- first\n$a\n--- second\n$b")
    assert("PushedFilters: \\[[^\\]]".r.findAllIn(a).nonEmpty,
      s"no non-empty PushedFilters in:\n$a")
    assert(!a.contains("CartesianProduct"), s"unfused cross join in:\n$a")
    // two hops = at least two hash equi-joins with visible key lists
    assert("Left keys \\[1\\]".r.findAllIn(a).size >= 2 ||
      "BroadcastHashJoin".r.findAllIn(a).size >= 2,
      s"fused 2-hop equi-joins missing from:\n$a")
  }

  test("call harmonic() guards the default seed band off the loader graph (round 16)") {
    // ADVICE r15: on a user-built graph with small dense ids the
    // default band (id < 2e9, the loader's region band) would make
    // EVERY node a seed — silently all-sources instead of landmark
    // harmonic. The default must fail loudly there…
    val g =
      """(:C {})
        |(:C) -[:nx]-> (:C)
        |create (a:C) create (b:C)
        |create (a) -[:nx]-> (b)
        |""".stripMargin
    val ex = intercept[Exception](Engine.runSource(spark,
      g + "call harmonic() yield id, h\nreturn id, h\n"))
    assert(ex.getMessage.contains("seed band"), ex.getMessage)
    // …while an explicit band states intent: seeds = {0}, so b (id 1)
    // is the only node at positive distance — ĥ(b) = 1e6/1
    val r = Engine.runSource(spark,
      g + "call harmonic(1) yield id, h\nreturn id, h\n")
    val rows = r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(rows == Set((1L, 1000000L)), s"explicit-band harmonic: $rows")
  }

  test("bare * varpath runs to convergence on a diameter-12 chain (round 16)") {
    // VERDICT r15 item 2: the open spellings used to default to the
    // depth-10 cap, so on this 13-node chain `-[:nx*]->` silently lost
    // the 11- and 12-hop pairs (75 rows instead of 78) — the one place
    // the engine's answer diverged from Cypher reachability without an
    // error. The convergence-driven closure must return ALL 78 pairs,
    // with exact BFS hop counts through the `as d` binding.
    val creates = (0 to 12).map(i => s"create (n$i:C)").mkString("\n")
    val chain = (0 until 12).map(i => s"create (n$i) -[:nx]-> (n${i + 1})").mkString("\n")
    val src =
      s"""(:C {})
         |(:C) -[:nx]-> (:C)
         |$creates
         |$chain
         |match (s:C) -[:nx* as d]-> (t:C)
         |return s, t, d.hops
         |""".stripMargin
    val r = Engine.runSource(spark, src)
    val rows = r.bindings.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val want = (for (i <- 0 to 12; j <- (i + 1) to 12)
      yield (i.toLong, j.toLong, (j - i).toLong)).toSet
    assert(rows.size == 78 && rows == want,
      s"unbounded chain closure mismatch (${rows.size} rows): " +
        s"missing ${want -- rows}, extra ${rows -- want}")
  }

  test("open *2.. varpath windows the converged closure on a diameter-12 chain (round 17)") {
    // VERDICT r16 item 5: `*lo..` with lo >= 2 used to fall back to the
    // depth-10 cap — the last silent-window divergence. On the 13-node
    // chain the floor must drop exactly the 12 one-hop pairs and keep
    // everything through the 11- and 12-hop pairs the old cap lost;
    // hop counts stay exact through the composition (step^(lo-1) of the
    // converged closure).
    val creates = (0 to 12).map(i => s"create (n$i:C)").mkString("\n")
    val chain = (0 until 12).map(i => s"create (n$i) -[:nx]-> (n${i + 1})").mkString("\n")
    val src =
      s"""(:C {})
         |(:C) -[:nx]-> (:C)
         |$creates
         |$chain
         |match (s:C) -[:nx*2.. as d]-> (t:C)
         |return s, t, d.hops
         |""".stripMargin
    val r = Engine.runSource(spark, src)
    val rows = r.bindings.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val want = (for (i <- 0 to 12; j <- (i + 2) to 12)
      yield (i.toLong, j.toLong, (j - i).toLong)).toSet
    assert(rows.size == 66 && rows == want,
      s"floored unbounded closure mismatch (${rows.size} rows): " +
        s"missing ${want -- rows}, extra ${rows -- want}")
  }

  test("open *3.. varpath is exact on a CYCLE (composition, not min-filter)") {
    // the semantics pin that separates step^(lo-1) composition from the
    // tempting-but-wrong "min distance >= lo" filter: on a directed
    // 4-cycle EVERY ordered pair (self-pairs included) carries walks of
    // length >= 3, so the floor must return all 16 pairs with the
    // minimal in-window walk length — e.g. (n0, n1) at distance 1 keeps
    // hops 5 (1 + one lap), n0 to itself hops 4 — while a min-distance
    // filter would return only the distance-3 pairs.
    val creates = (0 to 3).map(i => s"create (n$i:C)").mkString("\n")
    val edges = (0 to 3).map(i => s"create (n$i) -[:nx]-> (n${(i + 1) % 4})").mkString("\n")
    val src =
      s"""(:C {})
         |(:C) -[:nx]-> (:C)
         |$creates
         |$edges
         |match (s:C) -[:nx*3.. as d]-> (t:C)
         |return s, t, d.hops
         |""".stripMargin
    val r = Engine.runSource(spark, src)
    val rows = r.bindings.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val want = (for (i <- 0 to 3; j <- 0 to 3) yield {
      val fwd = ((j - i) % 4 + 4) % 4 // distance along the cycle, 0 for self
      val hops = if (fwd >= 3) fwd else fwd + 4
      (i.toLong, j.toLong, hops.toLong)
    }).toSet
    assert(rows.size == 16 && rows == want,
      s"cycle floor mismatch (${rows.size} rows): " +
        s"missing ${want -- rows}, extra ${rows -- want}")
  }
}
