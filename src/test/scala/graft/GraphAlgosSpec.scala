package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, min, when}
import graft.engine.{Engine, PropertyGraph}
import graft.operators.{GraphAlgos, Topology}
import graft.sources.GraphLoader

/** In-JVM differential tests for the iterative graph analytics at
  * sf0.001: recompute connected components (union-find) and fixed-point
  * PageRank (the identical integer formula) over the collected edge list
  * and require exact equality — the algorithms are all-integer, so there
  * is no tolerance. The cc, PageRank, HITS, k-core and clustering
  * replays also check the `call` door, over the whole loaded graph. The
  * cc and SSSP replays run under the default broadcast gate, where the
  * sf0.001 graph iterates on the driver, and with the gate closed, where
  * it runs the distributed loop. */
class GraphAlgosSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def collectedEdges(): Seq[(Long, Long)] = {
    val (g, _) = GraphLoader.load(spark, dir)
    // FK edges only — mirror GraphAlgos.topology (tagged is mutable,
    // nnext is the derived varpath successor chain)
    val nonFk = Set("tagged", "nnext")
    g.edges.collect { case (key, df) if !nonFk(key._2) => df }
      .flatMap(_.collect().map(r => (r.getLong(0), r.getLong(1)))).toSeq
  }

  private def collectedNodes(): Seq[Long] = {
    val (g, _) = GraphLoader.load(spark, dir)
    (g.nodes - "tag").values.flatMap(_.select(col("id")).collect().map(_.getLong(0))).toSeq
  }

  /** The whole loaded graph as the `call` procedures see it: every node
    * label and every relation type (the FK edges plus the derived nnext
    * chain; tagged/flagged start empty). */
  private def gqlGraph(): (Seq[Long], Seq[(Long, Long)]) = {
    val (g, _) = GraphLoader.load(spark, dir)
    (g.nodes.values.flatMap(_.select(col("id")).collect().map(_.getLong(0))).toSeq,
      g.edges.values.flatMap(_.select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))).toSeq)
  }

  /** `body` with the broadcast gate closed (`spark.graft.bcastRowCap` 0),
    * so the cc and bfs/sssp kernels run their distributed loops. */
  private def closedGate[A](body: => A): A = {
    spark.conf.set(Bcast.confKey, "0")
    try body finally spark.conf.unset(Bcast.confKey)
  }

  /** `check` under the default gate, then with the gate closed. */
  private def underBothGates(check: String => Unit): Unit = {
    check("default gate")
    closedGate(check("closed gate"))
  }

  /** A one-label, one-relation graph version over `nodes` and `edges`, as
    * a kernel reads it. */
  private def version(nodes: Seq[Long], edges: Seq[(Long, Long)]): Topology = {
    import spark.implicits._
    val tp = graft.lang.Typing.compile("(:N {})\n(:N) -[:e]-> (:N)\nmatch (n:N) return n\n")
    Topology(spark, PropertyGraph(tp.schema, Map("N" -> nodes.toDF("id")),
      Map(("N", "e", "N") -> edges.toDF("src", "dst"))), _ => true)
  }

  /** Runs one MiniGQL program against the loaded graph; rows as longs. */
  private def gql(body: String): Seq[Seq[Long]] = {
    val (g, nextId) = GraphLoader.load(spark, dir)
    Engine.runSourceOn(spark, GraphLoader.headerGql + body, g, nextId,
      Engine.Config(strict = false)).bindings.collect()
      .map(r => r.toSeq.map(_.asInstanceOf[Long])).toSeq
  }

  /** Union-find components: node → component min id (the label
    * min-propagation converges to). */
  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("node ids are unique across the loaded graph (lineitem row_number fix)") {
    val ids = collectedNodes()
    assert(ids.size == ids.distinct.size)
  }

  // Running the query also exercises the in-operator convergence
  // assertion (GraphAlgos requires the final-superstep delta be empty),
  // so an under-converged ccIters fails here, not just vs the oracle.
  test("connected components equals in-memory union-find") {
    val comp = unionFind(collectedNodes(), collectedEdges())
    val expected = comp.values.groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val (gn, ge) = gqlGraph()
    val callExpected = unionFind(gn, ge)
    underBothGates { gate =>
      val got = SparkEntry.queries("g_connected_components")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, gate)
      // the call door: every node's label over the whole gql graph
      val call = gql("call cc() yield id, comp\nreturn id, comp")
        .map(r => r(0) -> r(1)).toMap
      assert(call == callExpected, gate)
    }
  }

  test("weighted SSSP equals the in-memory Dijkstra replay") {
    val srcId = 1000000000L // region 0 — same source as g_bfs
    def w(a: Long, b: Long): Long = 1L + (a + b) % 2
    val adj = scala.collection.mutable.Map.empty[Long, List[(Long, Long)]]
      .withDefaultValue(Nil)
    collectedEdges().foreach { case (a, b) =>
      adj(a) = (b, w(a, b)) :: adj(a)
      adj(b) = (a, w(a, b)) :: adj(b)
    }
    val dist = scala.collection.mutable.Map(srcId -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, srcId))(
      Ordering.by[(Long, Long), Long](-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (dist(u) == d) adj(u).foreach { case (v, wt) =>
        if (dist.get(v).forall(_ > d + wt)) { dist(v) = d + wt; pq.enqueue((d + wt, v)) }
      }
    }
    val expected = dist.values.groupBy(identity)
      .map { case (d, vs) => d -> vs.size.toLong }
    underBothGates { gate =>
      val got = SparkEntry.queries("g_sssp")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, gate)
    }
  }

  test("driver-local cc and bfs/sssp agree with the distributed loops") {
    // Each graph runs every kernel twice on one version: under the
    // default gate on the driver, and with the gate closed distributed.
    // Random graphs carry isolated nodes (100, 101), self-loops,
    // duplicate edges and endpoints that are not nodes (the ids left out
    // of the node set and 40-44); the chain needs 20 supersteps.
    val random = (1 to 3).map { seed =>
      val rnd = new scala.util.Random(seed)
      val nodes = (0L until 40L).filter(_ => rnd.nextInt(5) != 0) ++ Seq(100L, 101L)
      val edges = Seq.fill(30)((rnd.nextInt(45).toLong, rnd.nextInt(45).toLong))
      val loops = Seq.fill(3)(rnd.nextInt(40).toLong).map(i => (i, i))
      (s"random graph $seed", nodes, edges ++ loops ++ edges.take(4))
    }
    val chain = ("20-node chain", (0L until 20L), (0L until 19L).map(i => (i, i + 1)))
    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    for ((name, nodes, edges) <- random :+ chain) {
      val t = version(nodes, edges)
      assert(t.localEdges.isDefined && t.localNodes.isDefined, s"$name is over the gate")
      def agree(what: String)(run: => (DataFrame, Int)): Unit = {
        val (local, localSteps) = run
        val (dist, distSteps) = closedGate {
          assert(t.localEdges.isEmpty)
          val (d, n) = run
          (rows(d), n)
        }
        assert((rows(local), localSteps) == ((dist, distSteps)), s"$what on $name")
      }
      agree("cc")(GraphAlgos.deltaCC(t, 40))
      val endpoints = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
      val sources = Seq(nodes.find(endpoints).get, 100L, 999L) ++
        endpoints.find(!nodes.contains(_))
      for (src <- sources; weighted <- Seq(false, true)) {
        val what = s"${if (weighted) "SSSP" else "BFS"} from $src"
        agree(s"$what over the nodes")(GraphAlgos.hopDistances(t, src, weighted, 40, what))
        agree(s"$what over the endpoints")(GraphAlgos.reachDistances(t, src, weighted, 40, what))
      }
    }
    // the same error at the same too-small limit
    val t = version(chain._2, chain._3)
    def sameError(run: => Any): Unit = {
      val local = intercept[IllegalArgumentException](run).getMessage
      val dist = closedGate(intercept[IllegalArgumentException](run).getMessage)
      assert(local == dist && local.contains(" not converged after 3 supersteps"), local)
    }
    sameError(GraphAlgos.deltaCC(t, 3))
    for (weighted <- Seq(false, true)) {
      sameError(GraphAlgos.hopDistances(t, 0L, weighted, 3, "chain search"))
      sameError(GraphAlgos.reachDistances(t, 0L, weighted, 3, "chain search"))
    }
    Ckpt.drain()
  }

  test("landmark harmonic centrality equals the in-memory multi-BFS replay") {
    val seeds = collectedNodes().filter(_ < 2000000000L) // the 5 regions
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    collectedEdges().foreach { case (a, b) =>
      adj(a) = b :: adj(a); adj(b) = a :: adj(b)
    }
    val h = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    seeds.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0L)
      var frontier = List(s)
      var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        val next = frontier.flatMap(adj).distinct.filterNot(dist.contains)
        next.foreach(v => dist(v) = d)
        frontier = next
      }
      dist.foreach { case (v, dv) => if (dv > 0) h(v) += 1000000L / dv }
    }
    val expected = h.toSeq.sortBy { case (id, hv) => (-hv, id) }.take(50)
    val got = SparkEntry.queries("g_harmonic_landmarks")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("bipartiteness check equals the in-memory BFS-parity replay") {
    val nodes = collectedNodes()
    val edges = collectedEdges()
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    edges.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    // components via union-find, root = min id (the CC label contract)
    val rootOf = unionFind(nodes, edges)
    // BFS depth from each component's root
    val dist = scala.collection.mutable.Map.empty[Long, Long]
    rootOf.values.toSet.foreach { (root: Long) =>
      dist(root) = 0L
      var frontier = List(root); var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        val next = frontier.flatMap(adj).distinct.filterNot(dist.contains)
        next.foreach(v => dist(v) = d)
        frontier = next
      }
    }
    val expected = nodes.groupBy(rootOf).map { case (root, ns) =>
      val es = edges.filter { case (a, _) => rootOf(a) == root }
      val odd = es.count { case (a, b) => (dist(a) + dist(b)) % 2 == 0 }
      root -> ((ns.size.toLong, es.size.toLong, odd.toLong, odd == 0))
    }
    val got = SparkEntry.queries("g_bipartite")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == expected)
  }

  /** In-memory fixed-point integer PageRank: 8 iterations, rank0 1e9. */
  private def prReplay(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank = nodes.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 8) {
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) => in(d) += rank(s) / out(s) }
      rank = nodes.map(n => n -> (150000000L + (85L * in(n)) / 100L)).toMap
    }
    rank
  }

  test("fixed-point PageRank equals the in-memory integer replay") {
    val rank = prReplay(collectedNodes(), collectedEdges())
    val expected = rank.toSeq.sortBy { case (id, r) => (-r, id) }.take(100)
    val got = SparkEntry.queries("g_pagerank")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    val (gn, ge) = gqlGraph()
    val call = gql("call pagerank() yield id, rank\nreturn id, rank")
      .map(r => r(0) -> r(1)).toMap
    assert(call == prReplay(gn, ge))
  }

  test("personalized PageRank equals the in-memory integer replay") {
    val nodes = collectedNodes()
    // reversed FK edges — the influence direction (see GraphAlgos.pprIters)
    val edges = collectedEdges().map { case (s, d) => (d, s) }
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    def seed(id: Long): Boolean = id < 2000000000L
    var rank = nodes.map(n => n -> (if (seed(n)) 1000000000L else 0L)).toMap
    for (_ <- 1 to 6) {
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) => in(d) += rank(s) / out(s) }
      rank = nodes.map(n =>
        n -> ((if (seed(n)) 150000000L else 0L) + (85L * in(n)) / 100L)).toMap
    }
    val expected = rank.toSeq.sortBy { case (id, r) => (-r, id) }.take(100)
    val got = SparkEntry.queries("g_ppr")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    // the restart mass never leaves the seeds' basin untouched: the 5
    // region seeds hold exactly the teleport term (nothing points AT
    // them in the reversed graph), and they head the ranking
    assert(got.take(5) == (0 until 5).map(i => (1000000000L + i, 150000000L)))
  }

  /** In-memory k-core peel: node → in-core degree over the k-core. */
  private def kcoreReplay(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val und = (edges ++ edges.map(_.swap)).distinct
    var alive = und.map(_._1).toSet
    var done = false
    while (!done) {
      val deg = und.filter { case (a, b) => alive(a) && alive(b) }
        .groupBy(_._1).map { case (n, es) => n -> es.size }
      val next = deg.filter(_._2 >= k).keySet
      if (next == alive) done = true else alive = next
    }
    und.filter { case (a, b) => alive(a) && alive(b) }
      .groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
  }

  test("k-core peel equals the in-memory replay") {
    val coreDeg = kcoreReplay(collectedEdges(), 3)
    val expected = coreDeg.values.groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
    val got = SparkEntry.queries("g_kcore")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.keys.forall(_ >= 3L)) // every in-core degree is >= k
    val (_, ge) = gqlGraph()
    val call = gql("call kcore(3) yield id, c\nreturn id, c")
      .map(r => r(0) -> r(1)).toMap
    assert(call == kcoreReplay(ge, 3))
  }

  test("RA link prediction equals the in-memory replay") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // supported co-purchase edges: pairs sharing >= 2 distinct orders
    // (the association-rule support floor the operator applies)
    val perOrder = li.toSeq.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSeq
    // NB: .collect { case (p, _) => p } on a Map would rebuild a MAP
    // (tuple results re-key by first element) and silently collapse
    // (a, b1)/(a, b2) — keySet keeps the pairs intact
    val pairs: Set[(Long, Long)] =
      perOrder.groupBy(identity).filter(_._2.size >= 2).keySet.toSet
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (w, es) => w -> es.map(_._2).toSeq.sorted }
    val deg = adj.map { case (w, ns) => w -> ns.size.toLong }
    val scores = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    adj.foreach { case (w, ns) =>
      for (u <- ns; v <- ns if u < v && !pairs((u, v)))
        scores((u, v)) += 1000000000L / deg(w)
    }
    val expected = scores.toSeq.map { case ((u, v), ra) => (u, v, ra) }
      .sortBy { case (u, v, ra) => (-ra, u, v) }.take(20)
    val got = SparkEntry.queries("g_linkpred")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("Jaccard node similarity equals the in-memory replay (round 15 v2)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct
    val orders: Map[Long, Set[Long]] =
      li.groupBy(_._2).map { case (p, rows) => p -> rows.map(_._1).toSet }
    val inter = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    li.groupBy(_._1).values.foreach { rows =>
      val ps = rows.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) inter((a, b)) += 1L
    }
    val expected = inter.toSeq.map { case ((u, v), n) =>
      val union = orders(u).size + orders(v).size - n
      (u, v, 1000000L * n / union, n)
    }.sortBy { case (u, v, j, _) => (-j, u, v) }.take(100)
    val got = SparkEntry.queries("g_nodesim")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // the intersection really is the shared-order count (spot-check
    // the top pair against the set model)
    expected.headOption.foreach { case (u, v, _, n) =>
      assert((orders(u) intersect orders(v)).size.toLong == n)
    }
  }

  test("deterministic random walks equal the in-memory replay (round 15 v2)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val perOrder = li.toSeq.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSeq
    val pairs = perOrder.groupBy(identity).filter(_._2.size >= 2).keySet
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (c, es) => c -> es.map(_._2).toSeq.sorted }
    def hop(cur: Long, step: Int): Long =
      adj(cur).minBy(nb => ((cur * 48271 + step * 39916801L + nb * 69621) % 1000000007L, nb))
    val ends = adj.keys.toSeq.map { start =>
      (1 to 4).foldLeft(start)((cur, step) => hop(cur, step))
    }
    val expected = ends.groupBy(identity).map { case (e, xs) => (e, xs.size.toLong) }
      .toSeq.sorted
    val got = SparkEntry.queries("g_walks")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == expected)
  }

  // The named 100 TB claim, proved rather than asserted: on a graph
  // whose diameter is NOT schema-bound-small — here a 24-node chain
  // with a 200-leaf hub hanging off one end (high diameter + skew, the
  // adversarial shape for label propagation) — star-CC must converge in
  // O(log n) rounds while delta-CC needs O(diameter) supersteps. The FK
  // graph can't exercise this (diameter 7 by construction), which is
  // why the two implementations' advantage was previously only cited,
  // not measured (VERDICT r06 item 6).
  test("star-CC converges in O(log n) rounds where delta-CC needs O(diameter)") {
    import spark.implicits._
    val chainLen = 24 // diameter ~ chainLen + 1 (leaf → hub → … → chain end)
    val chain = (0L until chainLen - 1).map(i => (i, i + 1))
    val hub = (0L until 200L).map(l => (0L, 100L + l)) // hub at chain head
    val edges = (chain ++ hub).toDF("src", "dst")
    val nodes = ((0L until chainLen) ++ (100L until 300L)).toDF("id")
    val undirected = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))

    val (deltaLabels, deltaSteps) =
      graft.operators.GraphAlgos.deltaCC(nodes, undirected, maxIters = chainLen + 4,
        parts = 2)
    val (starLabels, starRounds) =
      graft.operators.GraphAlgos.starCC(nodes, edges, maxRounds = 8)

    // identical fixed point: every node labeled with the component min (0)
    val d = deltaLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val st = starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == st && d.values.toSet == Set(0L) && d.size == chainLen + 200)

    // round counts: delta is diameter-bound (min label 0 walks the chain
    // one hop per superstep: chainLen - 1 hops + 1 detection step); star
    // is O(log n) regardless — n = 224 ⇒ well under 8 rounds
    assert(deltaSteps >= chainLen,
      s"delta-CC converged in $deltaSteps supersteps — fixture no longer diameter-bound")
    assert(starRounds <= 8 && starRounds < deltaSteps / 2,
      s"star-CC took $starRounds rounds vs delta's $deltaSteps — O(log n) advantage lost")
  }

  /** In-memory synchronous self-inclusive LPA replay ((count desc,
    * label asc) tie-break over the closed neighborhood) — shared by the
    * labelprop and modularity tests. */
  private def lpaReplay(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    // multiplicity preserved — the operator's ue is union-all, so a
    // hypothetical parallel edge would count twice in the mode too
    val und = edges ++ edges.map(_.swap)
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      val incoming = und.groupBy(_._2)
      lbl = lbl.map { case (n, own) =>
        val msgs = incoming.getOrElse(n, Nil).map(e => lbl(e._1)) :+ own
        val counts = msgs.groupBy(identity).map { case (l, xs) => (l, xs.size) }
        n -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  test("label propagation equals the in-memory synchronous replay") {
    val lbl = lpaReplay(collectedNodes(), collectedEdges(), 6)
    val expected = lbl.values.groupBy(identity)
      .map { case (l, xs) => (l, xs.size.toLong) }
      .toSeq.sortBy { case (c, n) => (-n, c) }.take(20)
    val got = SparkEntry.queries("g_labelprop")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("modularity equals the in-memory replay over the LPA partition") {
    val nodes = collectedNodes()
    val edges = collectedEdges()
    val lbl = lpaReplay(nodes, edges, 6)
    val m = edges.size.toLong
    val eC = edges.filter { case (a, b) => lbl(a) == lbl(b) }
      .groupBy { case (a, _) => lbl(a) }.map { case (l, es) => l -> es.size.toLong }
    val dC = (edges ++ edges.map(_.swap))
      .groupBy { case (a, _) => lbl(a) }.map { case (l, es) => l -> es.size.toLong }
    val qnum = dC.map { case (l, d) => 4L * m * eC.getOrElse(l, 0L) - d * d }.sum
    val row = SparkEntry.queries("g_modularity")(spark, dir).collect().head
    assert(row.getLong(0) == m && row.getLong(1) == qnum)
    assert(row.getDouble(2) ==
      BigDecimal(qnum / (4.0 * m * m)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // sanity: a community partition on this graph beats the null model
    assert(row.getDouble(2) > 0.0)
  }

  /** In-memory HITS: 8 max-rescaled 1e6 fixed-point iterations;
    * node → (auth, hub). */
  private def hitsReplay(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val zeros = nodes.map(n => n -> 0L).toMap
    var hub = nodes.map(n => n -> 1000000L).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 8) {
      val ar = zeros ++ edges.groupBy(_._2)
        .map { case (v, es) => v -> es.map(e => hub(e._1)).sum }
      val mA = ar.values.max
      auth = ar.map { case (n, r) => n -> r * 1000000L / mA }
      val hr = zeros ++ edges.groupBy(_._1)
        .map { case (u, es) => u -> es.map(e => auth(e._2)).sum }
      val mH = hr.values.max
      hub = hr.map { case (n, r) => n -> r * 1000000L / mH }
    }
    nodes.map(n => n -> (auth(n), hub(n))).toMap
  }

  test("HITS equals the in-memory fixed-point replay") {
    val scores = hitsReplay(collectedNodes(), collectedEdges())
    val expected = scores.toSeq.map { case (n, (a, h)) => (n, a, h) }
      .sortBy { case (n, a, _) => (-a, n) }.take(20)
    val got = SparkEntry.queries("g_hits")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    val (gn, ge) = gqlGraph()
    val call = gql("call hits() yield id, auth, hub\nreturn id, auth, hub")
      .map(r => r(0) -> (r(1), r(2))).toMap
    assert(call == hitsReplay(gn, ge))
  }

  /** In-memory local clustering over canonical (a < b) pairs: every
    * node of pair-degree >= 2 as (id, d, n_tri, coeff_ppm). */
  private def clusteringReplay(pairs: Set[(Long, Long)]): Seq[(Long, Long, Long, Long)] = {
    val adj = (pairs.toSeq ++ pairs.toSeq.map(_.swap))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val tri = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((u, v) <- pairs if u < v; w <- adj(u) if w > v && adj(v)(w)) {
      tri(u) += 1; tri(v) += 1; tri(w) += 1
    }
    adj.toSeq.collect { case (n, ns) if ns.size >= 2 =>
      val d = ns.size.toLong
      (n, d, tri(n), 2000000L * tri(n) / (d * (d - 1)))
    }
  }

  test("local clustering coefficient equals the in-memory replay") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairs = li.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSet
    val expected = clusteringReplay(pairs)
      .sortBy { case (n, _, t, c) => (-c, -t, n) }.take(20)
    val got = SparkEntry.queries("g_clustering")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // the call door over the gql graph's canonical undirected pair set
    val (_, ge) = gqlGraph()
    val gqlPairs = ge.collect { case (a, b) if a != b => (a min b, a max b) }.toSet
    val call = gql("call clustering() yield id, lcc\nreturn id, lcc")
      .map(r => r(0) -> r(1)).toMap
    assert(call == clusteringReplay(gqlPairs).map { case (n, _, _, c) => n -> c }.toMap)
  }

  test("SCC coloring equals the in-memory Tarjan replay (round 16)") {
    // Full per-node label differential, not just the histogram: run
    // Tarjan over the collected asymmetric co-purchase graph (a→b at
    // support >= 2 for id-ordered pairs, b→a additionally at >= 3 —
    // the g_scc construction), label every SCC with its max member id,
    // and require coloringSCC's (id, scc) assignment to match exactly.
    import spark.implicits._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val perOrder = li.toSeq.groupBy(_._1).values.flatMap { rows =>
      val ps = rows.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSeq
    val bySupp = perOrder.groupBy(identity).view.mapValues(_.size)
    val edges: Seq[(Long, Long)] =
      bySupp.filter(_._2 >= 2).keys.toSeq ++
        bySupp.filter(_._2 >= 3).keys.map(_.swap).toSeq
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    // iterative Tarjan (explicit stack — the sf0.001 graph is small but
    // recursion depth is the graph's, not ours, so no stack overflow)
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      .withDefaultValue(Seq.empty)
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val lowlink = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Long]
    val sccOf = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    def strongconnect(v0: Long): Unit = {
      // explicit DFS frames: (node, iterator over remaining neighbors)
      val work = scala.collection.mutable.Stack((v0, adj(v0).iterator))
      index(v0) = counter; lowlink(v0) = counter; counter += 1
      stack.push(v0); onStack += v0
      while (work.nonEmpty) {
        val (v, it) = work.top
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; lowlink(w) = counter; counter += 1
            stack.push(w); onStack += w
            work.push((w, adj(w).iterator))
          } else if (onStack(w)) lowlink(v) = math.min(lowlink(v), index(w))
        } else {
          work.pop()
          if (work.nonEmpty) {
            val (p, _) = work.top
            lowlink(p) = math.min(lowlink(p), lowlink(v))
          }
          if (lowlink(v) == index(v)) {
            val members = scala.collection.mutable.Buffer.empty[Long]
            var w = 0L
            while ({ w = stack.pop(); onStack -= w; members += w; w != v }) ()
            val label = members.max
            members.foreach(m => sccOf(m) = label)
          }
        }
      }
    }
    nodes.foreach(v => if (!index.contains(v)) strongconnect(v))
    val got = graft.operators.GraphAlgos.coloringSCC(
        nodes.toDF("id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == nodes.size, s"coloringSCC covered ${got.size}/${nodes.size} nodes")
    assert(got == sccOf.toMap,
      s"SCC label mismatch on ${got.toSet.diff(sccOf.toSet).take(5)} …")
    // sanity on the fixture itself: the graph must carry non-trivial
    // SCCs or the differential proves nothing
    assert(sccOf.groupBy(_._2).exists(_._2.size >= 2),
      "fixture degenerated: no non-trivial SCC at sf0.001")
  }

  test("SCC bounds are session-configurable (high-diameter escape hatch)") {
    // ADVICE r16: trim peels one DAG layer per pass, so a directed path
    // of ~2x the superstep bound exhausts the default budget — the conf
    // must let an ordinary high-diameter graph through without a
    // recompile, and the tight default must still fail LOUDLY.
    import spark.implicits._
    val n = 100L
    val nodes = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val key = "spark.graft.sccMaxSupersteps"
    intercept[IllegalArgumentException] {
      graft.operators.GraphAlgos.coloringSCC(nodes, edges).collect()
    }
    spark.conf.set(key, "120")
    try {
      val got = graft.operators.GraphAlgos.coloringSCC(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // a path is all singleton SCCs: every node labels itself
      assert(got == (0L until n).map(i => i -> i).toMap,
        "path graph must decompose into singleton SCCs")
    } finally spark.conf.unset(key)
  }

  test("call cc() leaves a bounded RDD count, whatever its superstep count") {
    // Each superstep's checkpoint must be released once the next one is
    // materialized: what a call leaves cached may not grow with the
    // number of supersteps. The whole graph needs ~8 supersteps at
    // sf0.001, the nregion scope 2. A first pass of each builds the
    // memoized edge hoist and node count, which are session pins, so
    // the measured second pass excludes them. The gate is closed: under
    // it the graph iterates on the driver, with no checkpoint at all.
    closedGate {
      val programs = Seq("call cc() yield id, comp\nreturn id, comp",
        "call cc(\"nregion\") yield id, comp\nreturn id, comp")
      programs.foreach(gql)
      Ckpt.drain()
      def cachedRdds(): Int = spark.sparkContext.getRDDStorageInfo.length
      val left = programs.map { p =>
        val before = cachedRdds()
        gql(p)
        cachedRdds() - before
      }
      Ckpt.drain()
      assert(left.forall(_ <= 2) && left.distinct.size == 1,
        s"RDDs left cached per call (whole graph, nregion): $left")
    }
  }

  test("call hits() leaves only the frames its result reads") {
    // The result reads the last checkpoint of each phase (auth, hub).
    // The loop-invariant node and edge frames are released once the
    // phases have materialized, so a call leaves exactly those two.
    val p = "call hits() yield id, auth, hub\nreturn id, auth, hub"
    gql(p)
    Ckpt.drain()
    def cachedRdds(): Int = spark.sparkContext.getRDDStorageInfo.length
    val before = cachedRdds()
    gql(p)
    val left = cachedRdds() - before
    Ckpt.drain()
    assert(left == 2, s"RDDs left cached by a second call hits(): $left")
  }

  test("every superstep loop fails loudly past its step limit, naming the loop") {
    import spark.implicits._
    val ga = graft.operators.GraphAlgos
    val n = 20L
    val nodes = (0L until n).toDF("id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val undirected = chain.union(chain.select(col("dst").as("src"), col("src").as("dst")))
    def fails(loop: String)(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.startsWith(s"$loop not converged after "), e.getMessage)
    }
    // the chain's diameter is 19: every bound below is under it
    fails("connected components")(ga.deltaCC(nodes, undirected, maxIters = 3, parts = 1))
    fails("star CC")(ga.starCC(nodes, chain, maxRounds = 2))
    fails("k-core peel")(ga.kcore(undirected, 2, maxIters = 3))
    val spine = nodes.select(col("id"), when(col("id") === 0L, 0L).as("d"))
    val hop = (f: DataFrame) =>
      undirected.join(f, undirected("src") === f("id"))
        .select(undirected("dst").as("id"), (col("d") + 1).as("cand"))
        .groupBy("id").agg(min("cand").as("cand"))
    for (improve <- Seq(false, true))
      fails(s"chain search $improve")(
        ga.frontierLoop(spine, Seq("id"), hop, improve, 3, s"chain search $improve", parts = 1))
    val seeds = nodes.filter(col("id") === 0L)
      .select(col("id").as("seed"), col("id"), lit(0L).as("d"))
    fails("chain levels")(ga.multiSourceBfsLevels(seeds, undirected, 3, parts = 1, "chain levels"))
    // the same kernels on the driver, under the broadcast gate
    val local = version(0L until n, (0L until n - 1).map(i => (i, i + 1)))
    assert(local.localEdges.isDefined && local.localNodes.isDefined)
    fails("connected components")(ga.deltaCC(local, maxIters = 3))
    for (weighted <- Seq(false, true)) {
      fails(s"local search $weighted")(ga.hopDistances(local, 0L, weighted, 3,
        s"local search $weighted"))
      fails(s"local reach $weighted")(ga.reachDistances(local, 0L, weighted, 3,
        s"local reach $weighted"))
    }

    // SCC: each loop is exhausted on a graph that leaves the others short
    def scc(key: String, limit: Int, edges: Seq[(Long, Long)]): Unit = {
      val e = edges.toDF("src", "dst")
      spark.conf.set(key, limit.toString)
      try ga.coloringSCC(e.select(col("src").as("id")).union(e.select(col("dst"))).distinct(), e)
        .collect()
      finally spark.conf.unset(key)
    }
    val steps = "spark.graft.sccMaxSupersteps"
    val path = (0L until n - 1).map(i => (i, i + 1))
    // a path: trim peels its two ends per pass
    fails("SCC trim")(scc(steps, 3, path))
    // a cycle: nothing trims, the max id walks the cycle one hop a superstep
    fails("SCC coloring")(scc(steps, 3, path :+ (n - 1, 0L)))
    // 100 reaches every node in one hop (two coloring supersteps), but
    // only the tail of the path reaches 100, one hop a superstep back
    fails("SCC backward reach")(scc(steps, 5,
      path ++ (0L until n).map(i => (100L, i)) :+ (n - 1, 100L)))
    // six 2-cycles, each feeding the next lower one: one extraction per round
    fails("SCC rounds")(scc("spark.graft.sccMaxRounds", 2,
      (0L until 6L).flatMap(j => Seq((2 * j, 2 * j + 1), (2 * j + 1, 2 * j))) ++
        (0L until 5L).map(j => (2 * j + 2, 2 * j))))

    // an unbounded varpath over a chain longer than its superstep bound
    val len = graft.lang.Typing.varPathMaxSupersteps + 6
    val tp = graft.lang.Typing.compile(
      "(:C {})\n(:C) -[:nx]-> (:C)\nmatch (s:C) -[:nx*]-> (t:C)\nreturn s, t\n")
    val g = PropertyGraph(tp.schema, Map("C" -> (0L until len).toDF("id")),
      Map(("C", "nx", "C") -> (0L until len - 1).map(i => (i, i + 1)).toDF("src", "dst")))
    val e = intercept[IllegalArgumentException] {
      Engine.run(spark, tp, g, len, Engine.Config(strict = false)).bindings.collect()
    }
    assert(e.getMessage.startsWith("unbounded variable-length path not converged after ") &&
      e.getMessage.contains("write an explicit bound"), e.getMessage)

    // fixed-round kernels end at their round count without error
    assert(ga.pageRank(nodes, chain, 3).count() == n)
    assert(ga.labelProp(nodes, undirected, 3).count() == n)
    assert(ga.hits(nodes, chain, 3).count() == n)
    Ckpt.drain()
  }

  test("call cc() keys its edge hoist by graph version: one pin per new edge map") {
    // The hoist is memoized per edge-map IDENTITY: a second call on the
    // same version, or on a node-only successor (same edge map), reuses
    // it; an edge create makes a new edge map and exactly one new hoist.
    // A call also leaves its own drain-ledger frames (constant per call,
    // see the test above), so each delta is compared with a call on a
    // version whose hoist already exists. The gate is closed: under it
    // no hoist is built (see the next test).
    closedGate(hoistPerVersion())
  }

  private def hoistPerVersion(): Unit = {
    val cc = "call cc() yield id, comp\nreturn id, comp"
    def cachedRdds(): Int = spark.sparkContext.getRDDStorageInfo.length
    def run(g: PropertyGraph, nextId: Long, body: String): Engine.QueryResult = {
      val r = Engine.runSourceOn(spark, GraphLoader.headerGql + body, g, nextId,
        Engine.Config(strict = false))
      r.bindings.collect()
      r
    }
    def added(g: PropertyGraph): Int = {
      val before = cachedRdds()
      run(g, 0L, cc)
      cachedRdds() - before
    }
    val (g0, nextId) = GraphLoader.load(spark, dir)
    run(g0, nextId, cc)
    Ckpt.drain()
    // same version: nothing is left once the call's ledger is drained
    val before = cachedRdds()
    run(g0, nextId, cc)
    Ckpt.drain()
    assert(cachedRdds() - before == 0, "a second call cc() on one version pinned an RDD")
    val perCall = added(g0)
    val created = run(g0, nextId, """match (n:nation)
where n.regionkey = 0
create (t:tag)
create (n) -[:tagged]-> (t)""")
    assert(!(created.graph.edges eq g0.edges))
    assert(added(created.graph) == perCall + 1, "an edge create must add exactly one hoist")
    val set = run(created.graph, created.nextId,
      "match (p:part) where p.psize < 5 set p.psize = p.psize * 100 + 7")
    assert(set.graph.edges eq created.graph.edges)
    assert(added(set.graph) == perCall, "a node-only set must reuse the edge hoist")
    Ckpt.drain()
  }

  /** The jobs `body` runs and the RDDs it leaves stored. */
  private def cost(body: => Any): (Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val count = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusProbe.flush(sc)
    val stored = sc.getRDDStorageInfo.length
    sc.addSparkListener(count)
    try { body; ListenerBusProbe.flush(sc) }
    finally sc.removeSparkListener(count)
    (jobs.get, sc.getRDDStorageInfo.length - stored)
  }

  test("under the broadcast gate a call on a known edge version runs at most 3 jobs and pins nothing") {
    // sf0.001 passes the default gate: a version's edges are collected
    // once, and its calls iterate on the driver. A second call cc() and a
    // call bfs on a node-only successor (same edge map) collect nothing
    // and checkpoint nothing; what they run is their result.
    def run(g: PropertyGraph, nextId: Long, body: String): Engine.QueryResult = {
      val r = Engine.runSourceOn(spark, GraphLoader.headerGql + body, g, nextId,
        Engine.Config(strict = false))
      r.bindings.collect()
      r
    }
    val cc = "call cc() yield id, comp\nreturn comp, count(id) as n"
    val (g0, nextId) = GraphLoader.load(spark, dir)
    run(g0, nextId, cc)
    val second = cost(run(g0, nextId, cc))
    assert(second._1 <= 3 && second._2 == 0, s"second call cc(): (jobs, stored RDDs) $second")
    val set = run(g0, nextId, "match (p:part) where p.psize < 5 set p.psize = p.psize * 100 + 7")
    assert(set.graph.edges eq g0.edges)
    val bfs = cost(run(set.graph, set.nextId,
      "call bfs(1000000000) yield id, dist\nreturn dist, count(id) as n"))
    assert(bfs._1 <= 3 && bfs._2 == 0, s"call bfs on a node-only successor: (jobs, stored RDDs) $bfs")
    Ckpt.drain()
  }

  test("a cap below the graph's size runs call cc() exactly as the closed gate does") {
    // The sf0.001 hoist is ~78k cells: a 1000-cell cap fails the gate
    // on the plan's size estimate, with no collect job. The first call
    // under the small cap, which makes that decision, is compared with a
    // second call under the closed gate: both read the version's hoist.
    val cc = "call cc() yield id, comp\nreturn comp, count(id) as n"
    closedGate(gql(cc))
    Ckpt.drain()
    val closed = closedGate(cost(gql(cc)))
    Ckpt.drain()
    spark.conf.set(Bcast.confKey, "1000")
    val small = try cost(gql(cc)) finally spark.conf.unset(Bcast.confKey)
    Ckpt.drain()
    assert(small == closed, s"(jobs, stored RDDs) under a 1000-cell cap $small, closed gate $closed")
  }

  test("superstep partition knob rejects a bad value at entry, naming its key") {
    val key = "spark.graft.superstep.rowsPerPartition"
    try {
      for (bad <- Seq("many", "1.5", "0", "-4")) {
        spark.conf.set(key, bad)
        val e = intercept[IllegalArgumentException](Ckpt.partsFor(spark, 1000L))
        assert(e.getMessage.contains(key), e.getMessage)
      }
      spark.conf.set(key, "300")
      assert(Ckpt.partsFor(spark, 1000L) == 4)
    } finally spark.conf.unset(key)
    // the other numeric knobs, each read at its entry point (the bad
    // value fails before any job or file read)
    import spark.implicits._
    val tiny = Seq(1L, 2L).toDF("id")
    val scc = () => graft.operators.GraphAlgos.coloringSCC(tiny,
      tiny.toDF("src").crossJoin(tiny.toDF("dst")))
    val entries: Seq[(String, Seq[String], () => Any)] = Seq(
      ("spark.graft.bcastRowCap", Seq("many", "1.5", "-4"), () => Bcast.gated(tiny, 2L)),
      ("spark.graft.sccMaxRounds", Seq("many", "1.5", "0", "-4"), scc),
      ("spark.graft.sccMaxSupersteps", Seq("many", "1.5", "0", "-4"), scc),
      ("spark.graft.bpeK", Seq("many", "1.5", "0", "-4"),
        () => SparkEntry.queries("p_text_bpe_scale")(spark, "/nonexistent")))
    for ((k, bads, entry) <- entries) {
      try {
        for (bad <- bads) {
          spark.conf.set(k, bad)
          val e = intercept[IllegalArgumentException](entry())
          assert(e.getMessage.contains(k), e.getMessage)
        }
      } finally spark.conf.unset(k)
    }
    spark.conf.set("spark.graft.bcastRowCap", "0")
    try assert(Bcast.gated(tiny, 2L) eq tiny, "a 0 cap is valid and leaves the frame unhinted")
    finally spark.conf.unset("spark.graft.bcastRowCap")
  }
}
