package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.engine.PropertyGraph
import graft.operators.Topology

/** The memo-key rule of [[Topology]]: an edge artifact is shared by
  * every view of one edge map that keeps the same relation types, and
  * only by those; a node artifact likewise per node map and kept labels.
  * The graphs are built in the test, so their entries are their own. */
class TopologySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("the hoist is keyed by edge-map identity and the kept relations") {
    import spark.implicits._
    val tp = graft.lang.Typing.compile(
      "(:A {})\n(:B {})\n(:A) -[:x]-> (:B)\n(:A) -[:y]-> (:B)\nmatch (a:A) return a\n")
    val g = PropertyGraph(tp.schema,
      Map("A" -> Seq(1L, 2L).toDF("id"), "B" -> Seq(10L, 20L).toDF("id")),
      Map(("A", "x", "B") -> Seq((1L, 10L), (2L, 20L)).toDF("src", "dst"),
        ("A", "y", "B") -> Seq((1L, 20L)).toDF("src", "dst")))
    val all = Topology(spark, g, _ => true)
    val ue = all.undirected
    assert(ue.count() == 6, "both orientations of the 3 edges")
    // two views of one version with the same relation set
    assert(Topology(spark, g, _ => true).undirected eq ue)
    // a node-only successor keeps the edge map, so it keeps the hoist
    val nodeOnly = g.copy(nodes = g.nodes.updated("A", Seq(1L, 2L, 3L).toDF("id")))
    assert(Topology(spark, nodeOnly, _ => true).undirected eq ue)
    // ... but not the node artifacts
    assert(Topology(spark, nodeOnly, _ => true).nNodes == 5)
    assert(all.nNodes == 4)
    // another relation set, or a new edge map, builds a new hoist
    val onlyX = Topology(spark, g, _ == "x").undirected
    assert(!(onlyX eq ue))
    assert(onlyX.count() == 4)
    val newEdges = g.copy(edges = g.edges.updated(("A", "y", "B"), Seq((1L, 20L)).toDF("src", "dst")))
    assert(!(Topology(spark, newEdges, _ => true).undirected eq ue))
    // kept labels key the node artifacts
    assert(Topology(spark, g, _ => true, _ == "A").nNodes == 2)
  }

  test("the driver-side edges and node ids follow the hoist's keys and the gate's cap") {
    import spark.implicits._
    val tp = graft.lang.Typing.compile(
      "(:A {})\n(:B {})\n(:A) -[:x]-> (:B)\n(:A) -[:y]-> (:B)\nmatch (a:A) return a\n")
    val g = PropertyGraph(tp.schema,
      Map("A" -> Seq(2L, 1L).toDF("id"), "B" -> Seq(20L, 10L).toDF("id")),
      Map(("A", "x", "B") -> Seq((1L, 10L), (2L, 20L)).toDF("src", "dst"),
        ("A", "y", "B") -> Seq((1L, 20L)).toDF("src", "dst")))
    def pairs(t: Topology): Set[(Long, Long)] =
      t.localEdges.get.pairs.grouped(2).map(p => (p(0), p(1))).toSet
    val all = Topology(spark, g, _ => true)
    val e = all.localEdges.get
    assert(pairs(all) == Set((1L, 10L), (2L, 20L), (1L, 20L)))
    assert(e.endpoints.toSeq == Seq(1L, 2L, 10L, 20L))
    assert(all.localNodes.get.toSeq == Seq(1L, 2L, 10L, 20L), "sorted, distinct")
    assert(Topology(spark, g, _ => true).localEdges.get eq e)
    // a node-only successor keeps the edges, not the node ids
    val nodeOnly = g.copy(nodes = g.nodes.updated("A", Seq(1L, 2L, 3L).toDF("id")))
    assert(Topology(spark, nodeOnly, _ => true).localEdges.get eq e)
    assert(Topology(spark, nodeOnly, _ => true).localNodes.get.toSeq == Seq(1L, 2L, 3L, 10L, 20L))
    // another relation set collects its own edges
    assert(pairs(Topology(spark, g, _ == "x")) == Set((1L, 10L), (2L, 20L)))
    // the hoist is 3 edges × 2 orientations × 2 cells: 12 cells pass,
    // 11 do not, and 0 closes the gate; none of the failures runs a job
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val count = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def under[A](cap: String)(body: => A): A = {
      spark.conf.set(Bcast.confKey, cap)
      try body finally spark.conf.unset(Bcast.confKey)
    }
    ListenerBusProbe.flush(sc)
    sc.addSparkListener(count)
    try {
      assert(under("0")(all.localEdges.isEmpty && all.localNodes.isEmpty))
      assert(under("11")(all.localEdges.isEmpty))
      ListenerBusProbe.flush(sc)
      assert(jobs.get == 0, s"a closed gate ran ${jobs.get} jobs")
    } finally sc.removeSparkListener(count)
    assert(under("12")(pairs(all)) == pairs(Topology(spark, g, _ => true)))
    assert(!(under("12")(all.localEdges.get) eq e), "a new cap decides again")
    // the session's driver arrays take at most twice the cap's cells:
    // under a 12-cell cap two versions' edges (12 cells each, with their
    // endpoints) fit, a third drops the least recently read, and a
    // dropped version collects its equal edges again
    under("12") {
      val vs = (1 to 3).map(_ => Topology(spark, g.copy(edges = g.edges.toSeq.toMap), _ => true))
      val first = vs.map(_.localEdges.get)
      assert(Topology.heldCells(spark) == 24)
      val again = vs.head.localEdges.get
      assert(!(again eq first.head) && again.pairs.toSeq == first.head.pairs.toSeq)
      assert(vs.last.localEdges.get eq first.last)
      assert(Topology.heldCells(spark) == 24)
    }
  }
}
