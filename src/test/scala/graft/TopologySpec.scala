package graft

import org.scalatest.funsuite.AnyFunSuite
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
}
