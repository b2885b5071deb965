package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Ckpt
import graft.engine.PropertyGraph

/** One graph version as the [[GraphAlgos]] kernels read it: the node
  * labels and relation types a caller keeps of a [[PropertyGraph]], and
  * the artifacts built from them. Both procedure doors read their kernel
  * inputs here — the library `g_*` queries over the loaded graph without
  * its non-FK parts, and MiniGQL's `call` procedures over the current
  * graph state, optionally scoped to one relation type.
  *
  * Memo-key rule: every artifact is built once per session through
  * [[Ckpt.memo]] and lives until the session stops. An edge artifact is
  * keyed by (edge-map identity, kept relation keys), a node artifact by
  * (node-map identity, kept labels), and an artifact of both by both
  * ([[memo]]). A mutation builds a new map, so a new edge map means a new
  * hoist, while a node-only successor (same edge map) reuses its
  * parent's; structural map equality would be wrong (a re-created equal
  * graph may hold different frames) and expensive. Keying by identity
  * lets versions coexist: no superseded pin is dropped while a still-lazy
  * binding may read it (call bfs → mutate → call: the old result's
  * trivial-convergence path reads the old spine). The loader returns one
  * graph per (session, dir), so the library door's entries are per
  * (session, dir) as well. The checkpoints an artifact holds belong to
  * its memo entry ([[Ckpt]]); callers must not drop them. */
final class Topology private (s: SparkSession, g: PropertyGraph,
    rels: Set[(String, String, String)], labels: Set[String]) {
  private val edgeKey = (new Topology.GraphKey(g.edges), rels)
  private val nodeKey = (new Topology.GraphKey(g.nodes), labels)

  private def onEdges[A](what: String)(build: => A): A = Ckpt.memo(s, (what, edgeKey))(build)
  private def onNodes[A](what: String)(build: => A): A = Ckpt.memo(s, (what, nodeKey))(build)

  /** Memo for an artifact derived from both the nodes and the edges. */
  def memo[A](what: String)(build: => A): A = Ckpt.memo(s, (what, edgeKey, nodeKey))(build)

  /** The kept relations' directed (src, dst) edges, lazy. */
  def edges: DataFrame = onEdges("edges") {
    g.edges.collect { case (k, df) if rels(k) => df.select(col("src"), col("dst")) }
      .reduceOption(_ unionByName _)
      .getOrElse(s.range(0).select(col("id").as("src"), col("id").as("dst")))
  }

  /** The kept labels' node ids, lazy. The legs follow the order of the
    * map without the dropped labels. */
  def nodes: DataFrame = onNodes("nodes") {
    (g.nodes -- (g.nodes.keySet -- labels)).values.map(_.select(col("id")))
      .reduceOption(_ unionByName _)
      .getOrElse(s.range(0).select(col("id")))
  }

  /** |V|: the volume input of the |V|-scale loops' width. */
  def nNodes: Long = onNodes("nNodes")(nodes.count())

  /** Loop width for |V|-scale per-superstep frames ([[Ckpt.partsFor]]). */
  def nodeWidth: Int = Ckpt.partsFor(s, nNodes)

  /** Both orientations of [[edges]] (2·|E| rows), hash-partitioned by
    * src and checkpointed: the loop-invariant frame every label and
    * distance propagation joins against. Planned without AQE, so the
    * checkpoint keeps its concrete partitioning and the supersteps'
    * joins do not re-exchange it; left lazy, every superstep would
    * re-scan the relation frames and re-shuffle their union (measured
    * 2× on the `call` door, VERDICT r12). */
  def undirected: DataFrame = onEdges("undirected") {
    val e = edges
    Ckpt.eagerPartitioned(e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")))
  }

  /** The distinct endpoints of [[edges]], checkpointed: the key
    * universe of a distance search over them, |V|-scale, so a search's
    * spine never re-runs the |E|-scale distinct. */
  def endpoints: DataFrame = onEdges("endpoints") {
    Ckpt.eagerPartitioned(undirected.select(col("dst").as("id")).distinct())
  }

  /** |[[endpoints]]|: the volume input of a distance search's width. */
  def nEndpoints: Long = onEdges("nEndpoints")(endpoints.count())

  /** (triangle counts id→n_tri, pair-degrees id→d) over [[edges]] as
    * canonical undirected pairs ([[GraphAlgos.pinnedTriangles]]). */
  def triangles: (DataFrame, DataFrame) = onEdges("triangles") {
    GraphAlgos.pinnedTriangles(edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
  }
}

object Topology {

  /** The view of `g` that keeps the relation types `keepRel` accepts and
    * the node labels `keepLabel` accepts. */
  def apply(s: SparkSession, g: PropertyGraph, keepRel: String => Boolean,
      keepLabel: String => Boolean = _ => true): Topology =
    new Topology(s, g, g.edges.keySet.filter(k => keepRel(k._2)), g.nodes.keySet.filter(keepLabel))

  /** A graph map by identity, for memo keys. */
  private final class GraphKey(val ref: AnyRef) {
    override def hashCode: Int = System.identityHashCode(ref)
    override def equals(o: Any): Boolean = o match {
      case k: GraphKey => k.ref eq ref
      case _           => false
    }
  }
}
