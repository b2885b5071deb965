package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Bcast, Ckpt}
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
  * its memo entry ([[Ckpt]]); callers must not drop them.
  *
  * A version whose undirected hoist passes the broadcast gate
  * ([[Bcast.collected]]; a driver memory budget, as no speed crossover
  * was found up to twice the default cap, see [[Bcast]]) is held on the
  * driver instead: its kept edges ([[localEdges]], per edge version) and
  * node ids ([[localNodes]], per node version). The decision is memoized
  * under the same keys plus the cap it was taken under, so a session
  * whose cap changes decides again. The arrays are not memo entries:
  * they live in the session's [[Topology.Held]] store, which keeps at
  * most twice the cap's cells (64 MB at the default cap) across all
  * versions and drops the least recently read first; a dropped version
  * collects again when it is read again. The cc and bfs/sssp kernels
  * then iterate over these arrays, and such a version builds neither
  * [[undirected]] nor [[endpoints]]. */
final class Topology private (s: SparkSession, g: PropertyGraph,
    rels: Set[(String, String, String)], labels: Set[String]) {
  private val edgeKey = (new Topology.GraphKey(g.edges), rels)
  private val nodeKey = (new Topology.GraphKey(g.nodes), labels)

  private def onEdges[A](what: Any)(build: => A): A = Ckpt.memo(s, (what, edgeKey))(build)
  private def onNodes[A](what: Any)(build: => A): A = Ckpt.memo(s, (what, nodeKey))(build)

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

  /** The kept (src, dst) edges on the driver, row-major, when the
    * version's undirected hoist — 2·|E| rows of 2 cells — fits the
    * broadcast gate; `None` above it. An edge with a null endpoint is
    * left out: it joins nothing in the distributed loops either. */
  def localEdges: Option[Topology.Edges] = onEdges(("localEdges", Bcast.cap(s))) {
    new Topology.Local(s, () => Bcast.collected(edges.na.drop(), copies = 2)
      .map(new Topology.Edges(_)))(_.cells)
  }.get

  /** The kept node ids on the driver, sorted and distinct, when twice
    * their count fits the broadcast gate (so one version's arrays take at
    * most 1.5 caps of cells); `None` above it. */
  def localNodes: Option[Array[Long]] = onNodes(("localNodes", Bcast.cap(s))) {
    new Topology.Local(s, () => Bcast.collected(nodes.na.drop(), copies = 2)
      .map(Topology.sortedDistinct))(_.length.toLong)
  }.get

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

  /** One edge version's kept edges on the driver: `pairs` holds each
    * (src, dst) row-major. */
  final class Edges(val pairs: Array[Long]) {
    /** The distinct endpoints, sorted. */
    lazy val endpoints: Array[Long] = sortedDistinct(pairs)

    /** The cells these arrays may take: the pairs and, once read, at
      * most as many endpoints. */
    def cells: Long = 2L * pairs.length
  }

  /** One session's driver arrays ([[Local]]), least recently read first.
    * Once they take more than twice the broadcast cap's cells, the
    * oldest are dropped; the entry just stored stays. */
  private final class Held {
    private val lru = new java.util.LinkedHashMap[AnyRef, (AnyRef, Long)](16, 0.75f, true)
    private var cells = 0L

    def get(k: AnyRef): Option[AnyRef] = synchronized(Option(lru.get(k)).map(_._1))

    def put(s: SparkSession, k: AnyRef, v: AnyRef, n: Long): Unit = synchronized {
      Option(lru.put(k, (v, n))).foreach(cells -= _._2)
      cells += n
      val it = lru.entrySet.iterator
      while (cells > 2 * Bcast.cap(s) && it.hasNext) {
        val e = it.next()
        if (e.getKey ne k) { cells -= e.getValue._2; it.remove() }
      }
    }

    /** The cells held, for tests. */
    def size: Long = synchronized(cells)
  }

  /** One version's driver array under the gate: whether it fits is
    * decided once, by the first `load`; the array itself lives in the
    * session's [[Held]] store and is loaded again if the store dropped
    * it. */
  private final class Local[A <: AnyRef](s: SparkSession, load: () => Option[A])(cells: A => Long) {
    private var over = false

    def get: Option[A] = synchronized {
      if (over) None
      else held(s).get(this).map(_.asInstanceOf[A]).orElse {
        val v = load()
        v match {
          case Some(a) => held(s).put(s, this, a, cells(a))
          case None    => over = true
        }
        v
      }
    }
  }

  private def held(s: SparkSession): Held = Ckpt.memo(s, "Topology.held")(new Held)

  /** The cells of driver arrays `s` holds ([[Held]]). */
  private[graft] def heldCells(s: SparkSession): Long = held(s).size

  /** `a`'s distinct values in ascending order, in a new array. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    val b = a.clone()
    java.util.Arrays.sort(b)
    var n = 0
    for (x <- b) if (n == 0 || b(n - 1) != x) { b(n) = x; n += 1 }
    java.util.Arrays.copyOf(b, n)
  }

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
