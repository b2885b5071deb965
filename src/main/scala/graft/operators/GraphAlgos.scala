package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.GraphLoader
import graft.{Bcast, Ckpt, Knob, Superstep}
import graft.Superstep.{Done, More, Probe, doneIf}

/** Iterative graph analytics over the parquet→graph projection — the
  * GraphX-flavored extension axis of the engine (reference has none;
  * SURVEY.md §7.2 M7). Three layers:
  *
  *   - inputs: a [[Topology]] — one graph version's directed edges, node
  *     ids, undirected hoist, endpoint spine, |V| and triangle counts,
  *     memoized per version; under the broadcast gate, its edges and node
  *     ids on the driver instead of the hoist and spine. The `g_*`
  *     queries read the loaded graph without its non-FK parts
  *     ([[topology]]); MiniGQL's `call` procedures read the current graph
  *     state through the same class.
  *   - kernels over (nodes, edges) frames, one per algorithm and shared
  *     by both doors: [[deltaCC]], [[starCC]], [[pageRank]], [[hits]],
  *     [[kcore]], [[labelProp]], [[triangleCounts]], [[coloringSCC]],
  *     [[frontierLoop]] (with [[hopDistances]] for BFS and SSSP) and
  *     [[multiSourceBfsLevels]]. Every iterative loop runs through
  *     [[graft.Superstep]], which owns its width, checkpoints, step
  *     limit and the loud non-convergence error. cc and BFS/SSSP over a
  *     version under the gate run the same recurrence on the driver,
  *     through the same driver loop.
  *   - [[all]]: the `g_*` queries ([[Q]]), each a kernel call over the
  *     library topology plus its output projection, paired with an
  *     unrolled DuckDB oracle. Every result is integer (fixed-point
  *     ranks and scores, min-id labels), so engine and oracle agree bit
  *     for bit; the GraphX runs are checked against the same oracles or
  *     against the DataFrame PageRank.
  */
object GraphAlgos {

  // Label propagation converges at superstep 7 on this graph (measured
  // at sf0.1: one giant component — lineitems bridge every region
  // through their order/customer and supplier paths). The diameter is
  // set by the schema's FK chain shape, not the scale factor, so 9 = 7+2
  // margin holds across SFs.
  private val ccIters = 9
  private val prIters = 8

  /** The library door's graph: the loaded graph's FK edges and nodes.
    * The non-FK parts are dropped — the `tagged` relation and `tag`
    * label (mutable, start empty) and the `nnext` relation (the derived
    * successor chain for variable-length paths) — so the analytics
    * oracles reconstruct exactly the source foreign keys. */
  private def topology(s: SparkSession, dir: String): Topology =
    Topology(s, GraphLoader.load(s, dir)._1, rel => rel != "tagged" && rel != "nnext",
      _ != "tag")

  /** Delta min-label propagation CC over a pre-built UNDIRECTED edge
    * frame (both orientations present, ideally src-pre-partitioned).
    * Returns (labels id→comp, supersteps used incl. the convergence-
    * detection step). Supersteps scale with component DIAMETER — the
    * right choice when the diameter is known small (this repo's FK
    * graph: 7), the wrong one on an unknown 100 TB graph (see
    * [[starCC]]; GraphAlgosSpec pins the contrast on a chain+hub
    * fixture).
    *
    * Delta propagation: only labels that DECREASED last round send
    * messages. Per-round labels are provably identical to full
    * propagation (a neighbor unchanged since round r already contributed
    * its value in round r+1, and labels only decrease), so the unrolled
    * full-propagation oracle still matches — but message volume
    * collapses once the bulk of the graph settles (round 1: 2|E|, later
    * rounds: near zero). The classic delta-iteration shape (Flink/
    * Pregel) for LP at cluster scale.
    *
    * A superstep's frame is the left join of the labels with the
    * candidate minima; labels and the delta are cheap projections over
    * it, and the probe counts the delta ([[graft.Superstep]]'s one-job
    * rule), so peak storage is 2 label frames, not 2×iters. The
    * partitioned mark keeps the id partitioning, so the next superstep's
    * left join does not re-shuffle the full |V| label frame (the AQE
    * checkpoint pitfall; PlanSpec pins it). `parts` (round 19, guide
    * §2) is the loop width: the min-aggregation exchange and the label
    * checkpoints land at it, while the pre-placed undirected edge frame
    * keeps its compute width (plans/pr9: at sf0.001 the `changed` side is
    * broadcast into it, and the edge frame does not move). */
  def deltaCC(nodes: DataFrame, undirected: DataFrame, maxIters: Int,
      parts: Int): (DataFrame, Int) = {
    val lower = col("cand") < col("comp")
    // (labels, changed labels, the checkpoint both read)
    val ((labels, _, _), steps) = Superstep.converge(nodes.sparkSession,
        "connected components", maxIters, parts) {
      val first = Ckpt.eager(nodes.select(col("id"), col("id").as("comp")))
      (first, first, first)
    }(st => Seq(st._3)) { case ((labels, changed, _), _) =>
      val mins = undirected.join(changed, undirected("src") === changed("id"))
        .select(undirected("dst").as("id"), col("comp").as("cand"))
        .groupBy("id").agg(min("cand").as("cand"))
      Probe(labels.join(mins, Seq("id"), "left"), _.filter(lower).count()) { (joined, n) =>
        val st = (joined.select(col("id"),
            least(col("comp"), coalesce(col("cand"), col("comp"))).as("comp")),
          joined.filter(lower).select(col("id"), col("cand").as("comp")), joined)
        doneIf(n == 0L)(st)
      }
    }
    (labels, steps)
  }

  /** [[deltaCC]] over a graph version: the node labels and the supersteps
    * used. A version under the broadcast gate ([[Topology.localEdges]])
    * runs the same recurrence on the driver ([[localCC]]), and only the
    * labels it lowered come back as a local frame, joined lazily onto
    * the nodes, so every other node keeps its own id; above the gate it
    * is the distributed loop over the version's hoist. */
  def deltaCC(t: Topology, maxIters: Int): (DataFrame, Int) =
    (for (e <- t.localEdges; ids <- t.localNodes) yield {
      val (comp, steps) = localCC(t.nodes.sparkSession, ids, e.pairs, maxIters)
      val lowered = local(t.nodes.sparkSession, "lc",
        ids.indices.filter(i => comp(i) != ids(i)).map(i => (ids(i), comp(i))))
      (t.nodes.join(lowered, Seq("id"), "left")
        .select(col("id"), coalesce(col("lc"), col("id")).as("comp")), steps)
    }).getOrElse(deltaCC(t.nodes, t.undirected, maxIters, t.nodeWidth))

  /** [[deltaCC]]'s recurrence on the driver, over the sorted distinct
    * node ids `ids` and the directed edges `pairs` ((src, dst)
    * row-major): an edge with an endpoint outside `ids` neither sends
    * nor receives, as in the distributed join. Each superstep lowers a
    * label to the least label a neighbor changed in the superstep before
    * sent it, all from the labels before the superstep, so the labels,
    * the superstep count and the step limit's error are those of
    * [[deltaCC]]. Returns the labels, by index into `ids`, and the
    * supersteps used. */
  private def localCC(s: SparkSession, ids: Array[Long], pairs: Array[Long],
      maxIters: Int): (Array[Long], Int) = {
    val adj = new Adjacency(ids, pairs)
    val comp = ids.clone()
    val (_, steps) = Superstep.converge(s, "connected components", maxIters)(
        ids.indices.toArray)(_ => Nil) { (changed, _) =>
      val lowered = adj.relax(changed, (u, _) => comp(u)).filter { case (v, c) => c < comp(v) }
      lowered.foreach { case (v, c) => comp(v) = c }
      doneIf(lowered.isEmpty)(lowered.map(_._1))
    }
    (comp, steps)
  }

  /** The undirected adjacency of the directed edges `pairs` ((src, dst)
    * row-major) over the sorted key universe `keys`, by key index: each
    * edge whose endpoints are both keys appears in both orientations,
    * with duplicates and self-loops kept, as in the hoist. */
  private final class Adjacency(keys: Array[Long], pairs: Array[Long]) {
    private val (start, nbr) = {
      val ends = pairs.map(java.util.Arrays.binarySearch(keys, _))
      val kept = (0 until ends.length / 2).filter(i => ends(2 * i) >= 0 && ends(2 * i + 1) >= 0)
      val start = new Array[Int](keys.length + 1)
      kept.foreach { i => start(ends(2 * i) + 1) += 1; start(ends(2 * i + 1) + 1) += 1 }
      for (k <- 1 to keys.length) start(k) += start(k - 1)
      val fill = start.clone()
      val nbr = new Array[Int](start(keys.length))
      def add(u: Int, v: Int): Unit = { nbr(fill(u)) = v; fill(u) += 1 }
      kept.foreach { i => add(ends(2 * i), ends(2 * i + 1)); add(ends(2 * i + 1), ends(2 * i)) }
      (start, nbr)
    }

    /** The least message each neighbor of `from` receives, where
      * `msg(u, v)` is what u sends along (u, v); as (key index, value)
      * pairs, one per receiver. */
    def relax(from: Array[Int], msg: (Int, Int) => Long): Array[(Int, Long)] = {
      val least = scala.collection.mutable.LongMap.empty[Long]
      for (u <- from; k <- start(u) until start(u + 1)) {
        val (v, m) = (nbr(k), msg(u, nbr(k)))
        if (least.get(v).forall(m < _)) least(v) = m
      }
      least.iterator.map { case (v, m) => (v.toInt, m) }.toArray
    }
  }

  /** A driver-side (id, `value`) frame of `rows`. */
  private def local(s: SparkSession, value: String, rows: Seq[(Long, Long)]): DataFrame =
    s.createDataFrame(rows).toDF("id", value)

  /** Alternating large-star/small-star CC (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") over a directed (src,dst) edge
    * frame. Returns (labels id→comp for every node, rounds used incl.
    * the convergence-detection round). Instead of propagating labels
    * along edges (rounds ~ graph diameter), each round REWIRES the edge
    * set itself — large-star hangs every larger neighbor under the
    * neighborhood minimum, small-star recompresses the rest — converging
    * in O(log n) rounds on ANY graph shape to stars rooted at component
    * minima: the 100 TB choice on unknown/skewed graphs. Same fixed
    * point as min-label propagation (PipelineSpec pins star ≡ delta
    * equality; GraphAlgosSpec pins the round-count advantage on a
    * chain+hub fixture). Each round is two groupBy+join passes over the
    * current edge set (shrinking fast), one superstep of the driver. */
  def starCC(nodes: DataFrame, e0: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    val edges0 = Ckpt.deferred(
      e0.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct())
    val n0 = edges0.count() // materializes the deferred mark
    // Round 19 (guide §2): every round's frames are bounded by the
    // canonical edge set (the rewire only shrinks it), so the rounds run
    // at a volume-derived width — the initial distinct above still ran
    // at session width.
    val s = nodes.sparkSession
    val ((edges, _), rounds) = Superstep.converge(s, "star CC", maxRounds,
        Ckpt.partsFor(s, 2L * n0))((edges0, n0))(st => Seq(st._1)) {
      case ((edges, nEdges), round) =>
        // neighborhoods over both orientations of the current edges
        val und = edges.select(col("u"), col("v"))
          .union(edges.select(col("v").as("u"), col("u").as("v")))
        val withM = und
          .join(und.groupBy("u").agg(min("v").as("mn")), Seq("u"))
          .withColumn("m", least(col("mn"), col("u")))
        // large-star: strictly larger neighbors hang under m. ONE
        // distinct here (it also canonicalizes: m < v always), so the
        // small-star pass reads a deduped frame; self-loops (v == m)
        // drop with the same filter.
        val large = withM.filter(col("v") > col("u") && col("v") =!= col("m"))
          .select(col("m").as("u"), col("v")).distinct()
        val undL = large.select(col("u"), col("v"))
          .union(large.select(col("v").as("u"), col("u").as("v")))
        val withM2 = undL
          .join(undL.groupBy("u").agg(min("v").as("mn")), Seq("u"))
          .withColumn("m", least(col("mn"), col("u")))
        // small-star: smaller neighbors AND the center hang under m;
        // one terminal distinct canonicalizes (m is the smaller end)
        val small = withM2.filter(col("v") < col("u"))
          .select(col("m").as("u"), col("v").as("v2"))
          .union(withM2.select(col("m").as("u"), col("u").as("v2")))
          .filter(col("u") =!= col("v2"))
          .select(col("u"), col("v2").as("v")).distinct()
        // the probe is the cardinality half of the convergence test (the
        // previous round's count is carried over, never re-measured).
        // Both sides are distinct sets: equal cardinality + empty
        // one-sided difference <=> set equality; the anti-join only runs
        // once counts agree, and never before round 3 (the theoretical
        // minimum here).
        Probe(small, mark = Ckpt.deferred) { (small, n) =>
          doneIf(round >= 3 && n == nEdges && small.exceptAll(edges).isEmpty)((small, n))
        }
    }
    // converged edges are (leaf, root) stars; roots and isolated
    // nodes label themselves
    val comp = nodes
      .join(edges.select(col("v").as("id2"), col("u").as("root"))
        .groupBy("id2").agg(min("root").as("root")),
        col("id") === col("id2"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("comp"))
    (comp, rounds)
  }

  /** The GraphX graph over the FK edges — built (one fromEdges + 2D
    * partition shuffle) ONCE per topology and shared by the two GraphX
    * integration ops instead of each re-building it. Kept persisted for
    * the session like the topology's hoist; the ops still unpersist
    * their own RESULT graphs. */
  private def gxGraph(s: SparkSession, dir: String): org.apache.spark.graphx.Graph[Unit, Unit] = {
    val t = topology(s, dir)
    t.memo("gxGraph") {
      import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy}
      val sp = s
      import sp.implicits._
      val eDf = t.edges
      // Size edge partitions to DATA VOLUME, not to the loader plan's
      // partitioning: the union-of-scans arrives in O(#frames × scan
      // splits) partitions, and RDD Pregel (no AQE coalescing) pays
      // 3 stages × P tasks of fixed cost EVERY iteration, plus
      // EdgePartition2D replicates each vertex to ≤ 2√P partitions —
      // both costs scale with P, so P must track |E|. ~1M edges
      // (~32 MB of Edge[Unit]) per partition: thousands of partitions
      // at 100 TB, single digits at bench SFs.
      val parts = math.max(4, (eDf.count() / 1_000_000L).toInt)
      val edgeRdd = eDf.as[(Long, Long)].rdd
        .map { case (a, b) => Edge(a, b, ()) }
        .coalesce(parts)
      // EdgePartition2D bounds each vertex's replication at 2*sqrt(P)
      // partitions, shrinking the per-iteration vertex-to-edge shuffle
      // (the dominant cost of RDD Pregel on a star-heavy FK graph).
      Graph.fromEdges(edgeRdd, defaultValue = ())
        .partitionBy(PartitionStrategy.EdgePartition2D)
    }
  }

  /** Final fixed-point PageRank frame (id, rank: 1e-9 int64), computed
    * once per topology and shared: g_pagerank projects its top-100 and
    * g_pagerank_graphx cross-validates GraphX against it vertex by
    * vertex — the second consumer costs nothing beyond its own GraphX
    * run. */
  private[graft] def fixedPageRank(t: Topology): DataFrame =
    t.memo("fixedPageRank")(pageRank(t.nodes, t.edges, prIters))

  /** Fixed-point integer PageRank over a DIRECTED (src,dst) edge frame:
    * `iters` power iterations from rank0 = 1e9·w, contributions
    * `rank div outdeg`, damping `150000000·w + (85·Σ) div 100` — all
    * int64, so every engine computes bit-equal ranks; dangling mass is
    * dropped. `restart` is the restart weight w over the node frame's
    * columns: `lit(1L)` for global PageRank, an indicator of the seed set
    * for personalized PageRank (g_ppr). Only rank > 0 rows send
    * contributions — a zero rank adds 0 to every sum, so the filter is
    * exact for any w, and under a sparse restart vector message volume
    * tracks the reached set, not |V|. Returns (id, rank) for every node
    * as a materialized checkpoint. Shared by
    * g_pagerank, g_ppr and `call pagerank()`.
    *
    * Loop-invariant precomputation, partitioned by the per-step join
    * key: the edge list FUSED with its out-degree (one static join
    * instead of one per iteration), materialized once. Nodes are
    * pre-partitioned by id — the checkpoint preserves the partitioning,
    * so the per-iteration nodes⟕contribs join and the next round's
    * ed⨝ranks probe both reuse it instead of re-shuffling the node set
    * every superstep (the only per-step shuffle left is the
    * contribution aggregation itself — the irreducible PageRank
    * shuffle). Every full |V| rank frame joins the compute-width `ed`,
    * so the loop runs at session width: shrinking the rank side adds a
    * full-|V| re-exchange per iteration to meet it. Lineage is cut every
    * 4th iteration and at the end. */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
      restart: Column = lit(1L)): DataFrame = {
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // eagerPartitioned: a plain eager checkpoint under AQE reports
    // UnknownPartitioning, so every per-iteration join would RE-SHUFFLE
    // the loop-invariant frames the repartition exists to pre-place
    val ed = Ckpt.eagerPartitioned(edges.join(outdeg, Seq("src")).repartition(col("src")))
    val nodesP = Ckpt.eagerPartitioned(nodes.repartition(col("id")))
    val ranks = Superstep.rounds(iters, every = 4)(
        nodesP.select(col("id"), (lit(1000000000L) * restart).as("rank"))) { ranks =>
      val contribs = ed
        .join(ranks.filter(col("rank") > 0).withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), expr("rank div d").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      nodesP.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(150000000L) * restart + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
    }
    Ckpt.drop(ed)
    Ckpt.drop(nodesP)
    ranks
  }

  // ---- shared oracle SQL fragments (mirror GraphLoader's id scheme) ----

  private def liSql: String =
    s"SELECT *, ${graft.sources.GraphLoader.lineIdSql} AS lid FROM lineitem"

  private[operators] lazy val edgeSql: String =
    s"""SELECT c_custkey + 4000000000 AS src, c_nationkey + 2000000000 AS dst FROM customer
       |UNION ALL SELECT s_suppkey + 3000000000, s_nationkey + 2000000000 FROM supplier
       |UNION ALL SELECT n_nationkey + 2000000000, n_regionkey + 1000000000 FROM nation
       |UNION ALL SELECT o_orderkey + 6000000000, o_custkey + 4000000000 FROM orders
       |UNION ALL SELECT lid, l_orderkey + 6000000000 FROM ($liSql)
       |UNION ALL SELECT lid, l_partkey + 5000000000 FROM ($liSql)
       |UNION ALL SELECT lid, l_suppkey + 3000000000 FROM ($liSql)""".stripMargin

  private[operators] lazy val nodeSql: String =
    s"""SELECT r_regionkey + 1000000000 AS id FROM region
       |UNION ALL SELECT n_nationkey + 2000000000 FROM nation
       |UNION ALL SELECT s_suppkey + 3000000000 FROM supplier
       |UNION ALL SELECT c_custkey + 4000000000 FROM customer
       |UNION ALL SELECT p_partkey + 5000000000 FROM part
       |UNION ALL SELECT o_orderkey + 6000000000 FROM orders
       |UNION ALL SELECT lid FROM ($liSql)""".stripMargin

  // Every CTE is MATERIALIZED: each step references its predecessor
  // twice, so DuckDB's default inlining would expand the plan 2^iters
  // times (and re-open every parquet file in each copy).
  private lazy val ccOracle: String = {
    val steps = (1 to ccIters).map { i =>
      s"""l$i AS MATERIALIZED (SELECT x.id, min(x.comp) AS comp FROM (
         |  SELECT id, comp FROM l${i - 1}
         |  UNION ALL SELECT ue.dst AS id, l${i - 1}.comp
         |  FROM ue JOIN l${i - 1} ON ue.src = l${i - 1}.id) x GROUP BY x.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH nn AS MATERIALIZED ($nodeSql),
       |e AS MATERIALIZED ($edgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |l0 AS MATERIALIZED (SELECT id, id AS comp FROM nn),
       |$steps
       |SELECT comp, count(*) AS n FROM l$ccIters GROUP BY comp""".stripMargin
  }

  // MATERIALIZED for the same reason as ccOracle; sums cast back to
  // BIGINT (DuckDB's sum(BIGINT) is HUGEINT, which pandas would render
  // as float and break the exact-integer comparison).
  private lazy val prOracle: String = {
    val steps = (1 to prIters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT nn.id,
         |  CAST(150000000 + (85 * coalesce(m$i.s, 0)) // 100 AS BIGINT) AS rank
         |  FROM nn LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(r${i - 1}.rank // od.d) AS BIGINT) AS s
         |    FROM e JOIN r${i - 1} ON e.src = r${i - 1}.id
         |    JOIN od ON e.src = od.id GROUP BY e.dst) m$i ON nn.id = m$i.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH nn AS MATERIALIZED ($nodeSql),
       |e AS MATERIALIZED ($edgeSql),
       |od AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM e GROUP BY src),
       |r0 AS MATERIALIZED (SELECT id, 1000000000::BIGINT AS rank FROM nn),
       |$steps
       |SELECT id, rank FROM r$prIters ORDER BY rank DESC, id LIMIT 100""".stripMargin
  }

  /** BFS source: region 0's node id (GraphLoader id scheme). */
  private val bfsSrc = 1000000000L
  private val bfsIters = 9 // diameter bound + margin, same story as ccIters

  // Unrolled frontier BFS over the undirected graph: d_i(v) =
  // min(d_{i-1}(v), min over neighbors u of d_{i-1}(u) + 1). Same
  // MATERIALIZED discipline as ccOracle.
  private lazy val bfsOracle: String = {
    val steps = (1 to bfsIters).map { i =>
      s"""d$i AS MATERIALIZED (SELECT x.id, min(x.d) AS d FROM (
         |  SELECT id, d FROM d${i - 1}
         |  UNION ALL SELECT ue.dst AS id, d${i - 1}.d + 1
         |  FROM ue JOIN d${i - 1} ON ue.src = d${i - 1}.id) x GROUP BY x.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH nn AS MATERIALIZED ($nodeSql),
       |e AS MATERIALIZED ($edgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |d0 AS MATERIALIZED (SELECT id, 0::BIGINT AS d FROM nn WHERE id = $bfsSrc),
       |$steps
       |SELECT d AS dist, count(*) AS n FROM d$bfsIters GROUP BY d""".stripMargin
  }

  // Unrolled multi-source BFS (seed column carried through the same
  // min-distance recurrence as bfsOracle), then the harmonic sum in
  // 1e-6 fixed point. Same MATERIALIZED discipline.
  private lazy val harmonicOracle: String = {
    val steps = (1 to bfsIters).map { i =>
      s"""h$i AS MATERIALIZED (SELECT x.seed, x.id, min(x.d) AS d FROM (
         |  SELECT seed, id, d FROM h${i - 1}
         |  UNION ALL SELECT h${i - 1}.seed, ue.dst AS id, h${i - 1}.d + 1
         |  FROM ue JOIN h${i - 1} ON ue.src = h${i - 1}.id) x GROUP BY x.seed, x.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH nn AS MATERIALIZED ($nodeSql),
       |e AS MATERIALIZED ($edgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |h0 AS MATERIALIZED (SELECT id AS seed, id, 0::BIGINT AS d FROM nn
       |                    WHERE id < 2000000000),
       |$steps
       |SELECT id, CAST(sum(1000000 // d) AS BIGINT) AS h FROM h$bfsIters
       |WHERE d > 0 GROUP BY id ORDER BY h DESC, id LIMIT 50""".stripMargin
  }

  // CC unroll (the ccOracle recurrence) + root-seeded BFS unroll (the
  // harmonicOracle recurrence, seeds = component minima) + the parity
  // join over the directed edge list. Same MATERIALIZED discipline.
  private lazy val bipartiteOracle: String = {
    val ccSteps = (1 to ccIters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT x.id, min(x.comp) AS comp FROM (
         |  SELECT id, comp FROM c${i - 1}
         |  UNION ALL SELECT ue.dst AS id, c${i - 1}.comp
         |  FROM ue JOIN c${i - 1} ON ue.src = c${i - 1}.id) x GROUP BY x.id)"""
        .stripMargin
    }.mkString(",\n")
    val bfsSteps = (1 to bfsIters).map { i =>
      s"""b$i AS MATERIALIZED (SELECT x.seed, x.id, min(x.d) AS d FROM (
         |  SELECT seed, id, d FROM b${i - 1}
         |  UNION ALL SELECT b${i - 1}.seed, ue.dst AS id, b${i - 1}.d + 1
         |  FROM ue JOIN b${i - 1} ON ue.src = b${i - 1}.id) x GROUP BY x.seed, x.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH nn AS MATERIALIZED ($nodeSql),
       |e AS MATERIALIZED ($edgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |c0 AS MATERIALIZED (SELECT id, id AS comp FROM nn),
       |$ccSteps,
       |b0 AS MATERIALIZED (SELECT id AS seed, id, 0::BIGINT AS d
       |                    FROM c$ccIters WHERE id = comp),
       |$bfsSteps,
       |oe AS (SELECT du.seed, count(*) AS n_edges,
       |         sum(CASE WHEN (du.d + dv.d) % 2 = 0 THEN 1 ELSE 0 END) AS n_odd
       |       FROM e JOIN b$bfsIters du ON e.src = du.id
       |              JOIN b$bfsIters dv ON e.dst = dv.id
       |       GROUP BY du.seed),
       |comps AS (SELECT comp, count(*)::BIGINT AS n_nodes FROM c$ccIters GROUP BY comp)
       |SELECT comps.comp, n_nodes,
       |       COALESCE(oe.n_edges, 0)::BIGINT AS n_edges,
       |       COALESCE(oe.n_odd, 0)::BIGINT AS n_odd,
       |       COALESCE(oe.n_odd, 0) = 0 AS bipartite
       |FROM comps LEFT JOIN oe ON oe.seed = comps.comp""".stripMargin
  }

  /** SSSP source/bound. Weights are a deterministic symmetric function of
    * the endpoints — `1 + (src+dst) % 2` ∈ {1,2} — so both engines (and
    * the in-JVM Dijkstra replay) compute bit-identical integer distances
    * with no weight column materialized anywhere. Convergence bound: a
    * weighted shortest path costs ≤ 2×(hop distance) and every hop costs
    * ≥ 1, so no shortest path uses more than 2×(hop eccentricity) = 14
    * hops (BFS converges at 7), and Bellman–Ford relaxation fixes within
    * that many rounds; 16 = 14 + 2 margin, same discipline as ccIters. */
  private val ssspIters = 16

  // Unrolled Bellman–Ford relaxation, same MATERIALIZED discipline as
  // ccOracle/bfsOracle. Full relaxation per step (not delta) — same fixed
  // point, and steps past convergence are no-ops, so the engine's early
  // exit still matches.
  private lazy val ssspOracle: String = {
    val steps = (1 to ssspIters).map { i =>
      s"""s$i AS MATERIALIZED (SELECT x.id, min(x.d) AS d FROM (
         |  SELECT id, d FROM s${i - 1}
         |  UNION ALL SELECT ue.dst AS id, s${i - 1}.d + 1 + (ue.src + ue.dst) % 2
         |  FROM ue JOIN s${i - 1} ON ue.src = s${i - 1}.id) x GROUP BY x.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |s0 AS MATERIALIZED (SELECT CAST($bfsSrc AS BIGINT) AS id, CAST(0 AS BIGINT) AS d),
       |$steps
       |SELECT d AS dist, count(*) AS n FROM s$ssspIters GROUP BY d""".stripMargin
  }

  /** Personalized-PageRank iteration count. The restart set is the 5
    * region nodes and mass propagates over the REVERSED FK edges
    * (region→nation→customer/supplier→order→lineitem — the influence
    * direction; on the forward edges regions are sinks and PPR
    * degenerates to the seeds). 6 iterations reach the deepest stratum
    * (lineitems, 4 hops) with margin; like [[prIters]] this is a fixed
    * power-iteration count, not a convergence bound, and the oracle
    * unrolls exactly the same 6 steps. */
  private val pprIters = 6

  // Same recurrence as prOracle with two changes: the edge set is
  // reversed, and the teleport term is seed-conditional (regions are the
  // only ids below 2000000000 — GraphLoader's id-range scheme). All
  // int64, so every engine computes bit-equal ranks.
  private lazy val pprOracle: String = {
    val steps = (1 to pprIters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT nn.id,
         |  CAST((CASE WHEN nn.id < 2000000000 THEN 150000000 ELSE 0 END)
         |       + (85 * coalesce(m$i.s, 0)) // 100 AS BIGINT) AS rank
         |  FROM nn LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(r${i - 1}.rank // od.d) AS BIGINT) AS s
         |    FROM e JOIN r${i - 1} ON e.src = r${i - 1}.id
         |    JOIN od ON e.src = od.id GROUP BY e.dst) m$i ON nn.id = m$i.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH nn AS MATERIALIZED ($nodeSql),
       |e0 AS MATERIALIZED ($edgeSql),
       |e AS MATERIALIZED (SELECT dst AS src, src AS dst FROM e0),
       |od AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM e GROUP BY src),
       |r0 AS MATERIALIZED (SELECT id,
       |  CAST(CASE WHEN id < 2000000000 THEN 1000000000 ELSE 0 END AS BIGINT) AS rank
       |  FROM nn),
       |$steps
       |SELECT id, rank FROM r$pprIters ORDER BY rank DESC, id LIMIT 100""".stripMargin
  }

  /** k-core peel: k and round bound. Fixpoint measured at 3 rounds
    * (sf0.001) / 5 (sf0.01, sf0.1) — the peel cascade depth follows the
    * FK-chain shape (customers with <k orders fall, then their
    * now-underdegree orders, …), which the schema fixes independent of
    * scale factor; 8 = 5 + 3 margin, same discipline as [[ccIters]].
    * k = 3 keeps a large non-trivial core (lineitem nodes have exactly
    * degree 3); k = 4 empties this graph entirely. */
  private val kcoreK = 3
  private val kcoreIters = 8

  /** One [[kcore]] peel round's edge filter — edges among the alive
    * set. The src side is a co-partitioned semi join (zero exchange —
    * edges arrive src-partitioned); the dst side broadcasts the alive
    * ids only under the measured-count cell cap ([[graft.Bcast]] — the
    * count is the round's convergence probe, so the gate is free); past
    * it the hint drops and the join degrades to its shuffled form — one
    * extra |E| exchange, never an OOM. Exposed private[graft] so
    * PlanSpec can pin both shapes. */
  private[graft] def kcoreAliveFilter(edges: DataFrame, alive: DataFrame,
      nAlive: Long): DataFrame =
    edges.join(alive, col("src") === col("id"), "left_semi")
      .join(graft.Bcast.gated(alive.withColumnRenamed("id", "id2"), nAlive),
        col("dst") === col("id2"), "left_semi")

  /** Iterative k-core peel over an UNDIRECTED, src-pre-partitioned edge
    * frame: returns the in-core degree (id, c) of every node of the
    * k-core, materialized. Shared by g_kcore and
    * `call kcore(k)`.
    *
    * Each round: degrees over the surviving edge set (one co-partitioned
    * groupBy — edges stay src-partitioned the whole loop), keep nodes
    * with >= k neighbors, then filter edges to alive×alive through
    * [[kcoreAliveFilter]]. The alive set is the superstep's frame, its
    * count the probe; the loop ends on an unchanged alive count (the
    * peel is monotone ⊇, so count equality ⟺ set equality). */
  def kcore(ue: DataFrame, k: Long, maxIters: Int): DataFrame = {
    // (surviving edges, alive count, the in-core degrees once converged)
    val ((_, _, core), _) = Superstep.converge(ue.sparkSession, "k-core peel", maxIters)(
        (ue, -1L, Option.empty[DataFrame])) {
      case (edges, _, None) if !(edges eq ue) => Seq(edges)
      case _ => Nil
    } { case ((edges, nAlive, _), _) =>
      val deg = edges.groupBy("src").agg(count(lit(1)).as("c"))
      Probe(deg.filter(col("c") >= k).select(col("src").as("id"))) { (alive, n) =>
        // deg this round is over edges among the PREVIOUS alive set,
        // which just proved equal to the current one — so these are
        // exactly the in-core degrees
        if (n == nAlive) Done((edges, n,
          Some(Ckpt.eager(deg.filter(col("c") >= k).select(col("src").as("id"), col("c"))))))
        else More((Ckpt.eagerPartitioned(kcoreAliveFilter(edges, alive, n)), n, None))
      }
    }
    core.get
  }

  // Unrolled peel, same MATERIALIZED discipline as ccOracle. a0 = every
  // node with at least one edge; each round keeps nodes with >= k
  // surviving neighbors; rounds past the fixpoint are no-ops, so the
  // engine's early exit still matches. Output = the in-core degree
  // histogram (every reported degree is >= k by construction).
  private lazy val kcoreOracle: String = {
    val steps = (1 to kcoreIters).map { i =>
      s"""a$i AS MATERIALIZED (SELECT u.src AS id FROM ue u
         |  JOIN a${i - 1} x ON u.src = x.id JOIN a${i - 1} y ON u.dst = y.id
         |  GROUP BY u.src HAVING count(*) >= $kcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
       |$steps,
       |fd AS (SELECT u.src AS id, count(*) AS c FROM ue u
       |  JOIN a$kcoreIters x ON u.src = x.id
       |  JOIN a$kcoreIters y ON u.dst = y.id GROUP BY u.src)
       |SELECT c AS core_degree, count(*) AS n_nodes FROM fd GROUP BY c""".stripMargin
  }

  // Resource-allocation link prediction over the SUPPORTED part
  // co-purchase graph: edges are pairs bought together in >= 2 distinct
  // orders (the association-rule support floor — a support-1
  // co-occurrence under near-uniform part assignment is noise, and the
  // floor is also what keeps exact RA tractable: it sparsifies the raw
  // graph from 1.2M edges / 148M wedges to 3.9k / 2.2k at sf0.1);
  // candidate pair (u,v) at distance 2, score = sum over common
  // neighbors w of floor(1e9 / deg(w)) — the RA index in integer
  // division, so the score is exact in any engine (no float log as in
  // Adamic–Adar). Existing edges are excluded; top-20 under the total
  // order (ra DESC, u, v).
  private lazy val linkpredOracle: String =
    """WITH po AS (SELECT DISTINCT x.l_orderkey AS ok, x.l_partkey AS a, y.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |pairs AS (SELECT a, b FROM po GROUP BY a, b HAVING count(*) >= 2),
      |adj AS (SELECT a AS w, b AS n FROM pairs UNION ALL SELECT b, a FROM pairs),
      |deg AS (SELECT w, count(*) AS d FROM adj GROUP BY w),
      |wedge AS (SELECT x.n AS u, y.n AS v, x.w AS w
      |  FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n),
      |cand AS (SELECT u, v, w FROM wedge WHERE NOT EXISTS (
      |  SELECT 1 FROM pairs p WHERE p.a = wedge.u AND p.b = wedge.v)),
      |scored AS (SELECT u, v, CAST(sum(1000000000 // deg.d) AS BIGINT) AS ra
      |  FROM cand JOIN deg ON cand.w = deg.w GROUP BY u, v)
      |SELECT u, v, ra FROM scored ORDER BY ra DESC, u, v LIMIT 20""".stripMargin

  /** Unrolled deterministic random walks (the g_walks recurrence): at
    * each step the walker at `cur` moves to the neighbor minimizing the
    * integer hash h(cur, step, nb) — a per-(position, step) PRNG draw
    * that both engines compute bit-equally (multipliers sized so every
    * term stays far under int64 even with ANSI overflow checks). The
    * id tiebreak makes hash collisions deterministic too. */
  private def walksOracle(steps: Int): String = {
    val rounds = (1 to steps).map { i =>
      s"""w$i AS MATERIALIZED (SELECT start, nb AS cur FROM (
         |  SELECT w.start, adj.nb,
         |    row_number() OVER (PARTITION BY w.start
         |      ORDER BY (w.cur * 48271 + $i * 39916801 + adj.nb * 69621) % 1000000007,
         |               adj.nb) AS rn
         |  FROM w${i - 1} w JOIN adj ON w.cur = adj.cur) x WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH po AS (SELECT DISTINCT x.l_orderkey AS ok, x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |e AS (SELECT a, b FROM po GROUP BY a, b HAVING count(*) >= 2),
       |adj AS MATERIALIZED (SELECT a AS cur, b AS nb FROM e UNION ALL SELECT b, a FROM e),
       |w0 AS MATERIALIZED (SELECT DISTINCT cur AS start, cur FROM adj),
       |$rounds
       |SELECT cur AS endpoint, CAST(count(*) AS BIGINT) AS n
       |FROM w$steps GROUP BY cur""".stripMargin
  }

  /** The g_nodesim plan, UNCLOSED: (lazy result, the shared (o,p)
    * checkpoint the caller must drop after consuming). The distinct
    * (o,p) frame is checkpoint-shared across its three consumers (two
    * self-join sides + the degree table) and its count — one job that
    * both materializes the checkpoint and bounds |parts| for the
    * degree-table broadcast gates (VERDICT r16: the raw hints were the
    * last ungated data-scale broadcasts). Exposed private[graft] so
    * PlanSpec can pin the broadcast AND the past-the-cap SMJ shape. */
  private[graft] def nodesimUncached(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = Ckpt.deferredShared(s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct())
    val nLi = li.count()
    val d = li.groupBy("p").agg(count(lit(1)).as("d"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("inter"))
    val out = pairs
      .join(graft.Bcast.gated(
        d.select(col("p").as("u"), col("d").as("du")), nLi), Seq("u"))
      .join(graft.Bcast.gated(
        d.select(col("p").as("v"), col("d").as("dv")), nLi), Seq("v"))
      .select(col("u"), col("v"),
        expr("(1000000 * inter) div (du + dv - inter)").as("jac_ppm"),
        col("inter"))
      .orderBy(col("jac_ppm").desc, col("u"), col("v")).limit(100)
    (out, li)
  }

  private lazy val nodesimOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |d AS (SELECT p, count(*) AS d FROM li GROUP BY p),
      |pairs AS (SELECT a.p AS u, b.p AS v, count(*) AS inter
      |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p)
      |SELECT u, v,
      |  CAST((1000000 * inter) // (du.d + dv.d - inter) AS BIGINT) AS jac_ppm,
      |  CAST(inter AS BIGINT) AS inter
      |FROM pairs JOIN d du ON pairs.u = du.p JOIN d dv ON pairs.v = dv.p
      |ORDER BY jac_ppm DESC, u, v LIMIT 100""".stripMargin

  /** Frontier-delta distance loop over a FULL key spine (round 18,
    * optimization guide §2.4/§1.2): `spine` carries every key the loop
    * can ever reach with `d` = 0 at the sources and NULL elsewhere, and
    * each superstep LEFT-joins the candidate frame onto it — the
    * deltaCC discipline generalized to the BFS/SSSP family.
    *
    * Why this replaces the old anti-join + full-outer-merge shape: a
    * FULL OUTER SortMergeJoin reports UnknownPartitioning (measured on
    * Spark 4.1, see PlanSpec "superstep spine left join"), so the old
    * merged `dists` checkpoint lost its placement and every subsequent
    * superstep RE-EXCHANGED the whole accumulated frame; and the merge
    * was a SECOND job + checkpoint per superstep on top of the probe.
    * A LEFT join keeps the left side's hash partitioning, so here each
    * superstep is exactly ONE job (the probe counts the improved rows),
    * ONE checkpoint, and ONE exchange (the candidate aggregation; the
    * spine side is placed once at step 1 and never re-shuffled).
    * Iteration count and the result are UNCHANGED: the probe counts
    * exactly the rows the old anti-join (or, with `improve`, the old
    * improvement filter) produced, and unreached spine rows just stay
    * NULL until discovery — the returned frame filters them out,
    * matching the old accumulated frame row for row.
    *
    * `improve=false`: BFS semantics — a key is discovered once (the
    * frontier is the newly-reached set). `improve=true`: Bellman–Ford —
    * a smaller candidate re-enters the frontier (`cand < d`).
    *
    * `parts` (round 19, guide §2) is the loop width: every per-superstep
    * exchange — the candidate aggregation, the spine's one-time
    * placement — and every checkpoint lands at it. The loop-invariant
    * edge frame the `step` closure joins against was built outside the
    * loop at compute width and keeps it (plans/pr9: at sf0.001 the
    * frontier side is broadcast into it), so map parallelism over |E| is
    * unchanged.
    *
    * At 100 TB the spine costs |keys| rows per superstep checkpoint —
    * the same asymptotics as the old accumulated frame once the search
    * saturates (and CC/LP/PR already carry full-|V| frames per
    * superstep) — in exchange for halving the per-superstep job count
    * and removing a full re-exchange of the accumulated state, the two
    * costs that scale with cluster scheduler latency and network. */
  private[graft] def frontierLoop(
      spine: DataFrame,
      keyCols: Seq[String],
      step: DataFrame => DataFrame,
      improve: Boolean,
      maxIters: Int,
      what: String,
      parts: Int): (DataFrame, Int) = {
    val better =
      if (improve) col("cand").isNotNull &&
        (col("d").isNull || col("cand") < col("d"))
      else col("d").isNull && col("cand").isNotNull
    // (distances, frontier, the checkpoint both read)
    val ((dists, _, _), steps) = Superstep.converge(spine.sparkSession, what, maxIters, parts)(
        (spine, spine.filter(col("d").isNotNull), Option.empty[DataFrame]))(_._3.toSeq) {
      case (st @ (dists, frontier, _), _) =>
        Probe(dists.join(step(frontier), keyCols, "left"), _.filter(better).count()) {
          (joined, n) =>
            if (n == 0L) Done(st)
            else More((
              joined.select(
                keyCols.map(col) :+ when(better, col("cand")).otherwise(col("d")).as("d"): _*),
              joined.filter(better).select(keyCols.map(col) :+ col("cand").as("d"): _*),
              Some(joined)))
        }
    }
    (dists.filter(col("d").isNotNull), steps)
  }

  /** Hop distances from `src` over the undirected, src-partitioned edge
    * frame `ue`: a [[frontierLoop]] over the key universe `keys` (id),
    * with `src` at distance 0. Unweighted it is BFS (a key is discovered
    * once); `weighted` it is Bellman–Ford under the deterministic
    * integer weight w(u,v) = 1 + (u + v) mod 2 (no weight column
    * materialized, exact in any engine), where a settled key re-enters
    * the frontier when its distance drops. Returns (id, d) for every
    * reached key and the supersteps used. The distributed loop of
    * g_bfs/g_sssp and `call bfs`/`call sssp` ([[hopDistances(t:*]],
    * [[reachDistances]]). */
  private[graft] def hopDistances(ue: DataFrame, keys: DataFrame, src: Long,
      weighted: Boolean, maxIters: Int, what: String, parts: Int): (DataFrame, Int) =
    frontierLoop(keys.select(col("id"), when(col("id") === src, 0L).as("d")), Seq("id"),
      f => ue.join(f, ue("src") === f("id"))
        .select(ue("dst").as("id"), (if (weighted) col("d") + lit(1L) + (ue("src") + ue("dst")) % 2
          else col("d") + 1).as("cand"))
        .groupBy("id").agg(min("cand").as("cand")),
      improve = weighted, maxIters, what, parts)

  /** [[hopDistances]] from `src` over every node of a graph version (the
    * library door): on the driver ([[localHops]]) under the broadcast
    * gate, else the distributed loop over the version's hoist. */
  private[graft] def hopDistances(t: Topology, src: Long, weighted: Boolean, maxIters: Int,
      what: String): (DataFrame, Int) =
    (for (e <- t.localEdges; ids <- t.localNodes) yield {
      val (d, steps) = localHops(t.nodes.sparkSession, ids, e.pairs, src, weighted, maxIters, what)
      (reached(t.nodes.sparkSession, ids, d), steps)
    }).getOrElse(hopDistances(t.undirected, t.nodes, src, weighted, maxIters, what, t.nodeWidth))

  /** [[hopDistances]] from `src` over a graph version's edge endpoints,
    * plus `src` when it is a node (the `call` door). The key universe is
    * the reachable one, not every node: the edges may be scoped to one
    * relation type, and a full-|V| spine checkpointed per superstep
    * measured 1.7× slower on the `_rel` variants at sf0.1. Above the
    * broadcast gate the endpoint spine is pinned and counted per version,
    * so the per-call distinct is |V|-scale and its count sizes the loop.
    * Under the gate the search runs on the driver over the endpoints
    * alone, and a `src` that is no endpoint reaches only itself: its
    * result is read lazily off the nodes, so the node ids are not
    * collected. */
  private[graft] def reachDistances(t: Topology, src: Long, weighted: Boolean,
      maxIters: Int, what: String): (DataFrame, Int) = {
    val s = t.nodes.sparkSession
    t.localEdges.map { e =>
      val (d, steps) = localHops(s, e.endpoints, e.pairs, src, weighted, maxIters, what)
      (if (java.util.Arrays.binarySearch(e.endpoints, src) >= 0) reached(s, e.endpoints, d)
        else t.nodes.filter(col("id") === src).select(col("id"), lit(0L).as("d")), steps)
    }.getOrElse(hopDistances(t.undirected,
      t.endpoints.unionByName(t.nodes.filter(col("id") === src)).distinct(),
      src, weighted, maxIters, what, Ckpt.partsFor(s, t.nEndpoints)))
  }

  /** [[hopDistances]]'s recurrence on the driver, over the sorted
    * distinct keys `keys` and the directed edges `pairs` ((src, dst)
    * row-major): an edge with an endpoint outside `keys` neither sends
    * nor receives, as in the distributed join. Each superstep relaxes the
    * edges out of the last superstep's frontier, all from the distances
    * before the superstep, and keeps the same improvements as
    * [[frontierLoop]] (a first discovery, or with `weighted` any smaller
    * distance), so the distances, the superstep count and the step
    * limit's error are those of the distributed loop. Returns each key's
    * distance by index (Long.MaxValue when unreached) and the supersteps
    * used. */
  private def localHops(s: SparkSession, keys: Array[Long], pairs: Array[Long],
      src: Long, weighted: Boolean, maxIters: Int, what: String): (Array[Long], Int) = {
    val adj = new Adjacency(keys, pairs)
    val d = Array.fill(keys.length)(Long.MaxValue)
    val from = java.util.Arrays.binarySearch(keys, src)
    if (from >= 0) d(from) = 0L
    val hop: (Int, Int) => Long =
      if (weighted) (u, v) => d(u) + 1L + (keys(u) + keys(v)) % 2 else (u, _) => d(u) + 1L
    val (_, steps) = Superstep.converge(s, what, maxIters)(
        if (from >= 0) Array(from) else Array.empty[Int])(_ => Nil) { (frontier, _) =>
      val better = adj.relax(frontier, hop)
        .filter { case (v, c) => if (weighted) c < d(v) else d(v) == Long.MaxValue }
      better.foreach { case (v, c) => d(v) = c }
      doneIf(better.isEmpty)(better.map(_._1))
    }
    (d, steps)
  }

  /** The keys a [[localHops]] search reached, as a driver-side (id, d)
    * frame. */
  private def reached(s: SparkSession, keys: Array[Long], d: Array[Long]): DataFrame =
    local(s, "d", keys.indices.filter(d(_) != Long.MaxValue).map(i => (keys(i), d(i))))

  /** Multi-source BFS over an undirected, src-pre-partitioned edge
    * frame: returns the (lazy union of) per-LEVEL distance frames
    * (seed, id, d) — every reached (seed, id) at its minimal hop
    * distance. The round-19 third shape for the landmark family
    * (VERDICT r18 item 4), built on the BFS level property: a candidate
    * generated from level k lies at level k−1, k or k+1, never earlier,
    * so the "already discovered" exclusion needs only the LAST TWO
    * levels. The accumulated K·|V| frame is therefore never merged,
    * re-checkpointed or re-exchanged during the loop — the r18 shapes
    * paid one of those per superstep (full-outer merge + accumulated
    * checkpoint, measured 10.3 s at sf0.1; K·|V| spine checkpoint,
    * measured 2× worse still). Levels are disjoint co-partitioned
    * checkpoints (the message aggregation leaves cand hash-partitioned
    * by (seed,id), the anti-joins preserve it), so each superstep is
    * ONE exchange and ONE job, every level stays live as part of the
    * result, and total checkpoint volume across the whole run is K·|V|
    * rows once. The final union is consumed by the caller's aggregate —
    * one K·|V| exchange, once. */
  private[graft] def multiSourceBfsLevels(seeds: DataFrame, ue: DataFrame,
      maxIters: Int, parts: Int, what: String): DataFrame = {
    // the levels so far, newest first
    val (levels, _) = Superstep.converge(seeds.sparkSession, what, maxIters, parts)(
        List(Ckpt.eagerPartitioned(seeds.repartition(col("seed"), col("id")))))(identity) {
      (levels, _) =>
        val lvl = levels.head
        val cand = ue.join(lvl, ue("src") === lvl("id"))
          .select(col("seed"), ue("dst").as("id"), (col("d") + 1).as("d"))
          .groupBy("seed", "id").agg(min("d").as("d"))
        val fresh = cand.join(lvl, Seq("seed", "id"), "left_anti")
        Probe(levels.lift(1).fold(fresh)(p => fresh.join(p, Seq("seed", "id"), "left_anti"))) {
          (next, n) => if (n == 0L) Done(levels) else More(next :: levels)
        }
    }
    levels.reverse.reduce(_ unionByName _)
  }

  // ---- label propagation communities (round 15) ----------------------

  /** Synchronous LPA rounds — FIXED, not convergence-driven: synchronous
    * label propagation has no convergence guarantee (period-2 label
    * cycles persist — measured: a long churn tail of a few hundred
    * flip-flopping nodes at every SF), so "run to convergence" is not
    * well-defined and the fixed-round snapshot IS the semantics — the
    * same determinism stance as the fixed prIters PageRank. 6 rounds is
    * where the partition quality plateaus on this graph (measured
    * modularity of the snapshot: 0.31 at sf0.001, 0.41 at sf0.01, 0.40
    * at sf0.1; rounds beyond 6 only shuffle the residual churn tail). */
  private[graft] val lpIters = 6

  /** Synchronous label propagation (Raghavan et al. 2007,
    * arXiv:0709.2938) with two determinism/stability choices over the
    * literature's randomized formulation:
    *
    *   - DETERMINISTIC tie-break — (most-frequent, then smallest)
    *     label — where the paper breaks ties uniformly at random
    *     (an oracle-checkable replacement);
    *   - SELF-INCLUSION — each node's own label counts once alongside
    *     its neighbors' (the "label retention"/inertia variant). On
    *     this multipartite FK graph pure neighbor-mode LPA oscillates
    *     wholesale (same-type nodes never link, so star layers swap
    *     labels with their hubs every round — measured modularity of
    *     that snapshot is NEGATIVE at every SF); retention damps the
    *     oscillation to a small churn tail and the snapshot reaches
    *     modularity ≈ 0.4.
    *
    * Every node simultaneously adopts the (most-frequent, then
    * smallest) label of its closed neighborhood each round, for exactly
    * `iters` rounds; isolated nodes keep their own id label (singleton
    * communities).
    *
    * Scale shape per superstep: one (node,label) count shuffle over the
    * message stream (partial aggregation collapses duplicate labels
    * map-side — on a settled graph most messages carry the community
    * label, so the combiner does most of the work), then the argmax
    * re-key of the label-count frame (label-count-sized, ≤ one row per
    * distinct (node,label) — far below the edge stream once communities
    * form). The argmax is min(struct(-count, label)) — one aggregate,
    * no window, and it covers every node (the self-inclusion leg), so
    * no carry-over merge join is needed. Labels come out of the argmax
    * hash-partitioned by id, so the next round's message join against
    * the src-partitioned edge frame never re-exchanges either side. */
  def labelProp(nodes: DataFrame, undirected: DataFrame, iters: Int): DataFrame = {
    // NOT partition-shrunk (round 19): every round joins the FULL |V|
    // label frame against the compute-width edge frame — shrinking the
    // label side adds a full-|V| re-exchange per round to meet it
    // (measured; r18 scaling ratio 1.12 —
    // volume-bound, unlike the frontier-delta loops).
    Superstep.rounds(iters)(Ckpt.eagerPartitioned(
        nodes.select(col("id"), col("id").as("lbl")).repartition(col("id")))) { labels =>
      val msgs = undirected.join(labels, undirected("src") === labels("id"))
        .select(undirected("dst").as("id"), col("lbl"))
        .unionByName(labels) // self-inclusion: own label counts once
      val counts = msgs.groupBy("id", "lbl").agg(count(lit(1)).as("cnt"))
      counts.groupBy("id")
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("id"), col("m.l").as("lbl"))
    }
  }

  /** LPA labels memoized per topology: g_labelprop and g_modularity
    * share the 6-round propagation. */
  private def lpaLabels(t: Topology): DataFrame =
    t.memo("lpaLabels")(labelProp(t.nodes, t.undirected, lpIters))

  /** Unrolled LPA steps for a DuckDB oracle: CTEs `l0..l{iters}` over
    * pre-bound `nn(id)` and `ue(src,dst)` CTEs. Every step references
    * its predecessor twice (messages + self-inclusion) — MATERIALIZED,
    * the ccOracle discipline. Shared by the library and call-bridge LPA
    * oracles (GraphOps parameterizes the edge set). */
  private[operators] def lpStepsSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (SELECT t.id, t.lbl FROM (
         |  SELECT c.id, c.lbl, row_number() OVER (
         |    PARTITION BY c.id ORDER BY c.cnt DESC, c.lbl) AS rn
         |  FROM (SELECT x.id, x.lbl, count(*) AS cnt FROM (
         |          SELECT ue.dst AS id, q.lbl
         |          FROM ue JOIN l${i - 1} q ON ue.src = q.id
         |          UNION ALL SELECT id, lbl FROM l${i - 1}) x
         |        GROUP BY x.id, x.lbl) c) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nn),\n$steps"
  }

  private lazy val lpOracle: String =
    s"""WITH nn AS MATERIALIZED ($nodeSql),
       |e AS MATERIALIZED ($edgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |${lpStepsSql(lpIters)}
       |SELECT lbl AS comm, CAST(count(*) AS BIGINT) AS n
       |FROM l$lpIters GROUP BY lbl ORDER BY n DESC, comm LIMIT 20""".stripMargin

  // Modularity of the LPA partition — Q = Σ_c [e_c/m − (d_c/2m)²] where
  // m = |directed FK edges|, e_c = intra-community edges, d_c = total
  // (undirected) degree of community c. Computed as the exact integer
  // numerator qnum = Σ_c (4·m·e_c − d_c²) over denominator 4m², so the
  // aggregation is order-free int64 (fits: m ≈ 2.1M at sf0.1 → 4m² ≈
  // 1.8e13); only the final display value divides through double with
  // the identical expression on both sides (the PipeData discipline).
  private lazy val modularityOracle: String =
    s"""WITH nn AS MATERIALIZED ($nodeSql),
       |e AS MATERIALIZED ($edgeSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |${lpStepsSql(lpIters)},
       |lab AS MATERIALIZED (SELECT id, lbl FROM l$lpIters),
       |ec AS (SELECT la.lbl, count(*) AS e_c FROM e
       |  JOIN lab la ON e.src = la.id JOIN lab lb ON e.dst = lb.id
       |  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
       |dc AS (SELECT lab.lbl, count(*) AS d_c FROM ue
       |  JOIN lab ON ue.src = lab.id GROUP BY lab.lbl),
       |tot AS (SELECT (SELECT count(*) FROM e) AS m,
       |  CAST(sum(4 * (SELECT count(*) FROM e) * coalesce(ec.e_c, 0)
       |           - dc.d_c * dc.d_c) AS BIGINT) AS qnum
       |  FROM dc LEFT JOIN ec ON dc.lbl = ec.lbl)
       |SELECT CAST(m AS BIGINT) AS m, qnum,
       |       round(qnum / (4.0 * m * m), 6) AS modularity
       |FROM tot""".stripMargin

  /** Per-node triangle corner counts and degrees over the part
    * co-purchase graph (distinct part pairs sharing an order) — the
    * shared build behind g_triangles and g_clustering, memoized per
    * (session, dir) as checkpoints. Returns (triCounts id→n_tri
    * over participating nodes only, degrees id→d over every node of the
    * pair graph); the build is [[pinnedTriangles]]. The pairs are read
    * straight from parquet, so the key is the dir. */
  private def coPurchaseTriangles(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Ckpt.memo(s, ("coPurchaseTriangles", dir))(pinnedTriangles(coPurchasePairs(s, dir)))

  /** The part co-purchase graph as canonical (a < b) distinct pairs. */
  private[graft] def coPurchasePairs(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b")).distinct()
  }

  /** Per-node triangle counts and pair-degrees over an undirected graph
    * given as canonical pairs (a, b): distinct, a < b. Shared by
    * g_triangles/g_clustering and `call triangles()`/`call
    * clustering()` through [[pinnedTriangles]]; each door builds its
    * own pair frame.
    *
    * Triangles are enumerated with the DEGREE-ORDERED orientation: each
    * undirected edge points from its lower-(degree, id) endpoint to the
    * higher, so every triangle is produced exactly once and the wedge
    * fan-out per node is O(sqrt(m)) even on heavy hitters — the standard
    * fix that keeps the wedge-check join from exploding on hub nodes at
    * 100 TB. Both the wedge build side and the closing-edge semi side
    * are the |E|-sized oriented list — orders of magnitude smaller than
    * the wedge stream (41M wedges vs 1.2M edges at sf0.1 on the
    * co-purchase graph). Broadcasting them means the wedge stream is
    * generated, existence-checked, and partially aggregated IN PLACE:
    * zero shuffle/sort of the wedge rows. The hints are GATED on the
    * measured pair count ([[graft.Bcast]]): the pair frame is cached and
    * counted once up front (the count also pays for itself — every
    * downstream leg would otherwise re-derive the pairs), and on a graph
    * whose edge list outgrows the cap the hints are absent — the plan
    * degrades to the SMJ form, still correct, never an executor-OOM
    * broadcast, and the degree orientation still bounds the per-task
    * wedge fan-out (PlanSpec pins BOTH shapes). The oracles enumerate
    * by id order instead; the triangle SET is identical under any
    * acyclic orientation, so the per-node counts agree.
    *
    * Returns (triangle counts id→n_tri over participating nodes only,
    * degrees id→d as a materialized checkpoint, the |E|-scale cached
    * intermediates the caller must unpersist once it has materialized
    * the outputs). */
  private[graft] def triangleCounts(
      pairsIn: DataFrame): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val pairs = pairsIn.cache()
    val m = pairs.count()
    // degree table is |V|-sized — broadcast under the gate, so the two
    // endpoint-degree lookups never shuffle the edge list. MATERIALIZED
    // once and gated on its MEASURED count: a |V| ≤ 2·|E| bound is ~100×
    // the real |V| of the co-purchase graph, and under the
    // cell-denominated cap that slack degrades a 20k-row broadcast to
    // an |E|-scale SMJ at sf0.1; an unmaterialized deg would re-run the
    // aggregation for the count, both join sides and the caller's pin.
    val deg = Ckpt.eager(
      pairs.select(col("a").as("id"))
        .union(pairs.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d")))
    val nDeg = deg.count()
    val keyed = pairs
      .join(Bcast.gated(deg.select(col("id").as("a"), col("d").as("da")), nDeg), Seq("a"))
      .join(Bcast.gated(deg.select(col("id").as("b"), col("d").as("db")), nDeg), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = keyed.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddst")).cache()
    val wedgeOrder = col("e1.ddst") < col("e2.ddst") ||
      (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))
    val tri = o.as("e1")
      .join(Bcast.gated(o.as("e2"), m), col("e1.src") === col("e2.src") && wedgeOrder)
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
      .join(Bcast.gated(o.select(col("src").as("v"), col("dst").as("w")), m),
        Seq("v", "w"), "left_semi")
    val tc = tri.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    (tc, deg, Seq(o, pairs))
  }

  /** [[triangleCounts]] with the counts materialized and its |E|-scale
    * intermediates released at once — a raw cache would otherwise hold
    * edge-scale frames per query for the session's lifetime. For
    * memoized builds: returns (triangle counts, degrees). */
  private[operators] def pinnedTriangles(pairs: DataFrame): (DataFrame, DataFrame) = {
    val (tc, deg, cached) = triangleCounts(pairs)
    val out = (Ckpt.eagerPartitioned(tc), deg)
    cached.foreach(_.unpersist(false))
    out
  }

  // ---- HITS hubs & authorities (round 15) -----------------------------
  private val hitsIters = 8

  /** Kleinberg HITS (1999) over a DIRECTED (src,dst) edge frame: `iters`
    * two-phase power iterations in max-normalized 1e6 fixed point —
    * auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each phase
    * rescaled to max = 1e6 by integer division, so every engine computes
    * bit-equal scores (the float L2 normalization of the textbook
    * formulation is replaced by the deterministic max rescale; the
    * RANKING is the same, which is what HITS is for). Overflow bound:
    * raw sums ≤ max-degree × 1e6 and the rescale multiplies by 1e6
    * before dividing, so the intermediate fits int64 while max-degree
    * < 9.2e6 — three orders above this corpus' hubs; at a scale beyond
    * that, rescale with a 1e3 factor or decimal(38). Returns (id, auth,
    * hub) for every node. Shared by g_hits and `call hits()`.
    *
    * The a-phase joins the src-PARTITIONED edge copy against the
    * id-partitioned hub frame (no exchange on either side) and shuffles
    * only the per-dst aggregation; the h-phase mirrors it on the
    * dst-partitioned copy — one shuffle per phase, the PageRank
    * discipline, with the two loop-invariant copies hoisted once. Each
    * phase is one superstep of the driver, whose probe is the
    * max-rescale scalar, so the state holds the last frame of each
    * phase. Full-|V| hub/auth frames join the compute-width orientation
    * copies, so the loop runs at session width (see [[pageRank]]). */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val eS = Ckpt.eagerPartitioned(edges.repartition(col("src")))
    val eD = Ckpt.eagerPartitioned(edges.repartition(col("dst")))
    val nodesP = Ckpt.eagerPartitioned(nodes.repartition(col("id")))
    // one phase: sum `score` over the edge copy keyed by `from`, per `to`
    def phase(e: DataFrame, score: DataFrame, name: String, from: String, to: String) =
      nodesP.join(
        e.join(score.withColumnRenamed("id", from), Seq(from))
          .groupBy(col(to).as("id")).agg(sum(name).as("s")),
        Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0L)).as("r"))
    // max(1, …): an all-zero frame (possible under an empty scoped
    // edge set) keeps scores 0 instead of dividing by zero
    val maxR = (f: DataFrame) => math.max(1L, f.agg(max("r")).head.getLong(0))
    def scaled(raw: DataFrame, m: Long, name: String) =
      raw.select(col("id"), expr(s"r * 1000000L div ${m}L").as(name))
    // (auth, hub, the checkpoint each reads); odd supersteps are a-phases
    val hub0 = nodesP.select(col("id"), lit(1000000L).as("hub"))
    val ((auth, hub, _, _), _) = Superstep.converge(nodes.sparkSession, "HITS", 2 * iters)(
        (null: DataFrame, hub0, null: DataFrame, null: DataFrame))(
        st => Seq(st._3, st._4).filter(_ != null)) { case ((auth, hub, aRaw, hRaw), i) =>
      if (i % 2 == 1) Probe(phase(eS, hub, "hub", "src", "dst"), maxR) { (raw, m) =>
        More((scaled(raw, m, "auth"), hub, raw, hRaw))
      }
      else Probe(phase(eD, auth, "auth", "dst", "src"), maxR) { (raw, m) =>
        doneIf(i == 2 * iters)((auth, scaled(raw, m, "hub"), aRaw, raw))
      }
    }
    Ckpt.drop(eS)
    Ckpt.drop(eD)
    Ckpt.drop(nodesP)
    auth.join(hub, Seq("id"))
  }

  /** Unrolled HITS steps for a DuckDB oracle: CTE chains `ar/a/hr/h
    * 1..iters` over pre-bound `nn(id)` and `e(src,dst)` CTEs plus
    * `h0(id, hub)`. `greatest(1, max)` guards the all-zero frame an
    * empty (relation-scoped) edge set produces — scores stay 0 instead
    * of dividing by zero, matching the engine's max(1L, …) guard.
    * Shared by the library and call-bridge oracles (GraphOps
    * parameterizes the edge set). */
  private[operators] def hitsStepsSql(iters: Int): String =
    (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT nn.id, CAST(coalesce(m.s, 0) AS BIGINT) AS r
         |  FROM nn LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(h${i - 1}.hub) AS BIGINT) AS s
         |    FROM e JOIN h${i - 1} ON e.src = h${i - 1}.id GROUP BY e.dst) m
         |  ON nn.id = m.id),
         |a$i AS MATERIALIZED (SELECT id,
         |  CAST((r * 1000000) // greatest(1, (SELECT max(r) FROM ar$i)) AS BIGINT) AS auth
         |  FROM ar$i),
         |hr$i AS MATERIALIZED (SELECT nn.id, CAST(coalesce(m.s, 0) AS BIGINT) AS r
         |  FROM nn LEFT JOIN (
         |    SELECT e.src AS id, CAST(sum(a$i.auth) AS BIGINT) AS s
         |    FROM e JOIN a$i ON e.dst = a$i.id GROUP BY e.src) m
         |  ON nn.id = m.id),
         |h$i AS MATERIALIZED (SELECT id,
         |  CAST((r * 1000000) // greatest(1, (SELECT max(r) FROM hr$i)) AS BIGINT) AS hub
         |  FROM hr$i)""".stripMargin
    }.mkString(",\n")

  private lazy val hitsOracle: String =
    s"""WITH nn AS MATERIALIZED ($nodeSql),
       |e AS MATERIALIZED ($edgeSql),
       |h0 AS MATERIALIZED (SELECT id, 1000000::BIGINT AS hub FROM nn),
       |${hitsStepsSql(hitsIters)}
       |SELECT a.id, a.auth, h.hub
       |FROM a$hitsIters a JOIN h$hitsIters h ON a.id = h.id
       |ORDER BY a.auth DESC, a.id LIMIT 20""".stripMargin

  // Local clustering coefficient over the part co-purchase graph:
  // coeff(v) = 2·tri(v) / (d(v)·(d(v)−1)) for d ≥ 2, in parts-per-
  // million integer division so the ranking is engine-exact. The
  // triangle corner counts and degrees are the same frames g_triangles
  // builds (shared helper).
  private lazy val clusteringOracle: String =
    """WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
      |        FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
      |        JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
      |corners AS (SELECT unnest([u, v, w]) AS id FROM tri),
      |tc AS (SELECT id, count(*) AS n_tri FROM corners GROUP BY id),
      |deg AS (SELECT id, count(*) AS d FROM
      |  (SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs) x GROUP BY id)
      |SELECT deg.id, CAST(deg.d AS BIGINT) AS d,
      |       CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
      |       CAST((2000000 * coalesce(tc.n_tri, 0)) // (deg.d * (deg.d - 1))
      |            AS BIGINT) AS coeff_ppm
      |FROM deg LEFT JOIN tc ON deg.id = tc.id
      |WHERE deg.d >= 2
      |ORDER BY coeff_ppm DESC, n_tri DESC, deg.id LIMIT 20""".stripMargin

  val all: List[Q] = List(

    // ---- weighted single-source shortest paths (Bellman–Ford delta) ---
    // The weighted counterpart of g_bfs over the same shared undirected
    // frame: distance-improvement delta iteration (a node re-enters the
    // frontier every time its distance DROPS — unlike BFS, weighted
    // relaxation can improve a settled node, so the frontier is the
    // improved set, not the newly-discovered set). At 100 TB this is the
    // standard iterative SSSP shape (Pregel/Flink delta iteration),
    // message volume ∝ improvements.
    Q("g_sssp",
      (s, dir) => {
        // Over every node: on the driver under the broadcast gate, else
        // the one-job-per-superstep spine loop (round 18 — see
        // [[frontierLoop]] for why this replaced the anti-join +
        // full-outer-merge shape).
        val (dists, _) = hopDistances(topology(s, dir), bfsSrc, weighted = true, ssspIters,
          "SSSP")
        dists.groupBy(col("d").as("dist")).agg(count(lit(1)).as("n"))
      },
      Some(ssspOracle)),

    // ---- single-source BFS: frontier delta iteration ------------------
    // Hop-distance histogram from region 0 over the undirected FK graph
    // — the reachability/radius probe you run on an unknown graph after
    // degree_dist. Pure frontier propagation: only nodes whose distance
    // IMPROVED last superstep send messages (a node's distance can only
    // be set once in unweighted BFS, so the frontier is exactly the
    // newly-discovered set — message volume is each BFS level once,
    // sum |V| total, not |V|×diameter). Same pre-partitioned invariant
    // edge frame as the CC delta iteration.
    Q("g_bfs",
      (s, dir) => {
        // Over every node: on the driver under the broadcast gate, else
        // the one-job-per-superstep spine loop (round 18 — see
        // [[frontierLoop]]): the frontier is exactly the newly-discovered
        // set, message volume each BFS level once.
        val (dists, _) = hopDistances(topology(s, dir), bfsSrc, weighted = false, bfsIters,
          "BFS")
        dists.groupBy(col("d").as("dist")).agg(count(lit(1)).as("n"))
      },
      Some(bfsOracle)),

    // ---- landmark harmonic centrality: multi-source BFS ----------------
    // Approximate harmonic centrality ĥ(v) = Σ_{s ∈ L} 1/d(s,v) from a
    // SMALL deterministic landmark set L (the 5 region hubs — ids below
    // 2000000000, the loader's id-range scheme), the standard
    // cluster-scale stand-in for exact closeness/harmonic centrality:
    // exact needs all-pairs distances (O(|V|·(|V|+|E|)) BFS work — dead
    // at 100 TB), landmarks need K frontier BFS passes with total
    // message volume K·|V|, and ranking quality degrades gracefully
    // with K (Potamias et al., "Fast Shortest Path Distance Estimation
    // in Large Networks"). ONE multi-source pass: the frontier carries
    // a seed column, so all K BFS trees advance in the SAME superstep
    // joins — K× messages per superstep, not K passes over the graph.
    // 1/d in 1e-6 fixed point (integer div) keeps the sum order-free
    // and bit-equal cross-engine; top-50 with id tiebreak makes the
    // cut deterministic. Same frontier-delta discipline as g_bfs:
    // newly-discovered (seed,id) pairs only.
    Q("g_harmonic_landmarks",
      (s, dir) => {
        // Round 19: per-LEVEL multi-source BFS ([[multiSourceBfsLevels]]
        // — the BFS level property bounds the seen-set anti-join to the
        // last two levels), replacing the accumulated anti-join +
        // full-outer-merge shape that re-checkpointed the growing
        // K·|V| frame every superstep. Result unchanged: the union of
        // disjoint levels is exactly the old accumulated frame.
        val t = topology(s, dir)
        val ue = t.undirected
        val seeds = t.nodes.filter(col("id") < 2000000000L)
          .select(col("id").as("seed"), col("id"), lit(0L).as("d"))
        val nSeeds = seeds.count()
        val dists = multiSourceBfsLevels(seeds, ue, bfsIters,
          Ckpt.partsFor(s, nSeeds * t.nNodes), "landmark BFS")
        dists.filter(col("d") > 0)
          .groupBy("id").agg(sum(expr("1000000 div d")).as("h"))
          .orderBy(col("h").desc, col("id")).limit(50)
      },
      Some(harmonicOracle)),

    // ---- bipartiteness: per-component BFS 2-coloring ------------------
    // Is the graph layered the way the schema claims? A graph is
    // bipartite iff no edge joins two nodes at the SAME PARITY of BFS
    // depth from their component's root — the classic odd-cycle
    // witness, and the first sanity probe on a supposedly-layered
    // 100 TB graph (user–item, doc–shard, FK trees) before any
    // bipartite-only algorithm (alternating matching, two-mode
    // projection) is let loose on it. Plan: one deltaCC (shared
    // discipline), then ONE root-seeded BFS pass — seeds are each
    // component's minimum node (= its CC label), and since components
    // partition the nodes, every node is reached by exactly one seed:
    // total message volume is |V|, NOT seeds×|V| (contrast
    // g_harmonic_landmarks, whose K trees overlap). The parity check
    // is then a single broadcast-free 3-way equi-join of the DIRECTED
    // edge list against the distance frame. Output: per component —
    // size, odd-parity edge count, bipartite verdict.
    Q("g_bipartite",
      (s, dir) => {
        // One-job-per-superstep spine loop (round 18 — [[frontierLoop]]):
        // the spine here is the CC labels frame itself — components
        // partition the nodes, so (comp, id) enumerates exactly the
        // (seed, id) pairs the root-seeded BFS can ever reach: the spine
        // is |V| rows, not seeds×|V|, and no cross join is needed.
        val t = topology(s, dir)
        val ue = t.undirected
        val (labels, _) = deltaCC(t.nodes, ue, ccIters, t.nodeWidth)
        val spine = labels.select(col("comp").as("seed"), col("id"),
          when(col("id") === col("comp"), 0L).as("d"))
        val (dists, _) = frontierLoop(spine, Seq("seed", "id"),
          f => ue.join(f, ue("src") === f("id"))
            .select(col("seed"), ue("dst").as("id"), (col("d") + 1).as("cand"))
            .groupBy("seed", "id").agg(min("cand").as("cand")),
          improve = false, bfsIters, "root BFS", t.nodeWidth)
        // parity check over each DIRECTED edge (one row per edge, no
        // reciprocal double-count); the edge's component = its src's seed
        val du = dists.select(col("seed"), col("id").as("src"), col("d").as("ds"))
        val dv = dists.select(col("id").as("dst"), col("d").as("dt"))
        val odd = t.edges.join(du, "src").join(dv, "dst")
          .groupBy("seed")
          .agg(count(lit(1)).as("n_edges"),
            sum(when((col("ds") + col("dt")) % 2 === 0, 1L).otherwise(0L)).as("n_odd"))
        labels.groupBy(col("comp")).agg(count(lit(1)).as("n_nodes"))
          .join(odd, labels("comp") === odd("seed"), "left")
          .select(col("comp"), col("n_nodes"),
            coalesce(col("n_edges"), lit(0L)).as("n_edges"),
            coalesce(col("n_odd"), lit(0L)).as("n_odd"),
            (coalesce(col("n_odd"), lit(0L)) === 0L).as("bipartite"))
      },
      Some(bipartiteOracle)),

    // ---- connected components: delta min-label propagation ------------
    Q("g_connected_components",
      (s, dir) => {
        // Under the broadcast gate the labels come from the driver over
        // the edges collected once per topology (shared with g_bfs);
        // above it, from the pre-partitioned loop-invariant edge hoist,
        // also built once per topology and shared, so each superstep's
        // join only shuffles the (small) labels side.
        val (labels, _) = deltaCC(topology(s, dir), ccIters)
        labels.groupBy("comp").agg(count(lit(1)).as("n"))
      },
      Some(ccOracle)),

    // ---- connected components: alternating large-star/small-star ------
    // The 100 TB CC algorithm (Kiveris et al., "Connected Components in
    // MapReduce and Beyond"): instead of propagating labels along edges
    // (rounds ~ graph diameter), each round REWIRES the edge set itself
    // — large-star hangs every larger neighbor under the neighborhood
    // minimum, small-star recompresses the rest — converging in
    // O(log n) rounds on ANY graph shape to stars rooted at component
    // minima. Same fixed point as min-label propagation, so the same
    // unrolled oracle applies; PipelineSpec additionally pins star ≡
    // delta-iteration equality. Each round is two groupBy+join passes
    // over the current edge set (shrinking fast).
    Q("g_connected_components_star",
      (s, dir) => {
        val t = topology(s, dir)
        val (comp, _) = starCC(t.nodes, t.edges, maxRounds = 8)
        comp.groupBy("comp").agg(count(lit(1)).as("n"))
      },
      Some(ccOracle)),

    // ---- PageRank: 8 fixed-point power iterations ---------------------
    Q("g_pagerank",
      (s, dir) => fixedPageRank(topology(s, dir))
        .orderBy(col("rank").desc, col("id")).limit(100),
      Some(prOracle)),

    // ---- degree distribution: the graph-shape diagnostic ---------------
    // Two cheap shuffles (degree per node, then histogram) — the first
    // thing you compute on an unknown 100 TB graph, because it tells you
    // whether the skew handling (salting, hub splitting) is needed at
    // all. Out-degree only; nodes with no outgoing edge don't appear
    // (region/part/tag rows — consistent with the oracle's GROUP BY).
    Q("g_degree_dist",
      (s, dir) => topology(s, dir).edges
        .groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes")),
      Some(s"""WITH e AS ($edgeSql),
              |d AS (SELECT src, count(*) AS degree FROM e GROUP BY src)
              |SELECT degree, count(*) AS n_nodes FROM d GROUP BY degree""".stripMargin)),

    // ---- degree assortativity (round 12) -------------------------------
    // Pearson correlation of endpoint TOTAL degrees over the FK edge
    // list — the classic one-number answer to "do hubs attach to hubs?"
    // (strongly negative here: the graph is a star-of-stars, every
    // high-degree dimension node fed by degree-3 lineitems). All six
    // moments are EXACT int64 sums (degrees are ints, map-side combined;
    // one |V|-sized degree table joined on each endpoint — two keyed
    // shuffles, nothing quadratic), and only the final Pearson formula
    // divides through double with the IDENTICAL expression in the
    // oracle, so the 6-dp result is bit-stable cross-engine.
    Q("g_assortativity",
      (s, dir) => {
        val e = topology(s, dir).edges
        val deg = e.select(col("src").as("id"))
          .unionByName(e.select(col("dst").as("id")))
          .groupBy("id").agg(count(lit(1)).as("d"))
        val xy = e
          .join(deg.select(col("id").as("src"), col("d").as("x")), Seq("src"))
          .join(deg.select(col("id").as("dst"), col("d").as("y")), Seq("dst"))
        val n = col("n").cast("double")
        xy.agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
          .select(col("n"),
            round((n * col("sxy") - col("sx").cast("double") * col("sy")) /
              (sqrt(n * col("sxx") - col("sx").cast("double") * col("sx")) *
                sqrt(n * col("syy") - col("sy").cast("double") * col("sy"))), 6)
              .as("assortativity"))
      },
      Some(s"""WITH e AS ($edgeSql),
              |deg AS (SELECT id, count(*) AS d FROM (
              |          SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
              |        GROUP BY id),
              |xy AS (SELECT dx.d AS x, dy.d AS y FROM e
              |       JOIN deg dx ON e.src = dx.id
              |       JOIN deg dy ON e.dst = dy.id),
              |agg AS (SELECT count(*) AS n,
              |          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              |          CAST(sum(x*y) AS BIGINT) AS sxy,
              |          CAST(sum(x*x) AS BIGINT) AS sxx,
              |          CAST(sum(y*y) AS BIGINT) AS syy
              |        FROM xy)
              |SELECT n, round((n::DOUBLE * sxy - sx::DOUBLE * sy) /
              |  (sqrt(n::DOUBLE * sxx - sx::DOUBLE * sx) *
              |   sqrt(n::DOUBLE * syy - sy::DOUBLE * sy)), 6) AS assortativity
              |FROM agg""".stripMargin)),

    // ---- triangle counting over the part co-purchase graph ------------
    // Edges = distinct part pairs that share an order (the classic
    // projected co-occurrence graph); enumeration/orientation/broadcast
    // reasoning in [[triangleCounts]] (shared with g_clustering).
    // Output: top-20 parts by triangle participation.
    Q("g_triangles",
      (s, dir) => {
        val (tc, _) = coPurchaseTriangles(s, dir)
        tc.orderBy(col("n_tri").desc, col("id")).limit(20)
      },
      Some("""WITH pairs AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
             |  FROM lineitem x JOIN lineitem y
             |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
             |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
             |        FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
             |        JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
             |corners AS (SELECT unnest([u, v, w]) AS id FROM tri)
             |SELECT id, count(*) AS n_tri FROM corners
             |GROUP BY id ORDER BY n_tri DESC, id LIMIT 20""".stripMargin)),

    // ---- GraphX integration: connectedComponents, oracle-checked ------
    // Unlike PageRank (float math, rows-only), GraphX CC propagates min
    // vertex ids — exact integers — and our DataFrame CC's labels are
    // also min ids, so BOTH implementations and the DuckDB unrolled
    // oracle must agree bit-for-bit on (comp, n). A genuinely
    // hash-verified library integration: Pregel-on-RDD vs delta
    // iteration-on-DataFrame vs recursive SQL, one answer.
    Q("g_cc_graphx",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val ccGraph = gxGraph(s, dir).connectedComponents()
        // fromEdges only materializes edge endpoints; nodes with no FK
        // edge at all (possible: a part no lineitem references) are
        // their own singleton components — restore them with a left
        // join so the oracle's full-vertex-set semantics hold.
        val out = Ckpt.eager(
          topology(s, dir).nodes
            .join(ccGraph.vertices.toDF("id", "comp"), Seq("id"), "left")
            .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
            .groupBy("comp").agg(count(lit(1)).as("n")))
        ccGraph.unpersist(blocking = false)
        out
      },
      Some(ccOracle)),

    // ---- GraphX integration: staticPageRank over the same edges -------
    // GraphX does its own double-precision math (not cross-engine
    // reproducible value-for-value), so — like the sketch ops — the
    // entry emits a BOUND CERTIFICATE instead of raw ranks: GraphX's
    // ranks are compared vertex-by-vertex against the fixed-point
    // DataFrame PageRank (whose top-100 is hash-pinned by g_pagerank's
    // own oracle), and the output is (n_vertices, n_agree). Both
    // implementations compute the same simplified recurrence
    // (r = 0.15 + 0.85·Σ contribs, dangling mass dropped, r0 = 1), but
    // GraphX NORMALIZES its final ranks to sum to |V|, so the check
    // first derives the single global scale factor from the matched
    // sums and then requires every vertex to sit within a SHAPE-DERIVED
    // relative gate of frank·scale — one scalar cannot absorb a
    // semantic divergence (wrong iteration count, dangling handling,
    // vertex set), only the uniform normalization it exists to model.
    // Gate derivation (ADVICE r05: a flat 1e-4 ignores truncation
    // ACCUMULATION): each integer contribution `rank // outdeg`
    // truncates up to one 1e-9 unit, so a vertex of in-degree d can
    // accumulate ≤ d·1e-9 absolute error per iteration; over prIters
    // iterations with a 2× propagation margin and ranks ≥ 0.15, the
    // relative bound is maxInDeg·1e-9·prIters·2/0.15 — computed from
    // THIS graph, floored at 1e-4, so the certificate stays sound at
    // scale factors where hub in-degrees reach 1e4+ instead of silently
    // reading as a correctness failure. Vertices absent from GraphX's
    // edge-built graph (isolated nodes) must hold frank = 0.15 exactly
    // — reconciled, not skipped. The oracle predicts the certificate
    // exactly: n_agree = n_vertices. (VERDICT r04 item 5: was
    // rows-only, scored as err.)
    Q("g_pagerank_graphx",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val prGraph = gxGraph(s, dir).staticPageRank(prIters)
        val gx = prGraph.vertices.toDF("gid", "grank")
        val fixed = fixedPageRank(topology(s, dir))
          .select(col("id"), (col("rank").cast("double") / 1e9).as("frank"))
        val joined = fixed.join(gx, col("id") === col("gid"), "left")
          .select(col("frank"), col("grank"))
        val scale = joined
          .agg((sum(when(col("grank").isNotNull, col("grank"))) /
                sum(when(col("grank").isNotNull, col("frank")))).as("scale"))
        val gate = topology(s, dir).edges.groupBy(col("dst")).agg(count(lit(1)).as("d"))
          .agg(greatest(lit(1e-4),
            max(col("d")).cast("double") * lit(1e-9) * prIters * 2 / 0.15).as("gate"))
        val out = Ckpt.eager(
          joined.crossJoin(broadcast(scale)).crossJoin(broadcast(gate))
            .agg(count(lit(1)).as("n_vertices"),
              sum(when(
                when(col("grank").isNotNull,
                  abs(col("grank") - col("frank") * col("scale")) <=
                    col("gate") * col("frank") * col("scale"))
                  .otherwise(col("frank") === 0.15),
                1L).otherwise(0L)).as("n_agree")))
        prGraph.unpersist(blocking = false)
        out
      },
      Some(s"""WITH nn AS ($nodeSql)
              |SELECT count(*) AS n_vertices, count(*) AS n_agree
              |FROM nn""".stripMargin)),

    // ---- personalized PageRank from the region seed set ---------------
    // [[pageRank]] with a restart vector: the teleport term (and the
    // initial rank) lands only on the seeds, and mass flows over the
    // REVERSED FK edges (the influence direction — see pprIters). The
    // kernel's rank > 0 contribution filter makes message volume track
    // the REACHED set, not |V|: the sparsity win that makes PPR far
    // cheaper than global PageRank on a 100 TB graph when the seed
    // neighborhood is small.
    Q("g_ppr",
      (s, dir) => {
        val t = topology(s, dir)
        val ranks = pageRank(t.nodes,
          t.edges.select(col("dst").as("src"), col("src").as("dst")), pprIters,
          restart = when(col("id") < 2000000000L, 1L).otherwise(0L))
        val out = Ckpt.eager(ranks.orderBy(col("rank").desc, col("id")).limit(100))
        Ckpt.drop(ranks)
        out
      },
      Some(pprOracle)),

    // ---- k-core decomposition: iterative peel -------------------------
    // The density-based graph-cleaning primitive (spam/noise stripping
    // before community detection at 100 TB) — plan shape on [[kcore]].
    // Output: the in-core degree histogram.
    Q("g_kcore",
      (s, dir) => kcore(topology(s, dir).undirected, kcoreK, kcoreIters)
        .groupBy("c").agg(count(lit(1)).as("n_nodes"))
        .select(col("c").as("core_degree"), col("n_nodes")),
      Some(kcoreOracle)),

    // ---- resource-allocation link prediction over part co-purchase ----
    // "Parts bought together with the same third part, but never
    // together themselves" — the classic RA index, in integer division
    // (1e9 div deg) so scores are engine-exact (Adamic–Adar's 1/log d
    // would need float ln). The edge set carries the association-rule
    // SUPPORT FLOOR (>= 2 distinct co-orders): support-1 co-occurrence
    // under near-uniform part assignment is noise, and the floor is the
    // lever that keeps exact RA tractable at any scale — it cut the raw
    // sf0.1 graph from 1.2M edges / 148M wedges (56 s measured, all in
    // the (u,v) aggregation) to 3.9k / 2.2k. Plan shape: the supported
    // adjacency, the degree table and the exclusion edge list are tiny
    // and broadcast UNDER THE MEASURED-COUNT GATE ([[graft.Bcast]],
    // VERDICT r15 — fed by one cheap count of the already-checkpointed
    // pair frame; past the cap the hints drop and the joins degrade to
    // SMJ, correct and OOM-free), so the wedge stream is generated,
    // hub-scored, and anti-filtered IN PLACE — the only exchanges are
    // the support groupBy over the raw pair stream and the final (u,v)
    // partial aggregation. On a corpus where even the SUPPORTED graph has hub
    // centers, the exact mitigation is splitting each hub's adjacency
    // into blocks crossed pairwise (same output, bounded tasks); the
    // approximate one raises the support floor or df-cuts centers.
    Q("g_linkpred",
      (s, dir) => {
        val li = s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val pairs = Ckpt.eager(li.as("x").join(li.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.ok").as("ok"), col("x.pk").as("a"), col("y.pk").as("b")).distinct()
          .groupBy("a", "b").agg(count(lit(1)).as("supp"))
          .filter(col("supp") >= 2).select("a", "b"))
        // gate feed: counts the already-materialized checkpoint (cheap);
        // adjacency/degree sides are ≤ 2·nE rows, exclusion side = nE
        val nE = pairs.count()
        val adj = pairs.select(col("a").as("w"), col("b").as("n"))
          .union(pairs.select(col("b").as("w"), col("a").as("n")))
        val deg = adj.groupBy("w").agg(count(lit(1)).as("d"))
        val wedges = adj.as("x")
          .join(Bcast.gated(adj.as("y"), 2 * nE),
            col("x.w") === col("y.w") && col("x.n") < col("y.n"))
          .select(col("x.n").as("u"), col("y.n").as("v"), col("x.w").as("w"))
        val cand = wedges.join(
          Bcast.gated(pairs.select(col("a").as("u"), col("b").as("v")), nE),
          Seq("u", "v"), "left_anti")
        val scored = cand
          .join(Bcast.gated(deg, 2 * nE), Seq("w"))
          .select(col("u"), col("v"), expr("1000000000L div d").as("ra"))
          .groupBy("u", "v").agg(sum("ra").as("ra"))
        val out = Ckpt.eager(
          scored.orderBy(col("ra").desc, col("u"), col("v")).limit(20))
        Ckpt.drop(pairs)
        out
      },
      Some(linkpredOracle)),

    // ---- Jaccard node similarity (round 15) ----------------------------
    // The GDS-style nodeSimilarity over the part→order bipartite sets:
    // J(u,v) = |O(u) ∩ O(v)| / |O(u) ∪ O(v)| where O(p) is the set of
    // orders containing part p, in parts-per-million integer division
    // (engine-exact ranking, no float). All-pairs Jaccard is quadratic;
    // this enumerates ONLY pairs with nonzero intersection via the
    // shared-order self-join — the inverted-index approach, fan-out
    // bounded by order size (≤ 7 lineitems here), never |parts|². At
    // 100 TB the same plan holds as long as the "document" fan-out is
    // bounded (prefix-filter or df-cut hub orders first — the dedup
    // family's df-cut discipline); for unbounded sets the sub-quadratic
    // path is MinHash LSH (p_dedup_minhash_lsh). Union via inclusion–
    // exclusion keeps the ppm exact: |∪| = d(u) + d(v) − inter. The
    // |parts|-scale degree table broadcasts UNDER THE MEASURED-COUNT
    // GATE (VERDICT r16: |parts| ≤ the distinct (o,p) count, measured
    // once off the shared checkpoint that also feeds the self-join —
    // past the cell cap the hints drop and the closing joins degrade to
    // their shuffled forms); the only wide exchange is the (u,v)
    // partial-agg — map-side combined. Top-100 under the
    // (jac desc, u, v) total order.
    Q("g_nodesim",
      (s, dir) => {
        val (lazyOut, li) = nodesimUncached(s, dir)
        val out = Ckpt.eager(lazyOut)
        Ckpt.drop(li)
        out
      },
      Some(nodesimOracle)),

    // ---- deterministic random-walk sampling (round 15 v2) ---------------
    // The DeepWalk/node2vec corpus-generation primitive: one fixed-length
    // walk per start node over the SUPPORTED co-purchase graph (pairs
    // sharing >= 2 orders — the association-support floor g_linkpred
    // uses), where each step moves to the neighbor minimizing the
    // integer hash h(cur, step, nb) — a deterministic PRNG draw, so the
    // walk corpus is bit-reproducible and ORACLE-CHECKABLE (a real
    // embedding pipeline swaps in per-walk seeds: same plan, different
    // hash inputs; this is the unbiased p = q = 1 walk). Plan: the
    // adjacency is hoisted, pre-partitioned on the walker key and
    // checkpointed ONCE; each step is one co-partitioned join (the
    // walker frame comes out of the previous argmin hash-partitioned by
    // start, the adjacency never moves) + one map-side-combined argmin
    // — L steps = L joins, no driver loop state, no lineage growth
    // through the checkpoint. At 100 TB walk count scales with |V| and
    // each step's width is |frontier| = |V| — embarrassingly keyed.
    // Output: the step-L endpoint histogram (endpoint, n).
    Q("g_walks",
      (s, dir) => {
        val li = s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val sup = li.as("x").join(li.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.ok").as("ok"), col("x.pk").as("a"), col("y.pk").as("b"))
          .distinct()
          .groupBy("a", "b").agg(count(lit(1)).as("supp"))
          .filter(col("supp") >= 2).select("a", "b")
        val adj = Ckpt.eagerPartitioned(
          sup.select(col("a").as("cur"), col("b").as("nb"))
            .union(sup.select(col("b").as("cur"), col("a").as("nb")))
            .repartition(col("cur")))
        var walks = adj.select(col("cur").as("start")).distinct()
          .select(col("start"), col("start").as("cur"))
        for (step <- 1 to 4) {
          walks = walks.join(adj, Seq("cur"))
            .select(col("start"), col("nb"),
              expr(s"(cur * 48271 + $step * 39916801 + nb * 69621) % 1000000007")
                .as("h"))
            .groupBy("start")
            .agg(min(struct(col("h"), col("nb"))).as("m"))
            .select(col("start"), col("m.nb").as("cur"))
        }
        val out = Ckpt.eager(
          walks.groupBy(col("cur").as("endpoint")).agg(count(lit(1)).as("n")))
        Ckpt.drop(adj)
        out
      },
      Some(walksOracle(4))),

    // ---- label propagation communities (round 15) ----------------------
    // Synchronous LPA over the undirected FK graph — the standard
    // near-linear community detection (see [[labelProp]] for the
    // deterministic tie-break and the fixed-round semantics). Output:
    // top-20 communities by size under the (n desc, comm) total order.
    Q("g_labelprop",
      (s, dir) => {
        val labels = lpaLabels(topology(s, dir))
        labels.groupBy(col("lbl").as("comm")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("comm")).limit(20)
      },
      Some(lpOracle)),

    // ---- modularity of the LPA partition -------------------------------
    // Newman modularity Q = Σ_c [e_c/m − (d_c/2m)²] of the g_labelprop
    // communities — the standard partition-quality score, computed as an
    // exact integer numerator over 4m² (see [[modularityOracle]] for the
    // overflow accounting); one edge-frame join pass + two community-
    // keyed aggregations on top of the shared LPA labels.
    Q("g_modularity",
      (s, dir) => {
        val t = topology(s, dir)
        val e = t.edges
        val labels = lpaLabels(t)
        val m = e.count()
        val ec = e
          .join(labels.select(col("id").as("src"), col("lbl").as("sl")), Seq("src"))
          .join(labels.select(col("id").as("dst"), col("lbl").as("tl")), Seq("dst"))
          .filter(col("sl") === col("tl"))
          .groupBy(col("sl").as("lbl")).agg(count(lit(1)).as("e_c"))
        // total community degree over BOTH orientations (so Σ d_c = 2m)
        val dc = t.undirected
          .join(labels.select(col("id").as("src"), col("lbl")), Seq("src"))
          .groupBy("lbl").agg(count(lit(1)).as("d_c"))
        dc.join(ec, Seq("lbl"), "left")
          .select((lit(4L) * lit(m) * coalesce(col("e_c"), lit(0L))
            - col("d_c") * col("d_c")).as("t"))
          .agg(sum("t").as("qnum"))
          .select(lit(m).as("m"), col("qnum"),
            round(col("qnum") / (lit(4.0) * lit(m) * lit(m)), 6).as("modularity"))
      },
      Some(modularityOracle)),

    // ---- HITS hubs & authorities (round 15) ----------------------------
    // Top-20 authorities; formulation, bounds and plan shape on [[hits]].
    Q("g_hits",
      (s, dir) => {
        val t = topology(s, dir)
        hits(t.nodes, t.edges, hitsIters).orderBy(col("auth").desc, col("id")).limit(20)
      },
      Some(hitsOracle)),

    // ---- local clustering coefficient over part co-purchase ------------
    // coeff(v) = 2·tri(v)/(d(v)·(d(v)−1)) in parts-per-million integer
    // division (engine-exact ranking, no float); shares the triangle
    // corner counts and degree table with g_triangles. Top-20 under the
    // (coeff desc, n_tri desc, id) total order — the most tightly-knit
    // co-purchase neighborhoods.
    Q("g_clustering",
      (s, dir) => {
        val (tc, deg) = coPurchaseTriangles(s, dir)
        deg.join(tc, Seq("id"), "left")
          .filter(col("d") >= 2)
          .select(col("id"), col("d"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"))
          .withColumn("coeff_ppm",
            expr("(2000000 * n_tri) div (d * (d - 1))"))
          .orderBy(col("coeff_ppm").desc, col("n_tri").desc, col("id"))
          .limit(20)
      },
      Some(clusteringOracle)),

    // ---- strongly connected components (round 16) ----------------------
    // The one classic the family lacked: all CC flavors here are
    // undirected. Directed graph = the asymmetric co-purchase relation
    // (a→b for id-ordered pairs sharing >= 2 orders, b→a additionally
    // at support >= 3), which carries genuine non-trivial SCCs (46
    // 2-cycles, 7 3-cycles, 3 4-cycles at sf0.01) without the closure
    // blowup a symmetric relation would give the oracle. Algorithm:
    // [[coloringSCC]] (FW-BW-Trim, scc label = max member id — both
    // deterministic and oracle-recomputable from the transitive
    // closure). Output: the SCC size histogram with a label checksum.
    Q("g_scc",
      (s, dir) => {
        val li = s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val sup = li.as("x").join(li.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.ok").as("ok"), col("x.pk").as("a"), col("y.pk").as("b")).distinct()
          .groupBy("a", "b").agg(count(lit(1)).as("supp"))
        val e = sup.filter(col("supp") >= 2).select(col("a").as("src"), col("b").as("dst"))
          .unionByName(
            sup.filter(col("supp") >= 3).select(col("b").as("src"), col("a").as("dst")))
        val n = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct()
        val labels = coloringSCC(n, e)
        val out = Ckpt.eager(
          labels.groupBy("scc").agg(count(lit(1)).as("sz"))
            .groupBy("sz").agg(count(lit(1)).as("n_sccs"), sum("scc").as("chk"))
            .select(col("sz").as("scc_size"), col("n_sccs"), col("chk")))
        Ckpt.drop(labels)
        out
      },
      Some(sccOracle)),
  )

  /** Strongly connected components over a DIRECTED edge frame —
    * FW-BW-Trim with Orzan-style forward coloring (round 16):
    *
    *   1. TRIM to fixpoint: a node missing either an in- or an
    *      out-edge within the remaining graph is a singleton SCC —
    *      peels the DAG-ish mass (most of any real graph) without
    *      touching the quadratic machinery.
    *   2. FORWARD COLORING to fixpoint: propagate the max node id along
    *      edges (delta discipline — only changed colors message), so
    *      color(v) = max{id(u) : u reaches v}. Roots (color(v) = id(v))
    *      are the max ids of their SCCs.
    *   3. BACKWARD REACH from the roots, RESTRICTED to same-color
    *      nodes: any v→root path stays inside the color class (a
    *      higher-id intermediate would have recolored the root), so the
    *      reached set per root is EXACTLY its SCC — every root's SCC is
    *      extracted per round, labeled with the root id = max member id
    *      (deterministic, engine-independent).
    *   4. Remove the assigned nodes/edges; repeat.
    *
    * Scale shape: each trim pass / coloring superstep / backward
    * superstep is one co-partitioned join + one keyed aggregate over
    * the REMAINING edge frame (hoisted per round in both orientations,
    * the HITS discipline), one superstep of the driver each. Outer
    * rounds (one extraction each) are bounded by the condensation's
    * root-chain depth — 3 on this corpus, loud failure at
    * [[sccMaxRounds]] (both bounds session-configurable:
    * `spark.graft.sccMaxRounds` / `spark.graft.sccMaxSupersteps`, the
    * high-diameter escape hatch). At 100 TB this is the standard
    * Spark SCC (GraphFrames ships the same FW-BW-coloring shape);
    * single-pivot FW-BW would idle the cluster on one pivot per round.
    * Returns (id, scc). */
  private[graft] def coloringSCC(nodesIn: DataFrame, edgesIn: DataFrame): DataFrame = {
    val s = nodesIn.sparkSession
    // Bounds are session confs (ADVICE r16: trim peels one DAG layer per
    // pass and coloring needs ~diameter supersteps, so a high-diameter
    // graph hits a hard-coded bound with no user-facing escape hatch —
    // unlike the varpath's explicit-bound spelling). Defaults keep the
    // corpus margins.
    def bound(key: String, default: Int): Int =
      Knob.int(key, s.conf.get(key, default.toString), min = 1)
    val maxRounds = bound("spark.graft.sccMaxRounds", sccMaxRounds)
    val maxSupersteps = bound("spark.graft.sccMaxSupersteps", sccMaxSupersteps)
    val nodes0 = Ckpt.eagerPartitioned(nodesIn.select(col("id")).repartition(col("id")))
    val bySrc0 = Ckpt.eagerPartitioned(
      edgesIn.select(col("src"), col("dst")).repartition(col("src")))
    val g0 = SccRest(nodes0, bySrc0, Ckpt.eagerPartitioned(bySrc0.repartition(col("dst"))),
      nodes0.count(), null)
    // Round 19 (guide §2): every trim pass / coloring superstep /
    // backward superstep's frames are bounded by the INITIAL node and
    // edge counts (rounds only shrink the graph), so the whole FW-BW
    // machine runs at a volume-derived width — both counts are free off
    // the just-materialized checkpoints. The initial placement above
    // stays at session width, and joins against it keep that width.
    val parts = Ckpt.partsFor(s, math.max(g0.n, bySrc0.count()))
    def assign(g: SccRest, rows: DataFrame): DataFrame =
      Ckpt.eager(if (g.assigned == null) rows else g.assigned.unionByName(rows))
    // shrink the remaining graph to `keep` (id-partitioned): the edges
    // with both ends kept, checkpointed by src and by dst. The src copy's
    // semi join on src comes last, so the copy stays partitioned by src:
    // a broadcast join keeps the src partitioning it reads, a shuffled
    // one places it by its key. Every consumer of the copy (the trim
    // pass's `hasOut` distinct, the coloring join) is keyed on src; a
    // copy partitioned by dst would be re-exchanged by each of them.
    def shrink(g: SccRest, keep: DataFrame, n: Long, assigned: DataFrame): SccRest = {
      val s2 = Ckpt.eagerPartitioned(
        g.bySrc.join(keep.withColumnRenamed("id", "id2"), col("dst") === col("id2"), "left_semi")
          .join(keep, col("src") === keep("id"), "left_semi"))
      SccRest(keep, s2, Ckpt.eagerPartitioned(s2.repartition(col("dst"))), n, assigned)
    }
    // ---- 1. trim to fixpoint ---------------------------------------------
    def trim(g: SccRest): SccRest =
      Superstep.converge(s, "SCC trim", maxSupersteps)(g)(_.frames) { (g, _) =>
        if (g.n == 0L) Done(g)
        else {
          val hasOut = g.bySrc.select(col("src").as("id")).distinct()
          val hasIn = g.byDst.select(col("dst").as("id")).distinct()
          Probe(g.nodes.join(hasOut, Seq("id"), "left_semi").join(hasIn, Seq("id"), "left_semi")) {
            (keep, n) =>
              if (n == g.n) Done(g)
              else doneIf(n == 0L)(shrink(g, keep, n, assign(g,
                g.nodes.join(keep, Seq("id"), "left_anti").select(col("id"), col("id").as("scc")))))
          }
        }
      }._1
    val (last, _) = Superstep.converge(s, "SCC rounds", maxRounds, parts)(trim(g0))(_.frames) {
      (g, _) =>
        if (g.n == 0L) Done(g)
        else {
          // ---- 2. forward max-color propagation to fixpoint ---------------
          // the deltaCC loop with max for min: (colors, changed colors,
          // the checkpoint both read)
          val higher = col("cand") > col("c")
          val ((colors, _, colored), _) = Superstep.converge(s, "SCC coloring", maxSupersteps) {
            val first = Ckpt.eagerPartitioned(g.nodes.select(col("id"), col("id").as("c")))
            (first, first, first)
          }(st => Seq(st._3)) { case ((colors, changed, _), _) =>
            val cand = g.bySrc.join(changed, g.bySrc("src") === changed("id"))
              .select(g.bySrc("dst").as("id"), col("c").as("cand"))
              .groupBy("id").agg(max("cand").as("cand"))
            Probe(colors.join(cand, Seq("id"), "left"), _.filter(higher).count()) { (joined, n) =>
              doneIf(n == 0L)((joined.select(col("id"),
                  greatest(col("c"), coalesce(col("cand"), col("c"))).as("c")),
                joined.filter(higher).select(col("id"), col("cand").as("c")), joined))
            }
          }
          // ---- 3. backward reach from roots within their color ------------
          // (members, frontier): the frontier is the last superstep's
          // fresh members; the first is the roots themselves
          val ((members, _), _) = Superstep.converge(s, "SCC backward reach", maxSupersteps) {
            val roots = Ckpt.eagerPartitioned(
              colors.filter(col("id") === col("c")).select(col("id"), col("c").as("scc")))
            (roots, roots)
          }(st => Seq(st._1, st._2)) { case ((members, frontier), _) =>
            val cand = g.byDst.join(frontier.withColumnRenamed("id", "dst"), Seq("dst"))
              .select(col("src").as("id"), col("scc")).distinct()
            val inColor = cand.join(colors, Seq("id"))
              .filter(col("scc") === col("c")).select(col("id"), col("scc"))
            Probe(inColor.join(members, Seq("id"), "left_anti")) { (fresh, n) =>
              if (n == 0L) Done((members, members))
              else More((Ckpt.eagerPartitioned(members.unionByName(fresh)), fresh))
            }
          }
          // ---- 4. remove the extracted SCCs, trim what is left ------------
          val assigned = assign(g, members)
          Probe(g.nodes.join(members, Seq("id"), "left_anti")) { (keep, n) =>
            val shrunk = shrink(g, keep, n, assigned)
            // the replaced graph and this round's last frames are dead:
            // release them before the trim passes, not when the round ends
            (g.frames :+ members :+ colored).foreach(Ckpt.drop)
            val next = trim(shrunk)
            doneIf(next.n == 0L)(next)
          }
        }
    }
    Ckpt.drop(last.nodes); Ckpt.drop(last.bySrc); Ckpt.drop(last.byDst)
    if (last.assigned != null) last.assigned
    else s.range(0).select(col("id"), col("id").as("scc"))
  }

  /** The graph [[coloringSCC]] has left: its nodes (id-partitioned), its
    * edges keyed by src and by dst, the node count, and the (id, scc)
    * rows assigned so far (null before the first). */
  private final case class SccRest(nodes: DataFrame, bySrc: DataFrame, byDst: DataFrame,
      n: Long, assigned: DataFrame) {
    def frames: Seq[DataFrame] = Seq(nodes, bySrc, byDst) ++ Option(assigned)
  }

  private val sccMaxRounds = 12
  private val sccMaxSupersteps = 40

  /** SCC oracle: transitive closure by recursive CTE (UNION dedups, so
    * it terminates on the cyclic graph), scc(v) = max over the mutual-
    * reachability set including v — exactly the engine's max-member-id
    * label — then the same size histogram + label checksum. */
  private lazy val sccOracle: String =
    """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |sup AS (SELECT a, b, count(*) AS supp FROM (
      |    SELECT DISTINCT x.ok, x.pk AS a, y.pk AS b
      |    FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk)
      |  GROUP BY a, b),
      |e AS (SELECT a AS src, b AS dst FROM sup WHERE supp >= 2
      |      UNION ALL
      |      SELECT b, a FROM sup WHERE supp >= 3),
      |-- explicit DISTINCT over UNION ALL: inside a WITH RECURSIVE list
      |-- DuckDB treats a bare UNION CTE as an anchor/step pair and does
      |-- NOT dedup across the arms
      |n AS (SELECT DISTINCT id FROM (
      |        SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      |r AS (SELECT src, dst FROM e
      |      UNION
      |      SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src),
      |mut AS (SELECT c1.src AS id, max(c1.dst) AS m
      |        FROM r c1 JOIN r c2 ON c2.src = c1.dst AND c2.dst = c1.src
      |        GROUP BY c1.src),
      |scc AS (SELECT n.id, greatest(n.id, coalesce(mut.m, n.id)) AS scc
      |        FROM n LEFT JOIN mut ON mut.id = n.id),
      |sizes AS (SELECT scc, count(*) AS sz FROM scc GROUP BY scc)
      |SELECT CAST(sz AS BIGINT) AS scc_size,
      |       CAST(count(*) AS BIGINT) AS n_sccs,
      |       CAST(sum(scc) AS BIGINT) AS chk
      |FROM sizes GROUP BY sz""".stripMargin
}
