package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import graft.engine.PropertyGraph
import graft.lang.{AttribTp, BoolT, IntT, StringT}
import graft.lang.Typing.Schema

/** Parquet→graph projection: each TPC-H-ish table becomes a node label,
  * each foreign key becomes an edge type. The reference has no external
  * data sources at all (its graphs are built by the query itself,
  * /root/reference/graphDB/lib/interf.ml:38-47); this loader is the
  * engine-side bridge that lets MiniGQL queries run over the driver's
  * parquet test tables.
  *
  * Node ids are DETERMINISTIC functions of the source keys — a fixed
  * 1e9-spaced offset per table plus the table key — so query results are
  * reproducible across runs/engines and an external oracle can recompute
  * them with plain SQL. Attribute names carry no underscores because the
  * MiniGQL lexer only admits `alnum` identifiers
  * (/root/reference/graphDB/lib/lexer.mll:81).
  *
  * Scale note: every frame below is a lazy projection over the parquet
  * scan — nothing materializes at load. Label scans become parquet scans
  * with column pruning; edge frames project exactly (src,dst) so a path
  * join reads two long columns. At cluster scale each label/edge frame
  * maps onto its own partitioned table.
  */
object GraphLoader {

  val RegionBase   = 1000000000L
  val NationBase   = 2000000000L
  val SupplierBase = 3000000000L
  val CustomerBase = 4000000000L
  val PartBase     = 5000000000L
  val OrdersBase   = 6000000000L
  // id = base + rank in a total order over the full unique key: the
  // synthetic data has duplicate (orderkey, linenumber) pairs, so an
  // arithmetic packing of those two collides. The rank is computed by a
  // DISTRIBUTED sort + zipWithIndex (never a single-partition window) and
  // is engine-reproducible: the oracle replays it as ROW_NUMBER over the
  // same ORDER BY (see lineitemOrder/lineIdSql).
  val LineitemBase = 10000000000L
  val FreshBase    = 20000000000L // first id handed to `create`

  /** Declared graph schema: node attribute types (MiniGQL int/string
    * only) and relation types, including the extension label `tag` used
    * by create/delete test queries. */
  val schema: Schema = Schema(
    nodeAttrs = Map(
      "region"   -> List("name" -> StringT),
      "nation"   -> List("name" -> StringT, "regionkey" -> IntT, "nationkey" -> IntT),
      "supplier" -> List("name" -> StringT, "nationkey" -> IntT),
      "customer" -> List("name" -> StringT, "mktsegment" -> StringT, "nationkey" -> IntT),
      "part"     -> List("name" -> StringT, "brand" -> StringT, "ptype" -> StringT, "psize" -> IntT),
      "orders"   -> List("status" -> StringT, "priority" -> StringT, "urgent" -> BoolT),
      "lineitem" -> List("linenumber" -> IntT, "returnflag" -> StringT, "linestatus" -> StringT),
      "tag"      -> List.empty[(String, AttribTp)],
    ),
    relTypes = Set(
      ("customer", "cnation", "nation"),
      ("supplier", "snation", "nation"),
      ("nation", "nregion", "region"),
      ("orders", "ocust", "customer"),
      ("lineitem", "lorder", "orders"),
      ("lineitem", "lpart", "part"),
      ("lineitem", "lsupp", "supplier"),
      ("nation", "tagged", "tag"),
      // a second nation→tag relation (round 10): gives `[:tagged|flagged]`
      // alternation a same-endpoint pair to range over
      ("nation", "flagged", "tag"),
      // label-homogeneous successor chain (same region, next nationkey):
      // the self-relation that variable-length paths -[:nnext*lo..hi]->
      // traverse; derived, not a source FK
      ("nation", "nnext", "nation"),
    ),
    // typed edge properties (round 10): lpart carries the line's
    // quantity (loaded from l_quantity — a REAL per-edge datum: it
    // belongs to the (lineitem, part) relationship, not to either
    // node); tagged carries a writable weight for the create/set ops
    relAttrs = Map(
      ("lineitem", "lpart", "part") -> List("qty" -> IntT),
      ("nation", "tagged", "tag") -> List("w" -> IntT),
    ).withDefaultValue(Nil))

  /** The loaded graph's schema as MiniGQL type declarations — the header
    * the CLI `g` mode (and GraphOps) prepends to user programs so a .q
    * file runs against the parquet graph without redeclaring it. Must
    * stay in sync with [[schema]]; a structural check in
    * Engine.runSourceOn catches drift loudly. */
  val headerGql: String =
    """(:region {name string})
      |(:nation {name string, regionkey int, nationkey int})
      |(:supplier {name string, nationkey int})
      |(:customer {name string, mktsegment string, nationkey int})
      |(:part {name string, brand string, ptype string, psize int})
      |(:orders {status string, priority string, urgent bool})
      |(:lineitem {linenumber int, returnflag string, linestatus string})
      |(:tag {})
      |(:customer) -[:cnation]-> (:nation)
      |(:supplier) -[:snation]-> (:nation)
      |(:nation) -[:nregion]-> (:region)
      |(:orders) -[:ocust]-> (:customer)
      |(:lineitem) -[:lorder]-> (:orders)
      |(:lineitem) -[:lpart {qty int}]-> (:part)
      |(:lineitem) -[:lsupp]-> (:supplier)
      |(:nation) -[:tagged {w int}]-> (:tag)
      |(:nation) -[:flagged]-> (:tag)
      |(:nation) -[:nnext]-> (:nation)
      |""".stripMargin

  /** Total order over lineitem's unique composite key — the ROW_NUMBER
    * basis for lineitem node ids, mirrored verbatim in every oracle that
    * references them. */
  val lineitemOrder: Seq[String] = Seq(
    "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_shipdate")

  /** The same order as an ANSI SQL ORDER BY list (for oracles). */
  val lineitemOrderSql: String = lineitemOrder.mkString(", ")

  /** Lineitem id expression for oracles: `9999999999 + ROW_NUMBER()`. */
  val lineIdSql: String =
    s"${LineitemBase - 1} + ROW_NUMBER() OVER (ORDER BY $lineitemOrderSql)"

  /** Columns of the persisted/cached lineitem-id frame — exactly what the
    * node/edge projections read (sort-only columns are dropped;
    * l_quantity feeds the lpart edge's qty attribute, round 10). */
  private val lidCols = Seq("lid", "l_orderkey", "l_linenumber", "l_partkey",
    "l_suppkey", "l_quantity", "l_returnflag", "l_linestatus")

  /** The id-assigned lineitem frame, from the persisted id store when one
    * matches the source's content fingerprint, else built (distributed
    * sort + zipWithIndex) and persisted for every later session.
    *
    * This IS the "assign ids once, persist" production shape (SURVEY
    * §9.3): id assignment is a one-time ETL — the sort is paid by the
    * first session ever to read this source, and every later JVM
    * (bench, verify, tests) starts from a splittable parquet read. The
    * store is keyed by path + per-file size/mtime, so a regenerated
    * source gets fresh ids, never a stale store (same discipline as the
    * streaming source staging). The write is atomic (temp dir + rename);
    * a concurrent loser of the rename race just reads the winner's store.
    */
  private def loadOrBuildLids(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val src = Paths.get(dir, "lineitem.parquet").toRealPath()
    val fingerprint = {
      val walk = Files.walk(src)
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => s"${src.relativize(p)}:${Files.size(p)}:" +
          Files.getLastModifiedTime(p).toMillis)
        .toSeq.sorted.mkString("\n")
      finally walk.close()
    }
    val tag = java.security.MessageDigest.getInstance("MD5")
      // v2: lid store gained l_quantity (the lpart qty edge attribute)
      .digest(s"$src\n$fingerprint\nv2".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val store = Paths.get(sys.props("java.io.tmpdir"), s"graft_lids_$tag")
    if (!Files.exists(store.resolve("_SUCCESS"))) {
      val keep = (lineitemOrder ++ Seq("l_returnflag", "l_linestatus")).distinct
      val raw = spark.read.parquet(src.toString).select(keep.map(col).toIndexedSeq: _*)
      val sorted = raw.orderBy(lineitemOrder.map(col).toIndexedSeq: _*)
      val outSchema = raw.schema.add(StructField("lid", LongType, nullable = false))
      val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (LineitemBase + i))
      }
      val tmp = Paths.get(store.toString + s"_tmp_${ProcessHandle.current().pid()}")
      spark.createDataFrame(rdd, outSchema)
        .select(lidCols.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").parquet(tmp.toString)
      try Files.move(tmp, store, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException =>
        // another session won the race; its store is identical by
        // construction (ids are a deterministic function of the data)
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    }
    spark.read.parquet(store.toString)
  }

  /** Register the graph as session temp views (`node_<label>`,
    * `edge_<rel>`) so plain `spark.sql` can query the same projection the
    * engine executes against. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    val (g, _) = load(spark, dir)
    g.nodes.foreach { case (label, df) => df.createOrReplaceTempView(s"node_$label") }
    g.edges.foreach { case ((_, rel, _), df) => df.createOrReplaceTempView(s"edge_$rel") }
  }

  /** Load the property graph from a testdata directory. Returns the
    * graph plus the first free node id for `create`. Memoized per
    * (session, dir) ([[graft.Ckpt.memo]]) — round 18: the frames are
    * lazy deterministic projections (memoizing them changes nothing
    * about what executes), but returning the SAME PropertyGraph
    * instance gives downstream per-graph memo entries an identity key:
    * Engine's call-procedure bridge keys its hoisted undirected edge
    * frame on the graph's edge map, so 13+ whole-graph bridge queries
    * share ONE 2|E| hoist per session instead of paying one each, while
    * a MUTATED graph (new map instance) still re-hoists. */
  def load(spark: SparkSession, dir: String): (PropertyGraph, Long) =
    graft.Ckpt.memo(spark, ("GraphLoader.load", dir))(loadUncached(spark, dir))

  private def loadUncached(spark: SparkSession, dir: String): (PropertyGraph, Long) = {
    def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

    val region = t("region")
    val nation = t("nation")
    val supplier = t("supplier")
    val customer = t("customer")
    val part = t("part")
    val orders = t("orders")
    // DISTRIBUTED id assignment (ADVICE/VERDICT r02): a bare
    // `row_number().over(Window.orderBy(...))` funnels the whole table —
    // the biggest one — through ONE partition. Instead: a distributed
    // range-partitioned sort, then zipWithIndex, which numbers rows in
    // partition order = global sort order. Same ids as ROW_NUMBER (the
    // oracle replays the identical ORDER BY via lineIdSql), but every
    // stage is parallel; the only extra cost is zipWithIndex's
    // per-partition count pass.
    //
    // Built once per (session, dir) through load()'s memo: the RDD hop
    // produces a NEW plan object per call, which Spark's cache manager
    // can NOT dedup the way it dedups identical declarative plans —
    // without the memo every load() would re-sort and re-number the
    // biggest table. All derived frames (1 node + 3 edge projections ×
    // every query) share the single cached materialization. (At cluster
    // scale: assign ids once, persist via GraphStore.)
    val lineitem = loadOrBuildLids(spark, dir).cache()

    val lineId = col("lid")

    val nodes = Map(
      "region" -> region.select(
        (col("r_regionkey").cast("long") + RegionBase).as("id"),
        col("r_name").as("name")),
      "nation" -> nation.select(
        (col("n_nationkey").cast("long") + NationBase).as("id"),
        col("n_name").as("name"),
        col("n_regionkey").cast("long").as("regionkey"),
        col("n_nationkey").cast("long").as("nationkey")),
      "supplier" -> supplier.select(
        (col("s_suppkey") + SupplierBase).as("id"),
        col("s_name").as("name"),
        col("s_nationkey").cast("long").as("nationkey")),
      "customer" -> customer.select(
        (col("c_custkey") + CustomerBase).as("id"),
        col("c_name").as("name"),
        col("c_mktsegment").as("mktsegment"),
        col("c_nationkey").cast("long").as("nationkey")),
      "part" -> part.select(
        (col("p_partkey") + PartBase).as("id"),
        col("p_name").as("name"),
        col("p_brand").as("brand"),
        col("p_type").as("ptype"),
        col("p_size").cast("long").as("psize")),
      "orders" -> orders.select(
        (col("o_orderkey") + OrdersBase).as("id"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        (col("o_orderpriority") === "1-URGENT").as("urgent")),
      "lineitem" -> lineitem.select(
        lineId.as("id"),
        col("l_linenumber").cast("long").as("linenumber"),
        col("l_returnflag").as("returnflag"),
        col("l_linestatus").as("linestatus")),
      "tag" -> PropertyGraph.empty(spark, schema).nodes("tag"),
    )

    // One edge per FK pair; src is the PK side of its table, so each
    // (src,dst) is unique by construction — the engine's set-semantics
    // invariant (reference graphstruct.ml:30-32) holds without a dedup.
    val edges = Map(
      ("customer", "cnation", "nation") -> customer.select(
        (col("c_custkey") + CustomerBase).as("src"),
        (col("c_nationkey").cast("long") + NationBase).as("dst")),
      ("supplier", "snation", "nation") -> supplier.select(
        (col("s_suppkey") + SupplierBase).as("src"),
        (col("s_nationkey").cast("long") + NationBase).as("dst")),
      ("nation", "nregion", "region") -> nation.select(
        (col("n_nationkey").cast("long") + NationBase).as("src"),
        (col("n_regionkey").cast("long") + RegionBase).as("dst")),
      ("orders", "ocust", "customer") -> orders.select(
        (col("o_orderkey") + OrdersBase).as("src"),
        (col("o_custkey") + CustomerBase).as("dst")),
      ("lineitem", "lorder", "orders") -> lineitem.select(
        lineId.as("src"),
        (col("l_orderkey") + OrdersBase).as("dst")),
      ("lineitem", "lpart", "part") -> lineitem.select(
        lineId.as("src"),
        (col("l_partkey") + PartBase).as("dst"),
        col("l_quantity").cast("long").as("qty")),
      ("lineitem", "lsupp", "supplier") -> lineitem.select(
        lineId.as("src"),
        (col("l_suppkey") + SupplierBase).as("dst")),
      ("nation", "tagged", "tag") -> PropertyGraph.empty(spark, schema)
        .edges(("nation", "tagged", "tag")),
      ("nation", "flagged", "tag") -> PropertyGraph.empty(spark, schema)
        .edges(("nation", "flagged", "tag")),
      // successor within region: a partitioned window (shuffles by
      // regionkey, sorts within partition — no single-partition funnel)
      ("nation", "nnext", "nation") -> {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("n_regionkey").orderBy("n_nationkey")
        nation.select(
          (col("n_nationkey").cast("long") + NationBase).as("src"),
          (lead(col("n_nationkey"), 1).over(w).cast("long") + NationBase).as("dst"))
          .filter(col("dst").isNotNull)
      },
    )

    (PropertyGraph(schema, nodes, edges), FreshBase)
  }
}
