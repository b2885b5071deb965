package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lang._
import graft.lang.Typing._

/** Spark executor for the MiniGQL 7-instruction IR.
  *
  * The reference interpreter (/root/reference/graphDB/lib/sem.ml:299-378) is
  * an eager left-fold over instructions threading
  * `State(graph, bindingTable, nextId)`. Here the same fold threads
  * `ExecState(graph, bindings: DataFrame, env, nextId)` where every
  * instruction is a LAZY DataFrame transformation — the whole instruction
  * chain fuses into Catalyst plans, and only node creation (which must know
  * the binding-table row count to advance the id counter, sem.ml:45-51,
  * built to the assignment spec: advance by row count, not the reference's
  * `+1` bug) forces materialization.
  *
  * Binding table = one LongType column per bound variable; bag semantics
  * (duplicates preserved) match both Spark defaults and the reference
  * (sem.ml:19-25). Rebinding a variable shadows the old binding (columns
  * prepend in the reference, sem.ml:31; here: fresh internal column name,
  * env lookup takes the latest).
  *
  * Deviations from the reference implementation, all "build to spec"
  * (SURVEY.md §2.1): `set` evaluates its expression per row (the reference
  * evaluates on the first row only, sem.ml:372); conflicting per-node `set`
  * values are resolved deterministically by max; `delete` of a shadowed
  * variable drops every column of that name (the reference corrupts its
  * table there, sem.ml:334-336); `set` through a binding left dangling by
  * an earlier `delete` of an aliasing variable is a no-op (the join-update
  * finds no node row), where the reference's List.assoc would crash;
  * `and`/`or` may short-circuit per row and
  * Catalyst may reorder conjuncts, while the reference evaluates both
  * operands before dispatch (sem.ml:160-161,174-175) — observable only
  * through error effects of a skipped operand (strict-mode unset-attribute
  * raise, ANSI div-by-zero), where the reference raises and we may not.
  */
object Engine {

  /** Execution config. `strict=true` reproduces the reference's
    * runtime-error semantics for reads of unset attributes / dangling
    * bindings via `raise_error` in the plan (sem.ml:148-158); `false`
    * yields SQL NULL semantics (rows with NULL predicates drop). */
  final case class Config(strict: Boolean = true)

  /** Lineage-cap key: a node label or an edge-type triple — kept distinct
    * so bump() can checkpoint the matching frame (a stringified edge key
    * would silently never match `graph.nodes`). */
  private type FrameKey = Either[String, (String, String, String)]

  /** env: vname → internal binding column, latest binding first.
    * `nullable`: binding COLUMNS that may be NULL (optional-match
    * targets) — drives the strict-mode null-guard in [[column]]. */
  final case class ExecState(
      graph: PropertyGraph,
      bindings: DataFrame,
      env: List[(String, String)],
      nextId: Long,
      freshCounter: Int,
      mutationDepth: Map[FrameKey, Int],
      nullable: Set[String] = Set.empty,
      /** True only while `bindings` is the UNTOUCHED 1-row/0-column unit
        * table: the first match/merge then IS its label scan — no cross
        * join. More than convenience: CartesianProduct output has
        * unknown partitioning, so the 1-row cross join would erase a
        * bucketed scan's distribution and force a join-key exchange the
        * bucketed GraphStore layout exists to avoid (PlanSpec pins the
        * exchange-free 1-hop). Cleared after EVERY instruction by the
        * execPlan fold — even a constant `where` changes the row count,
        * so no instruction preserves unit-ness. */
      unitTable: Boolean = false,
      /** Rel bindings (round-10 edge properties): var → its matched
        * edge's (srcColumn, dstColumn) in the binding table — an edge
        * binding ALIASES its endpoint columns, it owns none. Latest
        * binding first; reset by the scope-restricting instructions
        * (return / with) and retired when an endpoint column is dropped
        * (delete of the endpoint variable → later access fails loudly
        * as a dangling binding). */
      edgeEnv: List[(String, (String, String))] = Nil) {
    def colOf(v: String): String =
      env.collectFirst { case (`v`, c) => c }
        .getOrElse(throw new IllegalStateException(s"variable $v not bound"))
    def edgeColsOf(v: String): (String, String) =
      edgeEnv.collectFirst { case (`v`, cs) => cs }
        .getOrElse(throw new IllegalStateException(
          s"rel variable $v dangling (an endpoint binding was deleted?)"))
  }

  /** 1-row, 0-column DataFrame: the nullary cartesian-product identity
    * (reference sem.ml:25 `Table([], [[]])`). */
  def unitBindings(spark: SparkSession): DataFrame = spark.range(1).select()

  /** `nextId` is the post-query id counter (reference State's third
    * component, sem.ml:41) — callers persisting the graph must persist
    * it too, or a later session's creates collide with stored ids
    * (GraphStore round-trips it). */
  final case class QueryResult(graph: PropertyGraph, bindings: DataFrame,
      nextId: Long)

  // --- pattern hops --------------------------------------------------
  // The reference executes a pattern hop `(a)-[:r]->(b:B)` literally: a
  // cartesian product with ALL b-labeled nodes followed by an existence
  // semi-join (sem.ml:303-329) — O(|T|·|nodes|) intermediate. Both hop
  // instructions (an edge match over its declared frames, a `*lo..hi`
  // varpath) share ONE pair builder, [[hopPairs]], and two join shapes
  // read its pair frame:
  //   - fused ([[expand]]): when the node instruction that introduces
  //     the new variable is immediately followed by the hop that
  //     constrains it, the pair is equivalent to ONE inner equi-join on
  //     the bound side — per existing row, cross+semi keeps one row per
  //     b-node paired with it, and the (deduplicated, referentially
  //     intact) pair frame holds exactly one row per such pair. This
  //     turns the dominant pattern-match path into a broadcast/shuffle
  //     hash join Catalyst can plan well at any scale;
  //   - bound-both (the hop's case in [[exec]]): a join on both
  //     endpoints.

  /** A pattern hop's endpoint variables (sv, tv); None for every other
    * instruction. */
  private def hopEnds(in: RInstr): Option[(String, String)] = in match {
    case h: RMatchEdge => Some((h.sv, h.tv))
    case h: RVarPath   => Some((h.sv, h.tv))
    case _             => None
  }

  /** The hop's pair frame in pattern orientation: the sv side as `svAs`,
    * the tv side as `tvAs`. Flipped frames read dst-as-sv; a multi-frame
    * hop is the plain union of its frames, so a pair may appear twice
    * (reciprocal edges on a self-label relation, a pair connected by
    * several listed types). A varpath adds its minimal hop
    * count (`as d`) as `<c>_d` and its witness node list (named path) as
    * `<c>_p`; its closure expands FROM the distinct bound values of the
    * sv side if `seedSv`, else the tv side — work scales with the seeds'
    * reached frontier, not the relation's full closure (see
    * [[varPathReachSeeded]]). */
  private def hopPairs(st: ExecState, hop: RInstr, svAs: String, tvAs: String,
      seedSv: Boolean, c: String): DataFrame = {
    def read(key: (String, String, String), flipped: Boolean): DataFrame = {
      val (s, t) = if (flipped) ("dst", "src") else ("src", "dst")
      st.graph.edges(key).select(col(s).as(svAs), col(t).as(tvAs))
    }
    hop match {
      case RMatchEdge(_, _, frames, _) =>
        frames.map { case (key, flipped) => read(key, flipped) }.reduce(_ unionByName _)
      case RVarPath(sv, key, lo, hi, tv, dist, undir, pathV, allPaths) =>
        val seeds = st.bindings.select(col(st.colOf(if (seedSv) sv else tv)).as("seed")).distinct()
        varPathReachSeeded(st.graph, key, lo, hi, seeds, seedIsSrc = seedSv,
          dist = dist.nonEmpty, undir = undir, path = pathV.nonEmpty, allPaths = allPaths)
          .select(Seq(col("src").as(svAs), col("dst").as(tvAs)) ++
            dist.map(_ => col("hops").as(s"${c}_d")) ++
            pathV.map(_ => col("path").as(s"${c}_p")): _*)
      case other => throw new IllegalArgumentException(s"not a pattern hop: $other")
    }
  }

  /** Fused `RMatchNode(v) :: hop` where `v` is exactly one of the hop's
    * endpoints: an inner equi-join of the bindings with the hop's pair
    * frame on the bound side. A multi-frame hop's pair dedup is
    * load-bearing here (cross+semi yields ONE row per connected pair);
    * a one-frame hop already holds one row per pair (edge frames are
    * sets), and so does a varpath frame (per witness walk under
    * allShortestPaths). */
  private def expand(st: ExecState, hop: RInstr, v: String): ExecState = {
    val (sv, tv) = hopEnds(hop).get
    val newIsTv = tv == v
    val c = fresh(st)
    val eS = s"${c}_src"
    val (svAs, tvAs) = if (newIsTv) (eS, c) else (c, eS)
    val pairs0 = hopPairs(st, hop, svAs, tvAs, seedSv = newIsTv, c)
    val pairs = hop match {
      case h: RMatchEdge if h.frames.size > 1 => pairs0.dropDuplicates(svAs, tvAs)
      case _                                  => pairs0
    }
    val joined = st.bindings
      .join(pairs, col(st.colOf(if (newIsTv) sv else tv)) === col(eS))
      .drop(eS)
    bindHop(st.copy(bindings = joined, env = (v, c) :: st.env,
      freshCounter = st.freshCounter + 1), hop, c)
  }

  /** What a hop binds besides its endpoints, after either join shape: a
    * rel variable aliases the two endpoint columns (round-10 edge
    * properties — no join or column of its own); a varpath binds `as d`
    * and a named path, whose hidden `%rels_<p>` hop-label list (one
    * label per hop; relationships(p) reads it) is a lazy per-row
    * projection Catalyst prunes when unread. */
  private def bindHop(st: ExecState, hop: RInstr, c: String): ExecState = hop match {
    case RMatchEdge(sv, tv, _, Some(r)) =>
      st.copy(edgeEnv = (r, (st.colOf(sv), st.colOf(tv))) :: st.edgeEnv)
    case RVarPath(_, key, _, _, _, dist, _, pathV, _) =>
      val (cD, cP, cR) = (s"${c}_d", s"${c}_p", s"${c}_r")
      st.copy(
        bindings = pathV.fold(st.bindings)(_ => st.bindings.withColumn(cR,
          array_repeat(lit(key._2), size(col(cP)) - 1))),
        env = pathV.toList.flatMap(p => List((s"%rels_$p", cR), (p, cP))) :::
          dist.map(d => (d, cD)).toList ::: st.env)
    case _ => st
  }

  def run(spark: SparkSession, prog: TypedProg, graph: PropertyGraph,
          nextId: Long = 0L, config: Config = Config()): QueryResult = {
    // union branches (typing reassembled them around RUnion markers):
    // each is a standalone READ-ONLY query from its own unit table
    // against the shared graph; results are bag-unioned (`union all`)
    // or deduplicated (`union`). Typing guarantees identical output
    // column names/kinds, so this is one Catalyst Union node — each
    // branch keeps its own plan (pushdown, fused hops) and the optional
    // dedup is a single hash aggregate over the combined output.
    val parts: List[List[RInstr]] = {
      val out = List.newBuilder[List[RInstr]]
      var cur = List.newBuilder[RInstr]
      prog.instrs.foreach {
        case RUnion(_) => out += cur.result(); cur = List.newBuilder
        case in        => cur += in
      }
      out += cur.result()
      out.result()
    }
    def branchOut(instrs: List[RInstr]): DataFrame = {
      val st0 = ExecState(graph, unitBindings(spark), Nil, nextId, 0,
        Map.empty[FrameKey, Int].withDefaultValue(0), unitTable = true)
      finalProject(execPlan(spark, prog.schema, st0, instrs, config))
    }
    if (parts.size == 1) {
      val st0 = ExecState(graph, unitBindings(spark), Nil, nextId, 0,
        Map.empty[FrameKey, Int].withDefaultValue(0), unitTable = true)
      val st = execPlan(spark, prog.schema, st0, prog.instrs, config)
      QueryResult(st.graph, finalProject(st), st.nextId)
    } else {
      val all = prog.instrs.collectFirst { case RUnion(a) => a }.get
      val combined = parts.map(branchOut).reduce(_ unionByName _)
      QueryResult(graph, if (all) combined else combined.dropDuplicates(), nextId)
    }
  }

  /** Final table: distinct variable names, latest binding, header order
    * (latest-first, like the reference's prepended header) — unless the
    * query ended in `return`, in which case env is exactly the return
    * list. */
  private def finalProject(st: ExecState): DataFrame = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    // `%`-prefixed bindings are engine-internal (named-path segments,
    // `%rels_` companions) — never user-visible in a return-less table
    val outCols = st.env.flatMap { case (v, c) =>
      if (!v.startsWith("%") && seen.add(v)) Some(col(c).as(v)) else None
    }
    if (outCols.isEmpty) st.bindings else st.bindings.select(outCols: _*)
  }

  /** Fold the instructions over a state — the reference's instruction
    * fold (sem.ml:299-378), also used recursively for pattern-predicate
    * sub-plans (optional match / not exists). A node instruction
    * followed by a hop that binds it on exactly one side runs as one
    * fused [[expand]]. Unit-ness survives no instruction: even a
    * constant where filters the row. */
  @scala.annotation.tailrec
  private def execPlan(spark: SparkSession, schema: Schema, st: ExecState,
      instrs: List[RInstr], config: Config): ExecState = instrs match {
    case RMatchNode(v, _) :: hop :: rest
        if hopEnds(hop).exists { case (sv, tv) => (sv == v) != (tv == v) } =>
      execPlan(spark, schema, expand(st, hop, v).copy(unitTable = false), rest, config)
    case in :: rest =>
      execPlan(spark, schema, exec(spark, schema, st, in, config).copy(unitTable = false),
        rest, config)
    case Nil => st
  }

  /** Execute a pattern-predicate's inner instruction list over the
    * DISTINCT projection of the outer rows' bound columns — the witness
    * build touches each edge frame once per distinct key tuple, not once
    * per outer row, which is the shape that survives a wide outer table
    * at scale. Returns the final sub-state (its bindings hold one row
    * per witness, bound columns under their outer names) and the bound
    * column list. */
  private def innerWitness(spark: SparkSession, schema: Schema, st: ExecState,
      inner: List[RInstr], bound: List[String], cfg: Config): (ExecState, List[String]) = {
    val boundCols = bound.map(st.colOf)
    val probe = st.bindings.select(boundCols.map(col): _*).distinct()
    val sub0 = ExecState(st.graph, probe, bound.map(v => (v, st.colOf(v))),
      st.nextId, st.freshCounter,
      Map.empty[FrameKey, Int].withDefaultValue(0), st.nullable)
    (execPlan(spark, schema, sub0, inner, cfg), boundCols)
  }

  /** Join the outer rows to a pattern predicate's witnesses (the
    * [[innerWitness]] sub-state `sub`) on the bound columns, with join
    * type `how`: `left` for optional match, which carries the witness's
    * fresh columns `carry`; `left_semi`/`left_anti` for exists / not
    * exists, which keep or drop rows and carry nothing. */
  private def joinWitness(st: ExecState, sub: ExecState, boundCols: List[String],
      how: String, carry: List[String] = Nil): DataFrame = {
    val wAliases = boundCols.indices.map(k => s"__w$k").toList
    val witness = sub.bindings.select(
      boundCols.zip(wAliases).map { case (bc, a) => col(bc).as(a) } ++ carry.map(col): _*)
    val cond = boundCols.zip(wAliases)
      .map { case (bc, a) => st.bindings(bc) === witness(a) }.reduce(_ && _)
    val joined = st.bindings.join(witness, cond, how)
    if (how == "left") joined.drop(wAliases: _*) else joined
  }

  /** Convenience: compile source and run against an empty graph.
    * `params` supplies `$name` query-parameter values, substituted as
    * typed constants before typing (see [[graft.lang.Params]]). */
  def runSource(spark: SparkSession, src: String, config: Config = Config(),
                params: Map[String, Value] = Map.empty): QueryResult = {
    val tp = Typing.compile(src, params)
    run(spark, tp, PropertyGraph.empty(spark, tp.schema), 0L, config)
  }

  /** Compile source and run against a pre-loaded graph (the program's
    * declared schema must structurally match the graph's). */
  def runSourceOn(spark: SparkSession, src: String, graph: PropertyGraph,
                  nextId: Long, config: Config = Config(),
                  params: Map[String, Value] = Map.empty): QueryResult = {
    val tp = Typing.compile(src, params)
    // Structural check, not just label-name subset: a drifted attribute
    // list or relation type would otherwise surface later as an opaque
    // unionByName/analysis error (ADVICE r01). Report the first mismatch.
    tp.schema.nodeAttrs.foreach { case (lbl, attrs) =>
      graph.schema.nodeAttrs.get(lbl) match {
        case None =>
          throw new IllegalArgumentException(
            s"schema mismatch: program declares node label :$lbl absent from graph " +
              s"(graph labels: ${graph.schema.nodeAttrs.keys.toSeq.sorted.mkString(", ")})")
        case Some(gAttrs) if gAttrs.toSet != attrs.toSet =>
          val missing = attrs.toSet -- gAttrs.toSet
          val extra = gAttrs.toSet -- attrs.toSet
          throw new IllegalArgumentException(
            s"schema mismatch on node label :$lbl — program declares " +
              s"${attrs.map { case (f, t) => s"$f $t" }.mkString("{", ", ", "}")} but graph has " +
              s"${gAttrs.map { case (f, t) => s"$f $t" }.mkString("{", ", ", "}")}" +
              (if (missing.nonEmpty) s"; graph lacks ${missing.map(_._1).mkString(", ")}" else "") +
              (if (extra.nonEmpty) s"; graph adds ${extra.map(_._1).mkString(", ")}" else ""))
        case _ => ()
      }
    }
    tp.schema.relTypes.find(rt => !graph.schema.relTypes.contains(rt)).foreach {
      case (sl, rl, tl) =>
        throw new IllegalArgumentException(
          s"schema mismatch: program declares relation (:$sl)-[:$rl]->(:$tl) absent from graph")
    }
    run(spark, tp, graph, nextId, config)
  }

  // -------------------------------------------------------------------

  private def exec(spark: SparkSession, schema: Schema, st: ExecState,
                   in: RInstr, cfg: Config): ExecState = in match {

    case RCreateNode(v, lb) =>
      // Must know the row count to allocate dense ids and advance the
      // counter (spec: PDF §3.6 — one fresh node per binding row).
      // Totally order the rows first so the id↔row pairing is a function
      // of table content, not partition layout (duplicate rows are
      // interchangeable, so ties are harmless); zipWithIndex then
      // numbers rows in global sort order. A column-less table has
      // nothing to sort: its rows are identical.
      val ordered =
        if (st.bindings.columns.nonEmpty)
          st.bindings.orderBy(st.bindings.columns.map(col).toIndexedSeq: _*)
        else st.bindings
      val bindings = ordered.cache()
      val n = bindings.count()
      val c = fresh(st)
      val withIds: DataFrame = {
        val outSchema = bindings.schema.add(StructField(c, LongType, nullable = false))
        val base = st.nextId
        val rdd = bindings.rdd.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(r.toSeq :+ (base + i))
        }
        // Eager localCheckpoint (not cache): materializes the id
        // assignment NOW off the cached parent, cuts its lineage so the
        // parent cache can be released immediately — a plain cache would
        // pin both frames for the life of the session (ADVICE r01).
        graft.Ckpt.eager(spark.createDataFrame(rdd, outSchema))
      }
      bindings.unpersist(false)
      val newNodes = withIds.select(
        col(c).as("id") +:
          schema.nodeAttrs(lb).map { case (f, tp) =>
            lit(null).cast(PropertyGraph.sparkType(tp)).as(f)
          }: _*)
      val g2 = st.graph.copy(nodes = st.graph.nodes.updated(
        lb, st.graph.nodes(lb).unionByName(newNodes)))
      bump(st.copy(graph = g2, bindings = withIds, env = (v, c) :: st.env,
        nextId = st.nextId + n, freshCounter = st.freshCounter + 1), Left(lb))

    case RMatchNode(v, lb) =>
      val c = fresh(st)
      val scan = st.graph.nodes(lb).select(col("id").as(c))
      // first match on the untouched unit table IS the scan (1 row x S =
      // S) — skipping the cross join keeps the scan's output
      // partitioning (bucketed store) visible to the next join
      val joined = if (st.unitTable) scan else st.bindings.crossJoin(scan)
      st.copy(bindings = joined,
        env = (v, c) :: st.env, freshCounter = st.freshCounter + 1)

    case Typing.RMatchAnyNode(v) =>
      // unlabeled standalone match (round 14): the union of EVERY
      // label's id scan — ids are globally unique (disjoint per-label
      // bases) so the legs are disjoint; each leg is a one-column scan
      // (column pruning reaches the store), and the union is a narrow
      // no-shuffle operator. The hidden `%label_` companion is a
      // per-leg LITERAL (label(v) reads it) — a constant column costs
      // nothing and Catalyst prunes it when unread.
      val c = fresh(st)
      val cL = s"${c}_lbl"
      val scan = st.graph.nodes.toSeq.sortBy(_._1)
        .map { case (lb, df) => df.select(col("id").as(c), lit(lb).as(cL)) }
        .reduceOption(_ unionByName _)
        .getOrElse(spark.range(0).select(col("id").as(c), lit("").as(cL)))
      val joined = if (st.unitTable) scan else st.bindings.crossJoin(scan)
      st.copy(bindings = joined,
        env = (s"%label_$v", cL) :: (v, c) :: st.env,
        freshCounter = st.freshCounter + 1)

    case Typing.RCallProc(proc, yields, args) =>
      // the procedure bridge (round 11): run a whole-graph analytics
      // procedure against the CURRENT graph state and cross-join its
      // result table into the bindings like a fresh match. Yield
      // columns take fresh binding names c0..cN. A string argument
      // (round 12, typing-validated) scopes degree/cc to ONE declared
      // relation type; nodes always stay whole-graph, so unscoped
      // nodes surface as zero-degree / singleton components.
      val cols = yields.indices.map(k => s"__b${st.freshCounter + k}")
      val relScope: Option[String] = args.collectFirst { case StringV(r) => r }
      // the kernels' inputs for this graph version (hoist, endpoint
      // spine, counts, triangle counts), built once per version
      val topo = graft.operators.Topology(spark, st.graph, rel => relScope.forall(_ == rel))
      val allNodes = topo.nodes
      val allEdges = topo.edges
      def intArg(what: String): Long = args.head match {
        case IntV(v) => v
        case other   => throw new IllegalStateException(s"$what arg: $other")
      }
      val table: DataFrame = proc match {
        case "degree" =>
          // out/in degree over EVERY relation type; isolated nodes
          // surface with zeros (the left joins' coalesce)
          val od = allEdges.groupBy(col("src").as("id"))
            .agg(count(lit(1)).as("od"))
          val ind = allEdges.groupBy(col("dst").as("id"))
            .agg(count(lit(1)).as("ind"))
          allNodes.join(od, Seq("id"), "left").join(ind, Seq("id"), "left")
            .select(col("id").as(cols(0)),
              coalesce(col("od"), lit(0L)).as(cols(1)),
              coalesce(col("ind"), lit(0L)).as(cols(2)))
        case "cc" =>
          // component labels (comp = component min id) — the library
          // deltaCC, diameter-bound at 20 supersteps
          val (labels, _) = graft.operators.GraphAlgos.deltaCC(
            allNodes, topo.undirected, maxIters = 20, topo.nodeWidth)
          labels.select(col("id").as(cols(0)), col("comp").as(cols(1)))
        case "pagerank" =>
          // the library's fixed-point integer PageRank (8 iterations)
          // over the scoped DIRECTED edge set
          graft.operators.GraphAlgos.pageRank(allNodes, allEdges, iters = 8)
            .select(col("id").as(cols(0)), col("rank").as(cols(1)))
        case "bfs" | "sssp" =>
          // hop distances from the literal source id over the undirected
          // edges (GraphAlgos.hopDistances): sssp is the weighted
          // Bellman–Ford recurrence of g_sssp. Reached nodes in the
          // output; an absent source reaches nothing. The key universe
          // is the REACHABLE one, not allNodes: the edge frame may be
          // relation-scoped (call bfs over one relation's subgraph), and
          // a full-|V| spine checkpointed per superstep measured 1.7×
          // slower on the _rel variants at sf0.1 — a search can only
          // reach edge endpoints plus the source. The endpoint set is
          // pinned and counted per version, so the per-call distinct is
          // |V|-scale, not |E|-scale, and its count sizes the loop.
          val srcId = intArg(proc)
          val weighted = proc == "sssp"
          val dists = graft.operators.GraphAlgos.hopDistances(topo.undirected,
            topo.endpoints.unionByName(allNodes.filter(col("id") === srcId)).distinct(),
            srcId, weighted, maxIters = if (weighted) 24 else 20, s"call $proc()",
            graft.Ckpt.partsFor(spark, topo.nEndpoints))
          dists.select(col("id").as(cols(0)), col("d").as(cols(1)))
        case "kcore" =>
          // the library k-core peel, k as the call argument: in-core
          // degrees of the k-core's nodes
          graft.operators.GraphAlgos.kcore(topo.undirected, intArg("kcore"),
            maxIters = 12)
            .select(col("id").as(cols(0)), col("c").as(cols(1)))
        case "triangles" =>
          // per-node triangle counts over the scoped canonical
          // undirected pair set (Topology.triangles, shared with
          // clustering()); zero-participation nodes surface with 0
          val (counts, _) = topo.triangles
          allNodes.join(counts, Seq("id"), "left")
            .select(col("id").as(cols(0)),
              coalesce(col("n_tri"), lit(0L)).as(cols(1)))
        case "clustering" =>
          // local clustering coefficient through the bridge (round 15):
          // coeff(v) = 2·tri(v)/(d(v)·(d(v)−1)) in parts-per-million
          // integer division (the library g_clustering formula —
          // engine-exact ranking, no float) over the canonical
          // undirected pair set; nodes with pair-degree < 2 have no
          // defined coefficient and are omitted (matching the library)
          val (counts, deg) = topo.triangles
          deg.filter(col("d") >= 2).join(counts, Seq("id"), "left")
            .select(col("id").as(cols(0)),
              call_function("div", lit(2000000) * coalesce(col("n_tri"), lit(0)),
                col("d") * (col("d") - 1)).as(cols(1)))
        case "degreedist" =>
          // out-degree histogram over the scoped directed edge set —
          // the library g_degree_dist shape; nodes with no outgoing
          // edge don't appear (consistent with the library + oracle)
          allEdges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
            .groupBy("deg").agg(count(lit(1)).as("n"))
            .select(col("deg").as(cols(0)), col("n").as(cols(1)))
        case "harmonic" =>
          // landmark harmonic centrality through the bridge (round 15):
          // the library g_harmonic_landmarks recurrence — ONE
          // multi-source BFS whose frontier carries a seed column (all
          // K trees advance in the same superstep joins, K·|V| total
          // messages), ĥ(v) = Σ_s 1/d(s,v) summed in 1e-6 fixed
          // point (integer div — order-free, bit-equal cross-engine).
          // Same frontier-delta discipline as call bfs().
          //
          // Seed set = ids below a band bound: an optional leading int
          // argument (`call harmonic(1000)`), defaulting to the
          // loader's region band (< 2e9). ADVICE r15: on a user-built
          // graph with small dense ids the default band would silently
          // make EVERY node a seed — all-sources instead of landmark
          // harmonic — so the DEFAULT band is guarded loudly below;
          // an explicit argument states intent and skips the guard.
          // Round 19: per-LEVEL multi-source BFS (the library
          // multiSourceBfsLevels helper — the BFS level property bounds
          // the seen-set anti-join to the last two levels), replacing
          // the accumulated anti-join + full-outer-merge shape that
          // re-checkpointed the growing K·|V| frame every superstep.
          val bandArg = args.collectFirst { case IntV(v) => v }
          val band = bandArg.getOrElse(2000000000L)
          val ue = topo.undirected
          val seeds = allNodes.filter(col("id") < band)
            .select(col("id").as("seed"), col("id"), lit(0L).as("d"))
          val nSeeds = seeds.count()
          if (bandArg.isEmpty) {
            val nOut = allNodes.filter(col("id") >= band).count()
            require(nSeeds > 0 && nOut > 0,
              "call harmonic(): the default seed band (id < 2000000000, the " +
                s"parquet loader's region band) selects $nSeeds of " +
                s"${nSeeds + nOut} nodes on this graph — not a landmark set. " +
                "Pass the seed band explicitly: call harmonic(<id bound>).")
          }
          val dists = graft.operators.GraphAlgos.multiSourceBfsLevels(
            seeds, ue, maxIters = 20,
            graft.Ckpt.partsFor(spark, nSeeds * topo.nNodes), "call harmonic()")
          dists.filter(col("d") > 0)
            .groupBy("id").agg(sum(call_function("div", lit(1000000), col("d"))).as("h"))
            .select(col("id").as(cols(0)), col("h").as(cols(1)))
        case "scc" =>
          // strongly connected components over the scoped DIRECTED edge
          // set (round 16) — delegates to the library coloringSCC
          // (FW-BW-Trim; algorithm + scale notes there). comp = max
          // member id: deterministic, so oracle-checkable closed-form.
          // Nodes outside the scoped edge set trim out as singletons in
          // the first pass, so the result covers the whole graph like
          // cc() does.
          val labels = graft.operators.GraphAlgos.coloringSCC(allNodes, allEdges)
          labels.select(col("id").as(cols(0)), col("scc").as(cols(1)))
        case "hits" =>
          // the library HITS (8 fixed-point iterations) over the scoped
          // DIRECTED edge set
          graft.operators.GraphAlgos.hits(allNodes, allEdges, iters = 8)
            .select(col("id").as(cols(0)), col("auth").as(cols(1)),
              col("hub").as(cols(2)))
        case "labelprop" =>
          // the library synchronous LPA (fixed lpIters rounds); isolated
          // or unscoped nodes keep their own id label
          graft.operators.GraphAlgos.labelProp(allNodes, topo.undirected,
            graft.operators.GraphAlgos.lpIters)
            .select(col("id").as(cols(0)), col("lbl").as(cols(1)))
        case other =>
          throw new IllegalStateException(s"unreachable: unknown procedure $other")
      }
      val joined = if (st.unitTable) table else st.bindings.crossJoin(table)
      st.copy(bindings = joined,
        env = yields.zip(cols).reverse.toList ::: st.env,
        freshCounter = st.freshCounter + yields.size)

    case RMergeNode(v, lb, props, onCreate, onMatch) =>
      // conditional actions (round 11 — Cypher ON CREATE/MATCH SET):
      // this merge form decides match-vs-create GLOBALLY (see the Merge
      // scaladoc), so exactly one action list fires, re-entering the
      // ordinary set machinery on the post-merge state
      def applyActions(s2: ExecState, as: List[RInstr]): ExecState =
        as.foldLeft(s2)((s, in) => exec(spark, schema, s, in, cfg))
      // Constant-prop lookup: a pushdown-eligible filtered label scan,
      // row-independent by construction (typing enforces const props) —
      // which is what lets Cypher's sequential MERGE collapse to
      // match-or-create-one (see the Merge scaladoc). Matching uses
      // NULL-propagating equality regardless of strict mode: an unset
      // attribute never matches, as in Cypher. The count() actions are
      // metadata-rate: merge, like create, is a mutation point that must
      // know whether it mutates before the fold continues.
      val c = fresh(st)
      val matches = props.foldLeft(st.graph.nodes(lb)) {
        case (df, (f, value)) => df.filter(col(f) === valueLit(value))
      }
      if (matches.count() > 0L) {
        val scan = matches.select(col("id").as(c))
        applyActions(st.copy(
          bindings = if (st.unitTable) scan else st.bindings.crossJoin(scan),
          env = (v, c) :: st.env, freshCounter = st.freshCounter + 1), onMatch)
      }
      else if (st.bindings.isEmpty)
        // zero rows merge nothing (Cypher: MERGE runs per row) — the
        // binding column still appears, typed and empty; neither action
        // fires (no row merged anything). `limit(0)` makes the table
        // provably empty: a strict read of an empty label frame folds to a
        // constant raise_error, which may run below a run-time filter.
        st.copy(bindings = st.bindings.limit(0).withColumn(c, lit(null).cast(LongType)),
          env = (v, c) :: st.env, freshCounter = st.freshCounter + 1)
      else {
        val id = st.nextId
        val attrs = schema.nodeAttrs(lb)
        val newNode = spark.range(1).select(
          lit(id).as("id") +: attrs.map { case (f, tp) =>
            props.collectFirst { case (`f`, value) => valueLit(value).as(f) }
              .getOrElse(lit(null).cast(PropertyGraph.sparkType(tp)).as(f))
          }: _*)
        val g2 = st.graph.copy(nodes = st.graph.nodes.updated(
          lb, st.graph.nodes(lb).unionByName(newNode)))
        applyActions(
          bump(st.copy(graph = g2, bindings = st.bindings.withColumn(c, lit(id)),
            env = (v, c) :: st.env, nextId = id + 1,
            freshCounter = st.freshCounter + 1), Left(lb)), onCreate)
      }

    case RCreateEdge(sv, sl, rl, tv, tl, props) =>
      val key = (sl, rl, tl)
      val old = st.graph.edges(key)
      // inline edge properties evaluated PER ROW (they may reference
      // node attributes — they ride the same joins as where/set)
      val (joinedC, refsC) = joinAttrs(st, props.map(_._3))
      val newEdges0 = joinedC.select(
        col(st.colOf(sv)).as("src") +: col(st.colOf(tv)).as("dst") +:
          props.map { case (f, _, te) =>
            column(te, refsC, st, cfg.strict).as(f) }: _*)
      val attrNames = old.columns.drop(2).toSeq // declared attr columns
      val withAll = attrNames.foldLeft(newEdges0) { (df, f) =>
        if (df.columns.contains(f)) df
        else df.withColumn(f, lit(null).cast(old.schema(f).dataType))
      }
      // set semantics on (src,dst) — reference graphstruct.ml:30-32.
      // Among the new rows, a pair created by several rows resolves
      // conflicting prop values by max (the node-set rule); a pair that
      // ALREADY exists keeps its stored attrs — re-create is a no-op
      // (test3.q), existing rows winning through the per-pair
      // stored-wins aggregate below.
      //
      // Round 16 (pre-existing since round 10, surfaced by the r15
      // judge's suite run): the previous spelling — `old.unionByName(
      // newDistinct.join(old, anti))` — referenced `old` TWICE per
      // create, so k same-type creates built a 2^k-node plan tree and
      // Catalyst ANALYSIS (DeduplicateRelations' duplicate-relation
      // renewal) went exponential: test2.q's 13-create chains spent
      // ~15 MINUTES in the analyzer before one task ran. One union +
      // one keyed aggregate references `old` exactly once — plan depth
      // linear in creates, result identical: old rows carry flag 1 and
      // the per-pair max(struct(flag, attrs…)) keeps the stored row
      // when present (flag dominates the comparison), the max-resolved
      // new row otherwise.
      val newDistinct =
        if (attrNames.isEmpty) withAll.dropDuplicates("src", "dst")
        else withAll.groupBy("src", "dst").agg(
          max(attrNames.head).as(attrNames.head),
          attrNames.tail.map(f => max(f).as(f)): _*)
      val e2 =
        if (attrNames.isEmpty)
          old.unionByName(newDistinct).dropDuplicates("src", "dst")
        else {
          val flagged = old.withColumn("%stored", lit(1))
            .unionByName(newDistinct.withColumn("%stored", lit(0)))
          val w = col("%w")
          flagged.groupBy("src", "dst")
            .agg(max(struct(col("%stored") +: attrNames.map(col): _*)).as("%w"))
            .select(col("src") +: col("dst") +:
              attrNames.map(f => w.getField(f).as(f)): _*)
        }
      bump(st.copy(graph = st.graph.copy(edges = st.graph.edges.updated(key, e2))),
        Right(key))

    case hop @ (_: RMatchEdge | _: RVarPath) =>
      // Both endpoints bound (normalize emits the node instructions
      // first): keep the rows whose pair is in the hop's pair frame — a
      // left_semi, which ignores multiplicity, so no pair dedup. A
      // varpath binding `as d` or a path joins inner instead: one frame
      // row per pair, so row multiplicity is unchanged, except under
      // allShortestPaths, whose frame holds one row per MINIMAL-HOP
      // WALK and fans each binding row out per witness (Cypher's
      // enumeration semantics). The closure seeds from the sv side.
      val (sv, tv) = hopEnds(hop).get
      val c = fresh(st)
      val pairs = hopPairs(st, hop, "src", "dst", seedSv = true, c)
      val on = st.bindings(st.colOf(sv)) === pairs("src") &&
        st.bindings(st.colOf(tv)) === pairs("dst")
      hop match {
        case p: RVarPath if p.dist.nonEmpty || p.pathV.nonEmpty =>
          bindHop(st.copy(bindings = st.bindings.join(pairs, on).drop("src", "dst"),
            freshCounter = st.freshCounter + 1), hop, c)
        case _ => bindHop(st.copy(bindings = st.bindings.join(pairs, on, "left_semi")), hop, c)
      }

    case RDeleteNode(v, lbl) =>
      val cs = st.env.collect { case (`v`, c) => c }
      val doomed = st.bindings.select(col(cs.head).as("id")).distinct()
      val n2 = st.graph.nodes(lbl).join(doomed, Seq("id"), "left_anti")
      // only relation types whose endpoints can reference this label
      val e2 = st.graph.edges.map { case (key @ (sl, _, tl), df) =>
        var d = df
        if (sl == lbl) d = d.join(doomed.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        if (tl == lbl) d = d.join(doomed.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
        key -> d
      }
      val g2 = st.graph.copy(nodes = st.graph.nodes.updated(lbl, n2), edges = e2)
      // rel bindings aliasing a dropped column are retired — a later
      // access fails loudly as dangling (edgeColsOf)
      val csSet = cs.toSet
      bump(st.copy(graph = g2, bindings = st.bindings.drop(cs: _*),
        env = st.env.filterNot(_._1 == v),
        edgeEnv = st.edgeEnv.filterNot { case (_, (a, b)) => csSet(a) || csSet(b) }),
        Left(lbl))

    case Typing.RDeleteAnyNode(v) =>
      // unlabeled delete (round 14): the binding carries only ids — ids
      // are globally unique, so anti-joining EVERY label frame removes
      // exactly the owning rows (other frames lose nothing), and every
      // relation frame drops incident edges on both endpoints. The
      // doomed id set feeds one anti-join per frame, so it is
      // checkpointed once instead of recomputed per frame.
      // The hidden %label_ companion column unbinds with its owner so
      // the dead string column doesn't ride through later cross joins.
      val comp = s"%label_$v"
      val cs = st.env.collect { case (`v`, c) => c }
      val csComp = st.env.collect { case (`comp`, c) => c }
      val doomed = graft.Ckpt.eager(
        st.bindings.select(col(cs.head).as("id")).distinct())
      val n2 = st.graph.nodes.map { case (lbl, df) =>
        lbl -> df.join(doomed, Seq("id"), "left_anti") }
      val e2 = st.graph.edges.map { case (key, df) =>
        key -> df
          .join(doomed.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
          .join(doomed.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      }
      val csSet = cs.toSet
      val st2 = st.copy(graph = st.graph.copy(nodes = n2, edges = e2),
        bindings = st.bindings.drop(cs ++ csComp: _*),
        env = st.env.filterNot(e => e._1 == v || e._1 == comp),
        edgeEnv = st.edgeEnv.filterNot { case (_, (a, b)) => csSet(a) || csSet(b) })
      // every frame mutated: advance each one's checkpoint cadence
      val stE = st.graph.edges.keys.foldLeft(st2)((s2, k) => bump(s2, Right(k)))
      st.graph.nodes.keys.foldLeft(stE)((s2, l) => bump(s2, Left(l)))

    case RDeleteEdge(sv, sl, rl, tv, tl) =>
      val key = (sl, rl, tl)
      val victims = st.bindings.select(
        col(st.colOf(sv)).as("src"), col(st.colOf(tv)).as("dst")).distinct()
      val e2 = st.graph.edges(key).join(victims, Seq("src", "dst"), "left_anti")
      bump(st.copy(graph = st.graph.copy(edges = st.graph.edges.updated(key, e2))),
        Right(key))

    case RReturn(vs) =>
      val projected = st.bindings.select(vs.map(v => col(st.colOf(v)).as(v)): _*)
      // scope restriction drops every rel binding (not returnable)
      st.copy(bindings = projected, env = vs.map(v => (v, v)), edgeEnv = Nil)

    case RReturnExt(pairs, order, skip, limit, distinct) =>
      // items are named positionally by their resolved pair name
      // (explicit alias or derived outName), so duplicate structural
      // items with distinct aliases each get their own column
      val shaped = shapeExt(st, pairs, order, skip, limit, distinct, cfg.strict)
      // engine env lists EVERY output column (the final projection walks
      // it); the TYPING env is what restricts later instructions to the
      // plain-variable bindings, so the extra name entries are inert
      st.copy(bindings = shaped, env = pairs.map { case (_, a) => (a, a) },
        edgeEnv = Nil)

    case RWith(aliasedItems, order, skip, limit, distinct) =>
      // Same shaping as extended return, but the fold CONTINUES: each
      // item lands in a fresh internal binding column and re-binds under
      // its alias — plain variables stay node bindings, attr/agg items
      // become scalar bindings (virtual labels) whose `.val` reads the
      // column itself. Shaping cost is identical to the equivalent
      // return: one hash aggregate when aggregating (map-side partial
      // free from Catalyst), TakeOrderedAndProject for order+limit.
      val items = aliasedItems.map(_._1)
      val base = st.freshCounter
      val cols = items.indices.map(i => s"__b${base + i}").toList
      // name items by POSITION (duplicate structural items get their own
      // columns); order keys resolve to their first occurrence — typing
      // guarantees agg/distinct keys are items, and duplicates hold
      // identical values so either column orders the same
      val shaped = shapeExt(st, items.zip(cols), order, skip, limit, distinct,
        cfg.strict)
      // with-scalars have binding-NULL semantics (like optional-match
      // targets): a NULL value — e.g. sum over an empty global group —
      // fails predicates instead of raising under strict mode. Variable
      // items keep their nullability.
      val nullable2: Set[String] = aliasedItems.zip(cols).flatMap {
        case ((RRetVar(v), _), c) =>
          if (st.nullable(st.colOf(v))) Some(c) else None
        case ((_, _), c) => Some(c)
      }.toSet
      st.copy(bindings = shaped,
        env = aliasedItems.zip(cols).map { case ((_, a), c) => (a, c) },
        freshCounter = base + items.size,
        nullable = nullable2,
        edgeEnv = Nil) // with resets the scope; rel bindings don't survive it

    case Typing.RCallSub(imports, inner, pairs, order, skip, limit, distinct) =>
      // Cypher CALL subquery (round 15): run the inner match/where plan
      // ONCE over the distinct imported tuples (the innerWitness
      // distinct-probe trick — per-row semantics at per-distinct-tuple
      // cost), shape its return PER TUPLE (grouping keys always include
      // the imports; order/skip/limit page via a keyed row_number
      // window — the per-key top-k no other clause expresses), and join
      // the shaped rows back on the imported columns. Zero subquery
      // rows drop the input row (inner join), EXCEPT when every item
      // aggregates — Cypher's one-row-per-invocation rule, padded in
      // shapeCallSub. New bindings append to the outer scope.
      val (sub, boundCols) = innerWitness(spark, schema, st, inner, imports, cfg)
      val base = sub.freshCounter
      val cols = pairs.indices.map(k => s"__b${base + k}").toList
      val probe = st.bindings.select(boundCols.map(col): _*).distinct()
      val shaped = shapeCallSub(sub, boundCols, pairs.map(_._1).zip(cols),
        order, skip, limit, distinct, cfg.strict, probe)
      val joinedBack =
        if (imports.isEmpty) st.bindings.crossJoin(shaped)
        else st.bindings.join(shaped, boundCols)
      st.copy(bindings = joinedBack,
        env = pairs.map(_._2).zip(cols).toList ::: st.env,
        freshCounter = base + pairs.size,
        nullable = st.nullable ++ cols)

    case ROptPath(inner, bound, freshVars) =>
      // All-or-nothing witness expansion (Cypher OPTIONAL MATCH): run
      // the pattern tail as a sub-plan over the distinct bound tuples,
      // then LEFT-join the witnesses back — the same broadcast/shuffle
      // hash join as match-edge, just outer. One row per witness; rows
      // with no complete witness bind ALL fresh variables to NULL (never
      // a partial path). A NULL bound column (an earlier unmatched
      // optional) never equals a witness key and binds NULL too.
      val (sub, boundCols) = innerWitness(spark, schema, st, inner, bound, cfg)
      val freshCols = freshVars.map { case (v, _) => sub.colOf(v) }.distinct
      st.copy(bindings = joinWitness(st, sub, boundCols, "left", freshCols),
        env = freshVars.reverse.map { case (v, _) => (v, sub.colOf(v)) } ::: st.env,
        freshCounter = sub.freshCounter,
        nullable = st.nullable ++ freshCols)

    case RExists(inner, bound, neg) =>
      // Pattern predicate: the distinct-probe witness sub-plan, joined
      // left_semi (keep rows WITH a witness — match-edge's join type,
      // but existential: no bindings, no row multiplication) or, when
      // `neg`, left_anti (keep rows with NO witness). Witness keys are
      // the bound columns only; a NULL bound column never equals one,
      // so it drops under exists and survives under not exists,
      // consistent with the optional-match NULL semantics.
      val (sub, boundCols) = innerWitness(spark, schema, st, inner, bound, cfg)
      st.copy(bindings = joinWitness(st, sub, boundCols, if (neg) "left_anti" else "left_semi"),
        freshCounter = sub.freshCounter)

    case Typing.RNamedPath(p, segs) =>
      // Pattern-order concatenation of the per-segment witnesses (round
      // 13): reverse hops flip their storage-ordered witness; each
      // segment after the first drops its leading junction node. Pure
      // per-row array projections — no join, no shuffle, row
      // multiplicity unchanged; a NULL segment (inside an optional
      // witness) propagates NULL through concat, the all-or-nothing
      // semantics. The `%rels_<p>` companion is the per-segment label
      // repeated hop-count (size-1) times, concatenated.
      def segCol(sv: String, rev: Boolean): Column = {
        val c = col(st.colOf(sv))
        if (rev) reverse(c) else c
      }
      val nodesCol = segs.tail.foldLeft(segCol(segs.head._1, segs.head._3)) {
        case (acc, (sv, _, rev)) =>
          val c = segCol(sv, rev)
          concat(acc, slice(c, lit(2), size(c) - 1))
      }
      val relsCol = segs.map { case (sv, rl, _) =>
        array_repeat(lit(rl), size(col(st.colOf(sv))) - 1)
      }.reduce(concat(_, _))
      val base = fresh(st)
      val (cP2, cR2) = (s"${base}_p", s"${base}_r")
      st.copy(
        bindings = st.bindings.withColumn(cP2, nodesCol).withColumn(cR2, relsCol),
        env = (s"%rels_$p", cR2) :: (p, cP2) :: st.env,
        freshCounter = st.freshCounter + 1)

    case RWhere(te) =>
      val (joined, refs) = joinAttrs(st, te :: Nil)
      val filtered = joined.filter(column(te, refs, st, cfg.strict))
      st.copy(bindings = filtered.select(st.bindings.columns.map(col): _*))

    case RUnwind(tes, alias, _) =>
      // Per row, one output row per list element — explode over the
      // per-row array of compiled element expressions: a codegen'd
      // generator inheriting the scan's partitioning (no shuffle), the
      // same shape as the multimodal frame-sample explode. Elements ride
      // the where/set attribute joins; the new column is a scalar
      // binding with with-scalar NULL semantics (null-guarded under
      // strict mode).
      val (joinedU2, refsU) = joinAttrs(st, tes)
      val c2 = fresh(st)
      val elems = tes.map(te => column(te, refsU, st, cfg.strict))
      val unwound = joinedU2.select(
        st.bindings.columns.map(col) :+ explode(array(elems: _*)).as(c2): _*)
      st.copy(bindings = unwound, env = (alias, c2) :: st.env,
        freshCounter = st.freshCounter + 1,
        nullable = st.nullable + c2)

    case RUnwindVar(v, alias, elemTp) =>
      // one row per element of the with-bound list: the same codegen'd
      // Generate as literal unwind, over the stored array column. The
      // element binding is a plain with-scalar; a NULL list (an
      // optional-null'd with chain) drops its rows like Cypher's
      // UNWIND NULL.
      val c2 = fresh(st)
      val unwound = st.bindings.select(
        st.bindings.columns.map(col) :+ explode(col(st.colOf(v))).as(c2): _*)
      st.copy(bindings = unwound, env = (alias, c2) :: st.env,
        freshCounter = st.freshCounter + 1,
        nullable = st.nullable + c2)

    case RUnwindExpr(te, alias, _) =>
      // general list-expression unwind (`unwind range(1, n.x) as i`):
      // attrs in the expression ride the standard joins; same explode
      // shape as the other unwind forms. An EMPTY per-row list yields
      // zero rows for that binding row (Cypher), which explode gives.
      val (joinedE, refsE) = joinAttrs(st, te :: Nil)
      val c2 = fresh(st)
      val unwound = joinedE.select(
        st.bindings.columns.map(col) :+
          explode(column(te, refsE, st, cfg.strict)).as(c2): _*)
      st.copy(bindings = unwound, env = (alias, c2) :: st.env,
        freshCounter = st.freshCounter + 1,
        nullable = st.nullable + c2)

    case RUnion(_) =>
      throw new IllegalStateException(
        "union marker reached the instruction executor — run() splits branches")

    case RSet(v, lbl, f, tp, te) =>
      val (joined, refs) = joinAttrs(st, te :: Nil)
      val vc = st.colOf(v)
      // per-row evaluation (spec, not the reference's first-row-only bug);
      // conflicting per-node values resolved deterministically by max.
      val upd = joined
        .select(col(vc).as("id"), column(te, refs, st, cfg.strict).as("__newv"))
        .groupBy("id").agg(max("__newv").as("__newv"))
      val n2 = st.graph.nodes(lbl)
        .join(upd, Seq("id"), "left")
        .withColumn(f, coalesce(col("__newv"), col(f)))
        .drop("__newv")
      bump(st.copy(graph = st.graph.copy(nodes = st.graph.nodes.updated(lbl, n2))), Left(lbl))

    case RRemove(v, lbl, f) =>
      // NULL-out the attribute on the bound nodes: a marker semi-join
      // against the distinct bound ids, then a conditional projection —
      // the set machinery minus the value computation (NULL bound ids,
      // unmatched optionals, drop in the join)
      val vcR = st.colOf(v)
      val victimsR = st.bindings.select(col(vcR).as("id")).na.drop().distinct()
        .withColumn("__rm", lit(true))
      val n2R = st.graph.nodes(lbl)
        .join(victimsR, Seq("id"), "left")
        .withColumn(f, when(col("__rm").isNotNull, lit(null)).otherwise(col(f)))
        .drop("__rm")
      bump(st.copy(graph = st.graph.copy(nodes = st.graph.nodes.updated(lbl, n2R))),
        Left(lbl))

    case RRemoveEdge(v, key, f) =>
      // edge twin through the rel binding's (src, dst) identity
      val (cSR, cDR) = st.edgeColsOf(v)
      val victimsE = st.bindings.select(col(cSR).as("src"), col(cDR).as("dst"))
        .na.drop().distinct().withColumn("__rm", lit(true))
      val e2R = st.graph.edges(key)
        .join(victimsE, Seq("src", "dst"), "left")
        .withColumn(f, when(col("__rm").isNotNull, lit(null)).otherwise(col(f)))
        .drop("__rm")
      bump(st.copy(graph = st.graph.copy(edges = st.graph.edges.updated(key, e2R))),
        Right(key))

    case RSetEdge(v, key, f, _, te) =>
      // `set x.f = e` through a rel binding: the node-set join-update
      // applied to the edge frame on its (src, dst) identity — per-row
      // evaluation, max conflict resolution.
      val (joinedS, refsS) = joinAttrs(st, te :: Nil)
      val (cS, cD) = st.edgeColsOf(v)
      val upd = joinedS
        .select(col(cS).as("src"), col(cD).as("dst"),
          column(te, refsS, st, cfg.strict).as("__newv"))
        .groupBy("src", "dst").agg(max("__newv").as("__newv"))
      val e2 = st.graph.edges(key)
        .join(upd, Seq("src", "dst"), "left")
        .withColumn(f, coalesce(col("__newv"), col(f)))
        .drop("__newv")
      bump(st.copy(graph = st.graph.copy(edges = st.graph.edges.updated(key, e2))),
        Right(key))

    case RDeleteEdgeBinding(v, key) =>
      // `delete x`: remove the bound (src, dst) pairs; the table keeps
      // its rows (an edge binding owns no column)
      val (cS, cD) = st.edgeColsOf(v)
      val victims = st.bindings.select(col(cS).as("src"), col(cD).as("dst")).distinct()
      val e2 = st.graph.edges(key).join(victims, Seq("src", "dst"), "left_anti")
      bump(st.copy(graph = st.graph.copy(edges = st.graph.edges.updated(key, e2)),
        edgeEnv = st.edgeEnv.filterNot(_._1 == v)), Right(key))
  }

  /** The shared return/with shaping: attribute joins, aggregation
    * (plain items = grouping keys), distinct, order, skip, limit. `name`
    * assigns each item (and, transitively, each item-typed order key)
    * its output column. Attribute items/keys ride the same per-variable
    * left joins the where/set path uses; everything below stays one
    * Catalyst plan. `skip` (Cypher's OFFSET) drops rows after ordering
    * and before limit — Spark plans offset+limit into the same global
    * limit operator (the driver fetches skip+n rows, discards skip), so
    * pagination stays a top-k shape, not a global sort. */
  /** Integer avg = sum div count (truncating), computed with Spark's
    * IntegralDivide so the quotient stays in exact int64 arithmetic
    * for ALL long sums — the earlier (s - s%n)/n double route rounded
    * once |sum| exceeded 2^53 (ADVICE r08), a range 100 TB-scale sums
    * reach routinely. Same truncation rule as the expression language's
    * `div` (the expression compiler, [[column]]) and the DuckDB oracle's
    * integer `//`. */
  private def intAvg(s: Column, n: Column): Column =
    call_function("div", s, n)

  /** One aggregate item's Column (shared by [[shapeExt]] and
    * [[shapeCallSub]]). Distinct aggregates plan as Spark's standard
    * two-phase distinct aggregation (partial dedup before the final agg
    * — no row ships twice); min/max over distinct values equal plain
    * min/max. */
  private def aggExpr(fn: AggFn, c: Column, dist: Boolean): Column = (fn, dist) match {
    case (AggCount, true) => count_distinct(c)
    case (AggSum, true)   => sum_distinct(c)
    case (AggAvg, true)   => intAvg(sum_distinct(c), count_distinct(c))
    case (AggCount, _)    => count(c)
    case (AggSum, _)      => sum(c)
    case (AggAvg, _)      => intAvg(sum(c), count(c))
    case (AggMin, _)      => min(c)
    case (AggMax, _)      => max(c)
    // sorted concat (round 11): ascending order makes the result a
    // pure function of the group's value BAG (set under distinct) —
    // row order, partitioning, and merge order can't perturb it.
    // collect_list/_set keep map-side partial aggregation; the sort
    // happens once per group at the final merge.
    case (AggStrJoin, false) => array_join(array_sort(collect_list(c)), ",")
    case (AggStrJoin, true)  => array_join(array_sort(collect_set(c)), ",")
    // list collect (round 11): same sorted-ascending determinism rule
    case (AggCollect, false) => array_sort(collect_list(c))
    case (AggCollect, true)  => array_sort(collect_set(c))
    // exact LOW median (round 11): element (n-1) div 2 of the sorted
    // group — deterministic, no interpolation. NULL on an empty
    // (global) group like sum/min/max — the when-guard keeps ANSI
    // element_at from raising on index 0 there. No map-side partial
    // form: the group's values gather at the merge (exact-median
    // cost; the sketch-based twin is p_events_quantiles_approx).
    case (AggMedian, d) =>
      val sorted = array_sort(if (d) collect_set(c) else collect_list(c))
      when(size(sorted) === 0, lit(null).cast("bigint"))
        .otherwise(element_at(sorted, ((size(sorted) + 1) / 2).cast("int")))
  }

  /** Shape a call subquery's final return PER IMPORTED TUPLE (round
    * 15): like [[shapeExt]], but grouping keys always include the
    * imported key columns, and order/skip/limit page per tuple via a
    * keyed row_number window instead of globally. `probe` is the
    * distinct imported-tuple frame — when every item aggregates,
    * Cypher's one-row-per-invocation rule pads tuples whose subquery
    * matched nothing (count/sum 0; min/max/avg/median NULL; a
    * documented deviation: collect pads NULL, not []). An uncorrelated
    * subquery (no imports) takes the global orderBy/offset/limit path —
    * a row_number window over an empty partition list would
    * single-thread the frame. */
  private def shapeCallSub(sub: ExecState, keyCols: List[String],
      namedItems: List[(RRet, String)], order: List[(RRet, Boolean)],
      skip: Option[Long], limit: Option[Long], distinct: Boolean,
      strict: Boolean, probe: DataFrame): DataFrame = {
    val items = namedItems.map(_._1)
    val attrRefs = (items ++ order.map(_._1)).flatMap(collectRetAttrs).distinct
    val (joined, refs) = joinAttrs(sub, attrRefs.map(a => a: TExpr))
    def leafCol(it: RRet): Column = it match {
      case RRetVar(v)           => col(sub.colOf(v))
      case RRetAttr(v, _, f, _) => col(refs((v, f)))
      case RRetExpr(te)         => column(te, refs, sub, strict)
      case _: RRetAgg           => throw new IllegalStateException("agg leaf")
    }
    val keys = keyCols.map(col)
    def page(df: DataFrame, orderCols: Seq[Column]): DataFrame =
      if (skip.isEmpty && limit.isEmpty) df
      else if (keyCols.isEmpty) {
        val sorted = if (orderCols.isEmpty) df else df.orderBy(orderCols: _*)
        val skipped = skip.fold(sorted)(n => sorted.offset(n.toInt))
        limit.fold(skipped)(n => skipped.limit(n.toInt))
      } else {
        val w = Window.partitionBy(keys: _*).orderBy(orderCols: _*)
        val lo = skip.getOrElse(0L)
        val hi = limit.map(lo + _)
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > lo &&
            hi.fold(lit(true))(h => col("__rn") <= h))
          .drop("__rn")
      }
    // aggregated/distinct shapes order on output names (typing: keys
    // are items); the plain shape admits arbitrary keys, computed as
    // hidden helper columns dropped after the page
    def name(it: RRet): String = namedItems.find(_._1 == it).get._2
    def orderOnNames: Seq[Column] = order.map { case (k, asc) =>
      if (asc) col(name(k)).asc else col(name(k)).desc }
    val hasAgg = items.exists(_.isInstanceOf[RRetAgg])
    if (hasAgg) {
      val groups = keys ++ namedItems.collect {
        case (it @ (_: RRetVar | _: RRetAttr | _: RRetExpr), a) => leafCol(it).as(a) }
      val aggs = namedItems.collect { case (RRetAgg(fn, arg, d), a) =>
        aggExpr(fn, leafCol(arg), d).as(a) }
      val grouped = joined.groupBy(groups: _*).agg(aggs.head, aggs.tail: _*)
      val padded =
        if (items.forall(_.isInstanceOf[RRetAgg]) && keyCols.nonEmpty)
          probe.join(grouped, keyCols, "left")
            .select(keys ++ namedItems.map {
              case (RRetAgg(fn, _, _), a) if fn == AggCount || fn == AggSum =>
                coalesce(col(a), lit(0L)).as(a)
              case (_, a) => col(a)
            }: _*)
        else grouped
      page(padded, orderOnNames)
    } else if (distinct) {
      val projected = joined.select(keys ++ namedItems.map {
        case (it, a) => leafCol(it).as(a) }: _*).dropDuplicates()
      page(projected, orderOnNames)
    } else {
      val okCols = order.indices.map(k => s"__ok$k").toList
      val projected = joined.select(keys ++
        namedItems.map { case (it, a) => leafCol(it).as(a) } ++
        order.zip(okCols).map { case ((k, _), c) => leafCol(k).as(c) }: _*)
      val ordered = page(projected, order.zip(okCols).map { case ((_, asc), c) =>
        if (asc) col(c).asc else col(c).desc })
      ordered.drop(okCols: _*)
    }
  }

  private def shapeExt(st: ExecState, namedItems: List[(RRet, String)],
      order: List[(RRet, Boolean)], skip: Option[Long], limit: Option[Long],
      distinct: Boolean, strict: Boolean): DataFrame = {
    val items = namedItems.map(_._1)
    // order keys equal to an item resolve to its FIRST occurrence —
    // structurally-equal duplicates hold identical values, so either
    // column orders the same. Item projection itself is positional
    // (namedItems zip), so `return n.x as a, n.x as b` names both.
    def name(it: RRet): String = namedItems.find(_._1 == it).get._2
    def page(df: DataFrame): DataFrame = {
      val skipped = skip.fold(df)(n => df.offset(n.toInt))
      limit.fold(skipped)(n => skipped.limit(n.toInt))
    }
    val attrRefs = (items ++ order.map(_._1)).flatMap(collectRetAttrs).distinct
    val (joined, refs) = joinAttrs(st, attrRefs.map(a => a: TExpr))
    def leafCol(it: RRet): Column = it match {
      case RRetVar(v)             => col(st.colOf(v))
      case RRetAttr(v, _, f, _)   => col(refs((v, f)))
      // full-expression item / order key / aggregate argument: the same
      // compiled column the where/set path uses (strict-mode
      // unset-attr guards included) — stays inside the one projection
      case RRetExpr(te)           => column(te, refs, st, strict)
      case _: RRetAgg             => throw new IllegalStateException("agg leaf")
    }
    val hasAgg = items.exists(_.isInstanceOf[RRetAgg])
    if (!hasAgg && !distinct) {
      // order pre-projection (keys may reference non-returned attrs);
      // orderBy+limit plans as TakeOrderedAndProject — the distributed
      // top-n, no global sort materialization — which is the shape
      // that survives scale.
      val sorted =
        if (order.isEmpty) joined
        else joined.orderBy(order.map { case (k, asc) =>
          if (asc) leafCol(k).asc else leafCol(k).desc }: _*)
      page(sorted).select(namedItems.map { case (it, a) => leafCol(it).as(a) }: _*)
    } else if (!hasAgg) {
      // distinct: project → dedup → order → limit. Typing guarantees
      // order keys are items, so ordering happens on out names AFTER
      // the dedup (SQL DISTINCT semantics); the dedup is one hash
      // aggregate on the projected columns and the order+limit still
      // plans as TakeOrderedAndProject above it.
      val projected = joined
        .select(namedItems.map { case (it, a) => leafCol(it).as(a) }: _*)
        .dropDuplicates()
      val sorted =
        if (order.isEmpty) projected
        else projected.orderBy(order.map { case (k, asc) =>
          if (asc) col(name(k)).asc else col(name(k)).desc }: _*)
      page(sorted)
    } else {
      // plain items are the grouping keys (SQL semantics); zero plain
      // items = global aggregate. Partial (map-side) aggregation comes
      // free from Catalyst.
      val groups = namedItems.collect { case (it @ (_: RRetVar | _: RRetAttr | _: RRetExpr), a) =>
        leafCol(it).as(a) }
      val aggs = namedItems.collect { case (RRetAgg(fn, arg, dist), a) =>
        aggExpr(fn, leafCol(arg), dist).as(a) }
      val grouped = joined.groupBy(groups: _*).agg(aggs.head, aggs.tail: _*)
      // aggregated order keys are items → order on out names
      val sorted =
        if (order.isEmpty) grouped
        else grouped.orderBy(order.map { case (k, asc) =>
          if (asc) col(name(k)).asc else col(name(k)).desc }: _*)
      page(sorted).select(namedItems.map { case (_, a) => col(a) }: _*)
    }
  }

  private def fresh(st: ExecState): String = s"__b${st.freshCounter}"

  private def valueLit(v: Value): Column = v match {
    case BoolV(b)   => lit(b)
    case IntV(i)    => lit(i)
    case StringV(s) => lit(s)
  }

  /** Mutations of one node label / edge type between two lineage cuts
    * ([[bump]]). */
  private val checkpointCadence = 24

  /** Cap lineage growth on frequently re-written frames: after every
    * [[checkpointCadence]] mutations of the same node label / edge type,
    * cut the plan with an eager localCheckpoint (the engine-level
    * materialization policy of SURVEY.md §3.4 — Catalyst has no rule for
    * this). */
  private def bump(st: ExecState, key: FrameKey): ExecState = {
    val d = st.mutationDepth(key) + 1
    if (d >= checkpointCadence) {
      val g = st.graph
      val g2 = key match {
        case Left(lbl) =>
          g.copy(nodes = g.nodes.updated(lbl, graft.Ckpt.eager(g.nodes(lbl))))
        case Right(ek) =>
          g.copy(edges = g.edges.updated(ek, graft.Ckpt.eager(g.edges(ek))))
      }
      st.copy(graph = g2, mutationDepth = st.mutationDepth.updated(key, 0))
    } else st.copy(mutationDepth = st.mutationDepth.updated(key, d))
  }

  /** Join the attribute columns needed by the given expressions onto the
    * binding table. One left join per distinct referenced variable, aliased
    * so repeated variables of the same label don't collide. Returns the
    * joined frame and the (var,field) → column-name map. */
  private def joinAttrs(st: ExecState, tes: Seq[TExpr])
      : (DataFrame, Map[(String, String), String]) = {
    val accesses = tes.flatMap(collectAttrs).distinct
    val byVar = accesses.groupBy(a => (a.v, a.label))
    var df = st.bindings
    val refs = Map.newBuilder[(String, String), String]
    byVar.zipWithIndex.foreach { case (((v, lbl), as), vIdx) =>
      if (Typing.isRelLabel(lbl)) {
        // rel binding: left-join the EDGE frame on the (src, dst)
        // identity pair the binding aliases — one row per pair (edge
        // set semantics), so row multiplicity is unchanged, exactly
        // like the per-variable node joins. Ref column names derive
        // from the internal endpoint columns plus a per-variable index
        // (never from the user variable, which may be an auto `%rN`
        // name unsafe in SQL) — the index keeps two rel variables bound
        // to the SAME endpoint pair from joining identically-named
        // columns (e.g. `match (a)-[x:r]->(b) match (a)-[y:r]->(b)`).
        val (cS, cD) = st.edgeColsOf(v)
        val key = Typing.relKeyOf(lbl)
        val fields = as.map(_.field).distinct
        val base = s"__ea${vIdx}_${cS}_${cD}"
        val proj = st.graph.edges(key).select(
          col("src").as(s"${base}_src") +: col("dst").as(s"${base}_dst") +:
            fields.map(f => col(f).as(s"${base}_$f")): _*)
        df = df.join(proj,
          df(cS) === proj(s"${base}_src") && df(cD) === proj(s"${base}_dst"),
          "left")
          .drop(s"${base}_src", s"${base}_dst")
        fields.foreach(f => refs += ((v, f)) -> s"${base}_$f")
      } else if (Typing.isVirtual(lbl))
        // a virtual binding's attribute (`d.hops`, `cnt.val`) IS its
        // binding column — no attribute frame exists, no join needed
        as.map(_.field).distinct.foreach(f => refs += ((v, f)) -> st.colOf(v))
      else {
        val vc = st.colOf(v)
        val fields = as.map(_.field).distinct
        val proj = st.graph.nodes(lbl).select(
          col("id").as(vc) +: fields.map(f => col(f).as(s"__a_${vc}_$f")): _*)
        df = df.join(proj, Seq(vc), "left")
        fields.foreach(f => refs += ((v, f)) -> s"__a_${vc}_$f")
      }
    }
    (df, refs.result())
  }

  private def collectAttrs(te: TExpr): Seq[TAttr] = te match {
    case a: TAttr         => Seq(a)
    case TBin(_, l, r, _) => collectAttrs(l) ++ collectAttrs(r)
    case TUn(_, e, _)     => collectAttrs(e)
    case TSubstr(a, b, c)  => collectAttrs(a) ++ collectAttrs(b) ++ collectAttrs(c)
    case TReplace(a, b, c) => collectAttrs(a) ++ collectAttrs(b) ++ collectAttrs(c)
    case TCase(ws, o, _)  =>
      ws.flatMap { case (c, v) => collectAttrs(c) ++ collectAttrs(v) } ++ collectAttrs(o)
    case Typing.TInList(e, items, _) => collectAttrs(e) ++ items.flatMap(collectAttrs)
    case Typing.TCoalesce(items, _)  => items.flatMap(collectAttrs)
    case Typing.TIndex(e, ix, _)     => collectAttrs(e) ++ collectAttrs(ix)
    case Typing.TRange(a, b)         => collectAttrs(a) ++ collectAttrs(b)
    case Typing.TInListE(e, l, _)    => collectAttrs(e) ++ collectAttrs(l)
    case Typing.TSplit(s, sep)       => collectAttrs(s) ++ collectAttrs(sep)
    case Typing.TSlice(e, lo, hi, _) =>
      collectAttrs(e) ++ collectAttrs(lo) ++ collectAttrs(hi)
    // lambda bodies: OUTER attr references need their joins like
    // anywhere else; the lambda's own variable (TLamVar) needs none
    case Typing.TListPred(_, _, l, p) => collectAttrs(l) ++ collectAttrs(p)
    case Typing.TListComp(_, l, p, m, _) =>
      collectAttrs(l) ++ p.toSeq.flatMap(collectAttrs) ++ m.toSeq.flatMap(collectAttrs)
    case Typing.TReduce(_, init, _, l, b) =>
      collectAttrs(init) ++ collectAttrs(l) ++ collectAttrs(b)
    case _: TConst | _: Typing.TNullCheck | _: Typing.TIdFn | _: Typing.TLamVar => Nil
  }

  private def collectRetAttrs(it: RRet): Seq[TAttr] = it match {
    case RRetAttr(v, l, f, tp) => Seq(TAttr(v, l, f, tp))
    case RRetAgg(_, arg, _)    => collectRetAttrs(arg)
    case RRetExpr(te)          => collectAttrs(te)
    case _: RRetVar            => Nil
  }

  /** Bindings-seeded bounded closure — the engine's varpath path.
    *
    * The full closures (test scope: `VarPathClosure`, the exactness
    * baseline this path is pinned against) materialize the relation's
    * FULL lo..hi closure before the bindings join, so their work scales
    * with |graph|² on a dense relation even when the binding table holds
    * a handful of rows. This variant expands hop-by-hop FROM the distinct
    * bound endpoint set (the [[innerWitness]] distinct-probe trick
    * applied to the closure): per-hop work tracks the reached frontier of
    * the seeds, not the whole relation — the plan every Cypher engine
    * uses here. When the seed set IS the whole label (a varpath whose
    * bound side was itself a full label scan) the expansion degenerates
    * to exactly the full closure, so there is no regression in the
    * worst case and no coverage heuristic to tune.
    *
    * `seeds` must be a single-column frame `seed` of DISTINCT node ids
    * (NULL seeds — unmatched optional bindings — drop in the first join,
    * matching the closure path where NULL equals nothing). `seedIsSrc`
    * selects the expansion direction: seeds on the pattern's source side
    * expand forward along edges; seeds on the destination side expand
    * backward over the flipped edge frame (same frontier argument, same
    * per-hop dedup). Returns `(src, dst)` pairs of the closure restricted
    * to the seeded side — plus minimal `hops` within the window when
    * `dist` — in the PATTERN's orientation, bit-identical to the full
    * closure filtered to the seed set:
    *   - per-depth frontiers are deduped on (seed, reached) exactly like
    *     the closure's per-level (src, dst) dedup, so level d holds the
    *     same exactly-d-hop pairs restricted to seeds;
    *   - the lo = 0 identity seeds only nodes PRESENT in the label frame
    *     (left_semi against it), mirroring the closure's identity scan —
    *     a dangling binding (node deleted after bind) self-pairs in
    *     neither.
    * Scale shape: ≤ hi equi-joins of frontier × edges, each followed by
    * a pair-keyed dedup; the closing dedup / min-hops aggregate runs
    * over seed-reachable pairs only. Each intermediate frontier level is
    * consumed TWICE (its output-union branch and the next hop's join),
    * so those levels are deferred-localCheckpointed ([[Ckpt.deferred]]):
    * the level's blocks materialize once inside the query's own action
    * and both consumers read them — without this, each union branch
    * re-embeds the whole prior join chain and the edge frame is scanned
    * O(hi²) times instead of exactly hi (PlanSpec pins the residual
    * single edge scan + one LogicalRDD leaf per materialized level). */
  private[graft] def varPathReachSeeded(graph: PropertyGraph,
      key: (String, String, String), lo: Int, hi: Int,
      seeds: DataFrame, seedIsSrc: Boolean, dist: Boolean,
      undir: Boolean = false, path: Boolean = false,
      allPaths: Boolean = false): DataFrame = {
    // undirected closure (`-[:r*lo..hi]-`): walk the SYMMETRIZED edge
    // relation — each declared edge usable in either direction. No base
    // dedup (reciprocal pairs duplicate only until the depth-1 frontier's
    // pair dedup); the seedIsSrc flip is then a semantic no-op but kept
    // so the output orientation logic below stays untouched.
    //
    // `path` (round 12, named paths): additionally carry ONE canonical
    // witness node-id list per (src, dst) pair — the lexicographically
    // smallest among the MINIMAL-hop walks, in STORAGE src→dst order
    // regardless of which side seeds (append when walking forward,
    // prepend when walking reversed, so the stored array is always
    // storage-ordered and the per-level lex-min prune is canonical by
    // prefix-optimality: a lex-min k-hop walk's pruned sub-walk is
    // itself lex-min for its endpoints). Arrays ride the same frontier
    // frames; dedup becomes a groupBy min instead of dropDuplicates —
    // same single shuffle per level.
    val raw0 = graph.edges(key).select(col("src"), col("dst"))
    val raw =
      if (undir) raw0.unionByName(raw0.select(col("dst").as("src"), col("src").as("dst")))
      else raw0
    val edges0 = if (seedIsSrc) raw else raw.select(col("dst").as("src"), col("src").as("dst"))
    // Multi-hop closures consume the oriented edge frame once per
    // superstep. A STORAGE-BACKED relation re-scans in place each hop —
    // cheap, and for a bucketed store the scan's bucket alignment is
    // exactly what keeps the per-hop joins exchange-free (PlanSpec pins
    // it), so a checkpoint would be a pessimization there. A freshly
    // MUTATED relation is the opposite: its frame carries up to
    // checkpointCadence union+dedup+join layers of lineage, and
    // re-planning + re-executing that stack under AQE once per
    // superstep is quadratic — a 12-hop closure over a 12-create chain
    // took minutes (round 16). So hoist through ONE shared deferred
    // checkpoint (the library algos' loop-invariant discipline) exactly
    // when the frame's own plan does real work: any join, aggregate, or
    // set-semantics dedup in it.
    def complexPlan(df: DataFrame): Boolean = {
      import org.apache.spark.sql.catalyst.plans.{logical => L}
      df.queryExecution.optimizedPlan.exists {
        case _: L.Join | _: L.Aggregate | _: L.Deduplicate | _: L.Window => true
        case _ => false
      }
    }
    val edges =
      if (hi >= 2 && complexPlan(edges0)) graft.Ckpt.deferredShared(edges0)
      else edges0
    val identLabel = if (seedIsSrc) key._1 else key._3
    val withHops = dist || path
    val ident =
      if (lo == 0) Some {
        val self = seeds
          .join(graph.nodes(identLabel).select(col("id").as("seed")), Seq("seed"), "left_semi")
        self.select(
          Seq(col("seed").as("src"), col("seed").as("dst")) ++
            (if (withHops) Seq(lit(0L).as("hops")) else Nil) ++
            (if (path) Seq(array(col("seed")).as("path")) else Nil): _*)
      }
      else None
    // per-level pair dedup: plain distinct, or the canonical lex-min
    // witness when paths ride along (all walks at one level share the
    // hop count, so min(path) alone is the right tie-break here)
    def dedup(df: DataFrame): DataFrame =
      // allShortestPaths keeps EVERY distinct walk per pair; the single-
      // witness mode collapses to the canonical lex-min; the plain
      // closure needs only the pair
      if (allPaths) df.dropDuplicates("src", "dst", "path")
      else if (path) df.groupBy("src", "dst").agg(min("path").as("path"))
      else df.dropDuplicates("src", "dst")
    // allShortestPaths prefix prune (valid only when the window floor is
    // <= 1, i.e. per-pair minimality == global BFS minimality): a walk
    // whose endpoint pair was reached at an earlier level can neither be
    // minimal nor prefix a minimal walk (a shortest walk's prefixes are
    // shortest), so each level anti-joins the accumulated reached-pair
    // set — the frontier holds exactly the shortest-prefix walks (the
    // classic BFS-DAG enumeration) instead of every walk. With a floor
    // >= 2, window-minimal walks may ride non-shortest prefixes (e.g.
    // a 3-hop walk over a pair at distance 1), so the prune is off and
    // minimality is restored by the closing per-pair filter.
    //
    // The UNBOUNDED closure (round 16) turns the prune on for EVERY
    // mode — the converged result is the FIRST-REACH closure (plain:
    // membership; dist: BFS level = min hops; witness: prefix-optimal
    // lex-min, the same argument as the bounded single-witness prune)
    // — and the anti-join doubles as the TERMINATION argument: a
    // frontier of strictly-new pairs empties exactly at the
    // reachability fixed point. A floor lo >= 2 (round 17) does NOT
    // turn the prune off the way bounded floors do: the window is
    // recovered from the converged closure by composition (see the
    // `windowed` extension below), so the base run always prunes.
    val unbounded = hi == Typing.varPathUnbounded
    val pruned = unbounded || (allPaths && lo <= 1)
    var reached: DataFrame = null
    def prune(df: DataFrame): DataFrame =
      if (!pruned || reached == null) df
      else df.join(reached, Seq("src", "dst"), "left_anti")
    def reach(df: DataFrame): Unit =
      if (pruned) {
        val pairs = df.select(col("src"), col("dst"))
        reached = if (reached == null) pairs else reached.unionByName(pairs)
      }
    // depth-1 frontier: seeds × edges, deduped on the pair; and the
    // hop-extension step shared by the bounded unroll and the
    // convergence loop
    def level1: DataFrame =
      dedup(seeds.join(edges, seeds("seed") === edges("src"))
        .select(col("seed").as("src") +: col("dst") +:
          (if (path) Seq((if (seedIsSrc) array(col("seed"), col("dst"))
                          else array(col("dst"), col("seed"))).as("path"))
           else Nil): _*))
    def step(cur: DataFrame): DataFrame =
      dedup(cur.as("p")
        .join(edges.as("e"), col("p.dst") === col("e.src"))
        .select(col("p.src").as("src") +: col("e.dst").as("dst") +:
          (if (path) Seq((if (seedIsSrc) concat(col("p.path"), array(col("e.dst")))
                          else concat(array(col("e.dst")), col("p.path"))).as("path"))
           else Nil): _*))
    def tag(df: DataFrame, d: Int): DataFrame =
      if (withHops) df.withColumn("hops", lit(d.toLong)) else df
    val levels =
      if (hi == 0) Nil
      else if (unbounded) {
        // convergence-driven closure (round 16, VERDICT r15 item 2): no
        // unrolled depth — each superstep's frontier of strictly-new
        // pairs is one superstep of the driver, its checkpoint marked
        // shared (three consumers: the output union, the next hop's
        // join, the later levels' prunes) and its count the probe. Empty
        // frontier ⟺ the reachability fixed point; exhausting
        // varPathMaxSupersteps unconverged fails LOUDLY — never the
        // silent truncation the old default-cap spelling had. Level 1
        // joins the base closure even when empty, regardless of lo — a
        // floor >= 2 windows AFTER convergence (the `windowed`
        // composition); an empty frame is harmless.
        ident.foreach(df => reach(df))
        val (found, _) = graft.Superstep.converge(seeds.sparkSession, "unbounded variable-length path",
            Typing.varPathMaxSupersteps, hint = " — write an explicit bound")(
            List.empty[DataFrame])(identity) { (found, d) =>
          graft.Superstep.Probe(prune(found.headOption.fold(level1)(step)),
              mark = graft.Ckpt.deferredShared) { (cur, n) =>
            if (n == 0L && d > 1) graft.Superstep.Done(found)
            else { reach(cur); graft.Superstep.doneIf(n == 0L)(cur :: found) }
          }
        }
        found.reverse.zipWithIndex.map { case (cur, i) => tag(cur, i + 1) }
      }
      else {
        if (pruned) ident.foreach(df => reach(df))
        var cur = prune(level1)
        val out = List.newBuilder[DataFrame]
        // a level consumed by BOTH the output union and the next hop's
        // join is materialized once (deferred checkpoint, see scaladoc);
        // a level with a single consumer keeps its lazy plan
        def share(d: Int): Unit =
          if (d < hi && d >= lo) cur = graft.Ckpt.deferredShared(cur)
        share(1)
        reach(cur)
        if (lo <= 1) out += tag(cur, 1)
        for (d <- 2 to hi) {
          cur = prune(step(cur))
          share(d)
          reach(cur)
          if (d >= lo) out += tag(cur, d)
        }
        out.result()
      }
    val unioned = (ident.toList ++ levels).reduce(_ unionByName _)
    val closed =
      if (allPaths) {
        // prefix-pruned levels hold each pair only at its minimal level,
        // so the union IS the enumeration; an un-pruned window (lo >= 2)
        // restores per-pair minimality with one pair-keyed min filter
        if (pruned) unioned
        else unioned
          .join(unioned.groupBy("src", "dst").agg(min("hops").as("mh")),
            Seq("src", "dst"))
          .filter(col("hops") === col("mh")).drop("mh")
      }
      else if (path)
        // min over (hops, path) structs: minimal hops first, then the
        // lex-min storage-order witness among that level's candidates
        unioned.groupBy("src", "dst")
          .agg(min(struct(col("hops"), col("path"))).as("w"))
          .select(col("src"), col("dst"),
            col("w.hops").as("hops"), col("w.path").as("path"))
      else if (dist) unioned.groupBy("src", "dst").agg(min("hops").as("hops"))
      else unioned.dropDuplicates("src", "dst")
    // UNBOUNDED floor >= 2 (round 17, VERDICT r16 item 5 — formerly the
    // one spelling that silently truncated at the depth cap): the
    // window composes as step^(lo-1) OF THE CONVERGED CLOSURE. The
    // per-level step map S_d → S_{d+1} distributes over unions, so
    // step^(lo-1)(∪_{d≥1} S_d) = ∪_{d≥lo} S_d — exists-walk membership
    // is exact on any graph, cyclic included. Hops ride the steps
    // (+1 each) with the same per-pair min collapse: a window-minimal
    // walk's length-(L−lo+1) prefix is itself minimal for its endpoint
    // pair (else a shorter window walk would exist), so extending only
    // the converged minima — and, in witness modes, only their lex-min
    // (resp. all-min) walks — loses nothing. Cost: lo−1 extra
    // co-partitioned edge joins on top of the convergence run.
    val windowed =
      if (!(unbounded && lo >= 2)) closed
      else {
        var cur = closed
        for (_ <- 1 to lo - 1) {
          val j = cur.as("p").join(edges.as("e"), col("p.dst") === col("e.src"))
            .select(Seq(col("p.src").as("src"), col("e.dst").as("dst")) ++
              (if (withHops) Seq((col("p.hops") + lit(1L)).as("hops")) else Nil) ++
              (if (path) Seq((if (seedIsSrc) concat(col("p.path"), array(col("e.dst")))
                              else concat(array(col("e.dst")), col("p.path"))).as("path"))
               else Nil): _*)
          cur =
            if (allPaths) j.dropDuplicates("src", "dst", "path")
            else if (path) j.groupBy("src", "dst")
              .agg(min(struct(col("hops"), col("path"))).as("w"))
              .select(col("src"), col("dst"),
                col("w.hops").as("hops"), col("w.path").as("path"))
            else if (dist) j.groupBy("src", "dst").agg(min("hops").as("hops"))
            else j.dropDuplicates("src", "dst")
        }
        if (allPaths)
          // different origins q reach a pair at different extended
          // lengths — keep only the windowed-minimal walks per pair
          cur.join(cur.groupBy("src", "dst").agg(min("hops").as("mh")),
              Seq("src", "dst"))
            .filter(col("hops") === col("mh")).drop("mh")
        else cur
      }
    if (seedIsSrc) windowed
    else windowed.select(
      Seq(col("dst").as("src"), col("src").as("dst")) ++
        (if (withHops) Seq(col("hops")) else Nil) ++
        (if (path) Seq(col("path")) else Nil): _*)
  }

  /** Compile a typed expression to a Column tree. Integer division is
    * Spark's `div` (truncating, like OCaml's `/`, sem.ml:166) and `%`
    * keeps the dividend's sign (like OCaml `mod`, sem.ml:167). With ANSI
    * mode on, division by zero throws, matching the reference's
    * Division_by_zero. Constants are `lit` values, never program text, so
    * a string constant (a `$param` value included) is data whatever
    * characters it holds. `lams` maps each enclosing lambda variable to
    * its closure argument, Spark's own fresh lambda variable: every frame
    * column read here starts with `__`, so no column reference can
    * resolve to it. */
  private def column(te: TExpr, refs: Map[(String, String), String],
      st: ExecState, strict: Boolean): Column = {
    def go(te: TExpr, lams: Map[String, Column]): Column = {
      def c(e: TExpr): Column = go(e, lams)
      def lam(v: String, body: TExpr): Column => Column = x => go(body, lams + (v -> x))
      te match {
        case TConst(v) => valueLit(v)
        case TNullCheck(v) => col(st.colOf(v)).isNull
        // id(v): the binding column IS the id; a NULL optional binding
        // yields NULL (drops from predicates, recoverable via coalesce)
        case TIdFn(v) => col(st.colOf(v))
        case TAttr(v, _, f, tp) =>
          val a = col(refs((v, f)))
          if (!strict) a
          else {
            val raise = when(a.isNull,
              raise_error(lit(s"attribute $f not set for variable $v"))).otherwise(a)
            // rel bindings live in edgeEnv, not env — a matched edge
            // always exists, so no binding-NULL guard applies (an unset
            // edge attribute raises like an unset node attribute)
            st.env.collectFirst { case (`v`, bc) => bc } match {
              case Some(bc) if st.nullable(bc) =>
                // optional-match binding: a NULL binding means "no
                // witness", not "unset attribute" — don't raise, yield
                // NULL (the row then drops from any predicate, SQL
                // semantics), keeping optional match + attribute
                // predicates usable under the reference-parity strict
                // config (ADVICE r06)
                when(col(bc).isNull, lit(null).cast(PropertyGraph.sparkType(tp)))
                  .otherwise(raise)
              case _ => raise
            }
          }
        case TBin(op, l, r, tpB) =>
          val (a, b) = (c(l), c(r))
          op match {
            // string concatenation (typing routed string+string here;
            // Spark `+` would try numeric coercion, so concat)
            case BAadd if tpB == StringT => concat(a, b)
            case BAadd => a + b
            case BAsub => a - b
            case BAmul => a * b
            case BAdiv => call_function("div", a, b)
            case BAmod => a % b
            case BCeq => a === b
            case BCne => a =!= b
            case BCge => a >= b
            case BCgt => a > b
            case BCle => a <= b
            case BClt => a < b
            case BLand => a && b
            case BLor => a || b
            // string predicates compile to Spark's codegen'd functions
            case BSstarts => startswith(a, b)
            case BSends => endswith(a, b)
            case BScontains => contains(a, b)
            // codegen'd Java-regex find; dialect pin at [[graft.lang.BSregex]]
            case BSregex => rlike(a, b)
          }
        case TUn(op, e, _) =>
          val a = c(e)
          op match {
            case USlower => lower(a)
            case USupper => upper(a)
            case UStrim => trim(a)
            // Spark length()/size() are INT; the language's int is int64.
            // size over a LIST operand (round 11) counts elements.
            case USsize if e.tp.isInstanceOf[ListT] => size(a).cast(LongType)
            case USsize => length(a).cast(LongType)
            case UStoStr => a.cast(StringType)
            case ULnot => !a
            // int magnitude/signum (round 11); abs(Long.MinValue)
            // raises under ANSI — the strict-engine overflow rule
            case UIabs => abs(a)
            case UIsign => sign(a).cast(LongType)
            // string→int parse; non-numeric RAISES under ANSI (the
            // strict flavor of Cypher's toInteger-null)
            case UStoInt => a.cast(LongType)
          }
        case TSubstr(e1, e2, e3) =>
          // Spark's SQL substring: 1-based position, clamping, negative
          // counts from the end (substringSQL); len<=0 yields ""
          substring(c(e1), c(e2).cast(IntegerType), c(e3).cast(IntegerType))
        case TReplace(e1, e2, e3) =>
          // replace-all of literal occurrences; empty find = no-op
          replace(c(e1), c(e2), c(e3))
        case TCase((c0, v0) :: ws, otherwise, _) =>
          ws.foldLeft(when(c(c0), c(v0))) { case (acc, (cw, v)) => acc.when(c(cw), c(v)) }
            .otherwise(c(otherwise))
        case TCase(Nil, otherwise, _) => c(otherwise)
        case TInList(e, items, neg) =>
          // SQL IN with its NULL semantics: a NULL tested value (a
          // guarded optional-match attribute) yields NULL, dropping the
          // row from any predicate — under both polarities
          val in = c(e).isin(items.map(c): _*)
          if (neg) !in else in
        case TCoalesce(items, _) => coalesce(items.map(c): _*)
        case TIndex(e, ix, _) =>
          // 0-based element access (Cypher's convention; Spark's
          // GetArrayItem is 0-based); out-of-range RAISES under the
          // session's ANSI mode — the strict-engine flavor of Cypher's
          // null, pinned in GoldenSpec
          c(e)(c(ix).cast(IntegerType))
        case TRange(lo, hi) =>
          // inclusive a..b, EMPTY when a > b (Cypher's rule — Spark's
          // sequence would descend there, so guard the direction)
          val (a, b) = (c(lo), c(hi))
          when(a <= b, sequence(a, b)).otherwise(array().cast(ArrayType(LongType)))
        case TInListE(e, le, neg) =>
          val test = array_contains(c(le), c(e))
          if (neg) !test else test
        case TSplit(s2, sep) =>
          // literal-separator split: the separator is quoted the way
          // java.util.regex.Pattern.quote does it — \Q…\E, each \E inside
          // closed, escaped and reopened — so Spark's regex split treats
          // it verbatim (DuckDB's string_split is literal natively).
          // Empty separator RAISES — the two engines disagree on that
          // edge, so it is banned, not divergent.
          val (a, b) = (c(s2), c(sep))
          val quoted = concat(lit("\\Q"), replace(b, lit("\\E"), lit("\\E\\\\E\\Q")), lit("\\E"))
          when(b === lit(""), raise_error(lit("split separator must be non-empty")))
            .otherwise(split(a, quoted))
        case TSlice(e, lo, hi, _) =>
          // clamped 0-based end-exclusive slice: start = max(lo,0),
          // length = max(0, min(hi, size) - start); Spark slice is
          // 1-based with a length argument. Operands are pure, so the
          // repeated evaluation is unobservable (the CASE-duplication
          // argument from the simple-case desugar).
          val (a, h) = (c(e), c(hi))
          val start = greatest(c(lo), lit(0L))
          slice(a, (start + 1).cast(IntegerType),
            greatest(least(h, size(a)) - start, lit(0L)).cast(IntegerType))
        case TLamVar(n, _) => lams(n)
        case TListPred(kind, v, le, p) =>
          // Spark's codegen'd higher-order functions; vacuous-truth
          // semantics follow Cypher (all over [] = true, any/single = false)
          val (l, body) = (c(le), lam(v, p))
          kind match {
            case "any"    => exists(l, body)
            case "all"    => forall(l, body)
            case "none"   => !exists(l, body)
            case "single" => size(filter(l, body)) === 1
            case other    => throw new IllegalStateException(s"unreachable list predicate $other")
          }
        case TListComp(v, le, p, m, _) =>
          // filter preserves the operand's canonical ascending order; a
          // mapping arm may break monotonicity, so the result re-sorts —
          // MiniGQL lists are pure functions of their element bag
          val filtered = p.fold(c(le))(pe => filter(c(le), lam(v, pe)))
          m.fold(filtered)(me => array_sort(transform(filtered, lam(v, me))))
        case TReduce(acc, init, v, le, body) =>
          // left fold over the canonical ascending order — deterministic
          // for non-commutative bodies because the order is a value
          // property, not an execution artifact
          aggregate(c(le), c(init), (a, x) => go(body, lams + (acc -> a) + (v -> x)))
      }
    }
    go(te, Map.empty)
  }
}
