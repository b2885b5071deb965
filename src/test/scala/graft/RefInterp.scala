package graft

import graft.lang._
import graft.lang.Typing._

/** In-memory reference interpreter over the typed IR — a direct semantic
  * port of the reference's `sem.ml` fold (SURVEY.md §5.2(3), build-plan
  * M4), adjusted to the engine's documented build-to-spec deviations so
  * the two are observably equivalent:
  *
  *   - create advances the id counter by the binding row count (the spec,
  *     not the reference's `+1` bug, sem.ml:45-51), and with
  *     deterministic-ids semantics assigns ids in lexicographic row order
  *     (ties interchangeable — duplicate rows get interchangeable ids);
  *   - set evaluates per row (not first-row-only, sem.ml:372) and
  *     resolves conflicting per-node values by max;
  *   - delete drops every column bound to the deleted variable.
  *
  * The binding table is a column-appended list of Long vectors, mirroring
  * the engine's internal-column layout, so the deterministic-id sort
  * order coincides exactly.
  */
object RefInterp {

  /** NULL sentinel for optional-match bindings: the engine binds SQL
    * NULL; this Long-row interpreter uses a reserved id no create can
    * reach (ids are allocated upward from 0). */
  val NullId: Long = Long.MinValue

  final case class Node(label: String, attrs: Map[String, Value])
  final case class St(
      nodes: Map[Long, Node],
      edges: Set[(Long, String, Long)],
      env: List[(String, Int)], // var → column index, latest binding first
      width: Int,
      rows: List[Vector[Long]],
      next: Long,
      /** Edge attributes (round-10): (src, relLabel, dst) → attrs. */
      eattrs: Map[(Long, String, Long), Map[String, Value]] = Map.empty,
      /** Rel bindings: var → (srcColIdx, dstColIdx) — aliases of the
        * endpoint columns, mirroring Engine.ExecState.edgeEnv. */
      edgeEnv: List[(String, (Int, Int))] = Nil) {
    def colOf(v: String): Int = env.collectFirst { case (`v`, c) => c }.get
    def edgeColsOf(v: String): (Int, Int) =
      edgeEnv.collectFirst { case (`v`, cs) => cs }.get
  }

  final case class Result(
      nodes: Map[Long, Node],
      edges: Set[(Long, String, Long)],
      header: List[String],
      rows: List[List[Long]],
      eattrs: Map[(Long, String, Long), Map[String, Value]] = Map.empty)

  def run(tp: TypedProg, firstId: Long = 0L): Result =
    runOn(tp, Map.empty, Set.empty, firstId)

  /** [[run]] against a PRE-BUILT graph (the Engine.runSourceOn twin) —
    * lets the differential harness replay read-only union queries over a
    * graph a previous program built. */
  def runOn(tp: TypedProg, nodes0: Map[Long, Node],
      edges0: Set[(Long, String, Long)], firstId: Long,
      eattrs0: Map[(Long, String, Long), Map[String, Value]] = Map.empty): Result = {
    // union branches (typing reassembled them around RUnion markers):
    // each a standalone read-only query; results bag-unioned or deduped
    val parts: List[List[RInstr]] = {
      val out = List.newBuilder[List[RInstr]]
      var cur = List.newBuilder[RInstr]
      tp.instrs.foreach {
        case RUnion(_) => out += cur.result(); cur = List.newBuilder
        case in        => cur += in
      }
      out += cur.result()
      out.result()
    }
    def runBranch(instrs: List[RInstr]): Result = {
      val fin = instrs.foldLeft(
        St(nodes0, edges0, Nil, 0, List(Vector.empty), firstId, eattrs0))(exec)
      // Engine output: distinct vars, latest binding, latest-first order;
      // `%`-prefixed bindings are engine-internal (named-path segments,
      // `%rels_`/`%label_` companions) — hidden like Engine.finalProject
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      val outCols = fin.env.flatMap { case (v, c) =>
        if (!v.startsWith("%") && seen.add(v)) Some((v, c)) else None }
      Result(fin.nodes, fin.edges, outCols.map(_._1),
        fin.rows.map(r => outCols.map { case (_, c) => r(c) }), fin.eattrs)
    }
    val results = parts.map(runBranch)
    if (results.sizeIs == 1) results.head
    else {
      val all = tp.instrs.collectFirst { case RUnion(a) => a }.get
      val rows = results.flatMap(_.rows)
      // read-only branches: every branch saw the same (initial) graph
      results.head.copy(rows = if (all) rows else rows.distinct)
    }
  }

  private def exec(st: St, in: RInstr): St = {
    // shared by the labeled and unlabeled delete cases below
    def deleteNodeBinding(v: String): St = {
      // latest binding first (engine parity: Engine.RDeleteNode cs.head);
      // a Set.head would have arbitrary order beyond 4 elements
        val colsList = st.env.collect { case (`v`, c) => c }
        val cols = colsList.toSet
        val doomed = st.rows.map(r => r(colsList.head)).toSet
        val keptIdx = (0 until st.width).filterNot(cols).toVector
        val remap = keptIdx.zipWithIndex.toMap
        st.copy(
          nodes = st.nodes -- doomed,
          edges = st.edges.filterNot { case (s, _, t) => doomed(s) || doomed(t) },
          eattrs = st.eattrs.filterNot { case ((s, _, t), _) => doomed(s) || doomed(t) },
          env = st.env.collect { case (w, c) if w != v && remap.contains(c) => (w, remap(c)) },
          // rel bindings referencing a dropped column retire (engine parity)
          edgeEnv = st.edgeEnv.collect {
            case (x, (a, b)) if remap.contains(a) && remap.contains(b) =>
              (x, (remap(a), remap(b)))
          },
          width = keptIdx.size,
          rows = st.rows.map(r => keptIdx.map(r)))
    }
    in match {
    case RCreateNode(v, lb) =>
      // deterministic ids: number rows in lexicographic order
      val ordered = st.rows.sortBy(identity)(VecOrd)
      val withIds = ordered.zipWithIndex.map { case (r, i) => r :+ (st.next + i) }
      val created = withIds.map(_.last -> Node(lb, Map.empty))
      st.copy(nodes = st.nodes ++ created, env = (v, st.width) :: st.env,
        width = st.width + 1, rows = withIds, next = st.next + withIds.size)

    case RMatchNode(v, lb) =>
      val ids = st.nodes.collect { case (id, n) if n.label == lb => id }.toList.sorted
      st.copy(env = (v, st.width) :: st.env, width = st.width + 1,
        rows = for (r <- st.rows; id <- ids) yield r :+ id)

    case Typing.RMatchAnyNode(v) =>
      // unlabeled match (round 14): every node regardless of label. The
      // engine's string-typed `%label_` companion is encoded here as
      // the label's SORTED-SCHEMA index — this Long-row model has no
      // strings, and the injective code behaves identically through
      // with-projection, distinct and grouping; label() itself folds at
      // typing only after narrowing, and the differential generator
      // never draws a raw label() read (output would mix code/string)
      val labels = st.nodes.values.map(_.label).toList.distinct.sorted
      val ids = st.nodes.toList.sortBy(_._1)
      st.copy(env = (s"%label_$v", st.width + 1) :: (v, st.width) :: st.env,
        width = st.width + 2,
        rows = for (r <- st.rows; (id, nd) <- ids)
          yield r :+ id :+ labels.indexOf(nd.label).toLong)

    case RCreateEdge(sv, _, rl, tv, _, props) =>
      val (cs, ct) = (st.colOf(sv), st.colOf(tv))
      // set semantics: existing pairs keep their stored attrs
      // (re-create is a no-op); NEW pairs take per-row prop values,
      // conflicts across creating rows resolved by max (node-set rule)
      val newAttrs = st.rows
        .map(r => (r(cs), rl, r(ct)) -> props.map { case (f, _, te) =>
          f -> eval(st, r, te) }.toMap)
        .filterNot { case (k, _) => st.edges(k) }
        .groupBy(_._1)
        .map { case (k, kvs) =>
          k -> kvs.map(_._2).reduce((a, b) =>
            (a.keySet ++ b.keySet).map { f =>
              f -> ((a.get(f), b.get(f)) match {
                case (Some(x), Some(y)) => valueMax(x, y)
                case (x, y)             => x.orElse(y).get
              })
            }.toMap)
        }
      st.copy(edges = st.edges ++ st.rows.map(r => (r(cs), rl, r(ct))),
        eattrs = st.eattrs ++ newAttrs)

    case RMatchEdge(sv, _, rl, tv, _, rv) =>
      val (cs, ct) = (st.colOf(sv), st.colOf(tv))
      st.copy(rows = st.rows.filter(r => st.edges((r(cs), rl, r(ct)))),
        edgeEnv = rv.fold(st.edgeEnv)(x => (x, (cs, ct)) :: st.edgeEnv))

    case RMatchEdgeAlt(sv, _, tv, _, frames) =>
      // any-of existence over the resolved frames (flipped = reverse
      // orientation); per-pair semantics like every match
      val (cs, ct) = (st.colOf(sv), st.colOf(tv))
      st.copy(rows = st.rows.filter(r => frames.exists {
        case ((_, l, _), flipped) =>
          if (flipped) st.edges((r(ct), l, r(cs)))
          else st.edges((r(cs), l, r(ct)))
      }))

    case RMatchEdgeUndir(sv, _, rl, tv, _, _, _) =>
      // either-direction existence (the model ignores labels, so the
      // declared-orientation flags are moot here)
      val (cs, ct) = (st.colOf(sv), st.colOf(tv))
      st.copy(rows = st.rows.filter(r =>
        st.edges((r(cs), rl, r(ct))) || st.edges((r(ct), rl, r(cs)))))

    case RDeleteNode(v, _) => deleteNodeBinding(v)

    case Typing.RDeleteAnyNode(v) =>
      // unlabeled delete (round 14): this model already deletes by id
      // plus ALL incident edges regardless of label — the same fold
      deleteNodeBinding(v)

    case RDeleteEdge(sv, _, rl, tv, _) =>
      val (cs, ct) = (st.colOf(sv), st.colOf(tv))
      val victims = st.rows.map(r => (r(cs), rl, r(ct)))
      st.copy(edges = st.edges -- victims, eattrs = st.eattrs -- victims)

    case RSetEdge(v, (_, rl, _), f, _, te) =>
      // join-update mirror: per-row evaluation over the bound pairs,
      // max conflict resolution; pairs whose edge was deleted since the
      // match are a no-op (the engine's left join misses them)
      val (ca, cb) = st.edgeColsOf(v)
      val perEdge = st.rows.groupBy(r => (r(ca), rl, r(cb)))
        .filter { case (k, _) => st.edges(k) }
        .map { case (k, rs) => k -> rs.map(r => eval(st, r, te)).reduce(valueMax) }
      st.copy(eattrs = st.eattrs ++ perEdge.map { case (k, value) =>
        k -> (st.eattrs.getOrElse(k, Map.empty) + (f -> value))
      })

    case RDeleteEdgeBinding(v, (_, rl, _)) =>
      val (ca, cb) = st.edgeColsOf(v)
      val victims = st.rows.map(r => (r(ca), rl, r(cb)))
      st.copy(edges = st.edges -- victims, eattrs = st.eattrs -- victims,
        edgeEnv = st.edgeEnv.filterNot(_._1 == v))

    case RReturn(vs) =>
      // env in vs order (the engine's RReturn rebuilds env as the return
      // list, and its final projection walks env in list order)
      val cols = vs.map(st.colOf)
      st.copy(env = vs.zipWithIndex, width = vs.size,
        rows = st.rows.map(r => cols.map(r).toVector), edgeEnv = Nil)

    case RWhere(te) =>
      st.copy(rows = st.rows.filter(r => eval(st, r, te) == BoolV(true)))

    case RMergeNode(v, lb, props, onCreate, onMatch) =>
      // match-or-create-one (see Merge scaladoc): unset attrs never
      // match; exactly one conditional action list fires (round 11),
      // re-entering the ordinary set path on the post-merge state
      val matches = st.nodes.collect {
        case (id, n) if n.label == lb &&
          props.forall { case (f, value) => n.attrs.get(f).contains(value) } => id
      }.toList.sorted
      if (matches.nonEmpty)
        onMatch.foldLeft(st.copy(env = (v, st.width) :: st.env,
          width = st.width + 1,
          rows = for (r <- st.rows; id <- matches) yield r :+ id))(exec)
      else if (st.rows.isEmpty)
        st.copy(env = (v, st.width) :: st.env, width = st.width + 1)
      else {
        val id = st.next
        onCreate.foldLeft(st.copy(nodes = st.nodes + (id -> Node(lb, props.toMap)),
          env = (v, st.width) :: st.env, width = st.width + 1,
          rows = st.rows.map(_ :+ id), next = id + 1))(exec)
      }

    case RVarPath(sv, (hl, rl, _), lo, hi, tv, dist, undir, pathV, _) =>
      // named paths bind a LIST — outside this interpreter's Long-row
      // model (the differential generator never draws them; GoldenSpec
      // and the DuckDB oracle cover them instead)
      require(pathV.isEmpty, "RefInterp: named paths not modeled")
      // bounded closure over the rl edges, set semantics per level —
      // mirrors VarPathClosure.varPathReach (incl. the lo = 0 identity seed over
      // every node of the homogeneous label); with a distance binding,
      // per-pair MINIMAL depth within the window (first-seen level wins,
      // levels ascending — mirrors VarPathClosure.varPathReachDist's min).
      // Undirected closures walk the symmetrized edge set, mirroring
      // varPathReachSeeded's undir union.
      val (cs, ct) = (st.colOf(sv), st.colOf(tv))
      val e1dir = st.edges.collect { case (s, `rl`, t) => (s, t) }
      val e1 = if (undir) e1dir ++ e1dir.map { case (s, t) => (t, s) } else e1dir
      val minD = scala.collection.mutable.Map.empty[(Long, Long), Long]
      if (lo == 0) st.nodes.foreach { case (id, n) =>
        if (n.label == hl) minD.getOrElseUpdate((id, id), 0L) }
      var cur = e1
      if (lo <= 1 && hi >= 1) e1.foreach(p => minD.getOrElseUpdate(p, 1L))
      for (d <- 2 to hi) {
        cur = for ((s, m) <- cur; (m2, t) <- e1 if m2 == m) yield (s, t)
        if (d >= lo) cur.foreach(p => minD.getOrElseUpdate(p, d.toLong))
      }
      dist match {
        case None =>
          st.copy(rows = st.rows.filter(r => minD.contains((r(cs), r(ct)))))
        case Some(d) =>
          val kept = st.rows.flatMap { r =>
            minD.get((r(cs), r(ct))).map(h => r :+ h)
          }
          st.copy(env = (d, st.width) :: st.env, width = st.width + 1, rows = kept)
      }

    case RExists(inner, bound) =>
      // positive pattern predicate: keep rows WITH a witness (the
      // left_semi mirror of RNotExists below); row multiplicity
      // preserved — the witness count never multiplies the row
      val idxE = bound.map(st.colOf)
      val probeE = st.rows.map(r => idxE.map(r).toVector).distinct
      val subE = St(st.nodes, st.edges, bound.zipWithIndex, bound.size, probeE, st.next, st.eattrs)
      val witnessE = inner.foldLeft(subE)(exec).rows.map(_.take(bound.size)).toSet
      st.copy(rows = st.rows.filter(r => witnessE(idxE.map(r).toVector)))

    case RNotExists(inner, bound) =>
      // existential check per distinct bound tuple: interpret the inner
      // pattern over a probe table of the bound columns, keep outer rows
      // whose tuple produced NO witness — mirrors Engine's left_anti
      // over the witness frame
      val idx = bound.map(st.colOf)
      val probe = st.rows.map(r => idx.map(r).toVector).distinct
      val sub0 = St(st.nodes, st.edges, bound.zipWithIndex, bound.size, probe, st.next, st.eattrs)
      val witness = inner.foldLeft(sub0)(exec).rows.map(_.take(bound.size)).toSet
      st.copy(rows = st.rows.filterNot(r => witness(idx.map(r).toVector)))

    case ROptPath(inner, bound, freshVars) =>
      // All-or-nothing witness expansion, mirroring Engine.ROptPath: run
      // the inner pattern over the DISTINCT bound tuples, left-join the
      // witnesses back — one row per witness; a tuple with no complete
      // witness binds every fresh var to [[NullId]] (never a partial
      // path). A NullId bound column (an earlier unmatched optional)
      // matches no witness — edges never contain the sentinel — and
      // binds NullId again, like the engine's null-never-equals join.
      val idx = bound.map(st.colOf)
      val probe = st.rows.map(r => idx.map(r).toVector).distinct
      val sub0 = St(st.nodes, st.edges, bound.zipWithIndex, bound.size, probe, st.next, st.eattrs)
      val sub = inner.foldLeft(sub0)(exec)
      val freshIdx = freshVars.map { case (v, _) => sub.colOf(v) }.distinct
      val wmap = sub.rows.groupBy(_.take(bound.size))
        .map { case (k, rs) => k -> rs.map(r => freshIdx.map(r).toVector) }
      val nulls = List(freshIdx.map(_ => NullId).toVector)
      val newRows = st.rows.flatMap { r =>
        wmap.getOrElse(idx.map(r).toVector, nulls).map(w => r ++ w)
      }
      st.copy(
        env = freshVars.reverse.map { case (v, _) =>
          (v, st.width + freshIdx.indexOf(sub.colOf(v))) } ::: st.env,
        width = st.width + freshIdx.size,
        rows = newRows)

    case _: RReturnExt | _: RUnwindVar | _: RUnwindExpr =>
      // extended return / list-binding unwind emit or consume non-Long
      // columns — outside this interpreter's Long-row model and its
      // reference-parity scope (GoldenSpec pins them in-JVM, the DuckDB
      // oracle end-to-end)
      throw new UnsupportedOperationException(
        "engine extension not supported by the reference-parity interpreter")

    case RWith(aliasedItems, order, skip, limit, distinct) =>
      // Mid-query `with`, mirroring Engine.RWith: only Long-valued items
      // (vars, int attributes, aggregates) fit the Long-row model — the
      // differential generator emits exactly those; a string/bool attr
      // item is outside scope like RReturnExt.
      val items = aliasedItems.map(_._1)
      // leaf value per row; None = NULL (engine SQL NULL ≙ NullId)
      def leaf(r: Vector[Long], it: RRet): Option[Long] = it match {
        case RRetVar(v) =>
          val x = r(st.colOf(v)); if (x == NullId) None else Some(x)
        case RRetAttr(v, lbl, f, tp) =>
          if (tp != IntT) throw new UnsupportedOperationException(
            "non-int with item not supported by the Long-row interpreter")
          val id = r(st.colOf(v))
          if (id == NullId) None
          else if (Typing.isVirtual(lbl)) Some(id) // the binding IS the value
          else st.nodes(id).attrs.get(f) match {
            case Some(IntV(i)) => Some(i)
            case Some(other)   => throw new IllegalStateException(s"non-int attr value $other")
            case None => throw new IllegalStateException(s"attribute $f not set for $v")
          }
        case RRetExpr(te) =>
          // full-expression item / order key / aggregate argument
          // (round 10 continued): int-only in the Long-row model, like
          // attr items — the generator draws exactly int exprs
          eval(st, r, te) match {
            case IntV(i) => Some(i)
            case other => throw new UnsupportedOperationException(
              s"non-int with expression not supported by the Long-row interpreter: $other")
          }
        case _: RRetAgg => throw new IllegalStateException("agg leaf")
      }
      // NULL leaves are excluded BEFORE aggregation (Spark agg skips
      // NULL inputs); sum/min/max/avg of an empty set are NULL, count 0
      def aggVal(fn: AggFn, vals: List[Long], dist: Boolean): Option[Long] = {
        val xs = if (dist) vals.distinct else vals
        fn match {
          case AggCount => Some(xs.size.toLong)
          case AggSum   => if (xs.isEmpty) None else Some(xs.sum)
          case AggMin   => if (xs.isEmpty) None else Some(xs.min)
          case AggMax   => if (xs.isEmpty) None else Some(xs.max)
          // truncating int64 division — Engine routes through
          // IntegralDivide, same quotient for all exact int64 sums
          case AggAvg   => if (xs.isEmpty) None else Some(xs.sum / xs.size)
          // LOW median: element (n-1)/2 of the ascending sort
          case AggMedian =>
            if (xs.isEmpty) None else Some(xs.sorted.apply((xs.size - 1) / 2))
          case AggStrJoin | AggCollect => throw new UnsupportedOperationException(
            "string/list aggregate not supported by the Long-row interpreter")
        }
      }
      def out(o: Option[Long]): Long = o.getOrElse(NullId)
      // multi-key sort with the engine's NULL placement: NullId =
      // Long.MinValue sorts first asc / last desc, exactly Spark's
      // NULLS FIRST (asc) / NULLS LAST (desc) defaults
      def sortKeyed(xs: List[(List[Long], Vector[Long])]): List[Vector[Long]] =
        (if (order.isEmpty) xs
         else xs.sortWith { (a, b) =>
           var res = 0
           val it = a._1.iterator.zip(b._1.iterator).zip(order.iterator.map(_._2))
           while (res == 0 && it.hasNext) {
             val ((x, y), asc) = it.next()
             val c = java.lang.Long.compare(x, y)
             res = if (asc) c else -c
           }
           res < 0
         }).map(_._2)
      def limited(rows: List[Vector[Long]]): List[Vector[Long]] = {
        // skip drops AFTER ordering, BEFORE limit (Cypher OFFSET order)
        val skipped = skip.fold(rows)(n => rows.drop(n.toInt))
        limit.fold(skipped)(n => skipped.take(n.toInt))
      }
      val hasAgg = items.exists(_.isInstanceOf[RRetAgg])
      val shaped: List[Vector[Long]] =
        if (!hasAgg && !distinct) {
          // engine orders PRE-projection (keys may be non-item exprs)
          val keyed = st.rows.map { r =>
            (order.map { case (k, _) => out(leaf(r, k)) },
             items.map(it => out(leaf(r, it))).toVector)
          }
          limited(sortKeyed(keyed))
        } else if (!hasAgg) {
          // distinct: project → dedup → order on item positions
          // (typing guarantees order keys are items)
          val projected =
            st.rows.map(r => items.map(it => out(leaf(r, it))).toVector).distinct
          limited(sortKeyed(projected.map(r =>
            (order.map { case (k, _) => r(items.indexOf(k)) }, r))))
        } else {
          // plain items are the grouping keys; ZERO plain items =
          // global aggregate — exactly one row even over no input,
          // like Spark's df.groupBy().agg
          val plainIdx = items.zipWithIndex.collect {
            case (it @ (_: RRetVar | _: RRetAttr | _: RRetExpr), i) => (it, i) }
          val groups: List[(Vector[Long], List[Vector[Long]])] =
            if (plainIdx.isEmpty) List(Vector.empty[Long] -> st.rows)
            else st.rows.groupBy(r =>
              plainIdx.map { case (it, _) => out(leaf(r, it)) }.toVector).toList
          val outRows = groups.map { case (key, rs) =>
            items.zipWithIndex.map {
              case (_: RRetVar | _: RRetAttr | _: RRetExpr, i) =>
                key(plainIdx.indexWhere(_._2 == i))
              case (RRetAgg(fn, arg, dist), _) =>
                out(aggVal(fn, rs.flatMap(r => leaf(r, arg)), dist))
            }.toVector
          }
          limited(sortKeyed(outRows.map(r =>
            (order.map { case (k, _) => r(items.indexOf(k)) }, r))))
        }
      st.copy(env = aliasedItems.map(_._2).zipWithIndex,
        width = items.size, rows = shaped, edgeEnv = Nil)

    case RUnwind(tes, alias, tp) =>
      // per row, one output row per element, in element order —
      // mirrors Engine's explode(array(…)); int-only in the Long-row
      // model (the differential generator emits exactly that)
      if (tp != IntT) throw new UnsupportedOperationException(
        "non-int unwind not supported by the Long-row interpreter")
      val rows2 = st.rows.flatMap { r =>
        tes.map { te =>
          r :+ (eval(st, r, te) match {
            case IntV(i) => i
            case other   => throw new IllegalStateException(s"non-int unwind value $other")
          })
        }
      }
      st.copy(env = (alias, st.width) :: st.env, width = st.width + 1,
        rows = rows2)

    case RUnion(_) =>
      throw new IllegalStateException(
        "union marker reached the instruction fold — run() splits branches")

    case RRemove(v, _, f) =>
      // unset on every bound node (NULL sentinel bindings bind nothing)
      val ids = st.rows.map(r => r(st.colOf(v))).filter(_ != NullId).toSet
      st.copy(nodes = st.nodes.map { case (id, n) =>
        if (ids(id)) id -> n.copy(attrs = n.attrs - f) else id -> n })

    case RRemoveEdge(v, key, f) =>
      val (cs, ct) = st.edgeColsOf(v)
      val pairs = st.rows.map(r => (r(cs), key._2, r(ct)))
        .filter(p => p._1 != NullId && p._3 != NullId).toSet
      st.copy(eattrs = st.eattrs.map { case (k, m) =>
        if (pairs(k)) k -> (m - f) else k -> m })

    case _: RCallProc =>
      // differential generation never emits call: the procedures are
      // iterative whole-graph analytics (cc/pagerank/…) whose oracle is
      // the per-query unrolled-recurrence SQL, not this row interpreter
      throw new UnsupportedOperationException(
        "RefInterp does not model call procedures (oracle-checked per query)")

    case _: Typing.RCallSub =>
      throw new UnsupportedOperationException(
        "RefInterp does not model call subqueries (oracle-checked per query)")

    case _: RNamedPath =>
      // named paths bind LISTS — outside the Long-row model, like the
      // RVarPath pathV form above (DuckDB oracles cover them)
      throw new UnsupportedOperationException(
        "RefInterp does not model named paths (oracle-checked per query)")

    case RSet(v, _, f, _, te) =>
      val c = st.colOf(v)
      // bindings dangling after a delete no-op, like the engine's
      // join-update (documented deviation; the reference would crash)
      val perNode = st.rows.groupBy(r => r(c))
        .filter { case (id, _) => st.nodes.contains(id) }
        .map { case (id, rs) =>
          id -> rs.map(r => eval(st, r, te)).reduce(valueMax)
        }
      st.copy(nodes = st.nodes ++ perNode.map { case (id, value) =>
        id -> st.nodes(id).copy(attrs = st.nodes(id).attrs.updated(f, value))
      })
    }
  }

  /** Same ordering Spark's max() uses per type (values are same-typed
    * by the type checker). */
  private def valueMax(a: Value, b: Value): Value = (a, b) match {
    case (IntV(x), IntV(y))       => IntV(math.max(x, y))
    case (StringV(x), StringV(y)) => if (x >= y) a else b
    case (BoolV(x), BoolV(y))     => BoolV(x || y)
    case _                        => throw new IllegalStateException("mixed-type set values")
  }

  private def eval(st: St, row: Vector[Long], te: TExpr): Value = te match {
    case TConst(v) => v
    case TNullCheck(v) => BoolV(row(st.colOf(v)) == NullId)
    case Typing.TIdFn(v) =>
      // engine: NULL binding → NULL id; only the coalesce leg below may
      // read one, so a bare NullId read here is a generator bug
      if (row(st.colOf(v)) == NullId)
        throw new IllegalStateException(
          s"id($v) on a NULL binding — extend eval to model NULL semantics")
      IntV(row(st.colOf(v)))
    case TAttr(v, lbl, f, _) if Typing.isRelLabel(lbl) =>
      // edge attribute through a rel binding: (src, rel, dst) lookup
      val (ca, cb) = st.edgeColsOf(v)
      val rl = Typing.relKeyOf(lbl)._2
      st.eattrs.getOrElse((row(ca), rl, row(cb)), Map.empty).getOrElse(f,
        throw new IllegalStateException(s"edge attribute $f not set for $v"))
    case TAttr(v, lbl, _, _) if Typing.isVirtual(lbl) =>
      // a virtual binding's attribute (d.hops, cnt.val) IS its column
      // value; guard the NULL sentinel so a future generator extension
      // (optional varpath distances, nullable with-scalars) cannot
      // silently compare Long.MinValue as a real value (ADVICE r08)
      if (row(st.colOf(v)) == NullId)
        throw new IllegalStateException(
          s"virtual binding $v is NULL — extend eval to model NULL semantics")
      IntV(row(st.colOf(v)))
    case TAttr(v, _, f, _) =>
      st.nodes(row(st.colOf(v))).attrs.getOrElse(f,
        throw new IllegalStateException(s"attribute $f not set for $v"))
    case TBin(op, l, r, _) =>
      (eval(st, row, l), eval(st, row, r)) match {
        case (IntV(a), IntV(b)) => op match {
          case BAadd => IntV(a + b)
          case BAsub => IntV(a - b)
          case BAmul => IntV(a * b)
          case BAdiv => IntV(a / b) // truncating, like OCaml and Spark `div`
          case BAmod => IntV(a % b) // dividend sign, like OCaml and Spark `%`
          case BCeq => BoolV(a == b); case BCne => BoolV(a != b)
          case BCge => BoolV(a >= b); case BCgt => BoolV(a > b)
          case BCle => BoolV(a <= b); case BClt => BoolV(a < b)
          case _ => throw new IllegalStateException(s"bad int op $op")
        }
        case (StringV(a), StringV(b)) => op match {
          case BCeq => BoolV(a == b); case BCne => BoolV(a != b)
          case BAadd      => StringV(a + b) // concat (round 10)
          case BSstarts   => BoolV(a.startsWith(b))
          case BSends     => BoolV(a.endsWith(b))
          case BScontains => BoolV(a.contains(b))
          // find semantics, same as Spark RLIKE (both java.util.regex)
          case BSregex    => BoolV(java.util.regex.Pattern.compile(b).matcher(a).find())
          case _ => throw new IllegalStateException(s"bad string op $op")
        }
        case (BoolV(a), BoolV(b)) => op match {
          case BLand => BoolV(a && b); case BLor => BoolV(a || b)
          case BCeq => BoolV(a == b); case BCne => BoolV(a != b)
          case _ => throw new IllegalStateException(s"bad bool op $op")
        }
        case other => throw new IllegalStateException(s"type error at runtime: $other")
      }
    case TUn(ULnot, e, _) =>
      eval(st, row, e) match {
        case BoolV(b) => BoolV(!b)
        case other    => throw new IllegalStateException(s"not on $other")
      }
    case TUn(UStoStr, e, _) =>
      eval(st, row, e) match {
        case IntV(i)    => StringV(i.toString)
        case BoolV(b)   => StringV(if (b) "true" else "false")
        case s: StringV => s
      }
    case TUn(UIabs, e, _) =>
      eval(st, row, e) match {
        case IntV(i) =>
          // engine ANSI rule: abs(Long.MinValue) overflows and raises
          if (i == Long.MinValue)
            throw new ArithmeticException("abs overflow on Long.MinValue")
          IntV(math.abs(i))
        case other => throw new IllegalStateException(s"abs on $other")
      }
    case TUn(UIsign, e, _) =>
      eval(st, row, e) match {
        case IntV(i) => IntV(java.lang.Long.signum(i).toLong)
        case other   => throw new IllegalStateException(s"sign on $other")
      }
    case TUn(op, e, _) =>
      eval(st, row, e) match {
        case StringV(a) => op match {
          // Locale.ROOT case mapping and ASCII-space trim: exactly
          // Spark's UTF8String semantics on the generator's charset
          case USlower => StringV(a.toLowerCase(java.util.Locale.ROOT))
          case USupper => StringV(a.toUpperCase(java.util.Locale.ROOT))
          case UStrim  => StringV(a.replaceAll("^ +| +$", ""))
          case USsize  => IntV(a.codePointCount(0, a.length).toLong)
          case UStoStr => StringV(a) // handled above; exhaustiveness
          // Spark ANSI cast trims surrounding whitespace, then raises
          // on anything that is not an optionally-signed decimal
          case UStoInt => IntV(java.lang.Long.parseLong(a.trim))
          case ULnot   => throw new IllegalStateException("not on a string")
          case UIabs | UIsign => throw new IllegalStateException(s"$op on a string")
        }
        case other => throw new IllegalStateException(s"string fn on $other")
      }
    case TSubstr(e1, e2, e3) =>
      (eval(st, row, e1), eval(st, row, e2), eval(st, row, e3)) match {
        case (StringV(a), IntV(pos), IntV(len)) =>
          // Spark UTF8String.substringSQL: 1-based; pos 0 acts like 1;
          // negative pos counts from the end. The end is computed from
          // the UNCLAMPED start (so substring("abc", 0-5, 2) is "",
          // not "ab"), then both bounds clamp; len<=0 yields ""
          val n = a.length.toLong // ASCII corpus: chars == codepoints
          val rawStart =
            if (pos > 0) pos - 1 else if (pos < 0) n + pos else 0L
          val rawEnd = rawStart + len
          val from = math.max(rawStart, 0L)
          val until = math.min(rawEnd, n)
          StringV(if (from >= until) "" else a.substring(from.toInt, until.toInt))
        case other => throw new IllegalStateException(s"substring on $other")
      }
    case TReplace(e1, e2, e3) =>
      (eval(st, row, e1), eval(st, row, e2), eval(st, row, e3)) match {
        case (StringV(a), StringV(f), StringV(r)) =>
          // Spark StringReplace: empty search leaves the string as-is
          // (Java's replace would interleave r at every position)
          StringV(if (f.isEmpty) a else a.replace(f, r))
        case other => throw new IllegalStateException(s"replace on $other")
      }
    case TCase(whens, otherwise, _) =>
      whens.collectFirst {
        case (c, v) if eval(st, row, c) == BoolV(true) => eval(st, row, v)
      }.getOrElse(eval(st, row, otherwise))
    case Typing.TInList(e, items, neg) =>
      // the generator draws non-nullable operands, so plain equality
      // models SQL IN here (the engine's NULL-drop leg has no
      // counterpart in the Long-row model)
      val v = eval(st, row, e)
      val hit = items.exists(it => eval(st, row, it) == v)
      BoolV(if (neg) !hit else hit)
    case Typing.TCoalesce(items, _) =>
      // NULL enters only through a guarded optional-match attribute:
      // model exactly that leg (a NullId binding skips the argument);
      // every other argument evaluates to a real value
      items.iterator.flatMap {
        case Typing.TAttr(v, lbl, _, _)
            if !Typing.isRelLabel(lbl) && !Typing.isVirtual(lbl) &&
               row(st.colOf(v)) == NullId => None
        case Typing.TIdFn(v) if row(st.colOf(v)) == NullId => None
        case it => Some(eval(st, row, it))
      }.nextOption().getOrElse(
        throw new IllegalStateException("all coalesce arguments NULL"))
    case _: Typing.TIndex | _: Typing.TRange | _: Typing.TInListE |
         _: Typing.TLamVar | _: Typing.TListPred | _: Typing.TListComp |
         _: Typing.TReduce | _: Typing.TSplit | _: Typing.TSlice =>
      // list values live outside the Long-row model (like RReturnExt);
      // the generator never draws them
      throw new UnsupportedOperationException(
        "list values not supported by the Long-row interpreter")
  }

  private object VecOrd extends Ordering[Vector[Long]] {
    def compare(a: Vector[Long], b: Vector[Long]): Int = {
      var i = 0
      while (i < a.length && i < b.length) {
        val c = java.lang.Long.compare(a(i), b(i))
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }
}
