package graft.lang

/** Static analysis: schema validation + instruction type-checking, rules per
  * the reference (/root/reference/graphDB/lib/typing.ml:57-319).
  *
  * Variable re-binding is allowed and shadows (typing.ml:216, add_var
  * prepends at typing.ml:19-20) — `test2.q` relies on it. Ordering
  * comparisons (< <= > >=) are int-only, matching the reference *runtime*
  * (sem.ml:169-172) which is stricter than its type checker; rejecting at
  * analysis time is cleaner than reproducing the runtime crash.
  *
  * Output is a RESOLVED program: every variable occurrence is annotated with
  * its node label and every attribute access with its declared type, so the
  * executor does no name resolution.
  */
object Typing {

  // --- resolved (typed) expressions ---
  sealed trait TExpr extends Product with Serializable { def tp: AttribTp }
  final case class TConst(v: Value) extends TExpr {
    def tp: AttribTp = v match {
      case _: BoolV   => BoolT
      case _: IntV    => IntT
      case _: StringV => StringT
    }
  }
  final case class TAttr(v: String, label: String, field: String, tp: AttribTp) extends TExpr
  final case class TBin(op: BinOp, l: TExpr, r: TExpr, tp: AttribTp) extends TExpr
  final case class TUn(op: UnOp, e: TExpr, tp: AttribTp) extends TExpr
  final case class TSubstr(s: TExpr, pos: TExpr, len: TExpr) extends TExpr {
    def tp: AttribTp = StringT
  }
  final case class TReplace(s: TExpr, find: TExpr, repl: TExpr) extends TExpr {
    def tp: AttribTp = StringT
  }
  final case class TCase(whens: List[(TExpr, TExpr)], otherwise: TExpr,
      tp: AttribTp) extends TExpr
  /** `null(v)` — binding-null test (extension; see [[ROptMatch]]). */
  final case class TNullCheck(v: String) extends TExpr { def tp: AttribTp = BoolT }
  /** `id(v)` — the node binding's id as an int (see [[graft.lang.IdFn]]). */
  final case class TIdFn(v: String) extends TExpr { def tp: AttribTp = IntT }
  /** `e in [items]` / `e not in [items]` — elements share e's type. */
  final case class TInList(e: TExpr, items: List[TExpr], neg: Boolean) extends TExpr {
    def tp: AttribTp = BoolT
  }
  /** `coalesce(e1, …, en)` — all arguments share one type. */
  final case class TCoalesce(items: List[TExpr], tp: AttribTp) extends TExpr
  /** `e[i]` — 0-based list element access; `tp` is the element type. */
  final case class TIndex(e: TExpr, i: TExpr, tp: AttribTp) extends TExpr
  /** `range(a, b)` — inclusive int list; empty when a > b. */
  final case class TRange(lo: TExpr, hi: TExpr) extends TExpr {
    def tp: AttribTp = ListT(IntT)
  }
  /** `e in <list-expr>` / `not in` — membership over a list value. */
  final case class TInListE(e: TExpr, list: TExpr, neg: Boolean) extends TExpr {
    def tp: AttribTp = BoolT
  }
  /** `split(s, sep)` — literal-separator split; token order kept. */
  final case class TSplit(s: TExpr, sep: TExpr) extends TExpr {
    def tp: AttribTp = ListT(StringT)
  }
  /** `e[lo..hi]` — clamped 0-based end-exclusive slice; list-typed. */
  final case class TSlice(e: TExpr, lo: TExpr, hi: TExpr, tp: AttribTp) extends TExpr
  /** A lambda-bound element/accumulator read (`x.val` inside a list
    * predicate / comprehension / reduce body). Compiles to the SQL
    * lambda argument, not a frame column — carries no join. */
  final case class TLamVar(name: String, tp: AttribTp) extends TExpr
  /** `any/all/none/single(v in list where pred)` (see [[graft.lang.ListPred]]). */
  final case class TListPred(kind: String, v: String, list: TExpr, pred: TExpr) extends TExpr {
    def tp: AttribTp = BoolT
  }
  /** `[v in list where pred | map]`; `tp` is the RESULT list type. */
  final case class TListComp(v: String, list: TExpr, pred: Option[TExpr],
      map: Option[TExpr], tp: AttribTp) extends TExpr
  /** `reduce(acc = init, v in list | body)`; folds ascending. */
  final case class TReduce(acc: String, init: TExpr, v: String, list: TExpr,
      body: TExpr) extends TExpr {
    def tp: AttribTp = init.tp
  }

  // --- resolved instructions ---
  sealed trait RInstr extends Product with Serializable
  final case class RCreateNode(v: String, label: String) extends RInstr
  final case class RMatchNode(v: String, label: String) extends RInstr
  /** Unlabeled standalone match `match (n)` (round 14): scans the union
    * of EVERY label's node ids; the binding carries [[AnyLabel]]. */
  final case class RMatchAnyNode(v: String) extends RInstr
  /** `props` (round-10 edge properties): the created edge's attribute
    * values, typed against the relation's declared attrs and evaluated
    * PER ROW (like node set). A pair created by several rows resolves
    * conflicts by max (the node-set rule); a pair that ALREADY exists
    * keeps its stored attributes — re-creating an edge is a no-op, the
    * reference's set semantics (test3.q). */
  final case class RCreateEdge(sv: String, srcLabel: String, rel: String,
      tv: String, tgtLabel: String,
      props: List[(String, AttribTp, TExpr)] = Nil) extends RInstr
  /** A pattern hop: keep rows where ANY of `frames` connects `sv` to
    * `tv`. Each frame is a declared relation triple plus its
    * orientation relative to the pattern (`flipped` = read dst-as-src).
    * Typing resolves exactly the declared combinations: a directed hop
    * is one unflipped frame; an undirected hop `-[:r]-` carries each
    * declared orientation (both on a self-label relation); an
    * alternation `[:a|b]` or an any-relation hop `-[]->` carries every
    * declared (type, orientation) combination. The executor unions the
    * frames, so it does no name resolution. Per-PAIR existence
    * semantics: a pair connected by several frames yields ONE row, like
    * the cross+semi pair semantics of every match.
    *
    * `rv` (round-10): the optional rel-variable binding, only on a
    * directed single-type hop. An edge's identity is its (src, dst)
    * pair within the relation type, so the binding aliases the two
    * endpoint columns — `rv.f` reads the edge frame, `set rv.f`
    * join-updates it, `delete rv` anti-joins it; returning/grouping the
    * binding itself is rejected (no edge ids exist). */
  final case class RMatchEdge(sv: String, tv: String,
      frames: List[((String, String, String), Boolean)],
      rv: Option[String]) extends RInstr
  /** `set x.f = e` through a rel binding: join-update of the edge frame
    * on (src, dst), per-row evaluation, max conflict resolution —
    * mirror of [[RSet]]. */
  final case class RSetEdge(v: String, key: (String, String, String),
      field: String, tp: AttribTp, e: TExpr) extends RInstr
  /** `delete x` through a rel binding: remove the bound (src, dst)
    * pairs from the edge frame. The binding table is unchanged — an
    * edge binding owns no column (it aliases its endpoints'). */
  final case class RDeleteEdgeBinding(v: String,
      key: (String, String, String)) extends RInstr
  final case class RDeleteNode(v: String, label: String) extends RInstr
  /** Delete through an UNLABELED binding (round 14): deletion needs
    * only ids — the executor anti-joins every label frame (ids are
    * globally unique, so only the owning frame loses rows) and drops
    * incident edges from every relation frame. */
  final case class RDeleteAnyNode(v: String) extends RInstr
  final case class RDeleteEdge(sv: String, srcLabel: String, rel: String, tv: String, tgtLabel: String) extends RInstr
  final case class RReturn(vs: List[String]) extends RInstr
  final case class RWhere(e: TExpr) extends RInstr
  final case class RSet(v: String, label: String, field: String, tp: AttribTp, e: TExpr) extends RInstr
  /** `remove v.f` (round 10 — Cypher REMOVE): NULL-out the attribute on
    * every bound node; the edge twin goes through a rel binding. */
  final case class RRemove(v: String, label: String, field: String) extends RInstr
  final case class RRemoveEdge(v: String, key: (String, String, String),
      field: String) extends RInstr

  // --- extension instructions (no reference counterpart) ---
  /** Resolved extended-return item; `outName` is the deterministic output
    * column name (`v`, `v_f`, `count_v`, `sum_v_f`, …). */
  sealed trait RRet extends Product with Serializable { def outName: String }
  final case class RRetVar(v: String) extends RRet { def outName: String = v }
  final case class RRetAttr(v: String, label: String, field: String, tp: AttribTp) extends RRet {
    def outName: String = s"${v}_$field"
  }
  /** A typed full-expression projection item (round 10 continued —
    * `with <expr> as x` / aggregate-over-expression arguments / order
    * keys). `outName` is a placeholder: in `with` the mandatory alias
    * names the column, in `return` typing rejects the item, and order
    * keys never surface a name. */
  final case class RRetExpr(te: TExpr) extends RRet {
    def outName: String = "<expr>"
  }
  final case class RRetAgg(fn: AggFn, arg: RRet, distinct: Boolean = false) extends RRet {
    /** Result type: count is int; strjoin is string; min/max (and the
      * int-only sum/avg) take their argument's type — min/max over
      * STRING attributes are legal (lexicographic, round 10 continued). */
    def tp: AttribTp = {
      def argTp: AttribTp = arg match {
        case RRetAttr(_, _, _, t) => t
        case RRetExpr(te)         => te.tp
        case _                    => IntT // RRetVar arg: count-only (unreachable here)
      }
      if (fn == AggCount) IntT
      else if (fn == AggStrJoin) StringT
      else if (fn == AggCollect) ListT(argTp)
      else argTp
    }
    def outName: String = {
      val d = if (distinct) "distinct_" else ""
      arg match {
        case RRetVar(v)              => s"${fn.name}_$d$v"
        case RRetAttr(v, _, f, _)    => s"${fn.name}_$d${v}_$f"
        case _: RRetExpr             => s"${fn.name}_$d<expr>" // with-only: the alias names it
        case a: RRetAgg              => s"${fn.name}_$d${a.outName}" // unreachable: parser rejects nesting
      }
    }
  }
  /** Extended return: items paired with their resolved output names
    * (explicit `as` alias, or the derived outName — round 10 continued). */
  final case class RReturnExt(items: List[(RRet, String)], order: List[(RRet, Boolean)],
      skip: Option[Long], limit: Option[Long], distinct: Boolean = false) extends RInstr
  /** Mid-query `with` (see [[graft.lang.WithClause]]): the same shaping
    * as [[RReturnExt]], but each item re-binds under its resolved alias
    * and the fold continues — plain variable items stay node bindings,
    * attribute/aggregate items bind scalar pseudo-labels
    * ([[scalarLabel]]) readable as `<alias>.val`. */
  final case class RWith(items: List[(RRet, String)],
      order: List[(RRet, Boolean)], skip: Option[Long], limit: Option[Long],
      distinct: Boolean = false) extends RInstr
  /** Call subquery (round 15 — see [[graft.lang.CallSub]]): typed inner
    * instruction list (match-mode only, scoped to the imports), the
    * final return's shape, and the per-INVOCATION paging. Each item
    * binds a fresh OUTER name (appended to the outer env, unlike
    * RWith's scope replacement); `allAgg` = every item aggregates, so
    * the one-row-per-invocation pad applies. */
  final case class RCallSub(imports: List[String], inner: List[RInstr],
      items: List[(RRet, String)], order: List[(RRet, Boolean)],
      skip: Option[Long], limit: Option[Long], distinct: Boolean) extends RInstr
  /** `undir`: an undirected closure `-[:r*lo..hi]-` — hops walk the
    * SYMMETRIZED edge relation (each declared edge usable in either
    * direction, walk semantics like the directed closure, so e.g. the
    * 2-hop walk a-b-a self-pairs any node with a neighbour). */
  final case class RVarPath(sv: String, rel: (String, String, String), lo: Int, hi: Int,
      tv: String, dist: Option[String] = None, undir: Boolean = false,
      pathV: Option[String] = None, allPaths: Boolean = false) extends RInstr
  /** optional-match witness expansion: `inner` is the typed instruction
    * list of the pattern tail, `bound` the outer variables it references
    * (join keys), `fresh` the (variable, label) pairs it declares in
    * declaration order. Fresh binding columns are NULLABLE — all bind
    * per complete witness or all NULL when none; an attribute access
    * through an unmatched binding yields NULL even under strict mode
    * (the unset-attribute raise is null-guarded for optional bindings),
    * and an equality join through it never matches (SQL null
    * semantics). */
  final case class ROptPath(inner: List[RInstr], bound: List[String],
      fresh: List[(String, String)]) extends RInstr
  /** `where [not] exists <pattern>`: keep rows WITH a witness — a
    * left_semi join on `bound` — or, when `neg`, rows with NO witness —
    * a left_anti join over the same witness sub-plan. Inner
    * declarations are existential and bind nothing; row multiplicity is
    * preserved (unlike match-edge, which multiplies per witness). A
    * NULL bound column (an unmatched optional binding) has no witness:
    * it drops under exists and survives under not exists. */
  final case class RExists(inner: List[RInstr], bound: List[String],
      neg: Boolean) extends RInstr
  /** Node-form merge: bind every `label` node whose props equal the
    * constant `props` exactly, or create ONE such node and bind it to
    * every row when none matches (see [[graft.lang.Merge]]). */
  final case class RMergeNode(v: String, label: String,
      props: List[(String, Value)],
      onCreate: List[RInstr] = Nil,
      onMatch: List[RInstr] = Nil) extends RInstr
  /** `unwind [items] as alias` (see [[graft.lang.Unwind]]): per row, one
    * output row per element; `alias` binds the scalar pseudo-label of
    * the elements' shared type `tp`. */
  /** `unwind xs as x` over a list binding (round 11): one row per
    * element of `v`'s list, `alias` bound to the element scalar. */
  final case class RUnwindVar(v: String, alias: String, elemTp: AttribTp)
      extends RInstr
  /** `unwind <list-expr> as x` (round 11): one row per element of the
    * per-row list value. */
  /** `call <proc>(…) yield …` — each yield binds an int scalar column
    * of the procedure's result frame (see [[graft.lang.CallProc]]).
    * `args` are RESOLVED literal values (params already substituted). */
  final case class RCallProc(proc: String, yields: List[String],
      args: List[Value] = Nil) extends RInstr
  /** Registered procedures → (allowed argument-type signatures, yield
    * arity); yield columns are all int. Every procedure takes an
    * optional TRAILING relation-name string that scopes it to one
    * declared relation type (round 12); bfs/sssp lead with the source
    * node id, kcore with the core threshold k (round 13). */
  /** Variable-length hop depth cap for WRITTEN bounds: each extra hop
    * is one distributed self-join of the edge set, so the bound is a
    * plan-depth guard. Open-ended spellings never hit it — any `*lo..`
    * runs to convergence (see [[varPathUnbounded]]). */
  val varPathCap = 10

  /** Sentinel upper bound for the UNBOUNDED spellings (`*`, `*0..`,
    * `*1..` — round 16, VERDICT r15 item 2; any `*lo..` floor — round
    * 17): the executor runs the closure to its FIXED POINT (the deltaCC
    * convergence discipline — per-superstep frontier count probe, early
    * exit on empty, loud failure at [[varPathMaxSupersteps]]) instead
    * of truncating at [[varPathCap]], so `match (a)-[:r*]->(b)` is true
    * Cypher reachability on any-diameter graphs. A floor lo >= 2
    * composes: step^(lo-1) applied to the converged closure — exact
    * because the per-level step map distributes over the level union
    * (see varPathReachSeeded's `windowed` notes). */
  val varPathUnbounded: Int = Int.MaxValue

  /** Loud superstep bound for the convergence-driven closure: 64 BFS
    * levels covers any graph whose diameter fits an analytic workload;
    * exhausting it unconverged throws (never silently truncates —
    * the exact failure mode the sentinel exists to remove). */
  val varPathMaxSupersteps = 64

  val procSigs: Map[String, (List[List[AttribTp]], Int)] =
    Map("degree"    -> ((List(Nil, List(StringT)), 3)),
        "cc"        -> ((List(Nil, List(StringT)), 2)),
        "bfs"       -> ((List(List(IntT), List(IntT, StringT)), 2)),
        "pagerank"  -> ((List(Nil, List(StringT)), 2)),
        "sssp"      -> ((List(List(IntT), List(IntT, StringT)), 2)),
        "kcore"     -> ((List(List(IntT), List(IntT, StringT)), 2)),
        "triangles" -> ((List(Nil, List(StringT)), 2)),
        "labelprop" -> ((List(Nil, List(StringT)), 2)),
        "hits"      -> ((List(Nil, List(StringT)), 3)),
        "clustering"  -> ((List(Nil, List(StringT)), 2)),
        "degreedist"  -> ((List(Nil, List(StringT)), 2)),
        // harmonic's optional leading int is the seed-band bound
        // (ids < bound seed the multi-source BFS) — round 16, ADVICE
        // r15: an explicit band states intent on non-loader graphs
        "harmonic"    -> ((List(Nil, List(StringT), List(IntT), List(IntT, StringT)), 2)),
        "scc"         -> ((List(Nil, List(StringT)), 2)))

  /** Bind `target` to the pattern-order concatenation of per-segment
    * named-path witnesses, and `%rels_<target>` to the hop-label list
    * (round 13 — see [[graft.lang.INamedPath]]). */
  final case class RNamedPath(target: String,
      segs: List[(String, String, Boolean)]) extends RInstr

  final case class RUnwindExpr(e: TExpr, alias: String, elemTp: AttribTp)
      extends RInstr
  final case class RUnwind(items: List[TExpr], alias: String,
      tp: AttribTp) extends RInstr
  /** Query-branch separator (see [[graft.lang.UnionSep]]): never reaches
    * the per-instruction executor — Engine.run splits the instruction
    * stream at these markers and combines the branches' return tables
    * (deduplicated unless `all`). */
  final case class RUnion(all: Boolean) extends RInstr

  /** Pseudo-label of a shortest-distance binding (`-[:r*lo..hi as d]->`):
    * `%` cannot start a lexer identifier, so it can never collide with a
    * user schema label. Its single attribute is `hops: int` — the
    * binding's value itself; [[Schema.attrType]] resolves it so the whole
    * typed expression machinery (where/return/aggregates) applies to
    * `d.hops` unchanged. Mutation of a path binding (set/delete) is
    * rejected explicitly. */
  val PathLabel = "%path"

  /** Pseudo-label of a NAMED-PATH binding (`match p = (a)-[:r*lo..hi]->
    * (b)`, round 12): the binding column is the canonical witness's
    * node-id list, exposed as `val: %list%int` so the round-11 list
    * machinery (size/indexing/slices/unwind/in) applies unchanged;
    * `nodes(p)` / `length(p)` desugar onto it in typing. */
  val PathValLabel = "%pathval"

  /** Virtual label of an UNLABELED standalone match binding `match (n)`
    * (round 14): the bound column is a real node id drawn from the
    * union of every label's scan, so id()/return/count/order work, but
    * the label is statically unknown — attribute access, set and delete
    * are rejected with a pointer, and a later relational hop NARROWS
    * the binding to its inferred endpoint label (ids are globally
    * unique across labels, so the narrowing is sound). */
  val AnyLabel = "%any"

  /** Pseudo-label of a `with`-bound scalar (attribute or aggregate item
    * re-bound under an alias): like [[PathLabel]], `%` can't start a
    * lexer identifier so no user schema label collides, and the single
    * attribute `val` is the binding's own value — the whole typed
    * expression machinery applies to `cnt.val` unchanged. */
  def scalarLabel(tp: AttribTp): String = tp match {
    case IntT    => "%int"
    case BoolT   => "%bool"
    case StringT => "%string"
    // list bindings (round 11): element type rides in the label so
    // attrType can recover it; no nesting (collect rejects list args)
    case ListT(el) => s"%list${scalarLabel(el)}"
  }

  /** Virtual (non-graph) labels: the `%path` distance binding, the
    * `%`-scalar with-bindings, and `%rel:`-prefixed edge bindings. They
    * carry no node id — node mutation through them is rejected, and the
    * executor resolves their attributes specially (scalars read the
    * binding column itself; edge bindings join the edge frame on the
    * endpoint pair). */
  def isVirtual(label: String): Boolean = label.startsWith("%")

  /** Pseudo-label of an edge binding `(a)-[x:r]->(b)` — encodes the
    * statically-resolved relation triple (labels are ASCII-alnum, so
    * `:` is a safe separator and `%` keeps it out of user space). */
  def relLabel(key: (String, String, String)): String =
    s"%rel:${key._1}:${key._2}:${key._3}"
  def isRelLabel(label: String): Boolean = label.startsWith("%rel:")
  def relKeyOf(label: String): (String, String, String) = {
    val parts = label.stripPrefix("%rel:").split(':')
    (parts(0), parts(1), parts(2))
  }

  /** Pseudo-label of a lambda-bound scalar (list predicate /
    * comprehension / reduce element or accumulator); typing-internal —
    * it is pushed onto env only while the lambda body is typed. */
  def lamLabel(tp: AttribTp): String = s"%lam${scalarLabel(tp)}"
  def isLamLabel(label: String): Boolean = label.startsWith("%lam")

  /** Human name of a virtual label for error messages. */
  def virtualKind(label: String): String =
    if (label == PathLabel) "path-distance"
    else if (label == PathValLabel) "named-path"
    else if (label == AnyLabel) "unlabeled"
    else if (isRelLabel(label)) "relationship"
    else if (isLamLabel(label)) "lambda"
    else "with-scalar"

  /** Validated schema with O(1) lookups. `relAttrs` is the round-10
    * edge-property extension: declared typed attributes per relation
    * triple (empty for reference-shaped declarations). */
  final case class Schema(
      nodeAttrs: Map[String, List[(String, AttribTp)]],
      relTypes: Set[(String, String, String)],
      relAttrs: Map[(String, String, String), List[(String, AttribTp)]] =
        Map.empty.withDefaultValue(Nil)) {
    def labels: Set[String] = nodeAttrs.keySet
    def relAttrsOf(key: (String, String, String)): List[(String, AttribTp)] =
      relAttrs.getOrElse(key, Nil)
    def attrType(label: String, field: String): Option[AttribTp] = label match {
      case PathLabel => if (field == "hops") Some(IntT) else None
      case PathValLabel => if (field == "val") Some(ListT(IntT)) else None
      case "%int"    => if (field == "val") Some(IntT) else None
      case "%bool"   => if (field == "val") Some(BoolT) else None
      case "%string" => if (field == "val") Some(StringT) else None
      case "%list%int"    => if (field == "val") Some(ListT(IntT)) else None
      case "%list%bool"   => if (field == "val") Some(ListT(BoolT)) else None
      case "%list%string" => if (field == "val") Some(ListT(StringT)) else None
      // lambda-bound scalars (list predicates/comprehension/reduce) —
      // typing-internal: these labels never escape the lambda body
      case "%lam%int"    => if (field == "val") Some(IntT) else None
      case "%lam%bool"   => if (field == "val") Some(BoolT) else None
      case "%lam%string" => if (field == "val") Some(StringT) else None
      case l if isRelLabel(l) =>
        relAttrsOf(relKeyOf(l)).collectFirst { case (`field`, tp) => tp }
      case _ => nodeAttrs.get(label).flatMap(_.collectFirst { case (`field`, tp) => tp })
    }
  }

  final case class TypedProg(schema: Schema, instrs: List[RInstr])

  final case class TypeError(msg: String) extends RuntimeException(msg)

  /** Schema validation (reference typing.ml:57-98): duplicate node-type
    * labels, dangling relation endpoints, duplicate relation triples. */
  def checkGraphTypes(gt: GraphTypes): Either[String, Schema] = {
    val labels = gt.nodeTypes.map(_.label)
    val dupLabels = labels.diff(labels.distinct).distinct
    if (dupLabels.nonEmpty)
      return Left(s"duplicate node type declaration(s): ${dupLabels.mkString(", ")}")
    val labelSet = labels.toSet
    for (RelTypeDecl(s, r, t, _) <- gt.relTypes) {
      if (!labelSet(s)) return Left(s"relation type (:$s)-[:$r]->(:$t): undeclared source label $s")
      if (!labelSet(t)) return Left(s"relation type (:$s)-[:$r]->(:$t): undeclared target label $t")
    }
    val triples = gt.relTypes.map(r => (r.src, r.rel, r.tgt))
    val dupRels = triples.diff(triples.distinct).distinct
    if (dupRels.nonEmpty)
      return Left(s"duplicate relation type declaration(s): ${dupRels.mkString(", ")}")
    // duplicate attribute names within one node type
    for (NodeTypeDecl(l, attrs) <- gt.nodeTypes) {
      val fs = attrs.map(_._1)
      val dups = fs.diff(fs.distinct).distinct
      if (dups.nonEmpty) return Left(s"node type $l: duplicate attribute(s) ${dups.mkString(", ")}")
    }
    // ...and within one relation type (round-10 edge properties)
    for (RelTypeDecl(s, r, t, attrs) <- gt.relTypes) {
      val fs = attrs.map(_._1)
      val dups = fs.diff(fs.distinct).distinct
      if (dups.nonEmpty)
        return Left(s"relation type (:$s)-[:$r]->(:$t): duplicate attribute(s) ${dups.mkString(", ")}")
    }
    Right(Schema(
      gt.nodeTypes.map(n => n.label -> n.attribs).toMap,
      triples.toSet,
      gt.relTypes.map(r => (r.src, r.rel, r.tgt) -> r.attribs).toMap
        .withDefaultValue(Nil)))
  }

  /** Environment: vname → label bindings, latest-first (shadowing wins). */
  private type Env = List[(String, String)]
  private def lookup(env: Env, v: String): Option[String] =
    env.collectFirst { case (`v`, l) => l }

  def tpExpr(schema: Schema, env: Env, e: Expr): Either[String, TExpr] = e match {
    case Const(v) => Right(TConst(v))
    // params are substituted before typing (Params.subst); one reaching
    // here means the caller never supplied a value for it
    case Param(n) => Left(s"missing parameter $$$n (supply it via params)")
    // count { } is parse-time sugar rewritten in top-level where/with/
    // return positions (see Parser.desugarCountExprs); one reaching
    // typing sits somewhere the rewrite deliberately doesn't touch
    case (_: CountPat) | (_: PatComp) =>
      Left("count { } / exists { } / [pattern | expr] subquery expressions " +
        "are supported in top-level where/with/return positions only — not " +
        "inside a call { } body, a pattern property map, or another " +
        "subquery expression's filter/map")
    case NullCheck(v) =>
      lookup(env, v) match {
        case None => Left(s"variable $v not bound")
        case Some(l) if isLamLabel(l) =>
          Left(s"null($v): a lambda-bound element is never NULL")
        case Some(_) => Right(TNullCheck(v))
      }
    case IdFn(v) =>
      lookup(env, v) match {
        case None => Left(s"variable $v not bound")
        case Some(l) if isRelLabel(l) =>
          Left(s"id($v): a rel binding has no id — its identity is the (src, dst) pair")
        // an unlabeled binding IS a node (any-label scan): id works
        case Some(l) if isVirtual(l) && l != AnyLabel =>
          Left(s"id($v): ${virtualKind(l)} binding $v is a value, not a node")
        case Some(_) => Right(TIdFn(v))
      }
    // label(v)/type(x): the typechecker already resolved every binding's
    // label statically, so both fold to STRING CONSTANTS right here —
    // the engine and RefInterp never see a new node kind
    case LabelFn(v) =>
      lookup(env, v) match {
        case None => Left(s"variable $v not bound")
        case Some(l) if isRelLabel(l) =>
          Left(s"label($v): $v is a relationship binding — use type($v)")
        case Some(AnyLabel) =>
          // round 14: an unlabeled binding's RUNTIME label rides the
          // hidden per-leg literal companion its scan bound
          if (lookup(env, s"%label_$v").isEmpty)
            Left(s"label($v): the label companion of $v is not in " +
              "scope — project the binding itself through the " +
              "intervening with")
          else
            Right(TAttr(s"%label_$v", scalarLabel(StringT), "val", StringT))
        case Some(l) if isVirtual(l) =>
          Left(s"label($v): ${virtualKind(l)} binding $v is a value, not a node")
        case Some(l) => Right(TConst(StringV(l)))
      }
    case TypeFn(v) =>
      lookup(env, v) match {
        case None => Left(s"variable $v not bound")
        case Some(l) if isRelLabel(l) => Right(TConst(StringV(relKeyOf(l)._2)))
        case Some(l) =>
          Left(s"type($v): $v is not a relationship binding (label $l)")
      }
    // nodes(p)/length(p): pure desugarings onto the named-path binding's
    // list value — the executor sees only existing TExpr shapes
    case NodesFn(v) =>
      lookup(env, v) match {
        case None => Left(s"variable $v not bound")
        case Some(PathValLabel) => Right(TAttr(v, PathValLabel, "val", ListT(IntT)))
        case Some(l) => Left(s"nodes($v): $v is not a named-path binding (label $l)")
      }
    case LengthFn(v) =>
      lookup(env, v) match {
        case None => Left(s"variable $v not bound")
        case Some(PathValLabel) =>
          Right(TBin(BAsub,
            TUn(USsize, TAttr(v, PathValLabel, "val", ListT(IntT)), IntT),
            TConst(IntV(1L)), IntT))
        case Some(l) => Left(s"length($v): $v is not a named-path binding (label $l)")
      }
    // relationships(p): desugars onto the hidden `%rels_<p>` companion
    // (a %list%string with-scalar) the executor binds alongside every
    // named-path witness — hop labels in pattern order, one per hop
    case RelsFn(v) =>
      lookup(env, v) match {
        case None => Left(s"variable $v not bound")
        case Some(PathValLabel) =>
          // IWith re-aliases the companion whenever the path binding is
          // projected, so this guard only trips on an internal bug —
          // but fail at TYPE time with a pointer, never at execution
          if (lookup(env, s"%rels_$v").isEmpty)
            Left(s"relationships($v): the hop-label companion of $v is " +
              "not in scope — project the path binding itself through " +
              "the intervening with")
          else
            Right(TAttr(s"%rels_$v", scalarLabel(ListT(StringT)), "val", ListT(StringT)))
        case Some(l) => Left(s"relationships($v): $v is not a named-path binding (label $l)")
      }
    case AttribAcc(v, f) =>
      lookup(env, v) match {
        case None => Left(s"variable $v not bound")
        case Some(AnyLabel) =>
          Left(s"$v.$f: $v is unlabeled (match ($v) binds every label) — " +
            s"its attributes are unknown; label it, ($v:label), or reach " +
            "it through a relation hop that determines the label")
        case Some(lbl) =>
          schema.attrType(lbl, f) match {
            case None     => Left(s"attribute $f not declared for label $lbl (variable $v)")
            // a lambda-bound element/accumulator read — compiles to
            // the SQL lambda argument, not a frame column
            case Some(tp) if isLamLabel(lbl) => Right(TLamVar(v, tp))
            case Some(tp) => Right(TAttr(v, lbl, f, tp))
          }
      }
    case Bin(op, l, r) =>
      for {
        tl <- tpExpr(schema, env, l)
        tr <- tpExpr(schema, env, r)
        res <- op match {
          case BAadd if tl.tp == StringT && tr.tp == StringT =>
            // string concatenation (round 10 continued — Cypher's `+`
            // on strings; the reference's `+` is int-only, documented
            // extension)
            Right(TBin(op, tl, tr, StringT))
          case BAadd | BAsub | BAmul | BAdiv | BAmod =>
            if (tl.tp == IntT && tr.tp == IntT) Right(TBin(op, tl, tr, IntT))
            else Left(s"arithmetic $op requires int operands, got ${tl.tp}/${tr.tp}")
          case BCeq | BCne =>
            if (tl.tp == tr.tp) Right(TBin(op, tl, tr, BoolT))
            else Left(s"comparison $op requires same-typed operands, got ${tl.tp}/${tr.tp}")
          case BCge | BCgt | BCle | BClt =>
            if (tl.tp == IntT && tr.tp == IntT) Right(TBin(op, tl, tr, BoolT))
            else Left(s"ordering $op requires int operands, got ${tl.tp}/${tr.tp}")
          case BLand | BLor =>
            if (tl.tp == BoolT && tr.tp == BoolT) Right(TBin(op, tl, tr, BoolT))
            else Left(s"logic $op requires bool operands, got ${tl.tp}/${tr.tp}")
          case BSstarts | BSends | BScontains | BSregex =>
            if (tl.tp == StringT && tr.tp == StringT) Right(TBin(op, tl, tr, BoolT))
            else Left(s"string predicate ${strPredName(op)} requires string " +
              s"operands, got ${tl.tp}/${tr.tp}")
        }
      } yield res
    case Un(op, e1) =>
      tpExpr(schema, env, e1).flatMap { te =>
        if (op == ULnot)
          if (te.tp == BoolT) Right(TUn(op, te, BoolT))
          else Left(s"not requires a bool operand, got ${te.tp}")
        else if (op == UStoStr)
          // any SCALAR renders; list rendering differs across engines,
          // so it is rejected rather than silently divergent
          if (te.tp.isInstanceOf[ListT])
            Left("toString of a list is not supported (render elements instead)")
          else Right(TUn(op, te, StringT))
        else if (op == USsize && te.tp.isInstanceOf[ListT])
          Right(TUn(op, te, IntT)) // size(list) = element count (round 11)
        else if (op == UIabs || op == UIsign)
          if (te.tp == IntT) Right(TUn(op, te, IntT))
          else Left(s"${unName(op)} requires an int operand, got ${te.tp}")
        else if (op == UStoInt)
          if (te.tp == StringT) Right(TUn(op, te, IntT))
          else Left(s"toInteger requires a string operand, got ${te.tp}")
        else if (te.tp != StringT)
          Left(s"${unName(op)} requires a string operand, got ${te.tp}")
        else Right(TUn(op, te, if (op == USsize) IntT else StringT))
      }
    case Substr(e1, e2, e3) =>
      for {
        ts <- tpExpr(schema, env, e1)
        tp <- tpExpr(schema, env, e2)
        tl <- tpExpr(schema, env, e3)
        r <- if (ts.tp != StringT)
               Left(s"substring requires a string first argument, got ${ts.tp}")
             else if (tp.tp != IntT || tl.tp != IntT)
               Left(s"substring position/length must be int, got ${tp.tp}/${tl.tp}")
             else Right(TSubstr(ts, tp, tl))
      } yield r
    case Replace(e1, e2, e3) =>
      for {
        ts <- tpExpr(schema, env, e1)
        tf <- tpExpr(schema, env, e2)
        tr2 <- tpExpr(schema, env, e3)
        r <- if (ts.tp != StringT || tf.tp != StringT || tr2.tp != StringT)
               Left(s"replace requires string arguments, got ${ts.tp}/${tf.tp}/${tr2.tp}")
             else Right(TReplace(ts, tf, tr2))
      } yield r
    case CaseExpr(whens, otherwise) =>
      val typedWhens = whens.foldLeft[Either[String, List[(TExpr, TExpr)]]](Right(Nil)) {
        case (acc, (c, v)) =>
          for {
            tail <- acc
            tc <- tpExpr(schema, env, c)
            _ <- if (tc.tp == BoolT) Right(())
                 else Left(s"case condition must be bool, got ${tc.tp}")
            tv <- tpExpr(schema, env, v)
          } yield (tc, tv) :: tail
      }.map(_.reverse)
      for {
        tws <- typedWhens
        to <- tpExpr(schema, env, otherwise)
        tps = (tws.map(_._2.tp) :+ to.tp).distinct
        res <- if (tps.size == 1) Right(TCase(tws, to, to.tp))
               else Left(s"case branches must share one type, got ${tps.mkString("/")}")
      } yield res
    case InList(e1, items, neg) =>
      for {
        te <- tpExpr(schema, env, e1)
        tis <- items.foldLeft[Either[String, List[TExpr]]](Right(Nil)) {
          case (acc, it) => for {
            tail <- acc
            ti <- tpExpr(schema, env, it)
          } yield ti :: tail
        }.map(_.reverse)
        res <- {
          val bad = tis.map(_.tp).filterNot(_ == te.tp).distinct
          if (bad.isEmpty) Right(TInList(te, tis, neg))
          else Left(s"in-list elements must match the tested ${te.tp}, " +
            s"got ${bad.mkString("/")}")
        }
      } yield res
    case Coalesce(items) =>
      items.foldLeft[Either[String, List[TExpr]]](Right(Nil)) {
        case (acc, it) => for {
          tail <- acc
          ti <- tpExpr(schema, env, it)
        } yield ti :: tail
      }.map(_.reverse).flatMap { tis =>
        val tps = tis.map(_.tp).distinct
        if (tps.size == 1) Right(TCoalesce(tis, tps.head))
        else Left(s"coalesce arguments must share one type, got ${tps.mkString("/")}")
      }
    case IndexAcc(e1, ix) =>
      for {
        te <- tpExpr(schema, env, e1)
        ti <- tpExpr(schema, env, ix)
        res <- te.tp match {
          case ListT(el) =>
            if (ti.tp == IntT) Right(TIndex(te, ti, el))
            else Left(s"list index must be int, got ${ti.tp}")
          case other => Left(s"indexing requires a list operand, got $other")
        }
      } yield res
    case RangeE(lo, hi) =>
      for {
        tl <- tpExpr(schema, env, lo)
        th <- tpExpr(schema, env, hi)
        res <- if (tl.tp == IntT && th.tp == IntT) Right(TRange(tl, th))
               else Left(s"range bounds must be int, got ${tl.tp}/${th.tp}")
      } yield res
    case InListE(e1, le, neg) =>
      for {
        te <- tpExpr(schema, env, e1)
        tl <- tpExpr(schema, env, le)
        res <- tl.tp match {
          case ListT(el) =>
            if (te.tp == el) Right(TInListE(te, tl, neg))
            else Left(s"in: tested ${te.tp} does not match list elements $el")
          case other => Left(s"in requires a list right operand, got $other")
        }
      } yield res
    case SplitFn(s, sep) =>
      for {
        ts <- tpExpr(schema, env, s)
        tsep <- tpExpr(schema, env, sep)
        res <- if (ts.tp != StringT || tsep.tp != StringT)
                 Left(s"split requires string arguments, got ${ts.tp}/${tsep.tp}")
               else Right(TSplit(ts, tsep))
      } yield res
    case SliceAcc(e1, lo, hi) =>
      for {
        te <- tpExpr(schema, env, e1)
        tl <- tpExpr(schema, env, lo)
        th <- tpExpr(schema, env, hi)
        res <- te.tp match {
          case lt: ListT =>
            if (tl.tp == IntT && th.tp == IntT) Right(TSlice(te, tl, th, lt))
            else Left(s"slice bounds must be int, got ${tl.tp}/${th.tp}")
          case other => Left(s"slicing requires a list operand, got $other")
        }
      } yield res
    case ListPred(kind, v, list, pred) =>
      for {
        tl <- tpExpr(schema, env, list)
        el <- tl.tp match {
          case ListT(e2) => Right(e2)
          case other => Left(s"$kind requires a list operand, got $other")
        }
        _ <- lamFresh(env, v, kind)
        tpred <- tpExpr(schema, (v, lamLabel(el)) :: env, pred)
        res <- if (tpred.tp == BoolT) Right(TListPred(kind, v, tl, tpred))
               else Left(s"$kind predicate must be bool, got ${tpred.tp}")
      } yield res
    case ListComp(v, list, pred, map) =>
      for {
        tl <- tpExpr(schema, env, list)
        el <- tl.tp match {
          case ListT(e2) => Right(e2)
          case other => Left(s"list comprehension requires a list operand, got $other")
        }
        _ <- lamFresh(env, v, "list comprehension")
        lamEnv = (v, lamLabel(el)) :: env
        tpred <- pred match {
          case None => Right(None)
          case Some(p) => tpExpr(schema, lamEnv, p).flatMap { tp0 =>
            if (tp0.tp == BoolT) Right(Some(tp0))
            else Left(s"comprehension where-predicate must be bool, got ${tp0.tp}")
          }
        }
        tmap <- map match {
          case None => Right(None)
          case Some(m) => tpExpr(schema, lamEnv, m).flatMap { tm =>
            // no nested lists — the collect rule: list elements are
            // scalars, so every list stays one ListT level deep
            if (tm.tp.isInstanceOf[ListT])
              Left("comprehension element must be scalar (no nested lists)")
            else Right(Some(tm))
          }
        }
      } yield TListComp(v, tl, tpred, tmap, ListT(tmap.fold(el)(_.tp)))
    case ReduceE(acc, init, v, list, body) =>
      for {
        tinit <- tpExpr(schema, env, init)
        _ <- if (tinit.tp.isInstanceOf[ListT])
               Left("reduce accumulator must be scalar (no list accumulation)")
             else Right(())
        tl <- tpExpr(schema, env, list)
        el <- tl.tp match {
          case ListT(e2) => Right(e2)
          case other => Left(s"reduce requires a list operand, got $other")
        }
        _ <- lamFresh(env, acc, "reduce")
        _ <- lamFresh(env, v, "reduce")
        _ <- if (acc == v)
               Left(s"reduce: accumulator and element variable must differ, both are $acc")
             else Right(())
        tbody <- tpExpr(schema,
          (v, lamLabel(el)) :: (acc, lamLabel(tinit.tp)) :: env, body)
        res <- if (tbody.tp == tinit.tp) Right(TReduce(acc, tinit, v, tl, tbody))
               else Left(s"reduce body must match the accumulator type " +
                 s"${tinit.tp}, got ${tbody.tp}")
      } yield res
  }

  /** A lambda variable must be FRESH — shadowing an existing binding
    * (including an enclosing lambda's) is rejected: inside a Spark SQL
    * lambda the parameter would capture-shadow same-named outer
    * references silently, so the ambiguity is banned at typing. */
  private def lamFresh(env: Env, v: String, ctx: String): Either[String, Unit] =
    if (lookup(env, v).isDefined)
      Left(s"$ctx: lambda variable $v shadows an existing binding")
    else Right(())

  private def strPredName(op: BinOp): String = op match {
    case BSstarts => "starts with"; case BSends => "ends with"
    case BSregex  => "=~"
    case _        => "contains"
  }
  private def unName(op: UnOp): String = op match {
    case USlower => "lower"; case USupper => "upper"
    case UStrim  => "trim";  case USsize  => "size"
    case UStoStr => "toString"; case ULnot => "not"
    case UIabs   => "abs";      case UIsign => "sign"
    case UStoInt => "toInteger"
  }

  /** The declared frames a match hop from `sl` to `tl` reads: per
    * relation type, in `types` order, its forward frame and, on an
    * undirected hop, its reverse (flipped) frame. */
  private def hopFrames(schema: Schema, sl: String, tl: String,
      types: List[String], undir: Boolean): List[((String, String, String), Boolean)] =
    types.flatMap { l =>
      Option.when(schema.relTypes((sl, l, tl)))(((sl, l, tl), false)) ++
        Option.when(undir && schema.relTypes((tl, l, sl)))(((tl, l, sl), true))
    }

  /** Per-instruction environment transformer (reference typing.ml:201-268). */
  private def tcInstr(schema: Schema, env: Env, in: Instruction): Either[String, (RInstr, Env)] =
    in match {
      case IActOnNode(act, v, lb) =>
        if (lb == AnyNodeLabel.name)
          // only CREATE reaches here with the sentinel (round 14 —
          // match-side unlabeled decls resolve via scan/inference)
          Left(s"create ($v {…}) needs a label — a new node is created " +
            "into one label's frame")
        else if (!schema.labels(lb)) Left(s"undeclared node label $lb")
        else act match {
          case CreateAct => Right((RCreateNode(v, lb), (v, lb) :: env))
          case MatchAct  => Right((RMatchNode(v, lb), (v, lb) :: env))
        }
      case IMatchAnyNode(_) =>
        // resolved by tcInstrN (no-op or any-label scan) before ever
        // reaching the 1:1 transformer
        Left("internal: IMatchAnyNode outside tcInstrN")
      case IActOnRel(act, sv, AnyRel(), tv, undir, rv, _, _) =>
        // any-relation hop `-[]->` (round 14 — Cypher's untyped
        // relationship): the union of EVERY declared relation type
        // between the endpoint labels, in relation-triple order
        (lookup(env, sv), lookup(env, tv)) match {
          case (Some(sl), Some(tl)) =>
            if (act == CreateAct)
              Left("create needs a concrete relation type - -[]-> is match-only")
            else if (rv.isDefined)
              Left(s"rel variable ${rv.get} cannot ride an any-relation " +
                "hop -[]->: the matched relation type varies per row")
            else {
              val types = schema.relTypes.toList.map(_._2).distinct
              val frames = hopFrames(schema, sl, tl, types, undir).sortBy(_._1)
              if (frames.isEmpty)
                Left(s"no relation type is declared between (:$sl) and (:$tl)" +
                  (if (undir) " in either orientation" else ""))
              else Right((RMatchEdge(sv, tv, frames, None), env))
            }
          case (None, _) => Left(s"variable $sv not bound")
          case (_, None) => Left(s"variable $tv not bound")
        }

      case IActOnRel(act, sv, rl, tv, undir, _, _, alts) if alts.nonEmpty =>
        // `[:a|b]` alternation (parser guarantees no rv/props here)
        (lookup(env, sv), lookup(env, tv)) match {
          case (Some(sl), Some(tl)) =>
            if (act == CreateAct)
              Left(s"create needs a single relation type - " +
                s"[:${(rl :: alts).mkString("|")}] alternation is match-only")
            else {
              val labels = (rl :: alts).distinct
              val frames = hopFrames(schema, sl, tl, labels, undir)
              if (frames.isEmpty)
                Left(s"no declared relation type matches " +
                  s"[:${labels.mkString("|")}] between (:$sl) and (:$tl)")
              else Right((RMatchEdge(sv, tv, frames, None), env))
            }
          case (None, _) => Left(s"variable $sv not bound")
          case (_, None) => Left(s"variable $tv not bound")
        }

      case IActOnRel(act, sv, rl, tv, undir, rv, props, _) =>
        (lookup(env, sv), lookup(env, tv)) match {
          case (Some(sl), Some(tl)) if undir =>
            // undirected hop: legal iff SOME orientation is declared;
            // match evaluates the union of the declared orientations.
            // Direction is storage, so mutation through an undirected
            // pattern is ill-posed — create (and the merge edge form
            // that desugars to it) reject it outright. A rel binding on
            // an undirected hop is ambiguous (which orientation's frame
            // would x.f read?) — rejected too.
            if (act == CreateAct)
              Left(s"undirected -[:$rl]- not allowed in create/merge: " +
                "an edge is stored with a direction - write -[:" + rl + "]->")
            else if (rv.isDefined || props.nonEmpty)
              Left(s"rel variable / property map not allowed on an " +
                s"undirected hop -[:$rl]-: the matched edge's orientation " +
                "(and with it its stored attributes) is ambiguous")
            else {
              val frames = hopFrames(schema, sl, tl, List(rl), undir = true)
              if (frames.isEmpty)
                Left(s"undeclared relation type (:$sl)-[:$rl]->(:$tl) " +
                  s"(or (:$tl)-[:$rl]->(:$sl))")
              else Right((RMatchEdge(sv, tv, frames, None), env))
            }
          case (Some(sl), Some(tl)) =>
            val frames = hopFrames(schema, sl, tl, List(rl), undir = false)
            if (frames.isEmpty)
              Left(s"undeclared relation type (:$sl)-[:$rl]->(:$tl)")
            else act match {
              case CreateAct =>
                if (rv.isDefined)
                  Left(s"rel variable ${rv.get} not allowed on create: " +
                    "bind edges by matching them - set properties inline " +
                    s"with -[:$rl {f: e}]->")
                else {
                  val key = (sl, rl, tl)
                  val declared = schema.relAttrsOf(key)
                  val dups = props.map(_._1).diff(props.map(_._1).distinct).distinct
                  if (dups.nonEmpty)
                    Left(s"duplicate edge propert${if (dups.size == 1) "y" else "ies"} " +
                      s"${dups.mkString(", ")} on -[:$rl]->")
                  else sequenceRet(props.map { case (f, e) =>
                    declared.collectFirst { case (`f`, tp) => tp } match {
                      case None =>
                        Left(s"attribute $f not declared for relation (:$sl)-[:$rl]->(:$tl)")
                      case Some(tp) => tpExpr(schema, env, e).flatMap { te =>
                        if (te.tp != tp)
                          Left(s"edge property $f of -[:$rl]->: expression type ${te.tp} != declared $tp")
                        else Right((f, tp, te))
                      }
                    }
                  }).map(ps => (RCreateEdge(sv, sl, rl, tv, tl, ps), env))
                }
              case MatchAct =>
                if (props.nonEmpty)
                  // Normalize desugars every match-edge property map to
                  // conjuncts (clauses AND pattern predicates) before
                  // typing — reaching here is a desugarer bug
                  Left(s"internal: undesugared edge property map on -[:$rl]->")
                else rv match {
                  case Some(x) if lookup(env, x).isDefined =>
                    // rebinding a rel variable would silently shadow a
                    // node/scalar column with an edge alias — reject
                    Left(s"rel variable $x already bound")
                  case _ =>
                    val env2 = rv.fold(env)(x => (x, relLabel((sl, rl, tl))) :: env)
                    Right((RMatchEdge(sv, tv, frames, rv), env2))
                }
            }
          case (None, _) => Left(s"variable $sv not bound")
          case (_, None) => Left(s"variable $tv not bound")
        }
      case IDeleteNode(v) =>
        lookup(env, v) match {
          case Some(l) if isRelLabel(l) =>
            // `delete x` through a rel binding removes the bound edges
            // (Cypher's DELETE r); the variable unbinds, the table keeps
            // its rows (an edge binding owns no column)
            Right((RDeleteEdgeBinding(v, relKeyOf(l)), env.filterNot(_._1 == v)))
          case Some(AnyLabel) =>
            // round 14: the label is statically unknown but deletion
            // needs only the id — every label frame anti-joins, every
            // relation frame drops incident edges
            // the hidden %label_ companion unbinds with its owner
            Right((RDeleteAnyNode(v),
              env.filterNot(e => e._1 == v || e._1 == s"%label_$v")))
          case Some(l) if isVirtual(l) =>
            Left(s"cannot delete ${virtualKind(l)} binding $v")
          case Some(lbl) => Right((RDeleteNode(v, lbl), env.filterNot(_._1 == v)))
          case None      => Left(s"delete of unbound variable $v")
        }
      case IDeleteRel(sv, rl, tv) =>
        (lookup(env, sv), lookup(env, tv)) match {
          case (Some(sl), Some(tl)) =>
            if (!schema.relTypes((sl, rl, tl)))
              Left(s"undeclared relation type (:$sl)-[:$rl]->(:$tl)")
            else Right((RDeleteEdge(sv, sl, rl, tv, tl), env))
          case (None, _) => Left(s"variable $sv not bound")
          case (_, None) => Left(s"variable $tv not bound")
        }
      case IReturn(vs) =>
        if (vs.distinct.size != vs.size) Left(s"duplicate variables in return: ${vs.mkString(", ")}")
        else {
          val unbound = vs.filter(v => lookup(env, v).isEmpty)
          val relVs = vs.filter(v => lookup(env, v).exists(isRelLabel))
          if (unbound.nonEmpty) Left(s"return of unbound variable(s): ${unbound.mkString(", ")}")
          else if (relVs.nonEmpty)
            // edges have no ids — a rel binding has no returnable value
            Left(s"cannot return relationship binding(s) ${relVs.mkString(", ")}: " +
              "return endpoint variables or edge attributes (x.f) instead")
          // env restricted to vs (reference typing.ml:252), latest binding of each
          else Right((RReturn(vs), vs.map(v => (v, lookup(env, v).get))))
        }
      case IWhere(e) =>
        tpExpr(schema, env, e).flatMap { te =>
          if (te.tp != BoolT) Left(s"where expression must be bool, got ${te.tp}")
          else Right((RWhere(te), env))
        }
      case IReturnExt(items, order, skip0, limit0, distinct) =>
        checkPage(skip0, limit0, "return").flatMap { case (skip, limit) =>
        sequenceRet(items.map { case (it, _) => resolveRet(schema, env)(it) }).flatMap { ritems =>
          // output naming (round 10 continued — Cypher's RETURN … AS x):
          // an explicit alias renames any item; var/attr/agg items
          // default to their derived outName; a full-expression item (or
          // aggregate-over-expression) has no derivable name, so the
          // alias is mandatory — same rule as with
          val named = ritems.zip(items.map(_._2)).map {
            case (r, Some(a)) => Right((r, a))
            case (r @ (_: RRetExpr | RRetAgg(_, _: RRetExpr, _)), None) =>
              Left(s"expression return item needs an alias (as x)"):
                Either[String, (RRet, String)]
            case (r, None) => Right((r, r.outName))
          }
          sequenceRet(named).flatMap { pairs =>
            val names = pairs.map(_._2)
            val dups = names.diff(names.distinct).distinct
            if (dups.nonEmpty)
              Left(s"duplicate output column(s) in return: ${dups.mkString(", ")}")
            else sequenceRet(order.map { case (k, _) =>
              resolveKeyAliased(schema, env, pairs)(k) }).flatMap { rkeys =>
              val rorder = rkeys.zip(order.map(_._2))
              checkRetShape(ritems, rkeys, distinct, "return", "returned items") match {
                case Some(e) => Left(e)
                case None =>
                  // subsequent instructions may reference the surviving
                  // plain-variable bindings only (attr/agg columns are
                  // output-only), mirroring RReturn's env restriction;
                  // an aliased variable re-binds under its alias
                  val env2 = pairs.collect {
                    case (RRetVar(v), a) => (a, lookup(env, v).get) }
                  Right((RReturnExt(pairs, rorder, skip, limit, distinct), env2))
              }
            }
          }
        }}

      case IWith(items, order, skip0, limit0, distinct) =>
        checkPage(skip0, limit0, "with").flatMap { case (skip, limit) =>
        sequenceRet(items.map { case (it, _) => resolveRet(schema, env)(it) }).flatMap { ritems =>
          // alias resolution: a plain variable re-binds under its own
          // name unless aliased; attr/agg items REQUIRE an alias --
          // without one, no later clause could reference the value
          val aliased = ritems.zip(items.map(_._2)).map {
            case (r @ RRetVar(v), a) => Right((r, a.getOrElse(v)))
            case (r, Some(a))        => Right((r, a))
            case (r, None) =>
              Left(s"with item ${r.outName} needs an alias (as x) " +
                "so later clauses can reference it"): Either[String, (RRet, String)]
          }
          sequenceRet(aliased).flatMap { pairs =>
            val names = pairs.map(_._2)
            val dups = names.diff(names.distinct).distinct
            if (dups.nonEmpty)
              Left(s"duplicate with alias(es): ${dups.mkString(", ")}")
            else sequenceRet(order.map { case (k, _) =>
              resolveKeyAliased(schema, env, pairs)(k) }).flatMap { rkeys =>
              checkRetShape(ritems, rkeys, distinct, "with", "with items") match {
                case Some(e) => Left(e)
                case None =>
                  // a projected named-path binding implicitly carries
                  // its hidden `%rels_` companion through the with,
                  // re-aliased under the new name, so
                  // relationships(alias) keeps working downstream —
                  // Cypher's path value includes its relationships.
                  // The hidden item joins grouping/distinct keys, which
                  // is path-identity semantics (same nodes, different
                  // hop labels = distinct paths). `%` is unlexable in
                  // user aliases, so no collision is possible.
                  val companions = pairs.collect {
                    case (RRetVar(v), a)
                        if lookup(env, v).contains(PathValLabel) &&
                          lookup(env, s"%rels_$v").isDefined =>
                      (RRetVar(s"%rels_$v"): RRet, s"%rels_$a")
                    // an unlabeled binding's label companion follows it
                    // too (label(alias) keeps working; the extra
                    // grouping/distinct key is the node itself + its
                    // label, which the id already determines)
                    case (RRetVar(v), a)
                        if lookup(env, v).contains(AnyLabel) &&
                          lookup(env, s"%label_$v").isDefined =>
                      (RRetVar(s"%label_$v"): RRet, s"%label_$a")
                  }
                  val pairs2 = pairs ++ companions
                  // `with` DEFINES the downstream scope (Cypher
                  // semantics): the new env is exactly the aliased
                  // items -- node labels for variables, scalar
                  // pseudo-labels for attr/agg values
                  val env2 = pairs2.map {
                    case (RRetVar(v), a)            => (a, lookup(env, v).get)
                    case (RRetAttr(_, _, _, tp), a) => (a, scalarLabel(tp))
                    // a full-expression item binds the scalar of its type
                    case (RRetExpr(te), a)          => (a, scalarLabel(te.tp))
                    // count yields int; min/max take the argument's
                    // type (string min/max bind %string scalars)
                    case (g: RRetAgg, a)            => (a, scalarLabel(g.tp))
                  }
                  Right((RWith(pairs2, rkeys.zip(order.map(_._2)), skip, limit, distinct), env2))
              }
            }
          }
        }}

      case ICallSub(imports, inner, items, order, skip0, limit0, distinct) =>
        // Cypher CALL subquery (round 15): the inner scope sees ONLY the
        // imports; inner instructions are match-mode (tcInner's set);
        // the final return's items bind fresh OUTER names. Paging is
        // per invocation, so skip/limit demand an order.
        def importable(l: String): Boolean =
          !isRelLabel(l) && l != AnyLabel && l != PathValLabel &&
            !l.startsWith("%list")
        val dupImp = imports.diff(imports.distinct).distinct
        if (dupImp.nonEmpty)
          Left(s"duplicate call subquery import(s): ${dupImp.mkString(", ")}")
        else imports.find(v => lookup(env, v).isEmpty) match {
          case Some(v) => Left(s"call subquery import $v is not bound")
          case None => imports.find(v => !importable(lookup(env, v).get)) match {
            case Some(v) =>
              Left(s"call subquery import $v: ${lookup(env, v).get} bindings " +
                "cannot be imported (plain node and scalar bindings only)")
            case None =>
              val env0: Env = imports.map(v => (v, lookup(env, v).get))
              for {
                innerT <- tcInner(schema, env0, inner, "call subquery",
                  allowOpt = true)
                (ris, _, fresh) = innerT
                innerEnv = fresh.reverse ::: env0
                page <- checkPage(skip0, limit0, "call subquery")
                (skip, limit) = page
                _ <- if ((skip.isDefined || limit.isDefined) && order.isEmpty)
                  Left("call subquery skip/limit page per invocation " +
                    "and need an order by") else Right(())
                ritems <- sequenceRet(items.map { case (it, _) =>
                  resolveRet(schema, innerEnv)(it) })
                pairs <- sequenceRet(ritems.zip(items.map(_._2)).map {
                  case (r @ RRetVar(v), a) => Right((r, a.getOrElse(v)))
                  case (r, Some(a))        => Right((r, a))
                  case (r, None) =>
                    Left(s"call subquery return item ${r.outName} needs " +
                      "an alias (as x)"): Either[String, (RRet, String)]
                })
                names = pairs.map(_._2)
                _ <- { val dups = names.diff(names.distinct).distinct
                  if (dups.nonEmpty) Left("duplicate call subquery output " +
                    s"name(s): ${dups.mkString(", ")}") else Right(()) }
                _ <- names.find(a => lookup(env, a).isDefined) match {
                  case Some(a) => Left(s"call subquery output $a collides " +
                    "with an outer binding; alias it (as x)")
                  case None => Right(())
                }
                // path/any-label bindings carry hidden companions the
                // subquery boundary does not transport yet
                _ <- pairs.collectFirst {
                  case (RRetVar(v), _) if lookup(innerEnv, v).exists(l =>
                      l == PathValLabel || l == AnyLabel) => v } match {
                  case Some(v) => Left("call subquery cannot return the " +
                    s"path/any-label binding $v")
                  case None => Right(())
                }
                rkeys <- sequenceRet(order.map { case (k, _) =>
                  resolveKeyAliased(schema, innerEnv, pairs)(k) })
                _ <- checkRetShape(ritems, rkeys, distinct, "call subquery",
                  "returned items").toLeft(())
              } yield {
                val env2 = pairs.map {
                  case (RRetVar(v), a)            => (a, lookup(innerEnv, v).get)
                  case (RRetAttr(_, _, _, tp), a) => (a, scalarLabel(tp))
                  case (RRetExpr(te), a)          => (a, scalarLabel(te.tp))
                  case (g: RRetAgg, a)            => (a, scalarLabel(g.tp))
                }
                (RCallSub(imports, ris, pairs, rkeys.zip(order.map(_._2)),
                  skip, limit, distinct), env2 ::: env)
              }
          }
        }

      case IMergeNode(v, lb, props, onC, onM) =>
        if (lb == AnyNodeLabel.name)
          Left(s"merge ($v {…}) needs a label — the match-or-create " +
            "lookup runs against one label's frame")
        else if (!schema.labels(lb)) Left(s"undeclared node label $lb")
        else {
          val dups = props.map(_._1).diff(props.map(_._1).distinct).distinct
          if (dups.nonEmpty)
            Left(s"duplicate merge propert${if (dups.size == 1) "y" else "ies"} " +
              s"${dups.mkString(", ")} for $v")
          else {
            val typed = props.foldRight(
                Right(Nil): Either[String, List[(String, Value)]]) {
              case ((f, e), acc) =>
                for {
                  tail <- acc
                  tp <- schema.attrType(lb, f)
                    .toRight(s"attribute $f not declared for label $lb (variable $v)")
                  value <- e match {
                    case Const(c) =>
                      val ct = c match {
                        case _: BoolV => BoolT; case _: IntV => IntT
                        case _: StringV => StringT
                      }
                      if (ct == tp) Right(c)
                      else Left(s"merge property $f of $v: label $lb declares $tp, got $ct")
                    case _ => Left(s"merge property $f of $v must be a constant " +
                      "(the match-or-create lookup key cannot depend on the row)")
                  }
                } yield (f, value) :: tail
            }
            // on create/on match actions (round 11): each assignment
            // types exactly like a standalone `set` in the env WITH the
            // merged variable bound (they may also target other bound
            // variables, like Cypher)
            val env2 = (v, lb) :: env
            def tcActions(as: List[(String, String, Expr)])
                : Either[String, List[RInstr]] =
              as.foldRight(Right(Nil): Either[String, List[RInstr]]) {
                case ((av, af, ae), acc) => for {
                  tail <- acc
                  r <- tcInstr(schema, env2, ISet(av, af, ae)).map(_._1)
                } yield r :: tail
              }
            for {
              ps <- typed
              rc <- tcActions(onC)
              rm <- tcActions(onM)
            } yield (RMergeNode(v, lb, ps, rc, rm), env2)
          }
        }

      case IOptPath(inner) =>
        tcInner(schema, env, inner, "optional match").flatMap {
          case (ris, bound, fresh) =>
            if (bound.isEmpty)
              // an uncorrelated optional match is a cross join against
              // the whole witness set (label inference can make every
              // endpoint a fresh declaration, round 14) — the executor
              // left-joins on the bound columns, so require one, like
              // the existential predicates
              Left("optional match pattern must reference at least one " +
                "bound variable")
            else
              // fresh vars bind NULLABLE, latest-first like match decls
              Right((ROptPath(ris, bound, fresh), fresh.reverse ::: env))
        }

      case IExists(inner, neg) =>
        val what = if (neg) "not exists" else "exists"
        tcInner(schema, env, inner, what).flatMap {
          case (ris, bound, _) =>
            if (bound.isEmpty)
              // a fully-existential pattern is a global emptiness test,
              // not a per-row predicate — reject rather than silently
              // keeping all rows or none
              Left(s"$what pattern must reference at least one bound variable")
            else Right((RExists(ris, bound, neg), env)) // existential: env unchanged
        }

      case IVarPathRel(act, sv, rl, lo, hi, tv, dist, undir, pathV, allPaths) =>
        if (act == CreateAct) Left(s"variable-length pattern -[:$rl*$lo..$hi]-> not allowed in create")
        else if (dist.exists(d => lookup(env, d).isDefined))
          // the distance binding declares a NEW variable — rebinding an
          // existing one (incl. either endpoint: normalize binds them
          // first) would silently shadow a node column
          Left(s"shortest-distance binding ${dist.get} already bound")
        else if (pathV.exists(pv => lookup(env, pv).isDefined))
          Left(s"named-path binding ${pathV.get} already bound")
        else if (pathV.isDefined && pathV == dist)
          Left(s"named-path binding ${pathV.get} collides with the distance binding")
        else if (lo < 0 || hi < lo)
          // lo = 0 is the Cypher zero-length path: the identity pair
          // (v, v) for every node of the homogeneous label joins the
          // closure (the endpoints may be the same node)
          Left(s"variable-length bounds *$lo..$hi invalid: need 0 <= lo <= hi")
        else if (hi > varPathCap && hi != varPathUnbounded)
          Left(s"variable-length bound *$lo..$hi too deep: hi <= $varPathCap (each extra " +
            "hop is a distributed self-join of the edge set)")
        else if (hi == varPathUnbounded && lo > varPathCap)
          // the open spelling's FLOOR is plan-depth too: the windowed
          // composition builds lo−1 extension joins on top of the
          // converged closure, so the same depth guard applies (an
          // unguarded `*1000000..` would hang Catalyst analysis)
          Left(s"variable-length floor *$lo.. too deep: lo <= $varPathCap for " +
            "open-ended paths (the floor composes as lo-1 extension joins)")
        else (lookup(env, sv), lookup(env, tv)) match {
          case (Some(sl), Some(tl)) =>
            val decls = schema.relTypes.filter(_._2 == rl)
            def ok(key: (String, String, String)) = {
              val env1 = dist.fold(env)(d => (d, PathLabel) :: env)
              // a direct-bound witness carries its hidden `%rels_` hop-
              // label companion too (the executor binds both — see the
              // RVarPath case in Engine), so relationships(pv) types
              val env2 = pathV.fold(env1)(pv =>
                (s"%rels_$pv", scalarLabel(ListT(StringT))) ::
                  (pv, PathValLabel) :: env1)
              Right((RVarPath(sv, key, lo, hi, tv, dist, undir, pathV, allPaths), env2))
            }
            if (decls.isEmpty) Left(s"undeclared relation label $rl")
            else if (lo == 1 && hi == 1) {
              // single-hop window (a named path's fixed-hop segment
              // desugars here, round 13): no hop composes with another,
              // so ANY declared triple matching the endpoints is
              // well-typed — resolution mirrors the fixed-hop rules.
              val fwd = decls.find(d => d._1 == sl && d._3 == tl)
              val rev = decls.find(d => d._1 == tl && d._3 == sl)
              if (undir) {
                // the undirected closure symmetrizes ONE declared frame;
                // two distinct declared orientations would need their
                // union — reject rather than silently drop one side
                // (the unnamed fixed hop unions both declared frames)
                if (fwd.isDefined && rev.isDefined && sl != tl)
                  Left(s"undirected single-hop -[:$rl]- between :$sl and :$tl is " +
                    "declared in both orientations — an unnamed pattern handles " +
                    "this; a named path cannot (one witness frame)")
                else fwd.orElse(rev) match {
                  case Some(key) => ok(key)
                  case None => Left(s"no declared relation :$rl connects :$sl and :$tl")
                }
              } else fwd match {
                case Some(key) => ok(key)
                case None => Left(s"relation (:$sl)-[:$rl]->(:$tl) not declared" +
                  (if (rev.isDefined) s" (the reverse orientation is — use <-[:$rl]-)" else ""))
              }
            }
            else if (decls.size > 1 || decls.head._1 != decls.head._3)
              // label-homogeneity: every hop reuses the same relation type,
              // so a multi-hop closure is only well-typed over a
              // self-label relation
              Left(s"variable-length -[:$rl*]-> requires a single label-homogeneous " +
                s"relation type (:L)-[:$rl]->(:L); declared: " +
                decls.toSeq.sorted.map { case (s0, r0, t0) => s"(:$s0)-[:$r0]->(:$t0)" }.mkString(", "))
            else {
              val (hl, _, _) = decls.head
              if (sl != hl) Left(s"variable $sv: label $sl incompatible with (:$hl)-[:$rl]->(:$hl)")
              else if (tl != hl) Left(s"variable $tv: label $tl incompatible with (:$hl)-[:$rl]->(:$hl)")
              else ok(decls.head)
            }
          case (None, _) => Left(s"variable $sv not bound")
          case (_, None) => Left(s"variable $tv not bound")
        }

      case INamedPath(p, segs) =>
        // desugar-generated (round 13): the hidden segment vars were
        // bound by the var-path instructions Normalize emitted just
        // before; only the USER name needs the rebinding check
        if (lookup(env, p).isDefined)
          Left(s"named-path binding $p already bound")
        else segs.collectFirst {
          case (sv, _, _) if !lookup(env, sv).contains(PathValLabel) => sv
        } match {
          case Some(sv) => Left(s"internal error: named-path segment $sv " +
            "not bound as a witness (desugar invariant broken)")
          case None =>
            Right((RNamedPath(p, segs),
              (s"%rels_$p", scalarLabel(ListT(StringT))) :: (p, PathValLabel) :: env))
        }

      case IUnwind(items, alias) =>
        if (items.isEmpty) Left("unwind of an empty list has no element type")
        else sequenceRet(items.map(e => tpExpr(schema, env, e))).flatMap { tes =>
          val tps = tes.map(_.tp).distinct
          if (tps.size != 1)
            Left(s"unwind list elements must share one type, got " +
              tps.mkString(", "))
          // the alias binds a scalar pseudo-label exactly like a
          // with-bound attr/agg item; rebinding shadows, as everywhere
          else Right((RUnwind(tes, alias, tps.head),
            (alias, scalarLabel(tps.head)) :: env))
        }

      case IUnwindVar(v, alias) =>
        lookup(env, v) match {
          case None => Left(s"unwind of unbound variable $v")
          case Some(l) => schema.attrType(l, "val") match {
            case Some(ListT(el)) =>
              Right((RUnwindVar(v, alias, el), (alias, scalarLabel(el)) :: env))
            case _ => Left(s"unwind variable $v must be a list binding " +
              s"(a with-bound collect), got " +
              (if (isVirtual(l)) virtualKind(l) else s"a :$l node"))
          }
        }

      case IUnwindExpr(e, alias) =>
        tpExpr(schema, env, e).flatMap { te =>
          te.tp match {
            case ListT(el) =>
              Right((RUnwindExpr(te, alias, el), (alias, scalarLabel(el)) :: env))
            case other => Left(s"unwind expression must be a list, got $other")
          }
        }

      case ICallProc(proc, yields, args) =>
        // resolve args to literal values first (params substituted
        // upstream — a surviving Param is a missing parameter)
        val resolved: Either[String, List[Value]] =
          args.foldRight(Right(Nil): Either[String, List[Value]]) {
            case (Const(v), Right(acc)) => Right(v :: acc)
            case (Param(n), _) =>
              Left(s"missing parameter $$$n (supply it via params)")
            case (_, acc @ Left(_)) => acc
            case (other, _) =>
              Left(s"call $proc() arguments must be literals, got $other")
          }
        def tpOfV(v: Value): AttribTp = v match {
          case IntV(_) => IntT; case StringV(_) => StringT; case BoolV(_) => BoolT
        }
        def tpName(t: AttribTp): String = t match {
          case IntT => "int"; case StringT => "string"; case BoolT => "bool"
          case ListT(e) => s"list of ${tpName(e)}"
        }
        resolved.flatMap { vals =>
          procSigs.get(proc) match {
            case None =>
              Left(s"unknown procedure $proc (registered: " +
                s"${procSigs.keys.toList.sorted.mkString(", ")})")
            case Some((sigs, _)) if !sigs.exists(_.size == vals.size) =>
              val arities = sigs.map(_.size).distinct.sorted.mkString(" or ")
              Left(s"call $proc() takes $arities argument(s), got ${vals.size}")
            case Some((sigs, ny)) =>
              val tps = vals.map(tpOfV)
              val sized = sigs.filter(_.size == vals.size)
              if (!sized.contains(tps)) {
                val k = sized.head.indices
                  .find(i => sized.forall(s => s(i) != tps(i))).getOrElse(0)
                Left(s"call $proc() argument ${k + 1} must be " +
                  s"${sized.map(s => tpName(s(k))).distinct.mkString(" or ")}, " +
                  s"got ${tpName(tps(k))}")
              } else if (yields.size != ny)
                Left(s"call $proc() yields $ny column(s), got ${yields.size}")
              else if (yields.distinct.size != yields.size)
                Left(s"call $proc(): duplicate yield name(s)")
              else {
                // a relation-scope arg must name a DECLARED relation
                // type — catch the typo at compile time, not as an
                // empty result
                val badRel = vals.collectFirst {
                  case StringV(r) if !schema.relTypes.exists(_._2 == r) => r
                }
                badRel match {
                  case Some(r) =>
                    Left(s"call $proc(): unknown relation type :$r (declared: " +
                      s"${schema.relTypes.map(_._2).toList.distinct.sorted.mkString(", ")})")
                  case None =>
                    yields.find(y => lookup(env, y).isDefined) match {
                      case Some(y) =>
                        Left(s"call $proc(): yield $y rebinds an existing variable")
                      case None =>
                        Right((RCallProc(proc, yields, vals),
                          yields.reverse.map(y => (y, "%int")) ::: env))
                    }
                }
              }
          }
        }

      case IUnion(_) =>
        // typecheck splits the stream on union markers before the fold;
        // a marker reaching tcInstr means it sat inside a sub-pattern
        Left("union is only legal between complete queries")

      case IRemove(v, f) =>
        lookup(env, v) match {
          case None => Left(s"remove on unbound variable $v")
          case Some(l) if isRelLabel(l) =>
            val key = relKeyOf(l)
            if (schema.relAttrsOf(key).exists(_._1 == f))
              Right((RRemoveEdge(v, key, f), env))
            else Left(s"attribute $f not declared for relation " +
              s"(:${key._1})-[:${key._2}]->(:${key._3})")
          case Some(l) if isVirtual(l) =>
            Left(s"cannot remove attribute of ${virtualKind(l)} binding $v")
          case Some(lbl) =>
            if (schema.attrType(lbl, f).isDefined) Right((RRemove(v, lbl, f), env))
            else Left(s"attribute $f not declared for label $lbl")
        }

      case ISet(v, f, e) =>
        lookup(env, v) match {
          case None => Left(s"set on unbound variable $v")
          case Some(l) if isRelLabel(l) =>
            // `set x.f = e` through a rel binding (round-10): join-update
            // of the edge frame, the mirror of node set
            val key = relKeyOf(l)
            schema.relAttrsOf(key).collectFirst { case (`f`, tp) => tp } match {
              case None => Left(s"attribute $f not declared for relation " +
                s"(:${key._1})-[:${key._2}]->(:${key._3})")
              case Some(declTp) =>
                tpExpr(schema, env, e).flatMap { te =>
                  if (te.tp != declTp)
                    Left(s"set $v.$f: expression type ${te.tp} != declared $declTp")
                  else Right((RSetEdge(v, key, f, declTp, te), env))
                }
            }
          case Some(l) if isVirtual(l) =>
            Left(s"cannot set attribute of ${virtualKind(l)} binding $v")
          case Some(lbl) =>
            schema.attrType(lbl, f) match {
              case None => Left(s"attribute $f not declared for label $lbl")
              case Some(declTp) =>
                tpExpr(schema, env, e).flatMap { te =>
                  if (te.tp != declTp)
                    Left(s"set $v.$f: expression type ${te.tp} != declared $declTp")
                  else Right((RSet(v, lbl, f, declTp, te), env))
                }
            }
        }
    }

  /** Resolve a return/with item against the env + schema — shared by
    * IReturnExt and IWith. */
  private def resolveRet(schema: Schema, env: Env)(it: RetItem): Either[String, RRet] = it match {
    case RetVar(v) =>
      lookup(env, v).toRight(s"return of unbound variable $v").flatMap { l =>
        if (isRelLabel(l))
          Left(s"cannot return/project relationship binding $v: " +
            "use its endpoints or edge attributes (x.f) instead")
        else Right(RRetVar(v))
      }
    case RetAttr(v, f) =>
      lookup(env, v) match {
        case None => Left(s"return of unbound variable $v")
        case Some(AnyLabel) =>
          Left(s"$v.$f: $v is unlabeled (match ($v) binds every label) — " +
            s"its attributes are unknown; label it, ($v:label), or reach " +
            "it through a relation hop that determines the label")
        case Some(lbl) =>
          schema.attrType(lbl, f)
            .toRight(s"attribute $f not declared for label $lbl (variable $v)")
            .map(tp => RRetAttr(v, lbl, f, tp))
      }
    case RetExpr(e) => tpExpr(schema, env, e).map(RRetExpr(_))
    case RetAgg(fn, arg, dist) =>
      resolveRet(schema, env)(arg).flatMap {
        case a: RRetAgg => Left(s"nested aggregate ${fn.name}(${a.outName})")
        case a @ RRetAttr(v, _, f, tp) =>
          // min/max extend to strings (lexicographic, round 10
          // continued); strjoin is string-only; collect takes any
          // SCALAR (no nesting); sum/avg stay int-only
          if (fn == AggStrJoin && tp != StringT)
            Left(s"strjoin($v.$f) requires a string attribute, got $tp")
          else if (fn == AggCollect && tp.isInstanceOf[ListT])
            Left(s"collect($v.$f): cannot collect a list (lists don't nest)")
          else if (fn != AggCount && fn != AggStrJoin && fn != AggCollect &&
              tp != IntT &&
              !(tp == StringT && (fn == AggMin || fn == AggMax)))
            Left(s"${fn.name}($v.$f) requires an int attribute, got $tp")
          else Right(RRetAgg(fn, a, dist))
        case a @ RRetExpr(te) =>
          // aggregate over a full expression (round 10 continued):
          // sum/avg need an int-typed expression, min/max admit string
          // too, strjoin requires string, collect any scalar; count
          // takes any (every MiniGQL value is non-null — it counts rows)
          if (fn == AggStrJoin && te.tp != StringT)
            Left(s"strjoin(<expr>) requires a string expression, got ${te.tp}")
          else if (fn == AggCollect && te.tp.isInstanceOf[ListT])
            Left("collect(<expr>): cannot collect a list (lists don't nest)")
          else if (fn != AggCount && fn != AggStrJoin && fn != AggCollect &&
              te.tp != IntT &&
              !(te.tp == StringT && (fn == AggMin || fn == AggMax)))
            Left(s"${fn.name}(<expr>) requires an int expression, got ${te.tp}")
          else Right(RRetAgg(fn, a, dist))
        case a @ RRetVar(v) =>
          if (fn != AggCount) Left(s"${fn.name}($v) requires an attribute argument")
          else Right(RRetAgg(fn, a, dist))
      }
  }

  /** Order-key resolution with alias awareness (round 10 continued —
    * Cypher's `ORDER BY alias`): a bare identifier key resolves FIRST
    * against the item output names — `return n.x as y order by y` /
    * `with … as y order by y` order by the aliased item (structurally
    * equal to it, satisfying the aggregated/distinct keys-are-items
    * rule) — and only then against the variable bindings. Projection
    * scope wins over a same-named binding, Cypher's rule (an unaliased
    * returned variable hits both and resolves identically either way). */
  private def resolveKeyAliased(schema: Schema, env: Env,
      pairs: List[(RRet, String)])(k: RetItem): Either[String, RRet] =
    k match {
      case RetVar(a) =>
        pairs.collectFirst { case (r, `a`) => r }
          .fold(resolveRet(schema, env)(k))(Right(_))
      case _ => resolveRet(schema, env)(k)
    }

  private def sequenceRet[A](xs: List[Either[String, A]]): Either[String, List[A]] =
    xs.foldRight(Right(Nil): Either[String, List[A]]) {
      (e, acc) => for (h <- e; t <- acc) yield h :: t
    }

  /** Paging bounds shared by return-ext and with (ADVICE r09): the
    * engine pages through `Dataset.offset`/`limit`, which take Int — a
    * parser-supplied Long above Int.MaxValue would silently wrap to a
    * negative offset/limit. A >2^31 page bound is always a typo (no
    * binding table has 2 billion rows a user pages by hand), so reject
    * at typing time rather than truncate at run time. */
  /** Resolve the page bounds to plain longs (round 14: `skip`/`limit`
    * admit `$param` — substitution already turned a supplied param into
    * the same Const a literal gives, so anything else here is an
    * error). Literals lex unsigned; a NEGATIVE value can only arrive
    * through a param and is rejected like the overflow case. */
  private def checkPage(skip: Option[Expr], limit: Option[Expr],
      clause: String): Either[String, (Option[Long], Option[Long])] = {
    def one(e: Option[Expr], what: String): Either[String, Option[Long]] =
      e match {
        case None => Right(None)
        case Some(Const(IntV(n))) =>
          if (n < 0) Left(s"$clause $what $n is negative")
          else if (n > Int.MaxValue)
            Left(s"$clause $what $n exceeds the maximum page bound ${Int.MaxValue}")
          else Right(Some(n))
        case Some(Param(pn)) =>
          Left(s"missing parameter $$$pn (supply it via params)")
        case Some(Const(v)) =>
          Left(s"$clause $what must be an integer, got $v")
        case Some(other) =>
          Left(s"internal: non-literal $clause $what $other")
      }
    for { sk <- one(skip, "skip"); lim <- one(limit, "limit") } yield (sk, lim)
  }

  /** Order-key / distinct legality shared by return-ext and with:
    * distinct+agg is a silent no-op (invites `return distinct count(v)`
    * when the user means `count(distinct v)`); aggregated or distinct
    * shaping may only order by its own items (ordering a deduped /
    * grouped row by a non-item expression is ill-defined); aggregate
    * order keys need an aggregated item list. */
  private def checkRetShape(ritems: List[RRet], rkeys: List[RRet],
      distinct: Boolean, clause: String, itemsPhrase: String): Option[String] = {
    val hasAgg = ritems.exists(_.isInstanceOf[RRetAgg])
    if (distinct && hasAgg)
      Some(s"$clause distinct with an aggregated item has no effect; " +
        "use count(distinct ...) / sum(distinct ...) instead")
    else if (hasAgg) rkeys.find(k => !ritems.contains(k)).map(k =>
      s"order by ${k.outName}: aggregated $clause may only order by $itemsPhrase")
    else if (distinct) rkeys.find(k => !ritems.contains(k)).map(k =>
      s"order by ${k.outName}: distinct $clause may only order by $itemsPhrase")
    else rkeys.collectFirst { case k: RRetAgg =>
      s"order by ${k.outName}: aggregate ordering requires an aggregated $clause" }
  }

  /** Typecheck a pattern-predicate's inner instruction list in a local
    * extension of `env` (discarded by the caller for `not exists`,
    * partially kept — fresh decls only — for `optional match`). Returns
    * (typed inner, referenced outer variables in first-use order,
    * declared (var, label) pairs in declaration order). Only match-mode
    * node / edge / var-path / where instructions can occur — Normalize
    * emits nothing else for a pattern; anything else is rejected as an
    * internal error. */
  private def tcInner(schema: Schema, outer: Env, inner: List[Instruction],
      what: String, allowOpt: Boolean = false)
      : Either[String, (List[RInstr], List[String], List[(String, String)])] = {
    val out = List.newBuilder[RInstr]
    var env = outer
    var err: Option[String] = None
    val it = inner.iterator
    while (err.isEmpty && it.hasNext) {
      val in = it.next()
      in match {
        case IActOnNode(MatchAct, _, _) | IActOnRel(MatchAct, _, _, _, _, _, _, _) |
            _: IWhere | IVarPathRel(MatchAct, _, _, _, _, _, _, _, _, _) |
            _: INamedPath | _: IMatchAnyNode => ()
        // call subqueries admit optional match (a LEFT witness per
        // invocation); pattern predicates never emit IOptPath, so the
        // flag only widens the subquery scope
        case _: IOptPath if allowOpt => ()
        case other =>
          err = Some(s"$what pattern: illegal instruction $other")
      }
      if (err.isEmpty) tcInstrN(schema, env, in) match {
        case Left(e)            => err = Some(e)
        case Right((ris, env2)) => out ++= ris; env = env2
      }
    }
    err match {
      case Some(e) => Left(e)
      case None =>
        val ris = out.result()
        val fresh = ris.flatMap {
          case RMatchNode(v, l)                   => Seq((v, l))
          case RMatchAnyNode(v)                   =>
            Seq((v, AnyLabel), (s"%label_$v", scalarLabel(StringT)))
          // a shortest-distance / named-path binding inside the witness
          // is declared by the pattern too — project like fresh
          // variables, each named path with its hidden `%rels_` hop-
          // label companion (relationships(p) reads it outside)
          case RVarPath(_, _, _, _, _, d, _, pv, _) =>
            // hidden `%`-segment witnesses stay witness-local (their
            // concatenation, bound by RNamedPath below, is what escapes)
            d.map((_, PathLabel)).toSeq ++
              pv.toSeq.filterNot(_.startsWith("%")).flatMap(p =>
                Seq((p, PathValLabel), (s"%rels_$p", scalarLabel(ListT(StringT)))))
          case RNamedPath(p, _) =>
            Seq((p, PathValLabel), (s"%rels_$p", scalarLabel(ListT(StringT))))
          case ROptPath(_, _, fv) => fv
          case _ => Seq.empty
        }
        val declared = fresh.map(_._1).toSet
        // rel variables declared inside the witness are witness-local
        // (they alias endpoint columns, bind nothing projectable) —
        // exclude them from the outer-reference set like fresh decls
        val innerRels = ris.collect {
          case RMatchEdge(_, _, _, Some(x)) => x
        }.toSet
        val refs = ris.flatMap {
          case RMatchEdge(sv, tv, _, _)    => Seq(sv, tv)
          case RVarPath(sv, _, _, _, tv, _, _, _, _) => Seq(sv, tv)
          case RWhere(te)                  => exprVars(te)
          case ROptPath(_, bound, _)       => bound
          case _                           => Seq.empty
        }.distinct.filterNot(declared).filterNot(innerRels)
        // an OUTER rel binding has no witness-probe column (it aliases
        // endpoint columns) — reference its endpoints instead
        refs.find(v => lookup(outer, v).exists(isRelLabel)) match {
          case Some(x) =>
            Left(s"rel variable $x cannot be referenced inside a $what " +
              "pattern: reference its endpoint variables instead")
          case None => Right((ris, refs, fresh))
        }
    }
  }

  private def exprVars(te: TExpr): List[String] = te match {
    case TAttr(v, _, _, _) => List(v)
    case TNullCheck(v)     => List(v)
    case TIdFn(v)          => List(v)
    case TBin(_, l, r, _)  => exprVars(l) ++ exprVars(r)
    case TUn(_, e, _)      => exprVars(e)
    case TSubstr(a, b, c)  => exprVars(a) ++ exprVars(b) ++ exprVars(c)
    case TReplace(a, b, c) => exprVars(a) ++ exprVars(b) ++ exprVars(c)
    case TCase(ws, o, _)   =>
      ws.flatMap { case (c, v) => exprVars(c) ++ exprVars(v) } ++ exprVars(o)
    case TInList(e, items, _) => exprVars(e) ++ items.flatMap(exprVars)
    case TCoalesce(items, _)  => items.flatMap(exprVars)
    case TIndex(e, ix, _)     => exprVars(e) ++ exprVars(ix)
    case TRange(a, b)         => exprVars(a) ++ exprVars(b)
    case TInListE(e, l, _)    => exprVars(e) ++ exprVars(l)
    case TSplit(s, sep)       => exprVars(s) ++ exprVars(sep)
    case TSlice(e, lo, hi, _) => exprVars(e) ++ exprVars(lo) ++ exprVars(hi)
    // a lambda body's outer references surface as TAttr/TIdFn as
    // usual; the lambda's own variable is a TLamVar — not a binding
    case TListPred(_, _, l, p)   => exprVars(l) ++ exprVars(p)
    case TListComp(_, l, p, m, _) =>
      exprVars(l) ++ p.toList.flatMap(exprVars) ++ m.toList.flatMap(exprVars)
    case TReduce(_, init, _, l, b) =>
      exprVars(init) ++ exprVars(l) ++ exprVars(b)
    case _: TLamVar        => Nil
    case _: TConst         => Nil
  }

  /** Endpoint-label inference for unlabeled match-hop endpoints (round
    * 14): an UNBOUND endpoint, or one bound at [[AnyLabel]], takes the
    * hop relation's declared endpoint label when the declarations
    * (filtered by the other endpoint where known) agree on exactly one.
    * An unbound endpoint additionally gets an [[RMatchNode]] scan
    * inserted BEFORE the relational instruction — the exact sequence an
    * explicit label produces, so the engine (and its fused node+hop join)
    * never sees a difference. A bound-at-%any endpoint only NARROWS
    * (rebinds the type-env label; node ids are globally unique, so
    * every row surviving the hop's id join belongs to the inferred
    * label's frame). Ambiguity is an error naming the candidates. */
  private def inferHopEndpoints(schema: Schema, env: Env, sv: String,
      tv: String, rels0: List[String], undir: Boolean)
      : Either[String, (List[RInstr], Env)] = {
    def needs(e: Env, v: String): Boolean =
      lookup(e, v).forall(_ == AnyLabel)
    def known(e: Env, v: String): Option[String] =
      lookup(e, v).filterNot(_ == AnyLabel)
    if (!needs(env, sv) && !needs(env, tv)) Right((Nil, env))
    else {
      // an any-relation hop infers over EVERY declared relation type
      val anyRel = rels0.forall(_ == AnyRel.name)
      val rels = if (anyRel) schema.relTypes.map(_._2).toList.distinct else rels0
      val rs = if (anyRel) "" else ":" + rels.distinct.mkString("|")
      val arrow = if (undir) s"-[$rs]-" else s"-[$rs]->"
      val triples = schema.relTypes.toList.filter(t => rels.contains(t._2))
      val orients = (triples.map(t => (t._1, t._3)) ++
        (if (undir) triples.map(t => (t._3, t._1)) else Nil)).distinct
      def one(v: String, cands: List[String], st: (List[RInstr], Env))
          : Either[String, (List[RInstr], Env)] = {
        val (pre, e) = st
        if (!needs(e, v)) Right(st)
        else cands match {
          case l :: Nil =>
            if (lookup(e, v).isEmpty) Right((pre :+ RMatchNode(v, l), (v, l) :: e))
            else Right((pre, (v, l) :: e)) // %any: narrow, no new scan
          case Nil => Left(s"no declared relation type matches $arrow here" +
            known(e, sv).fold("")(l => s" from (:$l)") +
            known(e, tv).fold("")(l => s" to (:$l)"))
          case many => Left(s"cannot infer a label for $v from $arrow: " +
            s"candidates ${many.sorted.map(":" + _).mkString(", ")} — " +
            s"label it explicitly, ($v:label)")
        }
      }
      val fits = orients.filter { case (s, t) =>
        known(env, sv).forall(_ == s) && known(env, tv).forall(_ == t) }
      for {
        st1 <- one(sv, fits.map(_._1).distinct, (Nil, env))
        // tv candidates re-filtered by sv's now-resolved label (also
        // covers the self-loop (n)-[:r]->(n): sv's binding is tv's)
        st2 <- one(tv, fits.filter { case (s, _) =>
          known(st1._2, sv).forall(_ == s) }.map(_._2).distinct, st1)
      } yield st2
    }
  }

  /** [[tcInstr]] with multi-instruction output: unlabeled-match
    * resolution (round 14) may PREPEND inferred endpoint scans, or
    * resolve to no instruction at all (a bound bare `(v)` is a no-op
    * re-reference). Everything else delegates 1:1. */
  private def tcInstrN(schema: Schema, env: Env, in: Instruction)
      : Either[String, (List[RInstr], Env)] = in match {
    case IMatchAnyNode(v) =>
      lookup(env, v) match {
        case Some(_) => Right((Nil, env)) // bound: a re-reference
        case None    => Right((List(RMatchAnyNode(v)),
          // the runtime label rides a hidden per-leg literal companion
          // (label(v) reads it; Catalyst prunes it when unread)
          (s"%label_$v", scalarLabel(StringT)) :: (v, AnyLabel) :: env))
      }
    case IActOnRel(MatchAct, sv, rl, tv, undir, _, _, alts) =>
      inferHopEndpoints(schema, env, sv, tv, rl :: alts, undir).flatMap {
        case (pre, env1) =>
          tcInstr(schema, env1, in).map { case (ri, env2) => (pre :+ ri, env2) }
      }
    case IVarPathRel(MatchAct, sv, rl, _, _, tv, _, undir, _, _) =>
      inferHopEndpoints(schema, env, sv, tv, List(rl), undir).flatMap {
        case (pre, env1) =>
          tcInstr(schema, env1, in).map { case (ri, env2) => (pre :+ ri, env2) }
      }
    case other => tcInstr(schema, env, other).map { case (ri, e) => (List(ri), e) }
  }

  /** Fold [[tcInstrN]] over one branch; returns the typed instructions
    * and the final environment. */
  private def tcBranch(schema: Schema, instrs: List[Instruction])
      : Either[String, (List[RInstr], Env)] = {
    val out = List.newBuilder[RInstr]
    var env: Env = Nil
    var err: Option[String] = None
    val it = instrs.iterator
    while (err.isEmpty && it.hasNext) {
      tcInstrN(schema, env, it.next()) match {
        case Left(e)            => err = Some(e)
        case Right((ris, env2)) => out ++= ris; env = env2
      }
    }
    err.toLeft((out.result(), env))
  }

  /** Runtime column kind of a binding label, for union compatibility:
    * node ids and every int-like virtual binding are int64 columns;
    * the other scalars are their own types. */
  private def colKind(label: String): AttribTp = label match {
    case "%bool"   => BoolT
    case "%string" => StringT
    case "%list%int"    => ListT(IntT)
    case "%list%bool"   => ListT(BoolT)
    case "%list%string" => ListT(StringT)
    case _         => IntT // node ids, %int, %path
  }

  /** Output signature (name, runtime kind) of a union branch, derived
    * from its final return instruction + post-return env. */
  private def branchSig(last: RInstr, env: Env): List[(String, AttribTp)] =
    last match {
      // plain return: env IS the return list (name → label), in order
      case RReturn(_) => env.map { case (v, l) => (v, colKind(l)) }
      case RReturnExt(items, _, _, _, _) => items.map {
        // output name is the resolved pair name; kind from the item
        case (RRetVar(v), a)            => (a, colKind(lookup(env, a).orElse(lookup(env, v)).get))
        case (RRetAttr(_, _, _, tp), a) => (a, tp)
        case (g: RRetAgg, a)            => (a, g.tp)
        case (RRetExpr(te), a)          => (a, te.tp)
      }
      case other => throw new IllegalStateException(s"non-return last $other")
    }

  private def mutationKind(ri: RInstr): Option[String] = ri match {
    case _: RCreateNode | _: RCreateEdge => Some("create")
    case _: RMergeNode                   => Some("merge")
    case _: RDeleteNode | _: RDeleteAnyNode | _: RDeleteEdge
       | _: RDeleteEdgeBinding           => Some("delete")
    case _: RSet | _: RSetEdge           => Some("set")
    case _: RRemove | _: RRemoveEdge     => Some("remove")
    // every read instruction is named: a new RInstr case must be
    // classified here (build.sbt makes a non-exhaustive match an error)
    case _: RMatchNode | _: RMatchAnyNode | _: RMatchEdge | _: RVarPath
       | _: ROptPath | _: RExists | _: RCallSub | _: RCallProc
       | _: RNamedPath | _: RWhere | _: RReturn | _: RReturnExt | _: RWith
       | _: RUnwind | _: RUnwindVar | _: RUnwindExpr | _: RUnion => None
  }

  def typecheck(np: NormProg): Either[String, TypedProg] =
    checkGraphTypes(np.types).flatMap { schema =>
      // split the stream on union markers into standalone branches
      val parts: List[List[Instruction]] = {
        val out = List.newBuilder[List[Instruction]]
        var cur = List.newBuilder[Instruction]
        np.instrs.foreach {
          case IUnion(_) => out += cur.result(); cur = List.newBuilder
          case in        => cur += in
        }
        out += cur.result()
        out.result()
      }
      if (parts.size == 1)
        tcBranch(schema, np.instrs).map { case (ris, _) => TypedProg(schema, ris) }
      else {
        val flags = np.instrs.collect { case IUnion(a) => a }
        if (flags.distinct.size > 1)
          Left("cannot mix union and union all in one query")
        else sequenceRet(parts.map(tcBranch(schema, _))).flatMap { typed =>
          // each branch: read-only (branches are independent reads of
          // ONE graph with no defined order — a mutating branch would
          // make the others' results order-dependent), ending in return
          val problems = typed.zipWithIndex.flatMap { case ((ris, _), k) =>
            val mut = ris.flatMap(mutationKind).headOption
              .map(m => s"union branch ${k + 1} mutates the graph ($m): " +
                "union branches must be read-only")
            val noRet = ris.lastOption match {
              case Some(_: RReturn) | Some(_: RReturnExt) => None
              case _ => Some(s"union branch ${k + 1} must end with return")
            }
            mut.toList ++ noRet.toList
          }
          if (problems.nonEmpty) Left(problems.head)
          else {
            val sigs = typed.map { case (ris, env) => branchSig(ris.last, env) }
            sigs.zipWithIndex.drop(1).collectFirst {
              case (s, k) if s.map(_._1) != sigs.head.map(_._1) =>
                s"union branch ${k + 1} returns columns " +
                  s"(${s.map(_._1).mkString(", ")}) but branch 1 returns " +
                  s"(${sigs.head.map(_._1).mkString(", ")})"
              case (s, k) if s != sigs.head =>
                val (n, tp) = s.zip(sigs.head).collectFirst {
                  case (a, b) if a != b => a }.get
                s"union branch ${k + 1} column $n has type $tp, " +
                  "incompatible with branch 1"
            } match {
              case Some(e) => Left(e)
              case None =>
                // reassemble with the markers so the executor can split
                val ris = typed.map(_._1)
                val marker = RUnion(flags.head)
                Right(TypedProg(schema,
                  ris.head ::: ris.tail.flatMap(b => marker :: b)))
            }
          }
        }
      }
    }

  /** Parse → normalize → typecheck, throwing on error. */
  def compile(src: String): TypedProg = compile(src, Map.empty)

  /** Parse → normalize → substitute `$name` query parameters →
    * typecheck, throwing on error. Values substitute as typed literal
    * constants ([[graft.lang.Params]]); unknown `$name`s raise a
    * missing-parameter TypeError, mistyped values the ordinary typing
    * error for their position. Extra map entries are ignored (a shared
    * parameter set may serve many queries). */
  def compile(src: String, params: Map[String, Value]): TypedProg = {
    val np = Normalize.normalize(Parser.parse(src))
    typecheck(np.copy(instrs = Params.subst(np.instrs, params))) match {
      case Right(tp) => tp
      case Left(e)   => throw TypeError(e)
    }
  }
}
