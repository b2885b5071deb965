package graft.lang

/** Normalized 7-instruction IR and the pattern desugarer, semantics per the
  * reference (/root/reference/graphDB/lib/instr.ml:8-98).
  *
  * Desugaring ordering rule (instr.ml:56-77, observable through node-id
  * assignment order): each relation instruction is emitted immediately
  * AFTER the node instruction that declares its target, so creates happen
  * before edge-adds. `(a:A)-[:r]->(b:B)-[:s]->(c)` ⇒
  * `[node a; node b; rel(a,r,b); node c?; rel(b,s,c)]`.
  */
sealed trait Act extends Product with Serializable
case object CreateAct extends Act
case object MatchAct extends Act

sealed trait Instruction extends Product with Serializable
final case class IActOnNode(act: Act, v: String, label: String) extends Instruction
/** `undir` marks an undirected hop `-[:r]-` (match-only; typing rejects
  * create/merge — direction is storage): the edge may run EITHER way
  * between `sv` and `tv`. Directed hops are emitted with `undir = false`
  * and reverse hops simply swap `sv`/`tv` at desugar time.
  *
  * Round-10 edge properties: `rv` is the optional rel-variable binding
  * `[x:r]` (match-only, directed-only — typing enforces); `props` is
  * the inline property map, kept in the instruction ONLY for create
  * (the new edge's per-row attribute values) — match props are
  * desugared by Normalize into where conjuncts on an auto-bound rel
  * variable, so the instruction never carries them. */
final case class IActOnRel(act: Act, sv: String, rel: String, tv: String,
    undir: Boolean = false, rv: Option[String] = None,
    props: List[(String, Expr)] = Nil,
    /** `[:a|b]` alternation (round 10): the hop matches when ANY of
      * `rel :: alts` connects — match-only, per-pair existence. */
    alts: List[String] = Nil) extends Instruction
final case class IDeleteNode(v: String) extends Instruction
final case class IDeleteRel(sv: String, rel: String, tv: String) extends Instruction
final case class IReturn(vs: List[String]) extends Instruction
final case class IWhere(e: Expr) extends Instruction
final case class ISet(v: String, field: String, e: Expr) extends Instruction
/** `remove v.f` — unset the attribute (round 10; see RemoveClause). */
final case class IRemove(v: String, field: String) extends Instruction
/** Extension instructions (no reference counterpart). */
final case class IReturnExt(items: List[(RetItem, Option[String])],
    order: List[(RetItem, Boolean)],
    skip: Option[Expr], limit: Option[Expr], distinct: Boolean) extends Instruction
/** Mid-query projection/aggregation (see [[WithClause]]); items carry
  * their optional `as` aliases — resolution (defaulting, scalar
  * pseudo-labels) happens in typing. */
final case class IWith(items: List[(RetItem, Option[String])],
    order: List[(RetItem, Boolean)], skip: Option[Expr], limit: Option[Expr],
    distinct: Boolean) extends Instruction
/** `sv -[:rel*lo..hi]-> tv`, match-only (typing rejects create).
  * `dist` carries the optional `as d` shortest-distance binding;
  * `undir` an undirected closure `-[:r*lo..hi]-` (hops over the
  * SYMMETRIZED edge relation — walks, like the directed semantics). */
final case class IVarPathRel(act: Act, sv: String, rel: String, lo: Int, hi: Int,
    tv: String, dist: Option[String] = None, undir: Boolean = false,
    path: Option[String] = None, allPaths: Boolean = false) extends Instruction
/** Pattern-predicate instructions: `inner` is the match-normalized
  * instruction list of the predicate's pattern tail (node decls, edge
  * hops, var-paths, and the where-conjuncts its inline property maps
  * desugar to — only those kinds can occur; typing re-checks).
  *
  * `IOptPath`: left-outer witness expansion — declared inner variables
  * bind per complete witness, or ALL to NULL when none (all-or-nothing).
  * `IExists`: `where exists` — keep rows WITH a witness; when `neg`
  * (`where not exists`), rows with NO witness. Inner declarations are
  * existential and bind nothing. */
final case class IOptPath(inner: List[Instruction]) extends Instruction
final case class IExists(inner: List[Instruction], neg: Boolean) extends Instruction
/** Node-form `merge (v:label {props})` (see [[Merge]]); the edge form
  * desugars to `IActOnRel(CreateAct, …)` in Normalize (create-edge's set
  * semantics ARE the edge upsert). Props must type to constants. */
final case class IMergeNode(v: String, label: String,
    props: List[(String, Expr)],
    onCreate: List[(String, String, Expr)] = Nil,
    onMatch: List[(String, String, Expr)] = Nil) extends Instruction
/** `unwind [items] as alias` (see [[Unwind]]): per row, one output row
  * per element with `alias` bound to the element value. */
final case class IUnwind(items: List[Expr], alias: String) extends Instruction
/** `unwind xs as x` over a list binding (see [[UnwindVar]]). */
final case class IUnwindVar(v: String, alias: String) extends Instruction
/** `unwind <list-expr> as x` (see [[UnwindExpr]]). */
final case class IUnwindExpr(e: Expr, alias: String) extends Instruction
/** Query-branch separator (see [[UnionSep]]): typing splits the
  * instruction stream at these markers and checks each branch as a
  * standalone read-only query; the executor evaluates branches
  * independently and combines their return tables. */
final case class IUnion(all: Boolean) extends Instruction
/** `call <proc>(…) yield …` (see [[graft.lang.CallProc]]). */
final case class ICallProc(proc: String, yields: List[String],
    args: List[Expr] = Nil) extends Instruction
/** Call subquery (round 15): normalized inner instruction list + the
  * final return's shape, paged PER imported tuple (see [[CallSub]]). */
final case class ICallSub(imports: List[String], inner: List[Instruction],
    items: List[(RetItem, Option[String])], order: List[(RetItem, Boolean)],
    skip: Option[Expr], limit: Option[Expr], distinct: Boolean) extends Instruction
/** Binds `target` to the PATTERN-ORDER concatenation of the per-segment
  * named-path witnesses (round 13 — see [[graft.lang.NamedPattern]]).
  * `segs` = (hidden segment path var, relation label, reversed): each
  * segment var was bound by the preceding [[IVarPathRel]] instructions
  * this desugar emitted; reversed segments (`<-[:r]-` hops) flip their
  * storage-ordered witness before concatenation, and every segment
  * after the first drops its leading node (the junction, already the
  * previous segment's tail). Also binds the hidden `%rels_<target>`
  * companion — the hop-label list `relationships(target)` reads. */
final case class INamedPath(target: String,
    segs: List[(String, String, Boolean)]) extends Instruction
/** Standalone unlabeled match node `match (n)` (round 14 — Cypher's
  * any-label scan). Emitted only for a bare `(v)` that IS the whole
  * pattern: hop endpoints stay plain references so the relational
  * instructions can infer a concrete label from the relation's declared
  * endpoint types instead. Typing resolves: an already-bound `v` makes
  * this a no-op re-reference (the round-12 behavior); an unbound `v`
  * becomes the union of every label's id scan, bound at the virtual
  * any-label (attribute access restricted until a later hop narrows). */
final case class IMatchAnyNode(v: String) extends Instruction

final case class NormProg(types: GraphTypes, instrs: List[Instruction])

object Normalize {

  private def normNodePattern(act: Act, np: NodePattern): List[Instruction] = np match {
    // an unlabeled-with-props MATCH endpoint emits no node instruction
    // (relational inference binds it, round 14 — its props ride the
    // ordinary conjunct desugar); in CREATE position it keeps the
    // sentinel-labeled instruction so typing rejects with a pointer
    case DeclPattern(_, AnyNodeLabel(), _) if act == MatchAct => Nil
    case DeclPattern(v, l, _) => List(IActOnNode(act, v, l))
    case VarRefPattern(_)     => Nil
  }

  /** Inline property maps of every declared node in the pattern tree,
    * as (variable, field, expr). Desugared per clause — `create` props
    * become `set` instructions, `match` props `where` conjuncts — and
    * APPENDED after the clause's pattern instructions rather than
    * interleaved: within one clause later node/edge instructions never
    * drop or multiply the rows a set/where targets (create is 1:1 per
    * row, create-edge row-preserving; for match, filtering after the
    * joins is the same conjunction semantics), and appending keeps the
    * node+edge adjacency the Engine's fused hop join fuses on. */
  private def declProps(pat: Pattern): List[(String, String, Expr)] = {
    def np(n: NodePattern): List[(String, String, Expr)] = n match {
      case DeclPattern(v, _, ps) => ps.map { case (f, e) => (v, f, e) }
      case _                     => Nil
    }
    pat match {
      case SimpPattern(n)                    => np(n)
      case CompPattern(n, _, rest, _, _, _, _) => np(n) ++ declProps(rest)
      case VarPattern(n, _, _, _, rest, _, _, _, _) => np(n) ++ declProps(rest)
      case NamedPattern(_, inner)            => declProps(inner)
    }
  }

  /** Desugar a [[NamedPattern]] (round 13) into a plain hop chain whose
    * every hop carries a hidden per-segment witness binding, plus the
    * [[INamedPath]] that concatenates them — appended after the
    * clause's pattern instructions like property conjuncts (row-
    * preserving, so the node+edge adjacency the engine fuses on is
    * untouched). Non-named patterns pass through. The parser already
    * validated the chain (pure hops, no rel vars/props/alternation). */
  private def desugarNamed(fresh: () => String)(pat: Pattern): (Pattern, List[Instruction]) =
    pat match {
      case NamedPattern(p, inner) =>
        val segs = List.newBuilder[(String, String, Boolean)]
        def walk(q: Pattern): Pattern = q match {
          case sp: SimpPattern => sp
          case CompPattern(np, rl, rest, dir, _, _, _) =>
            // a fixed hop is the lo = hi = 1 case of the witness
            // machinery: same reach semantics (edges are sets — one row
            // per connected pair), witness = [s, t]
            val sv = fresh()
            segs += ((sv, rl, dir == Rev))
            VarPattern(np, rl, 1, 1, walk(rest), None, dir, Some(sv))
          case vp @ VarPattern(_, rl, _, _, rest, _, dir, _, _) =>
            val sv = fresh()
            segs += ((sv, rl, dir == Rev))
            vp.copy(rest = walk(rest), pathVar = Some(sv))
          case NamedPattern(_, _) => throw new IllegalStateException(
            "parser rejects nested named paths")
        }
        val rewritten = walk(inner)
        (rewritten, List(INamedPath(p, segs.result())))
      case other => (other, Nil)
    }

  private def normPattern(act: Act, pat: Pattern): List[Instruction] = pat match {
    // a STANDALONE bare node in match position is the any-label scan
    // (or a no-op if the variable is bound — typing decides); create
    // keeps the reference-only reading, and hop endpoints never reach
    // here (tail emits them), so edge-label inference stays available.
    // The unlabeled-with-props form scans the same way — its props
    // desugar to conjuncts that then fail typing with the unlabeled-
    // attribute pointer (only a hop can determine the label)
    case SimpPattern(VarRefPattern(v)) if act == MatchAct => List(IMatchAnyNode(v))
    case SimpPattern(DeclPattern(v, AnyNodeLabel(), _)) if act == MatchAct =>
      List(IMatchAnyNode(v))
    case SimpPattern(np) => normNodePattern(act, np)
    case CompPattern(np, rl, rest, dir, rv, rps, ralts) =>
      normNodePattern(act, np) ++ tail(act, np.variable, Hop(rl, dir = dir, rv = rv, props = rps, alts = ralts), rest)
    case VarPattern(np, rl, lo, hi, rest, dist, dir, pv, ap) =>
      normNodePattern(act, np) ++ tail(act, np.variable,
        Hop(rl, lo, hi, dist, dir, pathVar = pv, allPaths = ap), rest)
    case NamedPattern(_, _) => throw new IllegalStateException(
      "NamedPattern is desugared before normalization (desugarNamed)")
  }

  /** One hop of a path: fixed (`lo = hi = 1` single edge) or variable.
    * `Rev` (a `<-[:r]-` hop) swaps the emitted instruction's endpoints,
    * `Undir` (`-[:r]-`) sets the instruction's undirected flag — the
    * ONLY places pattern direction exists; the IR is orientation-free
    * beyond that one bit. `rv`/`props` ride the fixed-hop instruction
    * verbatim (the parser rejects them on variable-length hops). */
  private final case class Hop(rl: String, lo: Int = 1, hi: Int = 1,
      dist: Option[String] = None, dir: Dir = Fwd,
      rv: Option[String] = None, props: List[(String, Expr)] = Nil,
      alts: List[String] = Nil, pathVar: Option[String] = None,
      allPaths: Boolean = false) {
    def instr(act: Act, sv: String, tv: String): Instruction = {
      val (s, t) = if (dir == Rev) (tv, sv) else (sv, tv)
      val undir = dir == Undir
      if (lo == 1 && hi == 1 && dist.isEmpty && pathVar.isEmpty)
        IActOnRel(act, s, rl, t, undir, rv, props, alts)
      else IVarPathRel(act, s, rl, lo, hi, t, dist, undir, pathVar, allPaths)
    }
  }

  private def tail(act: Act, srcV: String, hop: Hop, pat: Pattern): List[Instruction] =
    pat match {
      case SimpPattern(np) =>
        normNodePattern(act, np) :+ hop.instr(act, srcV, np.variable)
      case CompPattern(np, rl2, rest, dir2, rv2, rps2, ralts2) =>
        (normNodePattern(act, np) :+ hop.instr(act, srcV, np.variable)) ++
          tail(act, np.variable, Hop(rl2, dir = dir2, rv = rv2, props = rps2, alts = ralts2), rest)
      case VarPattern(np, rl2, lo2, hi2, rest, dist2, dir2, pv2, ap2) =>
        (normNodePattern(act, np) :+ hop.instr(act, srcV, np.variable)) ++
          tail(act, np.variable,
            Hop(rl2, lo2, hi2, dist2, dir2, pathVar = pv2, allPaths = ap2), rest)
      case NamedPattern(_, _) => throw new IllegalStateException(
        "NamedPattern is desugared before normalization")
    }

  /** Ensure every MATCH hop carrying an inline edge-property map has a
    * rel variable to hang its equality conjuncts on — auto-binding
    * `%r<k>` names where the user gave none (`%` cannot lex as an
    * identifier, so no user variable collides). */
  private def assignRelVars(pat: Pattern, fresh: () => String): Pattern = pat match {
    case cp @ CompPattern(_, _, rest, _, rv, props, _) =>
      cp.copy(
        relVar = if (props.nonEmpty && rv.isEmpty) Some(fresh()) else rv,
        rest = assignRelVars(rest, fresh))
    case vp @ VarPattern(_, _, _, _, rest, _, _, _, _) =>
      vp.copy(rest = assignRelVars(rest, fresh))
    case sp: SimpPattern => sp
    case NamedPattern(_, _) => throw new IllegalStateException(
      "NamedPattern is desugared before rel-var assignment")
  }

  /** Equality conjuncts of a match pattern's edge-property maps —
    * `x.f = e` per entry, through the (auto-)bound rel variable. */
  private def relPropConjuncts(pat: Pattern): List[Instruction] = pat match {
    case CompPattern(_, _, rest, _, rv, props, _) =>
      props.map { case (f, e) =>
        IWhere(Bin(BCeq, AttribAcc(rv.get, f), e)): Instruction } ++
        relPropConjuncts(rest)
    case VarPattern(_, _, _, _, rest, _, _, _, _) => relPropConjuncts(rest)
    case _: SimpPattern => Nil
    case NamedPattern(_, inner) => relPropConjuncts(inner)
  }

  /** Drop the (now-conjunct) props from match-emitted edge instructions. */
  private def stripMatchRelProps(ins: List[Instruction]): List[Instruction] =
    ins.map {
      case r @ IActOnRel(MatchAct, _, _, _, _, _, ps, _) if ps.nonEmpty => r.copy(props = Nil)
      case x => x
    }

  private def normClause(fresh: () => String)(c: Clause): List[Instruction] = c match {
    case Create(pats) =>
      // create-edge property maps stay IN the instruction (the new
      // edge's per-row attribute values — a post-hoc set/where desugar
      // would change the semantics)
      pats.flatMap(normPattern(CreateAct, _)) ++
        pats.flatMap(declProps).map { case (v, f, e) => ISet(v, f, e) }
    case Match(pats0) =>
      // match-edge property maps become `x.f = e` conjuncts through an
      // (auto-)bound rel variable, APPENDED like node props so the
      // engine's fused hop join still sees node+edge adjacency; general named
      // paths (round 13) desugar FIRST — their concat instruction is
      // appended last, after every hop's witness is bound
      val (plain, namedExtras) = pats0.map(desugarNamed(fresh)).unzip
      val pats = plain.map(assignRelVars(_, fresh))
      stripMatchRelProps(pats.flatMap(normPattern(MatchAct, _))) ++
        pats.flatMap(declProps).map { case (v, f, e) =>
          IWhere(Bin(BCeq, AttribAcc(v, f), e)) } ++
        pats.flatMap(relPropConjuncts) ++ namedExtras.flatten
    case Delete(DeleteNodes(vs))  => vs.map(IDeleteNode)
    case Delete(DeleteRels(ts))   => ts.map { case (s, r, t) => IDeleteRel(s, r, t) }
    case SetClause(as)            => as.map { case (v, f, e) => ISet(v, f, e) }
    case RemoveClause(ts)         => ts.map { case (v, f) => IRemove(v, f) }
    case Where(e)                 => List(IWhere(e))
    case Return(vs)               => List(IReturn(vs))
    case ReturnExt(its, ord, sk, lim, dist) => List(IReturnExt(its, ord, sk, lim, dist))
    // attached where (round 16): the filter desugars to the standalone
    // where instruction AFTER the projection — Cypher's subclause order
    case WithClause(its, ord, sk, lim, dist, wh) =>
      IWith(its, ord, sk, lim, dist) :: wh.map(IWhere.apply).toList
    case OptMatch(pat0) =>
      // the HEAD node is matched non-optionally (a fresh decl match-binds
      // it, with its props as ordinary outer where-conjuncts); only the
      // tail of the path is the optional witness. Edge-property maps in
      // the tail filter INSIDE the witness (conjuncts through the
      // auto-bound rel variable, which stays witness-local). A general
      // named path desugars first; its concat instruction joins the
      // witness sub-plan, so a row with no witness binds the path (and
      // relationships(p)) to NULL all-or-nothing like every fresh var.
      val (patD, namedExtras) = desugarNamed(fresh)(pat0)
      val pat = assignRelVars(patD, fresh)
      val (head, innerTail) = splitHead(pat)
      val headProps = headDeclProps(pat).map { case (v, f, e) =>
        IWhere(Bin(BCeq, AttribAcc(v, f), e)) }
      normNodePattern(MatchAct, head) ++ headProps :+
        IOptPath(stripMatchRelProps(innerTail) ++ relPropConjuncts(pat) ++ namedExtras)
    case Exists(pat0, neg) =>
      // the whole pattern is the predicate: referenced variables stay
      // outer, declared ones are existential — so head decls/props also
      // go INSIDE (a fresh head decl is just another existential)
      val pat = assignRelVars(pat0, fresh)
      List(IExists(stripMatchRelProps(normPattern(MatchAct, pat)) ++
        declProps(pat).map { case (v, f, e) =>
          IWhere(Bin(BCeq, AttribAcc(v, f), e)) } ++
        relPropConjuncts(pat), neg))
    case Unwind(items, alias) => List(IUnwind(items, alias))
    case UnwindVar(v, alias)  => List(IUnwindVar(v, alias))
    case UnwindExpr(e, alias) => List(IUnwindExpr(e, alias))
    case CallProc(p, ys, as)  => List(ICallProc(p, ys, as))
    case CallSub(imports, inner, ret) =>
      // inner clauses normalize with the SAME fresh counter (hidden
      // segment witnesses must not collide with the outer pattern's)
      List(ICallSub(imports, inner.flatMap(normClause(fresh)),
        ret.items, ret.order, ret.skip, ret.limit, ret.distinct))
    case UnionSep(all)        => List(IUnion(all))
    case Merge(pat, onC, onM) => pat match {
      // node form keeps its props INSIDE the instruction (they are the
      // lookup key, not a post-hoc set/where — the desugar create/match
      // use would change the semantics from upsert to always-create /
      // filter-after-bind); the conditional actions ride along as raw
      // assignments, typed per-branch like ISet
      case SimpPattern(DeclPattern(v, l, ps)) => List(IMergeNode(v, l, ps, onC, onM))
      case CompPattern(a, rl, SimpPattern(b), dir, _, _, _) =>
        // Undir flows through as an undirected CREATE, which typing
        // rejects with the direction-is-storage message (the parser
        // already rejects rel vars / props / on-actions on merge edges)
        val (s0, t0) = if (dir == Rev) (b.variable, a.variable) else (a.variable, b.variable)
        List(IActOnRel(CreateAct, s0, rl, t0, dir == Undir))
      case _ => throw new IllegalStateException(
        "parser admits only node/edge merge shapes")
    }
  }

  /** Head node of a hop pattern + the match-normalized instruction list
    * of its tail (including tail-node property conjuncts). */
  private def splitHead(pat: Pattern): (NodePattern, List[Instruction]) = {
    def tailProps(p: Pattern): List[Instruction] = declProps(p).map {
      case (v, f, e) => IWhere(Bin(BCeq, AttribAcc(v, f), e)) }
    pat match {
      case CompPattern(np, rl, rest, dir, rv, rps, ralts) =>
        // rel vars / edge props inside predicate patterns ride the
        // instruction verbatim — typing rejects them with a clear
        // message (witness sub-plans have no rel-binding surface)
        (np, tail(MatchAct, np.variable, Hop(rl, dir = dir, rv = rv, props = rps, alts = ralts), rest) ++ tailProps(rest))
      case VarPattern(np, rl, lo, hi, rest, dist, dir, pv, ap) =>
        (np, tail(MatchAct, np.variable, Hop(rl, lo, hi, dist, dir, pathVar = pv), rest) ++ tailProps(rest))
      case SimpPattern(np) => (np, Nil) // unreachable: parser requires a hop
      case NamedPattern(_, _) => throw new IllegalStateException(
        "NamedPattern is desugared before head splitting")
    }
  }

  private def headDeclProps(pat: Pattern): List[(String, String, Expr)] =
    pat match {
      case CompPattern(DeclPattern(v, _, ps), _, _, _, _, _, _) => ps.map { case (f, e) => (v, f, e) }
      case VarPattern(DeclPattern(v, _, ps), _, _, _, _, _, _, _, _) => ps.map { case (f, e) => (v, f, e) }
      case NamedPattern(_, inner) => headDeclProps(inner)
      case _                                                 => Nil
    }

  def normalize(p: Prog): NormProg = {
    // auto rel-variable namer for match-edge property maps; `%` cannot
    // lex as an identifier, so generated names never collide
    var k = 0
    val fresh = () => { k += 1; s"%r$k" }
    NormProg(p.types, p.query.clauses.flatMap(normClause(fresh)))
  }
}
