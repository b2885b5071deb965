package graft.lang

/** Query-parameter substitution (round 12 — Cypher's `$param`).
  *
  * Runs on the NORMALIZED instruction stream, before typechecking:
  * every [[Param]] whose name appears in the supplied map becomes a
  * [[Const]] of the value, after which the program is indistinguishable
  * from one written with literals — typing, compilation, and pushdown
  * all see a foldable constant (a parameterized filter prunes at the
  * parquet scan exactly like a literal one). A `$name` NOT in the map
  * survives substitution and fails typing with a missing-parameter
  * error ([[Typing.tpExpr]]); a mistyped value fails with the ordinary
  * typing error for its position (`$x > 1` with a string `x` raises
  * the int-ordering error, etc.).
  *
  * The walk is a plain structural recursion over every expression
  * position an instruction can carry — no reflection, so a new Expr or
  * Instruction case is a compile error here rather than a silent
  * non-substitution. */
object Params {

  def subst(instrs: List[Instruction], params: Map[String, Value]): List[Instruction] =
    if (params.isEmpty) instrs else instrs.map(sI(params))

  private def sI(p: Map[String, Value])(in: Instruction): Instruction = in match {
    case IActOnRel(act, sv, rel, tv, undir, rv, props, alts) =>
      IActOnRel(act, sv, rel, tv, undir, rv,
        props.map { case (f, e) => (f, sE(p)(e)) }, alts)
    case IWhere(e)            => IWhere(sE(p)(e))
    case ISet(v, f, e)        => ISet(v, f, sE(p)(e))
    case IReturnExt(items, order, skip, limit, distinct) =>
      IReturnExt(items.map { case (it, a) => (sR(p)(it), a) },
        order.map { case (it, asc) => (sR(p)(it), asc) },
        skip.map(sE(p)), limit.map(sE(p)), distinct)
    case IWith(items, order, skip, limit, distinct) =>
      IWith(items.map { case (it, a) => (sR(p)(it), a) },
        order.map { case (it, asc) => (sR(p)(it), asc) },
        skip.map(sE(p)), limit.map(sE(p)), distinct)
    case IOptPath(inner)      => IOptPath(inner.map(sI(p)))
    case IExists(inner, neg)  => IExists(inner.map(sI(p)), neg)
    case IMergeNode(v, lbl, props, onCreate, onMatch) =>
      IMergeNode(v, lbl, props.map { case (f, e) => (f, sE(p)(e)) },
        onCreate.map { case (v2, f, e) => (v2, f, sE(p)(e)) },
        onMatch.map { case (v2, f, e) => (v2, f, sE(p)(e)) })
    case IUnwind(items, a)    => IUnwind(items.map(sE(p)), a)
    case IUnwindExpr(e, a)    => IUnwindExpr(sE(p)(e), a)
    case ICallProc(proc, ys, args) => ICallProc(proc, ys, args.map(sE(p)))
    case ICallSub(imports, inner, items, order, skip, limit, distinct) =>
      ICallSub(imports, inner.map(sI(p)),
        items.map { case (it, a) => (sR(p)(it), a) },
        order.map { case (it, asc) => (sR(p)(it), asc) },
        skip.map(sE(p)), limit.map(sE(p)), distinct)
    case other => other // no expression positions
  }

  private def sR(p: Map[String, Value])(it: RetItem): RetItem = it match {
    case RetExpr(e)            => RetExpr(sE(p)(e))
    case RetAgg(fn, arg, dist) => RetAgg(fn, sR(p)(arg), dist)
    case other                 => other
  }

  private def sE(p: Map[String, Value])(e: Expr): Expr = e match {
    case Param(n)            => p.get(n).fold(e: Expr)(Const(_))
    case c: Const            => c
    case a: AttribAcc        => a
    case n: NullCheck        => n
    case f: IdFn             => f
    case f: LabelFn          => f
    case f: TypeFn           => f
    case f: LengthFn         => f
    case f: NodesFn          => f
    case f: RelsFn           => f
    case Bin(op, l, r)       => Bin(op, sE(p)(l), sE(p)(r))
    case Un(op, e1)          => Un(op, sE(p)(e1))
    case Substr(s, pos, len) => Substr(sE(p)(s), sE(p)(pos), sE(p)(len))
    case Replace(s, f, r)    => Replace(sE(p)(s), sE(p)(f), sE(p)(r))
    case CaseExpr(whens, ow) =>
      CaseExpr(whens.map { case (c, v) => (sE(p)(c), sE(p)(v)) }, sE(p)(ow))
    case InList(e1, items, neg) => InList(sE(p)(e1), items.map(sE(p)), neg)
    case InListE(e1, l, neg) => InListE(sE(p)(e1), sE(p)(l), neg)
    case RangeE(lo, hi)      => RangeE(sE(p)(lo), sE(p)(hi))
    case IndexAcc(e1, ix)    => IndexAcc(sE(p)(e1), sE(p)(ix))
    case SliceAcc(e1, lo, hi) => SliceAcc(sE(p)(e1), sE(p)(lo), sE(p)(hi))
    case Coalesce(items)     => Coalesce(items.map(sE(p)))
    case ListPred(k, v, l, pr) => ListPred(k, v, sE(p)(l), sE(p)(pr))
    case ListComp(v, l, pr, m) =>
      ListComp(v, sE(p)(l), pr.map(sE(p)), m.map(sE(p)))
    case ReduceE(acc, init, v, l, body) =>
      ReduceE(acc, sE(p)(init), v, sE(p)(l), sE(p)(body))
    case SplitFn(s, sep)     => SplitFn(sE(p)(s), sE(p)(sep))
    // only reachable where the parse-time sugar doesn't rewrite (call
    // { } bodies, pattern property maps) — typing rejects them there
    // with a pointer, so substitution inside is moot
    case c: CountPat         => c
    case c: PatComp          => c
  }
}
