package graft.lang

import Lexer._

/** Recursive-descent parser for MiniGQL, grammar per the reference
  * (/root/reference/graphDB/lib/parser.mly): `prog := tpDecl* query`,
  * `query := clause*`, expression precedence `or < and < comparisons
  * < +,- < *,/,mod`, all left-associative (parser.mly:18-22).
  */
object Parser {

  /** `tok` is the offending token's source lexeme, `end` its end offset
    * — both feed the reference-shaped [[errorReport]]; `msg` keeps the
    * parser's richer `expected …, got …` diagnosis for programmatic
    * consumers (tests, embedding callers). */
  final case class ParseError(msg: String, pos: Int, tok: String = "", end: Int = -1)
      extends RuntimeException(s"$msg at offset $pos")

  /** Parse-error report, byte-shaped like the reference's
    * print_parse_error (interf.ml:25-31): `[Parsing error in file: <fn>]
    * on line: <l> column: <c> token: <tok>` then `rest: <tail>` — the
    * rest-of-input echo is the reference's `ruleTail` (lexer.mll:87-90).
    * As in the reference: no filename ⇒ EMPTY prefix (the line starts
    * with " on line:"), the column convention is the END of the
    * offending token (ocamllex pos_cnum - pos_bol after the token is
    * consumed), and the tail starts after the token. */
  def errorReport(src: String, fn: Option[String], e: ParseError): String = {
    val at = if (e.end >= 0) e.end else e.pos
    val upto = src.take(at)
    val line = upto.count(_ == '\n') + 1
    val cnum = at - (upto.lastIndexOf('\n') + 1)
    val where = fn.map(f => s"Parsing error in file: $f").getOrElse("")
    s"$where on line: $line column: $cnum token: ${e.tok}\nrest: ${src.drop(at)}"
  }

  def parse(src: String): Prog = new P(src, Lexer.tokenize(src)).prog()

  private final class P(src: String, toks: Vector[(Token, Int, Int)]) {
    private var i = 0
    private def peek: Token = toks(i)._1
    private def peek2: Token = if (i + 1 < toks.length) toks(i + 1)._1 else TEof
    private def peek3: Token = if (i + 2 < toks.length) toks(i + 2)._1 else TEof
    private def peekAt(k: Int): Token = if (i + k < toks.length) toks(i + k)._1 else TEof
    /** True iff the token at offset `off` opens a list COMPREHENSION
      * `[x in …]` rather than a bracket literal — the same `ident in`
      * lookahead the primary-position case uses. */
    private def compAhead(off: Int): Boolean =
      peekAt(off) == TSym("[") && peekAt(off + 1).isInstanceOf[TIdent] &&
        peekAt(off + 2) == TIdent("in")
    private def pos: Int = toks(i)._2
    private def fail(msg: String): Nothing = {
      val (_, start, end) = toks(i)
      throw ParseError(msg, start, src.substring(start, end), end)
    }
    private def next(): Token = { val t = peek; i += 1; t }
    private def expectSym(s: String): Unit = peek match {
      case TSym(`s`) => i += 1
      case t         => fail(s"expected '$s', got $t")
    }
    private def ident(): String = peek match {
      case TIdent(s) => i += 1; s
      case t         => fail(s"expected identifier, got $t")
    }

    def prog(): Prog = {
      val nodeTps = List.newBuilder[NodeTypeDecl]
      val relTps = List.newBuilder[RelTypeDecl]
      // decls all start with "(:", clauses with a keyword
      while (peek == TSym("(") && peek2 == TSym(":")) {
        i += 2 // ( :
        val lbl = ident()
        peek match {
          case TSym("{") => // node type decl
            i += 1
            val attrs = List.newBuilder[(String, AttribTp)]
            if (peek != TSym("}")) {
              var more = true
              while (more) {
                val f = ident()
                peek match {
                  case TTp(tp) => i += 1; attrs += ((f, tp))
                  case t       => fail(s"expected type, got $t")
                }
                if (peek == TSym(",")) i += 1 else more = false
              }
            }
            expectSym("}"); expectSym(")")
            nodeTps += NodeTypeDecl(lbl, attrs.result())
          case TSym(")") => // relation type decl: (:A) -[:r {f t, …}]-> (:B)
            i += 1
            expectSym("-"); expectSym("["); expectSym(":")
            val rl = ident()
            // optional typed attribute list (round-10 edge properties;
            // `{` never follows the rel label in the reference grammar)
            val rattrs = peek match {
              case TSym("{") =>
                i += 1
                val b = List.newBuilder[(String, AttribTp)]
                if (peek != TSym("}")) {
                  var more = true
                  while (more) {
                    val f = ident()
                    peek match {
                      case TTp(tp) => i += 1; b += ((f, tp))
                      case t       => fail(s"expected type, got $t")
                    }
                    if (peek == TSym(",")) i += 1 else more = false
                  }
                }
                expectSym("}")
                b.result()
              case _ => Nil
            }
            expectSym("]"); expectSym("->")
            expectSym("("); expectSym(":")
            val tgt = ident()
            expectSym(")")
            relTps += RelTypeDecl(lbl, rl, tgt, rattrs)
          case t => fail(s"expected '{' or ')', got $t")
        }
      }
      val clauses = List.newBuilder[Clause]
      while (peek != TEof) clauses ++= desugarCountExprs(clause())
      Prog(GraphTypes(nodeTps.result(), relTps.result()), Query(clauses.result()))
    }

    private def clause(): Clause = peek match {
      case TKw(kw) =>
        i += 1
        kw match {
          case "create" => Create(patternList())
          case "match"  => Match(matchPatternList())
          case "delete" => Delete(deletePattern())
          case "return" => returnClause()
          case "where"  =>
            // `not exists <pattern>` — contextual like `optional`: no
            // legal expression starts TIdent(not) TIdent(exists) (an
            // identifier head must be followed by '.'), so no reference-
            // legal program is stolen
            peek match {
              // the paren keeps the round-15 expression form composable:
              // `not exists { … }` falls through to the ordinary
              // expression parser (ULnot over the count-sugar)
              case TIdent("not") if peek2 == TIdent("exists") && peek3 == TSym("(") =>
                i += 2
                pathPattern("not exists")
              // positive form: `exists` is contextual on the following
              // '(' — an expression headed by an identifier must
              // continue with '.', so `exists (` can never start a
              // reference-legal where expression
              case TIdent("exists") if peek2 == TSym("(") =>
                i += 1
                pathPattern("exists")
              case _ => Where(expr())
            }
          case _        => SetClause(assignList()) // "set"
        }
      // `optional` is a contextual identifier (engine extension): only
      // `optional match` at clause position parses as a clause — a
      // variable named `optional` stays legal everywhere else
      case TIdent("optional") if peek2 == TKw("match") =>
        i += 2
        pathPattern("optional match")
      // `merge` is likewise contextual: clause position never admits a
      // bare identifier, so no reference-legal program is stolen
      case TIdent("merge") =>
        i += 1
        mergeClause()
      // `with` too: mid-query projection/aggregation (see WithClause)
      case TIdent("with") =>
        i += 1
        withClause()
      // `unwind [e, …] as x` — clause position never admits a bare
      // identifier, so `unwind` is contextual like merge/with
      case TIdent("unwind") =>
        i += 1
        unwindClause()
      // `call <proc>(args?) yield a, b, …` — the procedure bridge
      // (round 11); args are int literals (node ids, bounds)
      case TIdent("call") =>
        i += 1
        // `call {` opens a subquery (round 15); `call name(` stays the
        // procedure bridge — the brace appears nowhere else after call
        if (peek == TSym("{")) { i += 1; return callSubquery() }
        val name = ident()
        expectSym("(")
        // args are literal parameters only — int, string, or `$param`
        // (rounds 11-12); general expressions have no row to bind to
        def litArg(): Expr = peek match {
          case TInt(v)    => i += 1; Const(IntV(v))
          case TString(s) => i += 1; Const(StringV(s))
          case TParam(p)  => i += 1; Param(p)
          case t => fail(s"expected call $name argument literal (int, " +
            s"string, or $$param), got $t")
        }
        val args = List.newBuilder[Expr]
        if (peek != TSym(")")) {
          args += litArg()
          while (peek == TSym(",")) { i += 1; args += litArg() }
        }
        expectSym(")")
        peek match {
          case TIdent("yield") => i += 1
          case t => fail(s"expected yield after call $name(…), got $t")
        }
        CallProc(name, identList(), args.result())
      // `remove v.f, …` — attribute unset (clause position never
      // admits a bare identifier, so `remove` is contextual too)
      case TIdent("remove") =>
        i += 1
        val ts = List.newBuilder[(String, String)]
        def one(): Unit = { val v = ident(); expectSym("."); ts += ((v, ident())) }
        one()
        while (peek == TSym(",")) { i += 1; one() }
        RemoveClause(ts.result())
      // `union [all]` — the query-branch separator (see UnionSep);
      // `all` is consumed only immediately after `union`, where no
      // clause form could otherwise start with it
      case TIdent("union") =>
        i += 1
        val all = peek match {
          case TIdent("all") => i += 1; true
          case _             => false
        }
        UnionSep(all)
      case t => fail(s"expected clause keyword, got $t")
    }

    /** `unwind [e1, …, en] as x` — the bracket list is the language's
      * only list constructor; at least one element (an empty list has
      * no element type), mandatory alias. */
    /** `call { [with v1, v2] <clauses> return … }` (round 15 — Cypher's
      * CALL subquery). The importing `with` admits PLAIN variables only
      * (Cypher's rule — projections import nothing new); inner clauses
      * are match/where (the existential predicate and mutation forms
      * are rejected here with a pointed error); the subquery must end
      * in exactly one return. */
    private def callSubquery(): Clause = {
      val imports = peek match {
        case TIdent("with") =>
          i += 1
          val b = List.newBuilder[String]
          b += ident()
          while (peek == TSym(",")) { i += 1; b += ident() }
          peek match {
            case TKw(_) | TSym("}") => ()
            // contextual clause starters are legal continuations too
            case TIdent("optional") | TIdent("unwind") | TIdent("call") |
                TIdent("merge") | TIdent("with") => ()
            case t => fail("call subquery imports are plain variables " +
              s"(with v1, v2) — got $t after the import list")
          }
          b.result()
        case _ => Nil
      }
      val inner = List.newBuilder[Clause]
      var ret: Option[ReturnExt] = None
      while (peek != TSym("}")) {
        if (peek == TEof) fail("unterminated call { … } subquery")
        if (ret.isDefined) fail("call subquery: return must be its last clause")
        clause() match {
          case r: ReturnExt  => ret = Some(r)
          case Return(vs)    =>
            ret = Some(ReturnExt(vs.map(v => (RetVar(v): RetItem, None)), Nil, None, None))
          case c @ (_: Match | _: Where | _: OptMatch) => inner += c
          case other => fail("call subquery admits match/optional match/" +
            s"where clauses and a final return — got ${other.getClass.getSimpleName}")
        }
      }
      i += 1 // }
      ret match {
        case Some(r) => CallSub(imports, inner.result(), r)
        case None    => fail("call subquery must end in a return")
      }
    }

    private def unwindClause(): Clause = {
      // three operand forms: a bracket literal, a bound LIST variable
      // (round 11 — `with collect(…) as xs unwind xs as x`), or a
      // general list EXPRESSION (`unwind range(1, n.x) as i`,
      // `unwind xs.val as x`, and — round 16, ADVICE r15 — a pattern
      // comprehension `unwind [ (a)-[:r]->(b) | b.x ] as v`) —
      // disambiguated by lookahead. The comprehension's `[ (` must open
      // a NODE PATTERN — `( ident` followed by ':'/'{'/')' — which
      // keeps a bracket literal whose first element is parenthesized
      // arithmetic (`unwind [ (1 + 2) * 3, 4 ] as v`: '(' followed by
      // an int, or an ident followed by '.') on the literal path.
      val patCompAhead = peek == TSym("[") && peek2 == TSym("(") &&
        peekAt(2).isInstanceOf[TIdent] &&
        (peekAt(3) == TSym(":") || peekAt(3) == TSym("{") || peekAt(3) == TSym(")"))
      if (compAhead(0) || patCompAhead ||
          (peek.isInstanceOf[TIdent] &&
            (peek2 == TSym(".") || peek2 == TSym("(")))) {
        val e = expr()
        peek match {
          case TIdent("as") => i += 1
          case t            => fail(s"expected 'as' after unwind expression, got $t")
        }
        UnwindExpr(e, ident())
      } else if (peek.isInstanceOf[TIdent]) {
        val v = ident()
        peek match {
          case TIdent("as") => i += 1
          case t            => fail(s"expected 'as' after unwind variable, got $t")
        }
        UnwindVar(v, ident())
      } else {
        val items = bracketList("unwind")
        peek match {
          case TIdent("as") => i += 1
          case t            => fail(s"expected 'as' after unwind list, got $t")
        }
        Unwind(items, ident())
      }
    }

    /** The two merge shapes (see [[Merge]]): a single labeled node
      * declaration, or one edge between two bound-variable references.
      * Anything else — a path through fresh nodes, a var-length hop —
      * has no declarative upsert semantics and is rejected here with
      * the position info `fail` carries. */
    private def mergeClause(): Clause = {
      val pat = pattern()
      val nodeForm = pat match {
        case SimpPattern(_: DeclPattern) => true
        case CompPattern(_: VarRefPattern, _, SimpPattern(_: VarRefPattern), _, None, Nil, Nil) =>
          false
        case _ => fail("merge supports a single labeled node " +
          "(merge (x: l {f: c})) or one edge between bound variables " +
          "(merge (a) -[:r]-> (b))")
      }
      // conditional actions (round 11 — Cypher's ON CREATE/MATCH SET):
      // `on` is contextual (only `on create set` / `on match set` right
      // after a merge pattern parses as an action), node form only —
      // the edge form desugars to create-edge, which has no branch
      var onCreate = List.empty[(String, String, Expr)]
      var onMatch = List.empty[(String, String, Expr)]
      while (peek == TIdent("on") &&
             (peek2 == TKw("create") || peek2 == TKw("match"))) {
        if (!nodeForm)
          fail("on create/on match actions apply to node-form merge only")
        i += 1
        val isCreate = peek == TKw("create")
        i += 1
        if (peek != TKw("set")) fail(s"expected set after on ${
          if (isCreate) "create" else "match"}, got $peek")
        i += 1
        val as = assignList()
        if (isCreate) {
          if (onCreate.nonEmpty) fail("duplicate on create set")
          onCreate = as
        } else {
          if (onMatch.nonEmpty) fail("duplicate on match set")
          onMatch = as
        }
      }
      Merge(pat, onCreate, onMatch)
    }

    // --- count { } subquery expressions (round 15) ---------------------
    // `%cs` names: `%` cannot lex as an identifier, so generated names
    // never collide with user variables (the %r / %cnt convention).
    private var csK = 0

    /** Hoist every [[CountPat]] in a clause's expression positions into
      * a hidden `call { }` subquery placed immediately BEFORE the
      * consuming clause — the whole feature then rides the typed
      * call-subquery machinery unchanged (imports-only scope, keyed
      * count aggregate, zero-match pad to 0). Imports = the pattern's
      * bare variables minus its own declarations (Cypher's scope rule:
      * bare names reference the outer row, labeled ones are fresh); a
      * bare variable not bound outside fails typing with the ordinary
      * unknown-import error. The rewrite covers where / extended-return
      * / with — the only clauses whose expressions can usefully count;
      * a CountPat anywhere else (a call { } body, a pattern property
      * map, the filter of ANOTHER count { }) survives to typing, which
      * rejects it with a pointer. */
    private def desugarCountExprs(c: Clause): List[Clause] = {
      val hoisted = List.newBuilder[Clause]
      // `lam` = list-lambda variables in scope at this position (any/
      // all/none/single, list comprehensions, reduce). A subquery
      // expression whose PATTERN references one cannot be hoisted — the
      // hoist would land before the consuming clause, outside the
      // lambda, where the bare name either fails as an unknown import
      // or, worse, silently binds a SHADOWED outer variable (ADVICE
      // r15). Rejected with a pointed error, mirroring the call { }
      // body rejection.
      def rwE(e: Expr, lam: Set[String] = Set.empty): Expr = e match {
        case CountPat(pat, filter) =>
          val (refs0, decls) = patternVars(pat)
          val refs = refs0.distinct.filterNot(decls.contains)
          val clash = refs.filter(lam)
          if (clash.nonEmpty)
            fail(s"count { } inside a list lambda cannot reference the lambda " +
              s"variable ${clash.mkString(", ")} — the subquery hoists outside " +
              "the lambda's scope; bind the value through `with` first")
          csK += 1
          val cs = s"%cs$csK"
          // count an imported variable when one exists (never null);
          // otherwise the pattern's first declaration — count(v) over
          // match-bound node rows ≡ the expansion count either way
          val target = (refs ++ decls).headOption
            .getOrElse(fail("count { } requires a pattern variable"))
          hoisted += CallSub(refs,
            Match(List(pat)) :: filter.map(Where(_): Clause).toList,
            ReturnExt(List((RetAgg(AggCount, RetVar(target)): RetItem, Some(cs))),
              Nil, None, None))
          AttribAcc(cs, "val")
        case PatComp(pat, filter, map) =>
          // the comprehension's map expression moves INSIDE the
          // subquery (it reads the pattern's fresh variables), so it is
          // NOT rewritten here — a nested count { } / comprehension in
          // it is rejected at typing like the filter case
          val (refs0, decls) = patternVars(pat)
          val refs = refs0.distinct.filterNot(decls.contains)
          val clash = refs.filter(lam)
          if (clash.nonEmpty)
            fail(s"pattern comprehension inside a list lambda cannot reference " +
              s"the lambda variable ${clash.mkString(", ")} — the subquery hoists " +
              "outside the lambda's scope; bind the value through `with` first")
          csK += 1
          val cs = s"%cs$csK"
          hoisted += CallSub(refs,
            Match(List(pat)) :: filter.map(Where(_): Clause).toList,
            ReturnExt(List((RetAgg(AggCollect, RetExpr(map)): RetItem, Some(cs))),
              Nil, None, None))
          AttribAcc(cs, "val")
        case c: Const            => c
        case p: Param            => p
        case a: AttribAcc        => a
        case n: NullCheck        => n
        case f: IdFn             => f
        case f: LabelFn          => f
        case f: TypeFn           => f
        case f: LengthFn         => f
        case f: NodesFn          => f
        case f: RelsFn           => f
        case Bin(op, l, r)       => Bin(op, rwE(l, lam), rwE(r, lam))
        case Un(op, e1)          => Un(op, rwE(e1, lam))
        case Substr(s, pos, len) => Substr(rwE(s, lam), rwE(pos, lam), rwE(len, lam))
        case Replace(s, f, r)    => Replace(rwE(s, lam), rwE(f, lam), rwE(r, lam))
        case CaseExpr(whens, ow) =>
          CaseExpr(whens.map { case (cc, v) => (rwE(cc, lam), rwE(v, lam)) }, rwE(ow, lam))
        case InList(e1, items, neg) => InList(rwE(e1, lam), items.map(rwE(_, lam)), neg)
        case InListE(e1, l, neg) => InListE(rwE(e1, lam), rwE(l, lam), neg)
        case RangeE(lo, hi)      => RangeE(rwE(lo, lam), rwE(hi, lam))
        case IndexAcc(e1, ix)    => IndexAcc(rwE(e1, lam), rwE(ix, lam))
        case SliceAcc(e1, lo, hi) => SliceAcc(rwE(e1, lam), rwE(lo, lam), rwE(hi, lam))
        case Coalesce(items)     => Coalesce(items.map(rwE(_, lam)))
        case ListPred(k, v, l, pr) => ListPred(k, v, rwE(l, lam), rwE(pr, lam + v))
        case ListComp(v, l, pr, m) =>
          ListComp(v, rwE(l, lam), pr.map(rwE(_, lam + v)), m.map(rwE(_, lam + v)))
        case ReduceE(acc, init, v, l, body) =>
          ReduceE(acc, rwE(init, lam), v, rwE(l, lam), rwE(body, lam + acc + v))
        case SplitFn(s, sep)     => SplitFn(rwE(s, lam), rwE(sep, lam))
      }
      def rwR(it: RetItem): RetItem = it match {
        case RetExpr(e)            => RetExpr(rwE(e))
        case RetAgg(fn, arg, dist) => RetAgg(fn, rwR(arg), dist)
        case other                 => other
      }
      val rewritten = c match {
        case Where(e) => Where(rwE(e))
        case ReturnExt(items, order, skip, limit, d) =>
          ReturnExt(items.map { case (it, a) => (rwR(it), a) },
            order.map { case (it, asc) => (rwR(it), asc) }, skip, limit, d)
        case WithClause(items, order, skip, limit, d, wh) =>
          WithClause(items.map { case (it, a) => (rwR(it), a) },
            order.map { case (it, asc) => (rwR(it), asc) }, skip, limit, d,
            wh.map(e => rwE(e)))
        // unwind positions (ADVICE r15 item 3): `unwind [ (a)-[:r]->(b)
        // | b.x ] as v` is a position Cypher users expect to work — the
        // comprehension hoists before the unwind like any other clause
        case Unwind(items, a)  => Unwind(items.map(e => rwE(e)), a)
        case UnwindExpr(e, a)  => UnwindExpr(rwE(e), a)
        case other => other
      }
      hoisted.result() :+ rewritten
    }

    /** The pattern's (references, declarations) in pattern order: bare
      * `(v)` nodes reference, labeled (and unlabeled-with-props) nodes
      * declare, as do rel / distance / path bindings. */
    private def patternVars(p: Pattern): (List[String], List[String]) = p match {
      case SimpPattern(np) => npVars(np)
      case CompPattern(np, _, rest, _, rv, _, _) =>
        val (r1, d1) = npVars(np); val (r2, d2) = patternVars(rest)
        (r1 ++ r2, d1 ++ rv.toList ++ d2)
      case VarPattern(np, _, _, _, rest, dist, _, pathVar, _) =>
        val (r1, d1) = npVars(np); val (r2, d2) = patternVars(rest)
        (r1 ++ r2, d1 ++ dist.toList ++ pathVar.toList ++ d2)
      case NamedPattern(name, _) =>
        fail(s"count { } binds nothing — a named path $name cannot escape it")
    }
    private def npVars(np: NodePattern): (List[String], List[String]) = np match {
      case VarRefPattern(v)       => (List(v), Nil)
      case DeclPattern(v, _, _)   => (Nil, List(v))
    }

    /** Shared shape check for the two pattern-predicate clauses: a path
      * with at least one hop (a bare `(v)` node is vacuous — for
      * `optional match` it binds nothing optional, for `not exists` a
      * bound variable trivially exists). */
    private def pathPattern(what: String): Clause = {
      // `optional match p = (…)` — named paths compose with the optional
      // form (round 12): the witness sub-plan declares the path binding
      // like any fresh variable, and a row with no witness binds it (and
      // nodes(p)) to NULL, the ordinary all-or-nothing semantics. The
      // existential predicates bind nothing, so a name there is vacuous
      // — rejected rather than silently ignored.
      val pat = peek match {
        case TIdent(p) if peek2 == TSym("=") && peek3 == TSym("(") =>
          if (what != "optional match")
            fail(s"$what binds nothing — a named path $p cannot escape it")
          i += 2
          namePath(p, pattern())
        // the shortestPath(…) wrapper composes with optional match the
        // same transparent way it does at clause position
        case TIdent(p) if peek2 == TSym("=") &&
            peek3 == TIdent("shortestPath") && peekAt(3) == TSym("(") =>
          if (what != "optional match")
            fail(s"$what binds nothing — a named path $p cannot escape it")
          i += 4
          val inner = pattern()
          expectSym(")")
          namePath(p, inner)
        case _ => pattern()
      }
      pat match {
        case SimpPattern(_) =>
          fail(s"$what requires a path pattern with at least one hop")
        case _ => what match {
          case "not exists" => Exists(pat, neg = true)
          case "exists"     => Exists(pat, neg = false)
          case _            => OptMatch(pat)
        }
      }
    }

    // --- extended return (engine extension; reference return is ident-
    // list only). `order`/`by`/`asc`/`desc`/`limit` and the aggregate
    // names are CONTEXTUAL identifiers, not keywords: `order by` is only
    // recognized after the item list (where the reference grammar would
    // reject any identifier anyway) and `count(` only by the lookahead
    // paren — so every reference-legal program parses unchanged, and
    // plain `return v1, v2` still yields the reference-shaped [[Return]].
    private val aggFns = Map(
      "count" -> AggCount, "sum" -> AggSum, "min" -> AggMin, "max" -> AggMax,
      "avg" -> AggAvg, "strjoin" -> AggStrJoin, "collect" -> AggCollect,
      "median" -> AggMedian)

    /** `distinct` is contextual like order/limit: a modifier only when
      * another identifier follows (so `return distinct` still returns a
      * variable named distinct, and `return distinct.f` its attribute). */
    private def distinctModifier(): Boolean = peek match {
      case TIdent("distinct") if peek2.isInstanceOf[TIdent] => i += 1; true
      case _ => false
    }

    /** `[order by <key> [asc|desc], …] [skip s] [limit n]` — shared tail
      * of `return` and `with`. `skip` (Cypher's OFFSET; contextual like
      * limit) precedes `limit`, matching Cypher's clause order. */
    private def orderLimit(): (List[(RetItem, Boolean)], Option[Expr], Option[Expr]) = {
      val order = List.newBuilder[(RetItem, Boolean)]
      if (peek == TIdent("order") && peek2 == TIdent("by")) {
        i += 2
        def key(): Unit = {
          val k = retItem()
          val asc = peek match {
            case TIdent("desc") => i += 1; false
            case TIdent("asc")  => i += 1; true
            case _              => true
          }
          order += ((k, asc))
        }
        key()
        while (peek == TSym(",")) { i += 1; key() }
      }
      val skip = peek match {
        case TIdent("skip") =>
          i += 1
          peek match {
            case TInt(v)    => i += 1; Some(Const(IntV(v)): Expr)
            case TParam(pn) => i += 1; Some(Param(pn): Expr)
            case t => fail(s"expected integer or $$param after skip, got $t")
          }
        case _ => None
      }
      val limit = peek match {
        case TIdent("limit") =>
          i += 1
          peek match {
            case TInt(v)    => i += 1; Some(Const(IntV(v)): Expr)
            case TParam(pn) => i += 1; Some(Param(pn): Expr)
            case t => fail(s"expected integer or $$param after limit, got $t")
          }
        case _ => None
      }
      (order.result(), skip, limit)
    }

    private def returnClause(): Clause = {
      val distinct = distinctModifier()
      // items carry an optional `as alias` exactly like with items
      // (round 10 continued — Cypher's RETURN expr AS x)
      val items = List.newBuilder[(RetItem, Option[String])]
      def one(): Unit = {
        val it = retItem()
        val alias = peek match {
          case TIdent("as") => i += 1; Some(ident())
          case _            => None
        }
        items += ((it, alias))
      }
      one()
      while (peek == TSym(",")) { i += 1; one() }
      val (ord, skip, limit) = orderLimit()
      val its = items.result()
      if (!distinct && ord.isEmpty && skip.isEmpty && limit.isEmpty &&
          its.forall { case (it, a) => it.isInstanceOf[RetVar] && a.isEmpty })
        Return(its.collect { case (RetVar(v), _) => v })
      else ReturnExt(its, ord, skip, limit, distinct)
    }

    /** `with` items are return items plus an optional `as <alias>` —
      * `as` is contextual exactly like the varpath distance binding's. */
    private def withClause(): Clause = {
      val distinct = distinctModifier()
      val items = List.newBuilder[(RetItem, Option[String])]
      def one(): Unit = {
        val it = retItem()
        val alias = peek match {
          case TIdent("as") => i += 1; Some(ident())
          case _            => None
        }
        items += ((it, alias))
      }
      one()
      while (peek == TSym(",")) { i += 1; one() }
      val (ord, skip, limit) = orderLimit()
      // attached `where` (round 16 — Cypher allows the filter as a WITH
      // subclause, after order/skip/limit): sugar for a separate where
      // clause over the projected rows. An `exists (`/`not exists`
      // PATTERN predicate head is NOT an expression (round 17, found by
      // the differential generator: `with … where exists (v)-[:t*1..1]->
      // (u:Q)` died at the '(' as "expected '.'") — leave the `where`
      // token unconsumed so the clause loop parses the standalone
      // pattern-predicate form, which the attached spelling is sugar
      // for anyway (same projected-row scope either way).
      val wh = peek match {
        case TKw("where")
            if !(peek2 == TIdent("exists") && peek3 == TSym("(")) &&
               !(peek2 == TIdent("not") && peek3 == TIdent("exists")) =>
          i += 1; Some(expr())
        case _ => None
      }
      WithClause(items.result(), ord, skip, limit, distinct, wh)
    }

    private def retItem(): RetItem = peek match {
      case TIdent(fn) if aggFns.contains(fn) && peek2 == TSym("(") =>
        i += 2
        // `count(distinct v)` — same contextual-identifier rule as the
        // return-level modifier, extended to parenthesized expression
        // arguments (`sum(distinct (v.x + 1))`, round 10): a bare
        // variable named distinct still counts via `count(distinct)`,
        // and `distinct` followed by an ident or `(` is the modifier
        val dist = peek match {
          case TIdent("distinct")
              if peek2.isInstanceOf[TIdent] || peek2 == TSym("(") => i += 1; true
          case _ => false
        }
        // `count(*)` — Cypher/SQL's row count: sugar for counting a
        // never-NULL constant, so it counts ROWS (a nullable binding
        // under count(v) skips NULL bindings; count(*) does not)
        if (fn == "count" && !dist && peek == TSym("*")) {
          i += 1
          expectSym(")")
          RetAgg(AggCount, RetExpr(Const(IntV(1L))), distinct = false)
        } else {
          val arg = retArg()
          expectSym(")")
          RetAgg(aggFns(fn), arg, dist)
        }
      case _ => retArg()
    }

    /** A projection item / aggregate argument: a bare variable stays
      * [[RetVar]], a lone attribute access [[RetAttr]]; anything that
      * starts (or continues) as a larger expression — `v.f + 1`,
      * `size(v.s)`, `case when … end`, literals — becomes [[RetExpr]]
      * via the full expression parser (round 10 continued). The ONLY
      * lookahead needed is "does this start like an expression": an
      * identifier followed by `.` might still be a plain attr item,
      * so we parse the expression and classify the RESULT. */
    private def retArg(): RetItem = peek match {
      // `count { … }` / `exists { … }` subquery expressions as items
      // (round 15 v2): the brace disambiguates from the aggregate's
      // paren and from a plain variable named count/exists
      case TIdent("count" | "exists") if peek2 == TSym("{") =>
        RetExpr(expr())
      case TIdent(name) if peek2 == TSym(".") || exprHead(name) =>
        expr() match {
          case AttribAcc(v, f) => RetAttr(v, f)
          case e               => RetExpr(e)
        }
      case TIdent(_) => RetVar(ident())
      case _ => RetExpr(expr()) // literals, parenthesized expressions
    }

    /** Contextual expression heads that are NOT attr accesses: the
      * call shapes (null/lower/upper/trim/size + `(`) and `case when`. */
    private def exprHead(name: String): Boolean =
      (peek2 == TSym("(") &&
        (name == "null" || name == "lower" || name == "upper" ||
          name == "trim" || name == "size" || name == "toString" ||
          name == "substring" || name == "replace" || name == "coalesce" ||
          name == "id" || name == "range" || name == "any" || name == "all" ||
          name == "none" || name == "single" || name == "reduce" ||
          name == "abs" || name == "sign" || name == "label" || name == "type" ||
          name == "split" || name == "toInteger" ||
          name == "length" || name == "nodes" || name == "relationships")) ||
      (name == "case" && (peek2 match {
        case TIdent(_) | TInt(_) | TString(_) | TBool(_) | TSym("(") => true
        case _ => false
      }))

    private def identList(): List[String] = {
      val b = List.newBuilder[String]
      b += ident()
      while (peek == TSym(",")) { i += 1; b += ident() }
      b.result()
    }

    private def patternList(): List[Pattern] = {
      val b = List.newBuilder[Pattern]
      b += pattern()
      while (peek == TSym(",")) { i += 1; b += pattern() }
      b.result()
    }

    /** match patterns additionally admit the named-path form
      * `p = (a) -[:r*lo..hi]-> (b)` (round 12): clause position never
      * admits a bare identifier and a pattern always opens with `(`, so
      * the ident `=` `(` lookahead steals nothing. The name attaches to
      * the pattern's single variable-length hop, which must END the
      * pattern — a fixed hop after it would extend the path the witness
      * doesn't cover. */
    private def matchPatternList(): List[Pattern] = {
      val b = List.newBuilder[Pattern]
      def one(): Unit = peek match {
        case TIdent(p) if peek2 == TSym("=") && peek3 == TSym("(") =>
          i += 2
          b += namePath(p, pattern())
        // `p = shortestPath((a)-[:r*lo..hi]->(b))` (round 14 — Cypher
        // spelling): a TRANSPARENT wrapper — this engine's named-path
        // witness is already the canonical minimal-hop walk, so the
        // call form desugars to the bare named path. Contextual: the
        // ident is only special right after `p = `, so a variable named
        // shortestPath stays legal everywhere else.
        case TIdent(p) if peek2 == TSym("=") &&
            peek3 == TIdent("shortestPath") && peekAt(3) == TSym("(") =>
          i += 4
          val pat = pattern()
          expectSym(")")
          b += namePath(p, pat)
        // `p = allShortestPaths((a)-[:r*lo..hi]->(b))` (round 15 —
        // Cypher's enumeration form): where shortestPath binds ONE
        // canonical minimal-hop witness per endpoint pair,
        // allShortestPaths binds EVERY minimal-hop walk — one row per
        // witness. Only the single variable-length hop form is
        // supported (a multi-segment chain has no per-pair minimality
        // to enumerate against); contextual like shortestPath.
        case TIdent(p) if peek2 == TSym("=") &&
            peek3 == TIdent("allShortestPaths") && peekAt(3) == TSym("(") =>
          i += 4
          val pat = pattern()
          expectSym(")")
          pat match {
            case vp @ VarPattern(_, _, _, _, _: SimpPattern, _, dir, _, _)
                if dir != Rev =>
              b += vp.copy(pathVar = Some(p), allPaths = true)
            case _ =>
              fail(s"allShortestPaths $p: requires a single forward or " +
                "undirected variable-length hop (a)-[:r*lo..hi]->(b)")
          }
        case _ => b += pattern()
      }
      one()
      while (peek == TSym(",")) { i += 1; one() }
      b.result()
    }

    /** `p = <hop chain>` (rounds 12-13). A single trailing forward/
      * undirected varpath binds the witness directly (the round-12
      * machinery, unchanged plan); any other pure hop chain — fixed
      * hops, several segments, reverse hops — is wrapped for Normalize
      * to desugar into per-segment witnesses + a concat (see
      * [[graft.lang.NamedPattern]]). Rel variables, property maps and
      * `[:a|b]` alternation are rejected: a named path's witness is one
      * canonical node sequence, and those constructs bind/filter single
      * edges the witness doesn't expose. */
    private def namePath(p: String, pat: Pattern): Pattern = {
      def check(q: Pattern): Unit = q match {
        case SimpPattern(_) => ()
        case CompPattern(_, rl, rest, _, rv, props, alts) =>
          if (rl == AnyRel.name)
            fail(s"named path $p: -[]-> cannot ride a named path " +
              "(the hop-label witness needs a concrete relation type)")
          if (rv.isDefined)
            fail(s"named path $p: a rel variable cannot ride a named-path hop")
          if (props.nonEmpty)
            fail(s"named path $p: an edge property map cannot ride a named-path hop")
          if (alts.nonEmpty)
            fail(s"named path $p: [:a|b] alternation cannot ride a named-path hop")
          check(rest)
        case VarPattern(_, _, _, _, rest, _, _, _, _) => check(rest)
        case NamedPattern(_, _) =>
          fail(s"named path $p: nested path names are not supported")
      }
      check(pat)
      pat match {
        case vp @ VarPattern(_, _, _, _, _: SimpPattern, _, dir, _, _) if dir != Rev =>
          vp.copy(pathVar = Some(p))
        case SimpPattern(_) =>
          fail(s"named path $p requires at least one hop")
        case other => NamedPattern(p, other)
      }
    }

    private def pattern(): Pattern = {
      val np = nodePattern()
      // reverse hop `(a)<-[:r]-(b)` (engine extension — see CompPattern):
      // `<` `-` is two tokens (the lexer's two-char table has no `<-`);
      // no legal pattern continuation starts with `<`, so nothing is
      // stolen from the reference grammar
      val rev = peek == TSym("<") && peek2 == TSym("-")
      if (rev) i += 1
      if (peek == TSym("-")) {
        i += 1
        expectSym("[")
        // any-relation hop `-[]->` / `<-[]-` / `-[]-` (round 14 —
        // Cypher's untyped relationship): the hop ranges over EVERY
        // declared relation type between the endpoint labels (typing
        // resolves the union; match-only). `]` directly after `[`
        // appears nowhere else, so nothing is stolen. No rel variable,
        // label, alternation, bounds, or props can ride it — close the
        // bracket and the direction here.
        if (peek == TSym("]")) {
          i += 1
          val dir: Dir =
            if (rev) { expectSym("-"); Rev }
            else peek match {
              case TSym("->") => i += 1; Fwd
              case TSym("-")  => i += 1; Undir
              case t          => fail(s"expected '->' or '-', got $t")
            }
          return CompPattern(np, AnyRel.name, pattern(), dir, None, Nil, Nil)
        }
        // optional rel-variable binding `[x:r]` (round-10 edge props;
        // the reference grammar admits only `[:r]`, so nothing is stolen)
        val relVar = peek match {
          case TIdent(v) if peek2 == TSym(":") => i += 1; Some(v)
          case _                               => None
        }
        expectSym(":")
        val rl = ident()
        // relation alternation `[:a|b|c]` (Cypher's type union; `|`
        // appears nowhere in the reference grammar)
        val alts = List.newBuilder[String]
        while (peek == TSym("|")) { i += 1; alts += ident() }
        val relAlts = alts.result()
        // variable-length hop with the full Cypher bound spellings
        // (engine extension; round 15 added the open/short forms):
        // `*lo..hi`, `*n` (exactly n), `*lo..` / `*..hi` / bare `*`
        // (omitted lower bound defaults to 1, omitted upper bound to
        // the typing depth cap). ".." is two '.' tokens — the lexer
        // has no two-char dot symbol.
        val bounds = peek match {
          case TSym("*") =>
            i += 1
            // the only legal continuations of `*`; anything else is a
            // malformed bound, reported as such (not as a late `]` miss)
            peek match {
              case TInt(_) | TSym(".") | TSym("]") | TIdent("as") => ()
              case t => fail(s"expected path bound integer, '..', ']' or 'as', got $t")
            }
            val lo = peek match {
              case TInt(_) => Some(int("path bound"))
              case _       => None
            }
            val dots = peek == TSym(".")
            if (dots) {
              expectSym("."); expectSym(".")
              peek match {
                case TInt(_) | TSym("]") | TIdent("as") => ()
                case t => fail(s"expected path bound integer, ']' or 'as', got $t")
              }
            }
            val hi = peek match {
              case TInt(_) if dots => Some(int("path bound"))
              case _               => None
            }
            val loV = lo.getOrElse(1)
            // `*n` with no dots means exactly n; ANY open upper bound
            // (`*`, `*0..`, `*1..`, `*2..`, …) means UNBOUNDED — the
            // executor runs the closure to convergence and composes a
            // floor >= 2 as step^(lo-1) of the converged closure
            // (round 17; formerly lo >= 2 silently kept the depth cap)
            val hiV = hi.getOrElse(
              if (dots || lo.isEmpty) Typing.varPathUnbounded else loV)
            // optional shortest-distance binding `as d` — `as` is a
            // CONTEXTUAL identifier (like `order`/`limit`), not a
            // keyword, so reference-legal programs using `as` as a
            // variable or label still parse
            val dist = peek match {
              case TIdent("as") => i += 1; Some(ident())
              case _            => None
            }
            Some((loV, hiV, dist))
          case _ => None
        }
        // optional inline property map `{f: e, …}` on the edge
        // (round-10; `{` never precedes `]` in the reference grammar)
        val relProps = peek match {
          case TSym("{") =>
            i += 1
            val b = List.newBuilder[(String, Expr)]
            def one(): Unit = { val f = ident(); expectSym(":"); b += ((f, expr())) }
            one()
            while (peek == TSym(",")) { i += 1; one() }
            expectSym("}")
            b.result()
          case _ => Nil
        }
        // a variable-length hop matches PATHS, not one edge — a rel
        // variable or property map on it has no single referent
        if (bounds.isDefined && (relVar.isDefined || relProps.nonEmpty))
          fail("variable-length hops cannot carry a rel variable or property map")
        // alternation composes with neither: varpaths are label-
        // homogeneous, and a rel var / prop map on `[:a|b]` has no
        // single relation type to resolve attributes against
        if (relAlts.nonEmpty && bounds.isDefined)
          fail("variable-length hops cannot alternate relation types")
        if (relAlts.nonEmpty && (relVar.isDefined || relProps.nonEmpty))
          fail("rel variables / property maps cannot combine with [:a|b] alternation")
        // forward hop closes `]->`, reverse closes `]-` then the node;
        // undirected `-[:r]-` closes `]-` with NO preceding `<` — the
        // next token is then the node's `(`, which no directed form
        // admits, so nothing is stolen from the directed grammar
        expectSym("]")
        val dir: Dir =
          if (rev) { expectSym("-"); Rev }
          else peek match {
            case TSym("->") => i += 1; Fwd
            case TSym("-")  => i += 1; Undir
            case t          => fail(s"expected '->' or '-', got $t")
          }
        bounds match {
          case Some((lo, hi, dist)) => VarPattern(np, rl, lo, hi, pattern(), dist, dir)
          case None => CompPattern(np, rl, pattern(), dir, relVar, relProps, relAlts)
        }
      } else SimpPattern(np) // rev implies peek == '-', so this is fwd-only
    }

    private def int(what: String): Int = peek match {
      case TInt(v) if v >= 0 && v <= Int.MaxValue => i += 1; v.toInt
      case t => fail(s"expected $what integer, got $t")
    }

    private def nodePattern(): NodePattern = {
      expectSym("(")
      val v = ident()
      // inline property map `{f: e, …}` (engine extension — `{` never
      // follows a label or a variable in the reference grammar)
      def propMap(): List[(String, Expr)] = peek match {
        case TSym("{") =>
          i += 1
          val b = List.newBuilder[(String, Expr)]
          def one(): Unit = {
            val f = ident(); expectSym(":"); b += ((f, expr()))
          }
          one()
          while (peek == TSym(",")) { i += 1; one() }
          expectSym("}")
          b.result()
        case _ => Nil
      }
      peek match {
        case TSym(":") =>
          i += 1
          val l = ident()
          val props = propMap()
          expectSym(")")
          DeclPattern(v, l, props)
        case TSym("{") =>
          // UNLABELED node with props (round 14): legal where the label
          // is inferable (hop endpoints) — the props desugar to where
          // conjuncts that type AFTER inference binds the real label; a
          // standalone `match (n {x: 1})` fails typing with the
          // unlabeled-attribute pointer, and create demands a label
          val props = propMap()
          expectSym(")")
          DeclPattern(v, AnyNodeLabel.name, props)
        case TSym(")") => i += 1; VarRefPattern(v)
        case t         => fail(s"expected ':' or ')', got $t")
      }
    }

    /** `delete v1, v2` (nodes) or `delete v1 -[:r]-> v2, …` (relations);
      * lists may not mix (parser.mly:58-63). Disambiguate on the token
      * after the first identifier. */
    private def deletePattern(): DeletePattern = {
      val v0 = ident()
      if (peek == TSym("-")) {
        val b = List.newBuilder[(String, String, String)]
        b += relTail(v0)
        while (peek == TSym(",")) { i += 1; b += relTail(ident()) }
        DeleteRels(b.result())
      } else {
        val b = List.newBuilder[String]
        b += v0
        while (peek == TSym(",")) { i += 1; b += ident() }
        DeleteNodes(b.result())
      }
    }

    private def relTail(v1: String): (String, String, String) = {
      expectSym("-"); expectSym("["); expectSym(":")
      val rl = ident()
      expectSym("]"); expectSym("->")
      (v1, rl, ident())
    }

    private def assignList(): List[(String, String, Expr)] = {
      val b = List.newBuilder[(String, String, Expr)]
      def one(): Unit = {
        val v = ident(); expectSym("."); val f = ident(); expectSym("=")
        b += ((v, f, expr()))
      }
      one()
      while (peek == TSym(",")) { i += 1; one() }
      b.result()
    }

    // --- expressions, precedence climbing ---
    def expr(): Expr = orExpr()
    private def orExpr(): Expr = leftAssoc(andExpr, Map("or" -> BLor))
    private def andExpr(): Expr = leftAssoc(notExpr, Map("and" -> BLand))
    /** Prefix `not` (round 11) — Cypher precedence: looser than
      * comparison, tighter than and/or. Contextual: a variable named
      * not keeps `not.f` (attr access) and `x not in […]` (the cmp-tier
      * postfix) working; nested `not not e` parses. */
    private def notExpr(): Expr = peek match {
      case TIdent("not") if peek2 != TSym(".") => i += 1; Un(ULnot, notExpr())
      case _ => cmpExpr()
    }
    private val cmpOps =
      Map("=" -> BCeq, ">=" -> BCge, ">" -> BCgt, "<=" -> BCle, "<" -> BClt, "<>" -> BCne)
    private def cmpExpr(): Expr = {
      // symbol comparisons plus the contextual string predicates
      // `starts with` / `ends with` / `contains` (Cypher spelling; same
      // precedence tier). `starts`/`ends`/`contains` stay usable as
      // variable names — only the operator POSITION (after a complete
      // operand, with `with` following for the two-word forms) is
      // special, like every other contextual keyword
      var e = addExpr()
      var go = true
      while (go) peek match {
        case TSym(s) if cmpOps.contains(s) => i += 1; e = Bin(cmpOps(s), e, addExpr())
        case TIdent("starts") if peek2 == TIdent("with") =>
          i += 2; e = Bin(BSstarts, e, addExpr())
        case TIdent("ends") if peek2 == TIdent("with") =>
          i += 2; e = Bin(BSends, e, addExpr())
        case TIdent("contains") =>
          i += 1; e = Bin(BScontains, e, addExpr())
        case TSym("=~") =>
          i += 1; e = Bin(BSregex, e, addExpr())
        // list membership `e in [x, …]` / `e not in [x, …]`, plus the
        // list-EXPRESSION form `e in xs.val` / `e in range(1, 5)`
        // (round 11). The lookahead — `[`, or an identifier followed by
        // `.` / `(` — keeps `in` usable as a variable name everywhere
        case TIdent("in") if peek2 == TSym("[") && !compAhead(1) =>
          i += 1; e = InList(e, bracketList("in"), neg = false)
        case TIdent("in") if compAhead(1) || (peek2.isInstanceOf[TIdent] &&
            (peek3 == TSym(".") || peek3 == TSym("("))) =>
          i += 1; e = InListE(e, addExpr(), neg = false)
        case TIdent("not") if peek2 == TIdent("in") =>
          i += 2
          peek match {
            case TSym("[") if !compAhead(0) =>
              e = InList(e, bracketList("not in"), neg = true)
            case TSym("[") => e = InListE(e, addExpr(), neg = true)
            case TIdent(_) if peek2 == TSym(".") || peek2 == TSym("(") =>
              e = InListE(e, addExpr(), neg = true)
            case t => fail(s"expected a list after not in, got $t")
          }
        case _ => go = false
      }
      e
    }

    /** `[e1, …, en]` — the shared inline-list form (unwind, in). The
      * empty list is rejected: MiniGQL has no list values to carry it. */
    private def bracketList(ctx: String): List[Expr] = {
      expectSym("[")
      if (peek == TSym("]")) fail(s"$ctx list cannot be empty")
      val b = List.newBuilder[Expr]
      b += expr()
      while (peek == TSym(",")) { i += 1; b += expr() }
      expectSym("]")
      b.result()
    }
    private def addExpr(): Expr = leftAssoc(mulExpr, Map("+" -> BAadd, "-" -> BAsub))
    private def mulExpr(): Expr = leftAssoc(primary,
      Map("*" -> BAmul, "/" -> BAdiv, "mod" -> BAmod))

    private def leftAssoc(sub: () => Expr, ops: Map[String, BinOp]): Expr = {
      var e = sub()
      var go = true
      while (go) peek match {
        case TSym(s) if ops.contains(s) => i += 1; e = Bin(ops(s), e, sub())
        case _                          => go = false
      }
      e
    }

    /** Postfix list indexing `e[i]` (round 11): `[` after a complete
      * operand appears nowhere else in the expression grammar, so this
      * steals nothing; binds tighter than every operator. */
    private def primary(): Expr = {
      var e = primaryBase()
      while (peek == TSym("[")) {
        i += 1
        val ix = expr()
        // slice `[lo..hi]` (round 11) — ".." is two '.' tokens, which
        // can never FOLLOW a complete expression, so the lookahead is
        // unambiguous with single-element indexing
        if (peek == TSym(".") && peek2 == TSym(".")) {
          i += 2
          val hi = expr()
          expectSym("]")
          e = SliceAcc(e, ix, hi)
        } else {
          expectSym("]")
          e = IndexAcc(e, ix)
        }
      }
      e
    }

    private def primaryBase(): Expr = peek match {
      case TBool(b)   => i += 1; Const(BoolV(b))
      case TInt(v)    => i += 1; Const(IntV(v))
      case TString(s) => i += 1; Const(StringV(s))
      case TParam(p)  => i += 1; Param(p)
      // `count { <pattern> [where e] }` / `exists { <pattern>
      // [where e] }` — Cypher's subquery EXPRESSIONS (round 15).
      // Contextual on the brace: no legal expression continues an
      // identifier with '{', so variables named count/exists stay
      // legal everywhere else. `count {…}` hoists into a hidden
      // call { } subquery at clause assembly (see desugarCountExprs);
      // `exists {…}` is sugar for `count {…} > 0`.
      case TIdent(fn @ ("count" | "exists")) if peek2 == TSym("{") =>
        i += 2
        val pat = pattern()
        val filter = if (peek == TKw("where")) { i += 1; Some(expr()) } else None
        expectSym("}")
        val cp = CountPat(pat, filter)
        if (fn == "count") cp else Bin(BCgt, cp, Const(IntV(0)))
      // `null(v)` binding-null test — contextual like the aggregate
      // names: only the call shape is special, `null.f` stays an
      // ordinary attribute access on a variable named null
      case TIdent("null") if peek2 == TSym("(") =>
        i += 2
        val v = ident()
        expectSym(")")
        NullCheck(v)
      // `id(v)` node-id read — same contextual call shape (round 11)
      case TIdent("id") if peek2 == TSym("(") =>
        i += 2
        val v = ident()
        expectSym(")")
        IdFn(v)
      // `label(v)` / `type(x)` — static label/relation name (round 11)
      case TIdent(fn @ ("label" | "type")) if peek2 == TSym("(") =>
        i += 2
        val v = ident()
        expectSym(")")
        if (fn == "label") LabelFn(v) else TypeFn(v)
      // `length(p)` / `nodes(p)` / `relationships(p)` — named-path
      // reads (rounds 12-13), same contextual call shape
      case TIdent(fn @ ("length" | "nodes" | "relationships")) if peek2 == TSym("(") =>
        i += 2
        val v = ident()
        expectSym(")")
        fn match {
          case "length" => LengthFn(v)
          case "nodes"  => NodesFn(v)
          case _        => RelsFn(v)
        }
      // unary string functions — contextual call shapes (a variable
      // named lower still works: `lower.f` has peek2 == '.')
      case TIdent(fn @ ("lower" | "upper" | "trim" | "size" | "toString" |
                        "abs" | "sign" | "toInteger")) if peek2 == TSym("(") =>
        i += 2
        val e = expr()
        expectSym(")")
        Un(fn match {
          case "lower" => USlower; case "upper" => USupper
          case "trim"  => UStrim;  case "size"  => USsize
          case "abs"   => UIabs;   case "sign"  => UIsign
          case "toInteger" => UStoInt
          case _       => UStoStr
        }, e)
      // ternary string functions — substring(s, pos, len) (1-based,
      // SQL convention) and replace(s, find, repl)
      case TIdent(fn @ ("substring" | "replace")) if peek2 == TSym("(") =>
        i += 2
        val a = expr(); expectSym(","); val b = expr(); expectSym(","); val c = expr()
        expectSym(")")
        if (fn == "substring") Substr(a, b, c) else Replace(a, b, c)
      // `split(s, sep)` — literal-separator split to a string list
      case TIdent("split") if peek2 == TSym("(") =>
        i += 2
        val a = expr(); expectSym(","); val b = expr()
        expectSym(")")
        SplitFn(a, b)
      // `range(a, b)` — the inclusive int list constructor (round 11)
      case TIdent("range") if peek2 == TSym("(") =>
        i += 2
        val a = expr(); expectSym(","); val b = expr()
        expectSym(")")
        RangeE(a, b)
      // list predicates any/all/none/single(x in <list> where p) —
      // contextual call shapes (round 11); the lambda variable is an
      // ordinary identifier read as `x.val` in the predicate
      case TIdent(kind @ ("any" | "all" | "none" | "single")) if peek2 == TSym("(") =>
        i += 2
        val v = ident()
        if (peek != TIdent("in")) fail(s"expected in after $kind($v, got $peek")
        i += 1
        val list = expr()
        if (peek != TKw("where")) fail(s"expected where in $kind(...), got $peek")
        i += 1
        val p = expr()
        expectSym(")")
        ListPred(kind, v, list, p)
      // reduce(acc = init, x in <list> | e) — Cypher's left fold
      case TIdent("reduce") if peek2 == TSym("(") =>
        i += 2
        val acc = ident(); expectSym("=")
        val init = expr(); expectSym(",")
        val v = ident()
        if (peek != TIdent("in")) fail(s"expected in after reduce's element variable, got $peek")
        i += 1
        val list = expr()
        expectSym("|")
        val body = expr()
        expectSym(")")
        ReduceE(acc, init, v, list, body)
      // `coalesce(e1, …, en)` — contextual call shape like the string
      // functions; at least two arguments (one would be the identity)
      case TIdent("coalesce") if peek2 == TSym("(") =>
        i += 2
        val items = List.newBuilder[Expr]
        items += expr()
        while (peek == TSym(",")) { i += 1; items += expr() }
        expectSym(")")
        val es = items.result()
        if (es.size < 2) fail("coalesce needs at least two arguments")
        Coalesce(es)
      // simple case expression `case e when k then r … else e end`
      // (round 11 — SQL/Cypher's value-dispatch form): desugars HERE to
      // the searched form with equality arms (`when k` → `when e = k`),
      // so typing/executors see one CASE shape; the operand expression
      // is pure, so its per-arm duplication is unobservable. Trigger:
      // `case` followed by an expression start that is NOT `when`
      // (except `when.f`, a legal operand on a variable named when)
      case TIdent("case") if (peek2 match {
            case TIdent("when")  => peek3 == TSym(".")
            case TIdent(_) | TInt(_) | TString(_) | TBool(_) | TSym("(") => true
            case _ => false
          }) =>
        i += 1
        val operand = expr()
        val whens = List.newBuilder[(Expr, Expr)]
        if (peek != TIdent("when")) fail(s"expected when in case expression, got $peek")
        while (peek == TIdent("when")) {
          i += 1
          val k = expr()
          if (peek != TIdent("then")) fail(s"expected then in case expression, got $peek")
          i += 1
          whens += ((Bin(BCeq, operand, k), expr()))
        }
        if (peek != TIdent("else"))
          fail(s"case expression requires an else branch (MiniGQL has no " +
            s"NULL value to default to), got $peek")
        i += 1
        val other = expr()
        if (peek != TIdent("end")) fail(s"expected end closing case expression, got $peek")
        i += 1
        CaseExpr(whens.result(), other)
      // searched case expression: `case when c then e … else e end`.
      // Contextual on `case` FOLLOWED BY `when`, so `case.f` stays an
      // attribute access on a variable named case
      case TIdent("case") if peek2 == TIdent("when") =>
        i += 1
        val whens = List.newBuilder[(Expr, Expr)]
        while (peek == TIdent("when")) {
          i += 1
          val c = expr()
          if (peek != TIdent("then")) fail(s"expected then in case expression, got $peek")
          i += 1
          whens += ((c, expr()))
        }
        if (peek != TIdent("else"))
          fail(s"case expression requires an else branch (MiniGQL has no " +
            s"NULL value to default to), got $peek")
        i += 1
        val other = expr()
        if (peek != TIdent("end")) fail(s"expected end closing case expression, got $peek")
        i += 1
        CaseExpr(whens.result(), other)
      case TIdent(v) =>
        i += 1
        expectSym(".")
        AttribAcc(v, ident())
      // pattern comprehension `[ <pattern> [where e] | <expr> ]`
      // (round 15 v2): `[` followed by `(` in operand position is
      // unambiguous — the list-comprehension form below follows with
      // `x in`. Hoists like count { } (see desugarCountExprs).
      case TSym("[") if peek2 == TSym("(") =>
        i += 1
        val pat = pattern()
        val filter = if (peek == TKw("where")) { i += 1; Some(expr()) } else None
        expectSym("|")
        val map = expr()
        expectSym("]")
        PatComp(pat, filter, map)
      // list comprehension `[x in <list> (where p)? (| e)?]` (round
      // 11) — `[` in OPERAND position is unambiguous (the in-list and
      // unwind brackets follow operators/keywords; postfix indexing
      // follows a complete operand), and the `ident in` lookahead
      // keeps the bare bracket a parse error, as before: list
      // LITERALS are still not general expressions
      case TSym("[") if (peek2 match {
            case TIdent(_) => peek3 == TIdent("in")
            case _ => false
          }) =>
        i += 1
        val v = ident()
        i += 1 // the `in` the lookahead saw
        val list = expr()
        val p = if (peek == TKw("where")) { i += 1; Some(expr()) } else None
        val m = if (peek == TSym("|")) { i += 1; Some(expr()) } else None
        expectSym("]")
        ListComp(v, list, p, m)
      case TSym("(") =>
        i += 1
        val e = expr(); expectSym(")"); e
      case t => fail(s"expected expression, got $t")
    }
  }
}
