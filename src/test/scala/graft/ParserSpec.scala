package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lang._
import graft.lang.Typing

/** Syntax-surface pins (SURVEY.md §2.10): comment handling, string
  * charset, operator precedence/associativity, unsigned-integer-only
  * literals. Pure front end — no SparkSession. */
class ParserSpec extends AnyFunSuite {

  private val header = "(:P {x int, s string})\n"

  private def whereExpr(src: String): Typing.TExpr =
    Typing.compile(src).instrs.collectFirst { case Typing.RWhere(e) => e }.get

  test("CLI i-mode is a read-print LOOP: two programs in one session (interf.ml:50-56)") {
    val two =
      "(:P {x int})\ncreate (a:P)\nreturn a\n" +
        "\n" + // blank-line program delimiter
        "(:Q {y int})\ncreate (b:Q)\nset b.y = 3\nreturn b\n"
    val in = new java.io.ByteArrayInputStream(two.getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    val prevIn = System.in
    try {
      System.setIn(in)
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        Cli.main(Array("i"))
      }
    } finally System.setIn(prevIn)
    val printed = out.toString("UTF-8")
    // one prompt + normalized IR per program, loop continues after the first
    assert(printed.split(">> ", -1).length >= 3, s"expected 2 prompts in:\n$printed")
    assert(printed.contains("a") && printed.contains("b"))
    // second program's instructions really were parsed and printed
    assert(printed.linesIterator.count(_.trim.nonEmpty) >= 5)
  }

  test("OCaml-style comments are skipped (lexer.mll:23)") {
    val tp = Typing.compile(
      header + "(* a comment (with parens inside) *)\ncreate (a:P) (* trailing *)\nreturn a")
    assert(tp.instrs.size == 2)
  }

  test("string literals admit letters, digits, and spaces (lexer.mll:26-27)") {
    val tp = Typing.compile(header + "create (a:P)\nset a.s = \"Abc 123 xyz\"")
    assert(tp.instrs.collect { case Typing.RSet(_, _, _, _, Typing.TConst(StringV(s))) => s }
      == List("Abc 123 xyz"))
  }

  test("precedence: or < and < cmp < +- < */mod, left-assoc (parser.mly:18-22)") {
    // 1 + 2 * 3 = 7  ⇒ parses as 1 + (2*3), not (1+2)*3
    val e1 = whereExpr(header + "create (a:P)\nwhere 1 + 2 * 3 = 7")
    assert(e1.isInstanceOf[Typing.TBin])
    // a or b and c  ⇒  a or (b and c): with x=1 the filter keeps the row
    // only under the correct grouping (true or (true and false)) = true
    val keep = Typing.compile(
      header + "create (a:P)\nset a.x = 1\nmatch (p:P)\nwhere p.x = 1 or p.x = 1 and p.x = 2\nreturn p")
    assert(keep.instrs.nonEmpty)
    // left associativity of subtraction: 10 - 4 - 3 = 3, not 9
    val e2 = whereExpr(header + "create (a:P)\nwhere 10 - 4 - 3 = 3")
    e2 match {
      case Typing.TBin(BCeq, Typing.TBin(BAsub, Typing.TBin(BAsub, _, _, _), _, _), _, _) => ()
      case other => fail(s"wrong shape: $other")
    }
  }

  test("integers are unsigned; negatives only via subtraction (lexer.mll:22,36)") {
    intercept[Exception](Typing.compile(header + "create (a:P)\nset a.x = -5"))
    val tp = Typing.compile(header + "create (a:P)\nset a.x = 0 - 5")
    assert(tp.instrs.size == 2)
  }

  test("type declarations may interleave with relation declarations (parser.mly:30-31)") {
    val tp = Typing.compile(
      "(:P {})\n(:P) -[:r]-> (:Q)\n(:Q {})\ncreate (a:P) -[:r]-> (b:Q)")
    assert(tp.schema.relTypes == Set(("P", "r", "Q")))
  }

  test("parse errors report position context") {
    val ex = intercept[Exception](Typing.compile(header + "create (a:P\nreturn a"))
    assert(ex.getMessage != null && ex.getMessage.nonEmpty)
  }

  // --- extended return / varpath surface (engine extensions) ---

  test("plain return still parses to the reference-shaped clause") {
    val p = Parser.parse(header + "create (a:P)\nreturn a")
    assert(p.query.clauses.last == Return(List("a")))
  }

  test("ext return: aggregates, attrs, order by, limit") {
    val p = Parser.parse(
      header + "create (a:P)\nreturn a, a.x, count(a), sum(a.x) order by a.x desc, a limit 7")
    assert(p.query.clauses.last == ReturnExt(
      List(RetVar("a"), RetAttr("a", "x"), RetAgg(AggCount, RetVar("a")),
        RetAgg(AggSum, RetAttr("a", "x"))).map(it => (it, None)),
      List((RetAttr("a", "x"), false), (RetVar("a"), true)),
      None, Some(Const(IntV(7L)))))
  }

  test("aggregate names stay valid identifiers without the call paren") {
    // a variable literally named `count` — contextual keywords only
    val p = Parser.parse("(:P {})\ncreate (count:P)\nreturn count")
    assert(p.query.clauses.last == Return(List("count")))
  }

  test("skip parses between order and limit; skip stays a variable name") {
    val p = Parser.parse(
      header + "create (a:P)\nreturn a order by a skip 2 limit 3")
    assert(p.query.clauses.last ==
      ReturnExt(List((RetVar("a"), None)), List((RetVar("a"), true)), Some(Const(IntV(2L))), Some(Const(IntV(3L))), false))
    // contextual: a variable named skip returns plainly
    val v = Parser.parse(header + "create (skip:P)\nreturn skip")
    assert(v.query.clauses.last == Return(List("skip")))
    // skip without limit is legal (drop a prefix, keep the rest)
    val s = Parser.parse(header + "create (a:P)\nreturn a order by a skip 1")
    assert(s.query.clauses.last ==
      ReturnExt(List((RetVar("a"), None)), List((RetVar("a"), true)), Some(Const(IntV(1L))), None, false))
  }

  test("order/limit are contextual: order-by needs both words") {
    val ex = intercept[Parser.ParseError](
      Parser.parse(header + "create (a:P)\nreturn a order a"))
    assert(ex.getMessage.contains("expected clause keyword") ||
      ex.getMessage.contains("order"))
  }

  test("varpath hop parses with bounds") {
    val p = Parser.parse(
      "(:N {})\n(:N) -[:next]-> (:N)\nmatch (a:N) -[:next*2..5]-> (b:N)\nreturn a, b")
    val pats = p.query.clauses.collectFirst { case Match(ps) => ps }.get
    assert(pats == List(VarPattern(DeclPattern("a", "N"), "next", 2, 5,
      SimpPattern(DeclPattern("b", "N")))))
  }

  test("varpath shortest-distance binding `as d` parses; `as` stays contextual") {
    val p = Parser.parse(
      "(:N {})\n(:N) -[:next]-> (:N)\nmatch (a:N) -[:next*1..4 as d]-> (b:N)\nreturn a, d")
    val pats = p.query.clauses.collectFirst { case Match(ps) => ps }.get
    assert(pats == List(VarPattern(DeclPattern("a", "N"), "next", 1, 4,
      SimpPattern(DeclPattern("b", "N")), Some("d"))))
    // `as` is NOT a keyword: still legal as a variable name
    val q = Parser.parse("(:N {})\nmatch (as:N)\nreturn as")
    assert(q.query.clauses.nonEmpty)
  }

  test("varpath bounds must be integers") {
    val ex = intercept[Parser.ParseError](
      Parser.parse("(:N {})\n(:N) -[:next]-> (:N)\nmatch (a:N) -[:next*x..3]-> (b:N)"))
    assert(ex.getMessage.contains("path bound"))
    val ex2 = intercept[Parser.ParseError](
      Parser.parse("(:N {})\n(:N) -[:next]-> (:N)\nmatch (a:N) -[:next*2..x]-> (b:N)"))
    assert(ex2.getMessage.contains("path bound"))
  }

  test("varpath open/short bound spellings (round 15): *, *n, *lo.., *..hi") {
    def boundsOf(src: String): (Int, Int) = {
      val p = Parser.parse(s"(:N {})\n(:N) -[:next]-> (:N)\nmatch $src\nreturn a, b")
      p.query.clauses.collectFirst { case Match(ps) => ps }.get match {
        case List(VarPattern(_, _, lo, hi, _, _, _, _, _)) => (lo, hi)
        case other => fail(s"unexpected patterns: $other")
      }
    }
    val cap = graft.lang.Typing.varPathCap
    val unb = graft.lang.Typing.varPathUnbounded
    // ANY open upper bound is UNBOUNDED (round 17 — the executor runs
    // the closure to convergence; a floor >= 2 composes as step^(lo-1)
    // of the converged closure, so the old cap fallback is gone)
    assert(boundsOf("(a:N) -[:next*]-> (b:N)") == (1, unb))
    assert(boundsOf("(a:N) -[:next*0..]-> (b:N)") == (0, unb))
    assert(boundsOf("(a:N) -[:next*3]-> (b:N)") == (3, 3))
    assert(boundsOf("(a:N) -[:next*2..]-> (b:N)") == (2, unb))
    assert(boundsOf("(a:N) -[:next*..4]-> (b:N)") == (1, 4))
    assert(cap == 10) // written bounds still plan-depth-guarded
    // the `as d` distance binding composes with every spelling
    val p = Parser.parse(
      "(:N {})\n(:N) -[:next]-> (:N)\nmatch (a:N) -[:next* as d]-> (b:N)\nreturn a, d")
    val pats = p.query.clauses.collectFirst { case Match(ps) => ps }.get
    assert(pats == List(VarPattern(DeclPattern("a", "N"), "next", 1, unb,
      SimpPattern(DeclPattern("b", "N")), Some("d"))))
  }

  test("inline property map parses on declared node patterns") {
    val p = Parser.parse(header + "create (a:P {x: 1 + 2, s: \"hi\"})")
    val props = p.query.clauses.collect {
      case Create(List(SimpPattern(DeclPattern(_, _, ps)))) => ps.map(_._1)
    }.flatten
    assert(props == List("x", "s"))
  }

  test("distinct is contextual: a variable named distinct still returns plainly") {
    // modifier form → ReturnExt(distinct = true)
    val m = Parser.parse(header + "create (a:P)\nreturn distinct a")
    assert(m.query.clauses.collect { case r: ReturnExt => r.distinct } == List(true))
    // bare `return distinct` → the reference-shaped ident-list Return
    val bare = Parser.parse(header + "create (distinct:P)\nreturn distinct")
    assert(bare.query.clauses.collect { case Return(vs) => vs }.flatten == List("distinct"))
    // `return distinct.f` → attribute access on the variable
    val attr = Parser.parse(header + "create (distinct:P)\nreturn distinct.x")
    assert(attr.query.clauses.collect {
      case ReturnExt(List((RetAttr(v, f), None)), _, _, _, d) => (v, f, d) } ==
      List(("distinct", "x", false)))
  }

  test("count(distinct v) parses; count(distinct) counts a variable named distinct") {
    val m = Parser.parse(header + "create (a:P)\nreturn count(distinct a)")
    assert(m.query.clauses.collect {
      case ReturnExt(List((RetAgg(AggCount, RetVar("a"), d), None)), _, _, _, _) => d } == List(true))
    val bare = Parser.parse(header + "create (distinct:P)\nreturn count(distinct)")
    assert(bare.query.clauses.collect {
      case ReturnExt(List((RetAgg(AggCount, RetVar(v), d), None)), _, _, _, _) => (v, d) } ==
      List(("distinct", false)))
  }

  test("reverse hop `<-[:r]-` parses and desugars to swapped endpoints") {
    val p = Parser.parse(header + "(:Q {y int})\n(:P) -[:r]-> (:Q)\n" +
      "match (q:Q) <-[:r]- (p:P)\nreturn q, p")
    val pats = p.query.clauses.collectFirst { case Match(ps) => ps }.get
    assert(pats == List(CompPattern(DeclPattern("q", "Q"), "r",
      SimpPattern(DeclPattern("p", "P")), dir = Rev)))
    // desugars to the relation instruction with swapped endpoints
    // (edge FROM p TO q) — the IR itself is direction-free
    val tp = Typing.compile(header + "(:Q {y int})\n(:P) -[:r]-> (:Q)\n" +
      "match (q:Q) <-[:r]- (p:P)\nreturn q, p")
    assert(tp.instrs.collect { case e: Typing.RMatchEdge => e } ==
      List(Typing.RMatchEdge("p", "q", List((("P", "r", "Q"), false)), None)))
    // mixed directions along one path
    val mixed = Parser.parse(header + "(:Q {y int})\n(:P) -[:r]-> (:Q)\n(:Q) -[:t]-> (:Q)\n" +
      "match (a:Q) <-[:r]- (b:P), (a) -[:t]-> (c:Q)\nreturn a, b, c")
    assert(mixed.query.clauses.nonEmpty)
    // reverse varpath, with the distance binding riding along
    val vp = Parser.parse("(:N {})\n(:N) -[:next]-> (:N)\n" +
      "match (b:N) <-[:next*1..3 as d]- (a:N)\nreturn a, b, d")
    val vpats = vp.query.clauses.collectFirst { case Match(ps) => ps }.get
    assert(vpats == List(VarPattern(DeclPattern("b", "N"), "next", 1, 3,
      SimpPattern(DeclPattern("a", "N")), Some("d"), dir = Rev)))
  }

  test("undirected hop `-[:r]-` parses as Undir; varpath form rides along") {
    val p = Parser.parse(header + "(:Q {y int})\n(:P) -[:r]-> (:Q)\n" +
      "match (p:P) -[:r]- (q:Q)\nreturn p, q")
    val pats = p.query.clauses.collectFirst { case Match(ps) => ps }.get
    assert(pats == List(CompPattern(DeclPattern("p", "P"), "r",
      SimpPattern(DeclPattern("q", "Q")), dir = Undir)))
    // the typed form carries exactly the orientations the schema
    // declares: here only (P,r,Q), so one unflipped frame
    val tp = Typing.compile(header + "(:Q {y int})\n(:P) -[:r]-> (:Q)\n" +
      "match (p:P) -[:r]- (q:Q)\nreturn p, q")
    assert(tp.instrs.collect { case e: Typing.RMatchEdge => e } ==
      List(Typing.RMatchEdge("p", "q", List((("P", "r", "Q"), false)), None)))
    // written from the other side: one flipped frame
    val tp2 = Typing.compile(header + "(:Q {y int})\n(:P) -[:r]-> (:Q)\n" +
      "match (q:Q) -[:r]- (p:P)\nreturn q, p")
    assert(tp2.instrs.collect { case e: Typing.RMatchEdge => e } ==
      List(Typing.RMatchEdge("q", "p", List((("P", "r", "Q"), true)), None)))
    // undirected variable-length hop, distance binding riding along
    val vp = Parser.parse("(:N {})\n(:N) -[:next]-> (:N)\n" +
      "match (a:N) -[:next*1..3 as d]- (b:N)\nreturn a, b, d")
    val vpats = vp.query.clauses.collectFirst { case Match(ps) => ps }.get
    assert(vpats == List(VarPattern(DeclPattern("a", "N"), "next", 1, 3,
      SimpPattern(DeclPattern("b", "N")), Some("d"), dir = Undir)))
  }

  test("a lone `<` after a node pattern is a parse error, not a silent hop") {
    // `<` not followed by `-` is not a reverse hop: the pattern closes
    // and the stray token errors at clause position with its location
    val ex = intercept[Parser.ParseError](
      Parser.parse(header + "match (a:P) < (b:P)\nreturn a"))
    assert(ex.getMessage.contains("expected clause keyword"))
    assert(ex.tok == "<")
  }

  test("merge parses both shapes; merge stays a valid variable name") {
    val node = Parser.parse(header + "merge (a:P {x: 1})")
    assert(node.query.clauses ==
      List(Merge(SimpPattern(DeclPattern("a", "P", List(("x", Const(IntV(1)))))))))
    val edge = Parser.parse(header + "create (a:P)\ncreate (b:Q)\nmerge (a) -[:r]-> (b)")
    assert(edge.query.clauses.last ==
      Merge(CompPattern(VarRefPattern("a"), "r", SimpPattern(VarRefPattern("b")))))
    // contextual: a node variable named merge parses everywhere else
    val v = Parser.parse(header + "create (merge:P)\nreturn merge")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("merge"))
  }

  test("merge on create/on match actions parse; node form only; no duplicates") {
    val p = Parser.parse(header +
      "merge (a:P {x: 1}) on create set a.s = \"new\" on match set a.x = a.x + 1, a.s = \"seen\"")
    p.query.clauses.head match {
      case Merge(SimpPattern(_: DeclPattern),
          List(("a", "s", Const(StringV("new")))),
          List(("a", "x", Bin(BAadd, _, _)), ("a", "s", Const(StringV("seen"))))) => ()
      case other => fail(s"wrong shape: $other")
    }
    // order-independent; each action at most once
    Parser.parse(header + "merge (a:P {x: 1}) on match set a.x = 2 on create set a.x = 3")
    assert(intercept[Parser.ParseError](Parser.parse(header +
      "merge (a:P {x: 1}) on create set a.x = 2 on create set a.x = 3"))
      .getMessage.contains("duplicate on create"))
    // the edge form has no branch to condition on
    assert(intercept[Parser.ParseError](Parser.parse(header +
      "create (a:P)\ncreate (b:Q)\nmerge (a) -[:r]-> (b) on create set a.x = 1"))
      .getMessage.contains("node-form merge only"))
    // `on` alone is not stolen: a variable named on still parses
    val v = Parser.parse(header + "create (on:P)\nreturn on")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("on"))
  }

  test("merge rejects paths through fresh nodes and var-length hops") {
    val ex = intercept[Parser.ParseError](
      Parser.parse(header + "merge (a:P) -[:r]-> (b:Q)"))
    assert(ex.getMessage.contains("merge supports"))
    val ex2 = intercept[Parser.ParseError](
      Parser.parse("(:N {})\n(:N) -[:next]-> (:N)\nmatch (a:N)\nmerge (a) -[:next*1..2]-> (a)"))
    assert(ex2.getMessage.contains("merge supports"))
  }

  test("edge-property syntax: rel decls, rel vars, inline maps (round 10)") {
    // declaration attrs
    val d = Parser.parse("(:P {x int})\n(:Q {})\n(:P) -[:r {w int, tag string}]-> (:Q)\ncreate (a:P)")
    assert(d.types.relTypes ==
      List(RelTypeDecl("P", "r", "Q", List(("w", IntT), ("tag", StringT)))))
    // rel var + inline map on a hop
    val p = Parser.parse("(:P {x int})\n(:Q {})\n(:P) -[:r {w int}]-> (:Q)\n" +
      "match (a:P) -[x:r {w: 3}]-> (b:Q)\nreturn a")
    assert(p.query.clauses.head ==
      Match(List(CompPattern(DeclPattern("a", "P"), "r",
        SimpPattern(DeclPattern("b", "Q")), Fwd, Some("x"), List(("w", Const(IntV(3))))))))
    // variable-length hops cannot carry either
    val ex = intercept[Parser.ParseError](Parser.parse(
      "(:N {})\n(:N) -[:s]-> (:N)\nmatch (a:N) -[x:s*1..2]-> (b:N)\nreturn a"))
    assert(ex.getMessage.contains("variable-length hops cannot carry"))
    val ex2 = intercept[Parser.ParseError](Parser.parse(
      "(:N {})\n(:N) -[:s]-> (:N)\nmatch (a:N) -[:s*1..2 {w: 1}]-> (b:N)\nreturn a"))
    assert(ex2.getMessage.contains("variable-length hops cannot carry"))
    // reference-legal forms parse unchanged
    val ref = Parser.parse("(:P {})\n(:P) -[:r]-> (:P)\ncreate (a:P)\ncreate (b:P)\n" +
      "create (a) -[:r]-> (b)\nreturn a, b")
    assert(ref.types.relTypes == List(RelTypeDecl("P", "r", "P", Nil)))
  }

  test("relation alternation [:a|b] parses; illegal combinations rejected") {
    val hdr = "(:P {x int})\n(:Q {})\n(:P) -[:r]-> (:Q)\n(:P) -[:s]-> (:Q)\n"
    val p = Parser.parse(hdr + "match (a:P) -[:r|s]-> (b:Q)\nreturn a")
    assert(p.query.clauses.head ==
      Match(List(CompPattern(DeclPattern("a", "P"), "r",
        SimpPattern(DeclPattern("b", "Q")), Fwd, None, Nil, List("s")))))
    assert(intercept[Parser.ParseError](Parser.parse(hdr +
      "match (a:P) -[x:r|s]-> (b:Q)\nreturn a"))
      .getMessage.contains("cannot combine with [:a|b]"))
    assert(intercept[Parser.ParseError](Parser.parse(hdr +
      "match (a:P) -[:r|s {w: 1}]-> (b:Q)\nreturn a"))
      .getMessage.contains("cannot combine with [:a|b]"))
    assert(intercept[Parser.ParseError](Parser.parse(
      "(:N {})\n(:N) -[:e]-> (:N)\n(:N) -[:f]-> (:N)\n" +
        "match (a:N) -[:e|f*1..2]-> (b:N)\nreturn a"))
      .getMessage.contains("cannot alternate"))
  }

  test("unwind parses expression lists; alias mandatory; name stays contextual") {
    val p = Parser.parse(header + "match (a:P)\nunwind [1, a.x + 2] as k\nreturn a, k")
    assert(p.query.clauses(1) ==
      Unwind(List(Const(IntV(1)), Bin(BAadd, AttribAcc("a", "x"), Const(IntV(2)))), "k"))
    val ex = intercept[Parser.ParseError](
      Parser.parse(header + "match (a:P)\nunwind [1, 2]\nreturn a"))
    assert(ex.getMessage.contains("expected 'as' after unwind list"))
    // empty list: no element to parse — the expression parser reports it
    intercept[Parser.ParseError](Parser.parse(header + "unwind [] as k return k"))
    // contextual: a variable named unwind still parses in patterns/returns
    val v = Parser.parse(header + "create (unwind:P)\nreturn unwind")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("unwind"))
  }

  test("union separates branches; all-modifier; name stays contextual") {
    val p = Parser.parse(header +
      "match (a:P) return a\nunion\nmatch (b:P) return b")
    assert(p.query.clauses(2) == UnionSep(all = false))
    val pa = Parser.parse(header +
      "match (a:P) return a\nunion all\nmatch (b:P) return b")
    assert(pa.query.clauses(2) == UnionSep(all = true))
    // contextual: union as a variable name
    val v = Parser.parse(header + "create (union:P)\nreturn union")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("union"))
  }

  test("string predicates parse at comparison precedence; names stay contextual") {
    // `and` binds looser than `contains`:  (s contains t) and (…)
    val e = whereExpr(header +
      "create (a:P)\nset a.s = \"ab\"\nmatch (p:P)\nwhere p.s contains \"a\" and p.s starts with \"b\"")
    e match {
      case Typing.TBin(BLand,
        Typing.TBin(BScontains, _, _, _), Typing.TBin(BSstarts, _, _, _), _) => ()
      case other => fail(s"wrong shape: $other")
    }
    // two-word forms require the `with`; `ends` alone is just an ident
    intercept[Exception](Parser.parse(header + "match (p:P)\nwhere p.s ends \"a\"\nreturn p"))
    // starts / ends / contains remain legal variable names
    val v = Parser.parse(header + "create (starts:P)\ncreate (contains:P)\nreturn starts, contains")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten ==
      List("starts", "contains"))
    // `=~` sits at the same comparison tier: `and` binds looser, `+`
    // binds tighter ((p.s + "x") =~ …) and (…)
    val r = whereExpr(header +
      "create (a:P)\nset a.s = \"ab\"\nmatch (p:P)\nwhere p.s + \"x\" =~ \"a.*\" and p.s =~ \"b+\"")
    r match {
      case Typing.TBin(BLand,
        Typing.TBin(BSregex, Typing.TBin(BAadd, _, _, _), _, _),
        Typing.TBin(BSregex, _, _, _), _) => ()
      case other => fail(s"wrong shape: $other")
    }
    // `= ~` does not exist: the two-char lex wins only on adjacency
    intercept[Exception](Parser.parse(header + "match (p:P)\nwhere p.s = ~ \"a\"\nreturn p"))
  }

  test("string functions and case parse; case demands then/else/end") {
    val e = whereExpr(header +
      "create (a:P)\nwhere size(trim(lower(upper(a.s)))) = 2")
    e match {
      case Typing.TBin(BCeq, Typing.TUn(USsize,
        Typing.TUn(UStrim, Typing.TUn(USlower, Typing.TUn(USupper, _, _), _), _), IntT), _, _) => ()
      case other => fail(s"wrong shape: $other")
    }
    val c = whereExpr(header +
      "create (a:P)\nwhere (case when a.x > 1 then 2 when a.x = 0 then 3 else 4 end) = 2")
    c match {
      case Typing.TBin(BCeq, Typing.TCase(List(_, _), _, IntT), _, _) => ()
      case other => fail(s"wrong shape: $other")
    }
    assert(intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nwhere case when a.x > 1 then 2 end = 2\nreturn a"))
      .getMessage.contains("requires an else branch"))
    assert(intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nwhere case when a.x > 1 else 4 end = 2\nreturn a"))
      .getMessage.contains("expected then"))
    // `case` and `lower` stay usable as variable names (call/when shape
    // is what's special, like null(v))
    val v = Parser.parse(header + "create (case:P)\ncreate (lower:P)\nreturn case, lower")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten ==
      List("case", "lower"))
    // ternary calls parse; `substring` stays a variable name off the
    // call shape; string + parses at additive precedence
    val t = whereExpr(header +
      "create (a:P)\nwhere replace(substring(a.s + \"x\", 1, 2), \"a\", \"b\") = a.s")
    t match {
      case Typing.TBin(BCeq, Typing.TReplace(Typing.TSubstr(
        Typing.TBin(BAadd, _, _, StringT), _, _), _, _), _, _) => ()
      case other => fail(s"wrong shape: $other")
    }
    val sv = Parser.parse(header + "create (substring:P)\nreturn substring")
    assert(sv.query.clauses.collect { case Return(vs) => vs }.flatten ==
      List("substring"))
  }

  test("with ... where sugar: filter parses attached, after order/limit (round 16)") {
    val p = Parser.parse(header +
      "match (a:P)\nwith a, a.x as v order by a limit 5 where v.val >= 2\nreturn a")
    val wc = p.query.clauses.collectFirst { case w: WithClause => w }.get
    assert(wc.limit == Some(Const(IntV(5L))), "order/limit parse before the attached where")
    wc.where match {
      case Some(Bin(BCge, AttribAcc("v", "val"), Const(IntV(2L)))) => ()
      case other => fail(s"attached where shape: $other")
    }
    // desugar: the filter becomes a standalone where INSTRUCTION after
    // the projection (Cypher's subclause order)
    val tp = Typing.compile(header +
      "create (a:P)\nset a.x = 3\nmatch (p:P)\nwith p, p.x as v where v.val >= 2\nreturn p")
    val iWith = tp.instrs.indexWhere(_.isInstanceOf[Typing.RWith])
    val iWhere = tp.instrs.lastIndexWhere(_.isInstanceOf[Typing.RWhere])
    assert(iWith >= 0 && iWhere == iWith + 1,
      s"expected RWhere right after RWith, got ${tp.instrs}")
    // a with WITHOUT the sugar is untouched (None, no trailing filter)
    val q = Parser.parse(header + "match (a:P)\nwith a as b\nreturn b")
    assert(q.query.clauses.collectFirst { case w: WithClause => w }.get.where.isEmpty)
  }

  test("subquery expressions in a list lambda: pointed rejection on lambda-var capture") {
    // ADVICE r15: a count { } / comprehension whose PATTERN references
    // the enclosing lambda variable would hoist outside the lambda's
    // scope — an unknown import at best, a silently shadowed OUTER
    // binding at worst. Both spellings must fail loudly at parse time.
    val hdr = "(:N {x int})\n(:N) -[:r]-> (:N)\n" +
      "match (a:N)\nwith a, collect(a.x) as xs\n"
    val ex = intercept[Parser.ParseError](Parser.parse(hdr +
      "where any(k in xs.val where count { (k) -[:r]-> (c:N) } > 0)\nreturn a"))
    assert(ex.getMessage.contains("lambda variable k"), ex.getMessage)
    val ex2 = intercept[Parser.ParseError](Parser.parse(hdr +
      "where all(x in xs.val where count { (x) -[:r]-> (c:N) } = 0)\nreturn a"))
    assert(ex2.getMessage.contains("lambda variable x"), ex2.getMessage)
    // a subquery NOT touching the lambda variable still hoists fine
    val ok = Parser.parse(hdr +
      "where any(k in xs.val where count { (a) -[:r]-> (c:N) } > k.val)\nreturn a")
    assert(ok.query.clauses.exists(_.isInstanceOf[CallSub]))
  }

  test("projection items classify: var / attr / expression / agg-over-expr") {
    val p = Parser.parse(header +
      "match (a:P)\nwith a, a.x as b, a.x + 1 as c, sum(a.x * 2) as d, 7 as e\nreturn a")
    val items = p.query.clauses.collectFirst {
      case WithClause(its, _, _, _, _, _) => its }.get
    assert(items(0) == ((RetVar("a"), None)))
    assert(items(1) == ((RetAttr("a", "x"), Some("b"))))          // lone attr stays RetAttr
    items(2) match {
      case (RetExpr(Bin(BAadd, AttribAcc("a", "x"), _)), Some("c")) => ()
      case other => fail(s"wrong shape: $other")
    }
    items(3) match {
      case (RetAgg(AggSum, RetExpr(Bin(BAmul, _, _)), false), Some("d")) => ()
      case other => fail(s"wrong shape: $other")
    }
    assert(items(4) == ((RetExpr(Const(IntV(7))), Some("e"))))   // literal item
    // expression order keys parse through the same item grammar
    val o = Parser.parse(header +
      "match (a:P)\nreturn a order by size(a.s) desc limit 2")
    val keys = o.query.clauses.collectFirst {
      case ReturnExt(_, ord, _, _, _) => ord }.get
    keys.head match {
      case (RetExpr(Un(USsize, AttribAcc("a", "s"))), false) => ()
      case other => fail(s"wrong shape: $other")
    }
  }

  test("return items take as-aliases; aliased plain vars leave the fast path") {
    val p = Parser.parse(header +
      "match (a:P)\nreturn a, a.x as y, a.x + 1 as z")
    val items = p.query.clauses.collectFirst {
      case ReturnExt(its, _, _, _, _) => its }.get
    assert(items(0) == ((RetVar("a"), None)))
    assert(items(1) == ((RetAttr("a", "x"), Some("y"))))
    items(2) match {
      case (RetExpr(Bin(BAadd, _, _)), Some("z")) => ()
      case other => fail(s"wrong shape: $other")
    }
    // `return a as b` alone is extended (the plain Return fast path
    // carries no aliases)
    assert(Parser.parse(header + "match (a:P)\nreturn a as b")
      .query.clauses.last == ReturnExt(List((RetVar("a"), Some("b"))), Nil, None, None, false))
  }

  test("in-list membership parses at comparison tier; names stay contextual") {
    val e = Parser.parse(header + "match (a:P)\nwhere a.x in [1, a.x + 2, 3]\nreturn a")
      .query.clauses.collectFirst { case Where(w) => w }.get
    e match {
      case InList(AttribAcc("a", "x"),
        List(Const(IntV(1)), Bin(BAadd, _, _), Const(IntV(3))), false) => ()
      case other => fail(s"wrong shape: $other")
    }
    // negation + precedence: `in` binds tighter than and/or
    val e2 = Parser.parse(header +
      "match (a:P)\nwhere a.x not in [1, 2] and a.x > 0\nreturn a")
      .query.clauses.collectFirst { case Where(w) => w }.get
    e2 match {
      case Bin(BLand, InList(_, List(_, _), true), Bin(BCgt, _, _)) => ()
      case other => fail(s"wrong shape: $other")
    }
    // the empty list is rejected like unwind's
    assert(intercept[Parser.ParseError](
      Parser.parse(header + "match (a:P)\nwhere a.x in []\nreturn a"))
      .getMessage.contains("in list cannot be empty"))
    // `in` and `not` stay valid variable names (no `[` lookahead → no steal)
    val v = Parser.parse(header + "create (in:P)\ncreate (not:P)\nreturn in, not")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("in", "not"))
  }

  test("coalesce parses as a call shape; arity and contextual name enforced") {
    val e = Parser.parse(header +
      "match (a:P)\nwhere coalesce(a.x, 5) > 2\nreturn a")
      .query.clauses.collectFirst { case Where(w) => w }.get
    e match {
      case Bin(BCgt, Coalesce(List(AttribAcc("a", "x"), Const(IntV(5)))), _) => ()
      case other => fail(s"wrong shape: $other")
    }
    assert(intercept[Parser.ParseError](
      Parser.parse(header + "match (a:P)\nwhere coalesce(a.x) > 2\nreturn a"))
      .getMessage.contains("at least two arguments"))
    // a variable named coalesce still works (no `(` after it)
    val v = Parser.parse(header + "create (coalesce:P)\nreturn coalesce")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("coalesce"))
  }

  test("id(v) parses as a call shape; id stays a variable name") {
    val e = Parser.parse(header + "match (a:P)\nwhere id(a) mod 2 = 0\nreturn a")
      .query.clauses.collectFirst { case Where(w) => w }.get
    e match {
      case Bin(BCeq, Bin(BAmod, IdFn("a"), _), _) => ()
      case other => fail(s"wrong shape: $other")
    }
    val v = Parser.parse(header + "create (id:P)\nreturn id")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("id"))
  }

  test("collect, list indexing, and unwind-variable parse (round 11)") {
    // collect is an ordinary aggregate name
    val p = Parser.parse(header + "match (a:P)\nwith collect(a.x) as xs\nreturn xs")
    val items = p.query.clauses.collectFirst { case WithClause(its, _, _, _, _, _) => its }.get
    assert(items.head == ((RetAgg(AggCollect, RetAttr("a", "x"), distinct = false), Some("xs"))))
    // postfix index binds tighter than operators; chains left
    val e = Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nwhere xs.val[1 + 2] > 0\nreturn xs")
      .query.clauses.collectFirst {
        case Where(w) => w
        case WithClause(_, _, _, _, _, Some(w)) => w }.get
    e match {
      case Bin(BCgt, IndexAcc(AttribAcc("xs", "val"), Bin(BAadd, _, _)), _) => ()
      case other => fail(s"wrong shape: $other")
    }
    // unwind over a variable instead of a bracket literal
    val u = Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nunwind xs as x\nreturn x")
    assert(u.query.clauses(2) == UnwindVar("xs", "x"))
  }

  test("range, in-over-expression, and unwind-expression parse (round 11)") {
    val e = Parser.parse(header + "match (a:P)\nwhere a.x in range(1, a.x + 3)\nreturn a")
      .query.clauses.collectFirst { case Where(w) => w }.get
    e match {
      case InListE(AttribAcc("a", "x"), RangeE(Const(IntV(1)), Bin(BAadd, _, _)), false) => ()
      case other => fail(s"wrong shape: $other")
    }
    // not-in over an attr-access list expression
    val e2 = Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nmatch (b:P)\nwhere b.x not in xs.val\nreturn b")
      .query.clauses.collectFirst {
        case Where(w) => w
        case WithClause(_, _, _, _, _, Some(w)) => w }.get
    assert(e2 == InListE(AttribAcc("b", "x"), AttribAcc("xs", "val"), neg = true))
    // unwind expression forms
    val u = Parser.parse(header + "match (a:P)\nunwind range(0, a.x) as i\nreturn a, i")
    u.query.clauses(1) match {
      case UnwindExpr(RangeE(_, _), "i") => ()
      case other => fail(s"wrong shape: $other")
    }
    val u2 = Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nunwind xs.val as x\nreturn x")
    assert(u2.query.clauses(2) == UnwindExpr(AttribAcc("xs", "val"), "x"))
    // a variable named range still parses (no `(` after it)
    val v = Parser.parse(header + "create (range:P)\nreturn range")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("range"))
  }

  test("prefix not and simple case parse (round 11)") {
    // not binds looser than comparison, tighter than and
    val e = Parser.parse(header + "match (a:P)\nwhere not a.x > 1 and a.x < 9\nreturn a")
      .query.clauses.collectFirst { case Where(w) => w }.get
    e match {
      case Bin(BLand, Un(ULnot, Bin(BCgt, _, _)), Bin(BClt, _, _)) => ()
      case other => fail(s"wrong shape: $other")
    }
    // nested not; a variable named not keeps attr access
    Parser.parse(header + "match (a:P)\nwhere not not a.x = 1\nreturn a")
    val v = Parser.parse(header + "create (not:P)\nwhere not.x = 1 or not not.x = 2\nreturn not")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("not"))
    // simple case desugars to searched equality arms
    val c = Parser.parse(header +
      "match (a:P)\nwhere case a.x when 1 then true when 2 + 1 then false else a.x > 5 end\nreturn a")
      .query.clauses.collectFirst { case Where(w) => w }.get
    c match {
      case CaseExpr(List(
          (Bin(BCeq, AttribAcc("a", "x"), Const(IntV(1))), Const(BoolV(true))),
          (Bin(BCeq, AttribAcc("a", "x"), Bin(BAadd, _, _)), Const(BoolV(false)))),
          Bin(BCgt, _, _)) => ()
      case other => fail(s"wrong shape: $other")
    }
    // at least one arm; else still mandatory
    intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nwhere case a.x else true end\nreturn a"))
    intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nwhere case a.x when 1 then true end\nreturn a"))
  }

  test("list predicates, comprehension, and reduce parse (round 11)") {
    // any/all/none/single: call shape with a lambda variable
    val e = Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nwhere any(x in xs.val where x.val > 3)\nreturn xs")
      .query.clauses.collectFirst {
        case Where(w) => w
        case WithClause(_, _, _, _, _, Some(w)) => w }.get
    e match {
      case ListPred("any", "x", AttribAcc("xs", "val"),
          Bin(BCgt, AttribAcc("x", "val"), Const(IntV(3)))) => ()
      case other => fail(s"wrong shape: $other")
    }
    for (k <- Seq("all", "none", "single"))
      Parser.parse(header +
        s"match (a:P)\nwith collect(a.x) as xs\nwhere $k(x in xs.val where x.val > 3)\nreturn xs")
    // missing where inside the call is rejected
    intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nwhere any(x in xs.val)\nreturn xs"))
    // a variable named any still works (no call shape without `(`)
    val v = Parser.parse(header + "create (any:P)\nwhere any.x = 1\nreturn any")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("any"))

    // comprehension: all four form combinations
    val full = Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nunwind [x in xs.val where x.val > 1 | x.val * 2] as y\nreturn y")
    full.query.clauses(2) match {
      case UnwindExpr(ListComp("x", AttribAcc("xs", "val"), Some(_), Some(_)), "y") => ()
      case other => fail(s"wrong shape: $other")
    }
    Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nunwind [x in xs.val where x.val > 1] as y\nreturn y")
    Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nunwind [x in xs.val | x.val + 1] as y\nreturn y")
    Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nunwind [x in xs.val] as y\nreturn y")
    // comprehension in membership position (the compAhead carve-out)
    val m = Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nmatch (b:P)\nwhere b.x in [x in xs.val | x.val * 2]\nreturn b")
      .query.clauses.collectFirst {
        case Where(w) => w
        case WithClause(_, _, _, _, _, Some(w)) => w }.get
    m match {
      case InListE(AttribAcc("b", "x"), _: ListComp, false) => ()
      case other => fail(s"wrong shape: $other")
    }
    // ...while a bracket literal after in still parses as InList
    val lit = Parser.parse(header + "match (a:P)\nwhere a.x in [1, 2]\nreturn a")
      .query.clauses.collectFirst { case Where(w) => w }.get
    assert(lit.isInstanceOf[InList])

    // reduce: acc = init, element in list | body
    val r = Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nreturn reduce(s = 0, x in xs.val | s.val + x.val) as tot")
    val items = r.query.clauses.collectFirst {
      case ReturnExt(its, _, _, _, _) => its }.get
    items.head._1 match {
      case RetExpr(ReduceE("s", Const(IntV(0)), "x", AttribAcc("xs", "val"),
          Bin(BAadd, AttribAcc("s", "val"), AttribAcc("x", "val")))) => ()
      case other => fail(s"wrong shape: $other")
    }
    // malformed reduce shapes are rejected
    intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nreturn reduce(s = 0, x in xs.val) as t"))
    intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nreturn reduce(x in xs.val | 1) as t"))
  }

  test("named paths parse on any pure hop chain; match-only (rounds 12-13)") {
    val p = Parser.parse(header +
      "match p = (a:P) -[:r*1..2]-> (b:Q)\nreturn a, b")
    p.query.clauses.head match {
      case Match(List(VarPattern(_, "r", 1, 2, _: SimpPattern, None, Fwd, Some("p"), false))) => ()
      case other => fail(s"wrong shape: $other")
    }
    // round 13: fixed hops and multi-segment chains are legal — they
    // wrap in NamedPattern for Normalize.desugarNamed (a trailing
    // forward/undirected varpath still binds the witness directly)
    Parser.parse(header + "match p = (a:P) -[:r]-> (b:Q)\nreturn a")
      .query.clauses.head match {
      case Match(List(NamedPattern("p", CompPattern(_, "r", _: SimpPattern, Fwd, None, Nil, Nil)))) => ()
      case other => fail(s"wrong fixed-hop shape: $other")
    }
    Parser.parse(header +
      "match p = (a:P) -[:r*1..2]-> (b:Q) -[:r]-> (c:Q)\nreturn a")
      .query.clauses.head match {
      case Match(List(NamedPattern("p", VarPattern(_, "r", 1, 2, _: CompPattern, None, Fwd, None, false)))) => ()
      case other => fail(s"wrong multi-segment shape: $other")
    }
    // a trailing REVERSE varpath also wraps (the witness flips to
    // pattern order through the desugar, not the direct binding)
    Parser.parse(header + "match p = (a:P) <-[:r*1..2]- (b:Q)\nreturn a")
      .query.clauses.head match {
      case Match(List(NamedPattern("p", VarPattern(_, "r", 1, 2, _, None, Rev, None, false)))) => ()
      case other => fail(s"wrong reverse shape: $other")
    }
    // Cypher's shortestPath(...) spelling is a TRANSPARENT wrapper
    // (round 14): the witness is already the canonical minimal-hop walk
    Parser.parse(header +
      "match q = shortestPath((a:P) -[:r*1..2]-> (b:Q))\nreturn a, b")
      .query.clauses.head match {
      case Match(List(VarPattern(_, "r", 1, 2, _: SimpPattern, None, Fwd, Some("q"), false))) => ()
      case other => fail(s"wrong shortestPath shape: $other")
    }
    // ... and it stays contextual: a variable named shortestPath works
    assert(Parser.parse(header + "match (shortestPath:P)\nreturn shortestPath")
      .query.clauses.nonEmpty)
    // rel variables / property maps / alternation cannot ride a named
    // hop; nested names are rejected; zero-hop names are meaningless
    intercept[Parser.ParseError](Parser.parse(header +
      "match p = (a:P) -[x:r]-> (b:Q)\nreturn a"))
    intercept[Parser.ParseError](Parser.parse(header +
      "match p = (a:P) -[:r|s]-> (b:Q)\nreturn a"))
    intercept[Parser.ParseError](Parser.parse(header +
      "match p = (a:P)\nreturn a"))
    // create admits no named paths (patterns there start with '(')
    intercept[Parser.ParseError](Parser.parse(header +
      "create p = (a:P) -[:r*1..2]-> (b:Q)\nreturn a"))
    // `p` stays a legal variable name: ident '=' only triggers before '('
    val v = Parser.parse(header + "match (p:P)\nwhere p.x = 1\nreturn p")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("p"))
    // length/nodes parse as contextual calls at expression positions
    val w = Parser.parse(header +
      "match q = (a:P) -[:r*1..2]-> (b:Q)\nwhere length(q) > 1\nunwind nodes(q) as n\nreturn n")
    assert(w.query.clauses.exists {
      case Where(Bin(BCgt, LengthFn("q"), _)) => true; case _ => false
    })
    // optional match admits the name (the witness binds it, NULL when
    // none); the existential predicates bind nothing — name rejected
    val o = Parser.parse(header +
      "match (a:P)\noptional match p = (a) -[:r*1..2]-> (b:Q)\nreturn a, b")
    o.query.clauses(1) match {
      case OptMatch(VarPattern(_, _, _, _, _, _, _, Some("p"), _)) => ()
      case other => fail(s"wrong shape: $other")
    }
    intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nwhere exists p = (a) -[:r*1..2]-> (b:Q)\nreturn a"))
    intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nwhere not exists p = (a) -[:r*1..2]-> (b:Q)\nreturn a"))
  }

  test("call { … } subquery parses: imports, inner clauses, final return (round 15)") {
    val p = Parser.parse(header +
      "match (a:P)\ncall { with a match (a) -[:r]-> (b:Q) return b order by b.y desc limit 2 }\nreturn a, b")
    p.query.clauses(1) match {
      case CallSub(List("a"), List(_: Match), r: ReturnExt) =>
        assert(r.limit.contains(Const(IntV(2L))))
      case other => fail(s"wrong shape: $other")
    }
    // no imports = uncorrelated; where composes inside
    Parser.parse(header +
      "call { match (b:Q) where b.y > 0 return count(b) as k }\nmatch (a:P)\nreturn a, k")
      .query.clauses.head match {
      case CallSub(Nil, List(_: Match, _: Where), _) => ()
      case other => fail(s"wrong uncorrelated shape: $other")
    }
    // the procedure form is untouched: `call name(` still parses
    Parser.parse(header + "call degree() yield id, o, n\nreturn id, o, n")
    // imports are plain variables only
    val e1 = intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\ncall { with a.x match (b:Q) return count(b) as k }\nreturn k"))
    assert(e1.getMessage.contains("plain variables"))
    // a subquery must end in a return…
    val e2 = intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\ncall { with a match (a) -[:r]-> (b:Q) }\nreturn a"))
    assert(e2.getMessage.contains("must end in a return"))
    // …with nothing after it
    val e3 = intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\ncall { with a return a as a2 where a.x > 0 }\nreturn a"))
    assert(e3.getMessage.contains("last clause"))
    // mutations are rejected with a pointed error
    val e4 = intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\ncall { with a create (c:Q) return c as c2 }\nreturn a"))
    assert(e4.getMessage.contains("match/where"))
    // unterminated subquery
    val e5 = intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\ncall { with a match (a) -[:r]-> (b:Q) return b"))
    assert(e5.getMessage.contains("unterminated"))
  }

  test("allShortestPaths parses on the single varpath form only (round 15)") {
    Parser.parse(header +
      "match p = allShortestPaths((a:P) -[:r*1..2]-> (b:Q))\nreturn a, b")
      .query.clauses.head match {
      case Match(List(VarPattern(_, "r", 1, 2, _: SimpPattern, None, Fwd, Some("p"), true))) => ()
      case other => fail(s"wrong shape: $other")
    }
    // undirected is legal too
    Parser.parse(header +
      "match p = allShortestPaths((a:P) -[:r*2..2]- (b:Q))\nreturn a, b")
      .query.clauses.head match {
      case Match(List(VarPattern(_, "r", 2, 2, _: SimpPattern, None, Undir, Some("p"), true))) => ()
      case other => fail(s"wrong undirected shape: $other")
    }
    // fixed hops, multi-segment chains and reverse hops have no per-pair
    // minimality to enumerate — rejected with the allShortestPaths error
    val e1 = intercept[Parser.ParseError](Parser.parse(header +
      "match p = allShortestPaths((a:P) -[:r]-> (b:Q))\nreturn a"))
    assert(e1.getMessage.contains("allShortestPaths"))
    val e2 = intercept[Parser.ParseError](Parser.parse(header +
      "match p = allShortestPaths((a:P) -[:r*1..2]-> (b:Q) -[:r]-> (c:Q))\nreturn a"))
    assert(e2.getMessage.contains("allShortestPaths"))
    val e3 = intercept[Parser.ParseError](Parser.parse(header +
      "match p = allShortestPaths((a:P) <-[:r*1..2]- (b:Q))\nreturn a"))
    assert(e3.getMessage.contains("allShortestPaths"))
    // contextual: a variable named allShortestPaths stays legal
    assert(Parser.parse(header + "match (allShortestPaths:P)\nreturn allShortestPaths")
      .query.clauses.nonEmpty)
  }

  test("any-relation hop -[]-> parses (round 14); named paths and rel vars reject it") {
    val p = Parser.parse(header + "match (a:P) -[]-> (b:Q)\nreturn a")
    p.query.clauses.head match {
      case Match(List(CompPattern(_, AnyRel(), _: SimpPattern, Fwd, None, Nil, Nil))) => ()
      case other => fail(s"wrong shape: $other")
    }
    Parser.parse(header + "match (a:P) -[]- (b:Q)\nreturn a")
      .query.clauses.head match {
      case Match(List(CompPattern(_, AnyRel(), _, Undir, _, _, _))) => ()
      case other => fail(s"wrong undirected shape: $other")
    }
    Parser.parse(header + "match (b:Q) <-[]- (a:P)\nreturn a")
      .query.clauses.head match {
      case Match(List(CompPattern(_, AnyRel(), _, Rev, _, _, _))) => ()
      case other => fail(s"wrong reverse shape: $other")
    }
    // a named path's hop-label witness needs concrete relation types
    intercept[Parser.ParseError](Parser.parse(header +
      "match p = (a:P) -[]-> (b:Q)\nreturn a"))
    // `[x]` without a label is not a rel-binding form
    intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P) -[x]-> (b:Q)\nreturn a"))
  }

  test("call procedures parse: proc() yield list; malformed shapes rejected") {
    val p = Parser.parse(header + "call degree() yield id, o, n\nwhere o.val > 1\nreturn id")
    assert(p.query.clauses.head == CallProc("degree", List("id", "o", "n")))
    // int-literal arguments
    val b = Parser.parse(header + "call bfs(1000000000) yield id, d\nreturn d")
    assert(b.query.clauses.head ==
      CallProc("bfs", List("id", "d"), List(Const(IntV(1000000000L)))))
    // string-literal and $param arguments (round 12)
    val s = Parser.parse(header + "call degree(\"r\") yield id, o, n\nreturn id")
    assert(s.query.clauses.head ==
      CallProc("degree", List("id", "o", "n"), List(Const(StringV("r")))))
    val q = Parser.parse(header + "call bfs($src) yield id, d\nreturn d")
    assert(q.query.clauses.head ==
      CallProc("bfs", List("id", "d"), List(Param("src"))))
    // yield keyword and the () are mandatory; args are literals only
    intercept[Parser.ParseError](Parser.parse(header + "call degree() return x"))
    intercept[Parser.ParseError](Parser.parse(header + "call degree yield a\nreturn a"))
    intercept[Parser.ParseError](Parser.parse(header + "call bfs(x) yield a, b\nreturn a"))
    intercept[Parser.ParseError](Parser.parse(header + "call bfs(1 + 2) yield a, b\nreturn a"))
    // a variable named call still works everywhere BUT clause position
    val v = Parser.parse(header + "create (call:P)\nwhere call.x = 1\nreturn call")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("call"))
  }

  test("string charset: printable ASCII except quote kinds and backslash (round 11)") {
    // punctuation now lexes (real text data needs it; the reference
    // corpus only ever used [a-zA-Z0-9 ], so its programs are unchanged)
    val p = Parser.parse(header +
      "match (a:P)\nwhere a.s = \"x-y_z.w:7/8#@!(),\"\nreturn a")
    p.query.clauses.collectFirst { case Where(Bin(BCeq, _, Const(StringV(s)))) =>
      assert(s == "x-y_z.w:7/8#@!(),")
    }.getOrElse(fail("no where"))
    // the three unescapable chars and non-printables still reject
    intercept[Lexer.LexError](Parser.parse(header +
      "match (a:P)\nwhere a.s = \"a'b\"\nreturn a"))
    intercept[Lexer.LexError](Parser.parse(header +
      "match (a:P)\nwhere a.s = \"a\\b\"\nreturn a"))
    intercept[Lexer.LexError](Parser.parse(header +
      "match (a:P)\nwhere a.s = \"a\tb\"\nreturn a"))
    intercept[Lexer.LexError](Parser.parse(header +
      "match (a:P)\nwhere a.s = \"aéb\"\nreturn a"))
  }

  test("split and slice parse; slice chains with indexing (round 11)") {
    val s = Parser.parse(header +
      "match (a:P)\nunwind split(a.s, \"-\") as p\nreturn p")
    s.query.clauses(1) match {
      case UnwindExpr(SplitFn(AttribAcc("a", "s"), Const(StringV("-"))), "p") => ()
      case other => fail(s"wrong shape: $other")
    }
    // a variable named split keeps attr access
    val v = Parser.parse(header + "create (split:P)\nwhere split.x = 1\nreturn split")
    assert(v.query.clauses.collect { case Return(vs) => vs }.flatten == List("split"))
    // slice: [lo..hi] distinguishes from [i]; chains with indexing
    val e = Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nwhere xs.val[1..3][0] > xs.val[0]\nreturn xs")
      .query.clauses.collectFirst {
        case Where(w) => w
        case WithClause(_, _, _, _, _, Some(w)) => w }.get
    e match {
      case Bin(BCgt,
          IndexAcc(SliceAcc(AttribAcc("xs", "val"), Const(IntV(1)), Const(IntV(3))), Const(IntV(0))),
          IndexAcc(AttribAcc("xs", "val"), Const(IntV(0)))) => ()
      case other => fail(s"wrong shape: $other")
    }
    // expression bounds parse
    Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nreturn size(xs.val[a.x - 1..size(xs.val)]) as k")
  }

  test("count(*) parses as row count; only plain count admits the star") {
    val p = Parser.parse(header + "match (a:P)\nreturn a, count(*) as c")
    val items = p.query.clauses.collectFirst {
      case ReturnExt(its, _, _, _, _) => its }.get
    assert(items(1) ==
      ((RetAgg(AggCount, RetExpr(Const(IntV(1L))), distinct = false), Some("c"))))
    // sum(*) is not a thing — the argument parser reports the star
    intercept[Parser.ParseError](
      Parser.parse(header + "match (a:P)\nreturn sum(*) as s"))
    // count(distinct *) is rejected too (distinct needs a real argument)
    intercept[Parser.ParseError](
      Parser.parse(header + "match (a:P)\nreturn count(distinct *) as c"))
  }

  test("count { } / exists { } expressions desugar to hidden call { } subqueries (round 15 v2)") {
    // return-item form: the hoisted subquery lands immediately before
    // the consuming clause; imports = the pattern's bare variables;
    // the counted variable is the imported one (never null)
    val p = Parser.parse(header +
      "match (n:P)\nreturn n, count { (c:Q) -[:r]-> (n) } as k")
    p.query.clauses match {
      case List(_: Match,
          CallSub(imports, List(Match(_)), sub: ReturnExt),
          ret: ReturnExt) =>
        assert(imports == List("n"))
        sub.items match {
          case List((RetAgg(AggCount, RetVar("n"), false), Some(cs))) =>
            assert(cs.startsWith("%cs"))
            ret.items.collectFirst {
              case (RetExpr(AttribAcc(v, "val")), Some("k")) => v
            } match {
              case Some(v) => assert(v == cs)
              case None    => fail(s"rewritten item missing: ${ret.items}")
            }
          case other => fail(s"wrong subquery return: $other")
        }
      case other => fail(s"wrong desugar shape: $other")
    }
    // exists { } = count { } > 0; the inner filter rides inside the
    // subquery as an ordinary where clause
    val w = Parser.parse(header +
      "match (a:P)\nwhere exists { (a) -[:r]-> (q:Q) where q.y > 25 }\nreturn a")
    w.query.clauses match {
      case List(_: Match,
          CallSub(List("a"), List(_: Match, _: Where), _),
          Where(Bin(BCgt, AttribAcc(cs, "val"), Const(IntV(0L)))),
          Return(List("a"))) =>
        assert(cs.startsWith("%cs"))
      case other => fail(s"wrong exists shape: $other")
    }
    // contextual on the brace: variables named count / exists stay legal
    Parser.parse(header + "match (count:P)\nwhere count.x > 0\nreturn count")
    Parser.parse(header + "match (exists:P)\nreturn exists")
    // unterminated body
    intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nwhere count { (a) -[:r]-> (q:Q) > 0\nreturn a"))
    // `not exists { … }` composes through the expression parser — the
    // clause-level `not exists (pattern)` interception requires the
    // paren, so the brace form reaches ULnot over the count sugar
    val n = Parser.parse(header +
      "match (a:P)\nwhere not exists { (a) -[:r]-> (q:Q) }\nreturn a")
    n.query.clauses(2) match {
      case Where(Un(ULnot, Bin(BCgt, AttribAcc(_, "val"), _))) => ()
      case other => fail(s"wrong not-exists shape: $other")
    }
    // the clause form still wins on the paren
    assert(Parser.parse(header +
      "match (a:P)\nwhere not exists (a) -[:r]-> (q:Q)\nreturn a")
      .query.clauses(1).asInstanceOf[Exists].neg)
  }

  test("pattern comprehensions [ pattern | expr ] desugar to collect subqueries (round 15 v2)") {
    val p = Parser.parse(header +
      "match (a:P)\nwith a, [ (a) -[:r]-> (q:Q) where q.y > 0 | q.y ] as ys\nreturn a, ys")
    p.query.clauses(1) match {
      case CallSub(List("a"), List(_: Match, _: Where), sub: ReturnExt) =>
        sub.items match {
          case List((RetAgg(AggCollect, RetExpr(AttribAcc("q", "y")), false), Some(cs))) =>
            assert(cs.startsWith("%cs"))
          case other => fail(s"wrong collect item: $other")
        }
      case other => fail(s"wrong comprehension desugar: $other")
    }
    // the list-comprehension form is untouched: `[x in …]` still parses
    Parser.parse(header +
      "match (a:P)\nwith collect(a.x) as xs\nreturn [x in xs.val | x.val * 2] as d")
    // a comprehension needs its map expression
    intercept[Parser.ParseError](Parser.parse(header +
      "match (a:P)\nreturn a, [ (a) -[:r]-> (q:Q) ] as ys"))
  }
}
