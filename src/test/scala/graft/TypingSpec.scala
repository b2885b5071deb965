package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lang.Typing
import graft.lang.{Value, IntV, StringV, BoolV}

/** Negative corpus (SURVEY.md §5.2(2)): one test per distinct analysis
  * error class of the reference type checker (typing.ml:57-98, 128-163,
  * 201-268) plus the doc/interf.ml scenarios. Pure driver-side — no
  * SparkSession. */
class TypingSpec extends AnyFunSuite {

  private def err(src: String): String =
    intercept[Typing.TypeError](Typing.compile(src)).getMessage

  private val header =
    """(:P {x int, s string})
      |(:Q {y int})
      |(:P) -[:r]-> (:Q)
      |""".stripMargin

  test("duplicate node type declaration") {
    assert(err("(:P {x int})\n(:P {y int})\ncreate (a:P)")
      .contains("duplicate node type"))
  }

  test("relation endpoint references undeclared label") {
    assert(err("(:P {})\n(:P) -[:r]-> (:Z)\ncreate (a:P)")
      .contains("undeclared target label Z"))
    assert(err("(:P {})\n(:Z) -[:r]-> (:P)\ncreate (a:P)")
      .contains("undeclared source label Z"))
  }

  test("duplicate relation type declaration") {
    assert(err("(:P {})\n(:P) -[:r]-> (:P)\n(:P) -[:r]-> (:P)\ncreate (a:P)")
      .contains("duplicate relation type"))
  }

  test("duplicate attribute in a node type") {
    assert(err("(:P {x int, x string})\ncreate (a:P)")
      .contains("duplicate attribute"))
  }

  test("undeclared node label in a pattern") {
    assert(err(header + "create (a:Z)").contains("undeclared node label Z"))
  }

  test("edge on unbound variable") {
    assert(err(header + "create (a:P)\ncreate (a) -[:r]-> (b)")
      .contains("variable b not bound"))
  }

  test("undeclared relation type between bound labels") {
    assert(err(header + "create (a:Q)\ncreate (b:Q)\nmatch (a) -[:r]-> (b)")
      .contains("undeclared relation type (:Q)-[:r]->(:Q)"))
  }

  test("delete of unbound variable") {
    assert(err(header + "create (a:P)\ndelete b").contains("unbound variable b"))
  }

  test("deleted variable is unbound afterwards (env restriction)") {
    assert(err(header + "create (a:P)\ndelete a\nreturn a")
      .contains("unbound"))
  }

  test("duplicate variables in return") {
    assert(err(header + "create (a:P)\nreturn a, a")
      .contains("duplicate variables in return"))
  }

  test("return of unbound variable") {
    assert(err(header + "create (a:P)\nreturn a, z")
      .contains("return of unbound variable(s): z"))
  }

  test("return restricts the environment (reference typing.ml:252)") {
    assert(err(header + "create (a:P)\ncreate (b:Q)\nreturn a\nreturn b")
      .contains("return of unbound variable(s): b"))
  }

  test("where expression must be bool") {
    assert(err(header + "create (a:P)\nset a.x = 1\nmatch (p:P)\nwhere p.x + 1")
      .contains("must be bool"))
  }

  test("attribute not declared for the variable's label") {
    assert(err(header + "create (a:P)\nwhere a.nope = 1")
      .contains("attribute nope not declared for label P"))
  }

  test("set type mismatch against the declared attribute type") {
    assert(err(header + "create (a:P)\nset a.x = \"hello\"")
      .contains("expression type"))
  }

  test("set of undeclared attribute") {
    assert(err(header + "create (a:P)\nset a.zz = 1")
      .contains("attribute zz not declared"))
  }

  test("arithmetic requires int operands") {
    assert(err(header + "create (a:P)\nset a.s = \"v\"\nwhere a.s + 1 = 2")
      .contains("arithmetic"))
  }

  test("ordering is int-only (stricter than =/<>, reference sem.ml:169-172)") {
    assert(err(header + "create (a:P)\nset a.s = \"v\"\nwhere a.s < \"w\"")
      .contains("ordering"))
  }

  test("equality is polymorphic but requires same-typed operands") {
    assert(err(header + "create (a:P)\nset a.x = 1\nwhere a.x = \"one\"")
      .contains("same-typed"))
  }

  test("logic requires bool operands") {
    assert(err(header + "create (a:P)\nset a.x = 1\nwhere a.x and true")
      .contains("logic"))
  }

  test("rebinding a variable is permitted and shadows (typing.ml:216 deviation)") {
    // must typecheck: `p` rebound from P to Q, set checks against Q
    val tp = Typing.compile(header + "create (p:P)\ncreate (p:Q)\nset p.y = 2")
    assert(tp.instrs.nonEmpty)
  }

  // --- extended return (engine extension; no reference counterpart) ---

  private val selfHeader =
    """(:N {k int, s string})
      |(:N) -[:next]-> (:N)
      |""".stripMargin

  test("ext return: sum requires an int attribute") {
    assert(err(header + "create (a:P)\nreturn sum(a.s)").contains("int attribute"))
  }

  test("ext return: avg requires an int attribute, rejects bare variables") {
    assert(err(header + "create (a:P)\nreturn avg(a.s)").contains("int attribute"))
    assert(err(header + "create (a:P)\nreturn avg(a)").contains("attribute argument"))
    // avg(int attr) typechecks
    assert(Typing.compile(header + "create (a:P)\nset a.x = 4\nreturn avg(a.x)")
      .instrs.nonEmpty)
  }

  test("ext return: sum of a bare variable is rejected") {
    assert(err(header + "create (a:P)\nreturn sum(a)").contains("attribute argument"))
  }

  test("ext return: duplicate output columns rejected") {
    assert(err(header + "create (a:P)\nreturn a.x, a.x").contains("duplicate output"))
  }

  test("ext return: aggregated order key must be a returned item") {
    assert(err(header + "create (a:P)\ncreate (b:Q)\nreturn a, count(b) order by b.y")
      .contains("order by"))
  }

  test("ext return: aggregate order key without aggregated return rejected") {
    assert(err(header + "create (a:P)\nreturn a order by count(a)")
      .contains("aggregate ordering"))
  }

  test("ext return: unbound variable in item") {
    assert(err(header + "create (a:P)\nreturn count(zz)").contains("unbound"))
  }

  test("ext return: env restricted to plain variable items") {
    assert(err(header + "create (a:P)\ncreate (b:Q)\nreturn a, count(b)\nset b.y = 1")
      .contains("unbound"))
  }

  test("ext return: plain variables after return stay usable") {
    val tp = Typing.compile(
      header + "create (a:P)\ncreate (b:Q)\nreturn a, count(b)\nset a.x = 1")
    assert(tp.instrs.size == 4)
  }

  // --- variable-length path (engine extension) ---

  test("varpath: rejected in create") {
    assert(err(selfHeader + "create (a:N) -[:next*1..2]-> (b:N)")
      .contains("not allowed in create"))
  }

  test("varpath: bounds must satisfy 0 <= lo <= hi") {
    assert(err(selfHeader + "match (a:N) -[:next*3..2]-> (b:N)").contains("invalid"))
    // lo = 0 is legal (zero-length / identity paths, Cypher semantics)
    val tp = Typing.compile(selfHeader + "match (a:N) -[:next*0..2]-> (b:N)\nreturn a, b")
    assert(tp.instrs.collect { case v: Typing.RVarPath => v } ==
      List(Typing.RVarPath("a", ("N", "next", "N"), 0, 2, "b")))
    // *0..0 is the pure identity match
    assert(Typing.compile(selfHeader + "match (a:N) -[:next*0..0]-> (b:N)\nreturn a, b")
      .instrs.collect { case v: Typing.RVarPath => v }.nonEmpty)
  }

  test("varpath: depth cap (each hop is a distributed self-join)") {
    assert(err(selfHeader + "match (a:N) -[:next*1..11]-> (b:N)").contains("too deep"))
    // the open spelling's FLOOR is plan-depth too (round 17: the window
    // composes as lo-1 extension joins — an unguarded `*1000000..`
    // would hang Catalyst analysis); *10.. is the deepest legal floor
    assert(err(selfHeader + "match (a:N) -[:next*11..]-> (b:N)").contains("too deep"))
    assert(Typing.compile(selfHeader + "match (a:N) -[:next*10..]-> (b:N)\nreturn a, b")
      .instrs.collect { case v: Typing.RVarPath => v }.nonEmpty)
  }

  // --- shortest-distance binding `as d` (engine extension) ---

  test("shortest: d binds with PathLabel, d.hops types as int") {
    val tp = Typing.compile(selfHeader +
      "match (a:N) -[:next*1..3 as d]-> (b:N)\nwhere d.hops >= 2\nreturn a, d.hops")
    assert(tp.instrs.collect { case v: Typing.RVarPath => v } ==
      List(Typing.RVarPath("a", ("N", "next", "N"), 1, 3, "b", Some("d"))))
    val attrs = tp.instrs.collect { case Typing.RWhere(te) => te }
      .flatMap(collectTAttrs)
    assert(attrs.contains(Typing.TAttr("d", Typing.PathLabel, "hops", graft.lang.IntT)))
  }

  test("shortest: rebinding an existing variable is rejected") {
    assert(err(selfHeader + "match (c:N)\nmatch (a:N) -[:next*1..3 as c]-> (b:N)")
      .contains("already bound"))
    // either endpoint collides too — normalize binds them first
    assert(err(selfHeader + "match (a:N) -[:next*1..3 as a]-> (b:N)")
      .contains("already bound"))
  }

  test("shortest: only the hops attribute exists on a path binding") {
    assert(err(selfHeader +
      "match (a:N) -[:next*1..3 as d]-> (b:N)\nwhere d.len = 2")
      .contains("not declared"))
  }

  test("shortest: path bindings are immutable — set and delete rejected") {
    assert(err(selfHeader +
      "match (a:N) -[:next*1..3 as d]-> (b:N)\nset d.hops = 1")
      .contains("cannot set attribute of path-distance binding"))
    assert(err(selfHeader +
      "match (a:N) -[:next*1..3 as d]-> (b:N)\ndelete d")
      .contains("cannot delete path-distance binding"))
  }

  test("exists: pattern must reference a bound variable; env unchanged") {
    assert(err(header + "create (a:P)\nwhere exists (z:P) -[:r]-> (w:Q)")
      .contains("must reference at least one bound variable"))
    // existential decls do NOT bind
    assert(err(header + "create (a:P)\nwhere exists (a) -[:r]-> (w:Q)\nreturn w")
      .contains("unbound"))
  }

  // --- with clause (mid-query projection/aggregation) ---

  test("with: attr and agg items need an alias") {
    assert(err(header + "create (a:P)\nwith a.x").contains("needs an alias"))
    assert(err(header + "create (a:P)\nwith a, count(a)").contains("needs an alias"))
  }

  test("with: duplicate aliases rejected") {
    assert(err(header + "create (a:P)\nwith a.x as w, count(a) as w")
      .contains("duplicate with alias"))
  }

  test("with: the new scope is exactly the items — dropped bindings unbind") {
    assert(err(header + "create (a:P)\ncreate (b:Q)\nwith a\nreturn b")
      .contains("unbound"))
    // ...and the same variable read through where
    assert(err(header + "create (a:P)\ncreate (b:Q)\nwith a\nwhere b.y = 1")
      .contains("not bound"))
  }

  test("with ... where sugar scopes to the PROJECTED bindings (round 16)") {
    // the attached where desugars AFTER the projection, so it sees the
    // new scope: a binding the with dropped is a typing error there…
    assert(err(header + "create (a:P)\ncreate (b:Q)\nwith a where b.y = 1\nreturn a")
      .contains("not bound"))
    // …while the projected items (node and scalar alike) type-check
    val tp = Typing.compile(header +
      "create (a:P)\nset a.x = 3\nmatch (p:P)\nwith p, p.x as v where v.val >= 2 and p.x < 9\nreturn p")
    assert(tp.instrs.exists(_.isInstanceOf[Typing.RWhere]))
  }

  test("with scalar: .val reads, other attrs rejected, set/delete rejected") {
    val tp = Typing.compile(header +
      "create (a:P)\nwith a, a.x as w\nwhere w.val > 1\nreturn a, w.val")
    assert(tp.instrs.exists(_.isInstanceOf[Typing.RWith]))
    assert(err(header + "create (a:P)\nwith a.x as w\nwhere w.value = 1")
      .contains("not declared"))
    assert(err(header + "create (a:P)\nwith a.x as w\nset w.val = 3")
      .contains("cannot set attribute of with-scalar"))
    assert(err(header + "create (a:P)\nwith a.x as w\ndelete w")
      .contains("cannot delete with-scalar"))
  }

  test("with: scalar types flow — string attr item binds %string, int-only ordering applies") {
    assert(err(header + "create (a:P)\nwith a.s as w\nwhere w.val > 1")
      .contains("ordering"))
    val eq = Typing.compile(header +
      "create (a:P)\nwith a.s as w\nwhere w.val = \"hi\"\nreturn w.val")
    assert(eq.instrs.exists(_.isInstanceOf[Typing.RWith]))
  }

  test("with: aggregated order keys must be with items") {
    assert(err(header + "create (a:P)\nwith a, count(a) as c order by a.x")
      .contains("may only order by with items"))
  }

  test("with distinct + aggregate rejected") {
    assert(err(header + "create (a:P)\nwith distinct count(a) as c")
      .contains("has no effect"))
  }

  test("with: var items keep node labels for later matching and mutation") {
    val tp = Typing.compile(header +
      "create (a:P)\ncreate (b:Q)\ncreate (a) -[:r]-> (b)\n" +
      "with a\nmatch (a) -[:r]-> (q:Q)\nset a.x = 1\nreturn a, q")
    assert(tp.instrs.count(_.isInstanceOf[Typing.RWith]) == 1)
  }

  private def collectTAttrs(te: Typing.TExpr): Seq[Typing.TAttr] = te match {
    case a: Typing.TAttr            => Seq(a)
    case Typing.TBin(_, l, r, _)    => collectTAttrs(l) ++ collectTAttrs(r)
    case _                          => Nil
  }

  test("varpath: relation must be label-homogeneous") {
    assert(err(header + "match (a:P) -[:r*1..2]-> (b:Q)")
      .contains("label-homogeneous"))
  }

  test("varpath: undeclared relation label") {
    assert(err(selfHeader + "match (a:N) -[:zz*1..2]-> (b:N)")
      .contains("undeclared relation label"))
  }

  test("varpath: endpoint labels must match the relation's label") {
    assert(err(selfHeader + "(:M {})\nmatch (a:M), (b:N)\nmatch (a) -[:next*1..2]-> (b)")
      .contains("incompatible"))
  }

  test("varpath: well-typed bounded hop typechecks") {
    val tp = Typing.compile(selfHeader + "match (a:N) -[:next*1..3]-> (b:N)\nreturn a, b")
    assert(tp.instrs.collect { case v: Typing.RVarPath => v } ==
      List(Typing.RVarPath("a", ("N", "next", "N"), 1, 3, "b")))
  }

  // --- undirected hops (engine extension) ---

  test("undirected: create and merge-edge reject -[:r]- (direction is storage)") {
    assert(err(header + "create (a:P)\ncreate (b:Q)\ncreate (a) -[:r]- (b)")
      .contains("not allowed in create/merge"))
    assert(err(header + "create (a:P)\ncreate (b:Q)\nmerge (a) -[:r]- (b)")
      .contains("not allowed in create/merge"))
  }

  test("undirected: both orientations undeclared rejected; either declared accepts") {
    // no r between two Ps in either direction
    assert(err(header + "create (a:P)\ncreate (b:P)\nmatch (a) -[:r]- (b)\nreturn a")
      .contains("undeclared relation type"))
    // fwd-only (P,r,Q) and rev-only (written Q-side) both typecheck,
    // carrying exactly the declared orientations: one unflipped frame,
    // one flipped frame
    val fwd = Typing.compile(header +
      "create (a:P)\ncreate (b:Q)\nmatch (a) -[:r]- (b)\nreturn a, b")
    assert(fwd.instrs.collect { case e: Typing.RMatchEdge => e } ==
      List(Typing.RMatchEdge("a", "b", List((("P", "r", "Q"), false)), None)))
    val rev = Typing.compile(header +
      "create (a:P)\ncreate (b:Q)\nmatch (b) -[:r]- (a)\nreturn a, b")
    assert(rev.instrs.collect { case e: Typing.RMatchEdge => e } ==
      List(Typing.RMatchEdge("b", "a", List((("P", "r", "Q"), true)), None)))
    // a self-label relation declares both orientations: two frames
    val both = Typing.compile(selfHeader +
      "create (a:N)\ncreate (b:N)\nmatch (a) -[:next]- (b)\nreturn a, b")
    assert(both.instrs.collect { case e: Typing.RMatchEdge => e } ==
      List(Typing.RMatchEdge("a", "b",
        List((("N", "next", "N"), false), (("N", "next", "N"), true)), None)))
  }

  test("undirected varpath: typed with the undir flag over the self-label relation") {
    val tp = Typing.compile(selfHeader + "match (a:N) -[:next*0..2]- (b:N)\nreturn a, b")
    assert(tp.instrs.collect { case v: Typing.RVarPath => v } ==
      List(Typing.RVarPath("a", ("N", "next", "N"), 0, 2, "b", None, undir = true)))
  }

  // --- optional match (engine extension) ---

  test("optional match: an uncorrelated pattern is rejected") {
    // round 14: an unlabeled source INFERS :P from the relation
    // declaration, so the pattern becomes fully fresh — rejected by the
    // correlation guard (the executor left-joins on bound columns)
    assert(err(header + "optional match (a) -[:r]-> (b:Q)")
      .contains("reference at least one bound variable"))
  }

  test("optional match: relation type must be declared for the labels") {
    assert(err(header + "create (a:Q)\noptional match (a) -[:r]-> (b:Q)")
      .contains("undeclared relation type"))
  }

  test("optional match: multi-hop path typechecks, all tail targets bind") {
    val tp = Typing.compile(
      header + "(:Q) -[:t]-> (:Q)\n" +
        "create (a:P)\noptional match (a) -[:r]-> (b:Q) -[:t]-> (c:Q)\nreturn a, b, c")
    val opt = tp.instrs.collect { case o: Typing.ROptPath => o }
    assert(opt.map(o => (o.bound, o.fresh)) ==
      List((List("a"), List(("b", "Q"), ("c", "Q")))))
    assert(opt.head.inner == List(
      Typing.RMatchNode("b", "Q"), Typing.RMatchEdge("a", "b", List((("P", "r", "Q"), false)), None),
      Typing.RMatchNode("c", "Q"), Typing.RMatchEdge("b", "c", List((("Q", "t", "Q"), false)), None)))
  }

  test("optional match: bare node pattern rejected at parse time") {
    val ex = intercept[graft.lang.Parser.ParseError](Typing.compile(
      header + "create (a:P)\noptional match (a)"))
    assert(ex.getMessage.contains("at least one hop"))
  }

  test("optional match: well-typed hop binds the target") {
    val tp = Typing.compile(
      header + "create (a:P)\noptional match (a) -[:r]-> (b:Q)\nreturn a, b")
    assert(tp.instrs.collect { case o: Typing.ROptPath => o } ==
      List(Typing.ROptPath(
        List(Typing.RMatchNode("b", "Q"),
          Typing.RMatchEdge("a", "b", List((("P", "r", "Q"), false)), None)),
        List("a"), List(("b", "Q")))))
  }

  // --- where not exists (pattern negation, engine extension) ---

  test("not exists: an uncorrelated pattern is rejected") {
    // round 14: the unlabeled zz infers :P and becomes a fresh
    // declaration, making the pattern fully existential — caught by the
    // correlation guard instead of an unbound-variable error
    assert(err(header + "create (a:P)\nwhere not exists (zz) -[:r]-> (b:Q)")
      .contains("reference at least one bound variable"))
  }

  test("not exists: fully-existential pattern rejected") {
    assert(err(header + "create (a:P)\nwhere not exists (p:P) -[:r]-> (q:Q)")
      .contains("at least one bound variable"))
  }

  test("not exists: relation type must be declared for the labels") {
    assert(err(header + "create (a:Q)\nwhere not exists (a) -[:r]-> (b:Q)")
      .contains("undeclared relation type"))
  }

  test("not exists: bare node pattern rejected at parse time") {
    val ex = intercept[graft.lang.Parser.ParseError](Typing.compile(
      header + "create (a:P)\nwhere not exists (a)"))
    assert(ex.getMessage.contains("at least one hop"))
  }

  test("not exists: declared variables are existential — not bound after") {
    val tp = Typing.compile(
      header + "create (a:P)\nwhere not exists (a) -[:r]-> (b:Q)\nreturn a")
    assert(tp.instrs.collect { case n: Typing.RExists => (n.bound, n.inner.length, n.neg) } ==
      List((List("a"), 2, true)))
    assert(err(header + "create (a:P)\nwhere not exists (a) -[:r]-> (b:Q)\nreturn b")
      .contains("unbound variable"))
  }

  test("not exists: inline props filter inside the predicate") {
    val tp = Typing.compile(
      header + "create (a:P)\nwhere not exists (a) -[:r]-> (b:Q {y: 3})\nreturn a")
    val n = tp.instrs.collect { case n: Typing.RExists if n.neg => n }.head
    assert(n.inner.count(_.isInstanceOf[Typing.RWhere]) == 1)
  }

  test("null(v): variable must be bound; types to bool") {
    assert(err(header + "create (a:P)\nwhere null(zz)").contains("not bound"))
    val tp = Typing.compile(header + "create (a:P)\nwhere null(a) = false")
    assert(tp.instrs.nonEmpty)
  }

  // --- inline property maps (desugar to set / where) ---

  test("props: create map desugars to per-field set instructions") {
    val tp = Typing.compile(header + "create (a:P {x: 3, s: \"hi\"})")
    assert(tp.instrs.collect { case s: Typing.RSet => (s.v, s.field) } ==
      List(("a", "x"), ("a", "s")))
  }

  test("props: match map desugars to where equality conjuncts") {
    val tp = Typing.compile(header + "create (a:P)\nmatch (b:P {x: 3})\nreturn b")
    assert(tp.instrs.count(_.isInstanceOf[Typing.RWhere]) == 1)
  }

  test("props: value type must match the declared attribute type") {
    assert(err(header + "create (a:P {x: \"oops\"})")
      .contains("expression type"))
    assert(err(header + "match (a:P {x: \"oops\"})\nreturn a")
      .contains("same-typed operands"))
  }

  test("props: undeclared attribute rejected") {
    assert(err(header + "create (a:P {zz: 1})").contains("not declared"))
  }

  test("props: optional-match tail map filters INSIDE the witness (never drops rows)") {
    val tp = Typing.compile(
      header + "create (a:P)\noptional match (a) -[:r]-> (b:Q {y: 1})\nreturn a, b")
    val opt = tp.instrs.collect { case o: Typing.ROptPath => o }.head
    // the conjunct is part of the inner witness plan, not an outer where
    assert(opt.inner.count(_.isInstanceOf[Typing.RWhere]) == 1)
    assert(!tp.instrs.exists(_.isInstanceOf[Typing.RWhere]))
  }

  test("props: optional-match HEAD map is an outer (non-optional) filter") {
    val tp = Typing.compile(
      header + "match (a:P {x: 1})\noptional match (a2:P {x: 2}) -[:r]-> (b:Q)\nreturn a, a2, b")
    // two head conjuncts outside (from both clauses), none inside
    assert(tp.instrs.count(_.isInstanceOf[Typing.RWhere]) == 2)
    val opt = tp.instrs.collect { case o: Typing.ROptPath => o }.head
    assert(!opt.inner.exists(_.isInstanceOf[Typing.RWhere]))
  }

  // --- return distinct / distinct aggregates ---

  test("return distinct: rejected with an aggregated item (use count(distinct ...))") {
    assert(err(header + "create (a:P)\nreturn distinct count(a)")
      .contains("no effect"))
  }

  test("return distinct: order keys must be returned items") {
    assert(err(header + "create (a:P)\nreturn distinct a order by a.x")
      .contains("may only order by returned items"))
    val ok = Typing.compile(header + "create (a:P)\nreturn distinct a order by a")
    assert(ok.instrs.collect { case r: Typing.RReturnExt => r.distinct } == List(true))
  }

  test("count(distinct v) resolves with a distinct-marked output name") {
    val tp = Typing.compile(header + "create (a:P)\nreturn count(distinct a)")
    assert(tp.instrs.collect {
      case Typing.RReturnExt(items, _, _, _, _) => items.map(_._2)
    }.flatten == List("count_distinct_a"))
  }

  test("merge: props must be constants (the lookup key is row-independent)") {
    assert(err(header + "match (a:P)\nmerge (b:P {x: a.x})")
      .contains("must be a constant"))
  }

  test("merge: undeclared label / attribute / type mismatch rejected") {
    assert(err(header + "merge (b:Z {x: 1})").contains("undeclared node label Z"))
    assert(err(header + "merge (b:P {nope: 1})")
      .contains("attribute nope not declared"))
    assert(err(header + "merge (b:P {x: \"s\"})")
      .contains("declares IntT, got StringT"))
  }

  test("merge: duplicate property in the lookup map rejected") {
    assert(err(header + "merge (b:P {x: 1, x: 2})")
      .contains("duplicate merge property"))
  }

  test("merge: binds the variable; edge form requires bound endpoints") {
    val tp = Typing.compile(header + "merge (b:P {x: 1})\nreturn b")
    assert(tp.instrs.collectFirst {
      case Typing.RMergeNode(v, lb, ps, _, _) => (v, lb, ps)
    }.contains(("b", "P", List(("x", graft.lang.IntV(1))))))
    // edge form desugars to create-edge: unbound source is ITS error
    assert(err(header + "merge (q:Q {y: 1})\nmerge (a) -[:r]-> (q)")
      .contains("variable a not bound"))
  }

  test("unwind: elements must share one type; alias is an immutable scalar") {
    assert(err(header + "match (a:P) unwind [1, a.s] as k return k")
      .contains("unwind list elements must share one type"))
    assert(err(header + "unwind [1, 2] as k set k.val = 3")
      .contains("cannot set attribute of with-scalar binding"))
    assert(err(header + "unwind [1, 2] as k delete k")
      .contains("cannot delete with-scalar binding"))
    // element expressions type like any where expression
    assert(err(header + "unwind [b.x] as k return k")
      .contains("variable b not bound"))
    // legal: expression elements, alias in where/return, string lists
    Typing.compile(header +
      "match (a:P) unwind [a.x, a.x + 1] as k where k.val > 0 return a, k")
    Typing.compile(header + "unwind [\"u\", \"v\"] as s return s")
  }

  test("union: branches read-only, return-terminated, signature-matched") {
    assert(err(header + "create (a:P) return a union match (b:P) return b")
      .contains("read-only"))
    assert(err(header + "match (a:P) return a union match (b:P)")
      .contains("must end with return"))
    assert(err(header + "match (a:P) return a union match (b:P) return b")
      .contains("returns columns (b) but branch 1 returns (a)"))
    // same output NAME, different runtime type → the type leg fires
    assert(err(header +
      "match (a:P) with a.x as v return v union all " +
      "match (a:P) with a.s as v return v")
      .contains("incompatible with branch 1"))
    // different outNames are a name mismatch, caught before types
    assert(err(header + "match (a:P) return a, a.x union all match (a:P) return a, a.s")
      .contains("returns columns (a, a_s) but branch 1 returns (a, a_x)"))
    assert(err(header +
      "match (a:P) return a union match (a:P) return a union all match (a:P) return a")
      .contains("cannot mix union and union all"))
    // legal: same names via with-aliasing across differently-shaped branches
    Typing.compile(header +
      "match (a:P) with count(a) as cnt return cnt union all " +
      "match (q:Q) with count(q) as cnt return cnt")
    // node bindings of DIFFERENT labels are runtime-compatible (both ids)
    Typing.compile(header +
      "match (a:P) with a as v return v union match (q:Q) with q as v return v")
  }

  test("edge properties: declaration and create-map rules (round 10)") {
    val eh = "(:P {x int})\n(:Q {y int})\n(:P) -[:r {w int, tag string}]-> (:Q)\n" +
      "(:P) -[:s]-> (:P)\n"
    assert(err("(:P {})\n(:Q {})\n(:P) -[:r {w int, w string}]-> (:Q)\ncreate (a:P)")
      .contains("duplicate attribute"))
    assert(err(eh + "create (a:P)\ncreate (b:Q)\ncreate (a) -[:r {z: 1}]-> (b)")
      .contains("attribute z not declared for relation"))
    assert(err(eh + "create (a:P)\ncreate (b:Q)\ncreate (a) -[:r {w: \"s\"}]-> (b)")
      .contains("expression type StringT != declared IntT"))
    assert(err(eh + "create (a:P)\ncreate (b:Q)\ncreate (a) -[:r {w: 1, w: 2}]-> (b)")
      .contains("duplicate edge property"))
    assert(err(eh + "create (a:P)\ncreate (b:Q)\ncreate (a) -[x:r]-> (b)")
      .contains("rel variable x not allowed on create"))
    // legal: per-row expression values, reverse form included
    Typing.compile(eh + "create (a:P)\nset a.x = 3\ncreate (b:Q)\n" +
      "create (b) <-[:r {w: a.x * 2, tag: \"k\"}]- (a)")
  }

  test("edge properties: rel bindings read, set, delete; misuse rejected") {
    val eh = "(:P {x int})\n(:Q {y int})\n(:P) -[:r {w int}]-> (:Q)\n" +
      "(:Q) -[:r]-> (:P)\n"
    val m = "match (a:P)\nmatch (b:Q)\nmatch (a) -[x:r]-> (b)\n"
    // legal surface: attr read in where/return-ext, set, delete
    Typing.compile(eh + m + "where x.w >= 2 return a, x.w")
    Typing.compile(eh + m + "set x.w = x.w + 1")
    Typing.compile(eh + m + "delete x")
    // the binding itself has no value
    assert(err(eh + m + "return x").contains("cannot return relationship"))
    assert(err(eh + m + "return count(x)").contains("cannot return/project relationship"))
    assert(err(eh + m + "with x as y return y")
      .contains("cannot return/project relationship"))
    // undeclared attr / wrong type through the binding
    assert(err(eh + m + "where x.z = 1").contains("attribute z not declared"))
    assert(err(eh + m + "set x.w = \"s\"").contains("expression type StringT"))
    // rebinding a rel variable shadows silently — rejected
    assert(err(eh + m + "match (a) -[x:r]-> (b)").contains("rel variable x already bound"))
    // undirected hop cannot carry a binding (ambiguous orientation)
    assert(err(eh + "match (a:P)\nmatch (b:Q)\nmatch (a) -[x:r]- (b)")
      .contains("not allowed on an undirected hop"))
    // an INNER rel binding inside a predicate is witness-local (legal:
    // its prop conjuncts filter inside the witness; it binds nothing
    // outside), but an inline node prop referencing an OUTER rel var
    // has no witness-probe column — rejected
    Typing.compile(eh + m + "where not exists (a) -[x2:r {w: 5}]-> (b)\nreturn a")
    assert(err(eh + "match (a:P)\nmatch (b:Q)\nmatch (a) -[x:r]-> (b)\n" +
      "where exists (b) -[:r]-> (c:P {x: x.w})\nreturn a")
      .contains("rel variable x cannot be referenced inside"))
  }

  test("relation alternation: match-only, declared-combination resolution") {
    val ah = "(:P {x int})\n(:Q {y int})\n(:P) -[:r]-> (:Q)\n(:P) -[:s]-> (:Q)\n" +
      "(:Q) -[:t]-> (:P)\n"
    // match-only
    assert(err(ah + "create (a:P)\ncreate (b:Q)\ncreate (a) -[:r|s]-> (b)")
      .contains("alternation is match-only"))
    // no declared combination at all
    assert(err(ah + "match (a:P)\nmatch (b:Q)\nmatch (b) -[:r|s]-> (a)")
      .contains("no declared relation type matches"))
    // statically-empty alternatives drop; survivors resolve
    val tp = Typing.compile(ah +
      "match (a:P)\nmatch (b:Q)\nmatch (a) -[:r|s|t]-> (b)\nreturn a, b")
    assert(tp.instrs.collectFirst { case Typing.RMatchEdge(_, _, fs, _) => fs }
      .contains(List((("P", "r", "Q"), false), (("P", "s", "Q"), false))))
    // undirected alternation admits each label's declared reverse too
    val tpu = Typing.compile(ah +
      "match (a:P)\nmatch (b:Q)\nmatch (a) -[:r|t]- (b)\nreturn a, b")
    assert(tpu.instrs.collectFirst { case Typing.RMatchEdge(_, _, fs, _) => fs }
      .contains(List((("P", "r", "Q"), false), (("Q", "t", "P"), true))))
  }

  test("skip/limit beyond Int.MaxValue rejected at typing time (ADVICE r09)") {
    // the engine pages via Dataset.offset/limit (Int): a Long value
    // above 2^31-1 used to silently wrap to a negative page
    assert(err(header + "match (a:P) return a limit 3000000000")
      .contains("exceeds the maximum page bound"))
    assert(err(header + "match (a:P) return a order by a skip 3000000000 limit 1")
      .contains("exceeds the maximum page bound"))
    assert(err(header + "match (a:P) with a as b skip 3000000000 return b")
      .contains("exceeds the maximum page bound"))
    // boundary value still typechecks
    Typing.compile(header + s"match (a:P) return a limit ${Int.MaxValue}")
  }

  test("string predicates/functions/case typecheck strictly (round 10)") {
    // predicates need string × string
    assert(err(header + "match (a:P)\nwhere a.x contains \"1\"\nreturn a")
      .contains("requires string operands"))
    assert(err(header + "match (a:P)\nwhere a.s starts with a.x\nreturn a")
      .contains("requires string operands"))
    // functions need a string operand; size yields int
    assert(err(header + "match (a:P)\nwhere size(a.x) = 1\nreturn a")
      .contains("size requires a string operand"))
    assert(err(header + "match (a:P)\nwhere lower(a.s) = size(a.s)\nreturn a")
      .contains("same-typed operands"))
    // case: bool conditions, one branch type
    assert(err(header + "match (a:P)\nwhere (case when a.x then 1 else 2 end) = 1\nreturn a")
      .contains("case condition must be bool"))
    assert(err(header + "match (a:P)\nwhere (case when a.x = 1 then a.s else 2 end) = 2\nreturn a")
      .contains("case branches must share one type"))
    // positive: the full composition types as bool where / int set
    Typing.compile(header +
      """match (a:P)
        |where lower(a.s) ends with trim(" x ") and size(upper(a.s)) > 1
        |set a.x = case when a.s contains "q" then size(a.s) else a.x end
        |return a""".stripMargin)
    // regex `=~` is string × string → bool like the other predicates
    Typing.compile(header +
      "match (a:P)\nwhere a.s =~ \"^a[bc]+$\" and not a.s =~ lower(a.s)\nreturn a")
    assert(err(header + "match (a:P)\nwhere a.x =~ \"1\"\nreturn a")
      .contains("requires string operands"))
    assert(err(header + "match (a:P)\nwhere a.s =~ a.x\nreturn a")
      .contains("requires string operands"))
    assert(err(header + "match (a:P)\nwhere (a.s =~ \"a\") =~ \"b\"\nreturn a")
      .contains("requires string operands"))
  }

  test("expression projection items: typed aliases, agg args") {
    // expression items demand an alias in BOTH return and with — there
    // is no derivable output name
    assert(err(header + "match (a:P)\nreturn a, a.x + 1")
      .contains("needs an alias"))
    assert(err(header + "match (a:P)\nreturn a, sum(a.x * 2)")
      .contains("needs an alias"))
    assert(err(header + "match (a:P)\nwith a, a.x + 1\nreturn a")
      .contains("needs an alias"))
    // aliased, they are first-class return items (round 10 continued)
    val tp = Typing.compile(header +
      "match (a:P)\nreturn a, a.x + 1 as y, sum(a.x * 2) as s")
    assert(tp.instrs.collect { case Typing.RReturnExt(items, _, _, _, _) =>
      items.map(_._2) }.flatten == List("a", "y", "s"))
    // aliases rename var/attr/agg items too; duplicates rejected on the
    // FINAL names; an aliased plain variable re-binds under the alias
    assert(err(header + "match (a:P)\nreturn a.x as y, count(a) as y")
      .contains("duplicate output"))
    Typing.compile(header +
      "match (a:P)\nreturn a as b, a.x as y order by a.x limit 2\nset b.x = 1")
    assert(err(header +
      "match (a:P)\nreturn a as b, a.x as y limit 2\nset a.x = 1")
      .contains("unbound"))
    // ORDER BY alias (round 10 continued): a bare non-variable key
    // resolves to the item carrying that output name — in return, in
    // with, and under the aggregated keys-are-items rule
    Typing.compile(header +
      "match (a:P)\nreturn a.x + 1 as y order by y desc limit 2")
    Typing.compile(header +
      "match (a:P)\nreturn a, count(a) as c order by c desc limit 3")
    Typing.compile(header +
      "match (a:P)\nwith a, a.x * 2 as y order by y limit 5\nreturn a")
    // an unknown name is still the plain unbound error
    assert(err(header + "match (a:P)\nreturn a order by zz limit 1")
      .contains("unbound"))
    // min/max extend to strings (lexicographic); sum/avg stay int-only
    Typing.compile(header + "match (a:P)\nreturn min(a.s) as lo, max(a.s) as hi")
    Typing.compile(header + "match (a:P)\nwith min(lower(a.s)) as lo\nreturn lo")
    assert(err(header + "match (a:P)\nreturn sum(a.s) as t").contains("int attribute"))
    // a string min/max alias binds a %string scalar downstream
    assert(err(header +
      "match (a:P)\nwith max(a.s) as hi\nwhere hi.val + 1 = 2\nreturn hi")
      .contains("requires int operands"))
    // non-count aggregates need an int-typed expression argument
    assert(err(header + "match (a:P)\nwith sum(lower(a.s)) as s\nreturn s")
      .contains("requires an int expression"))
    // the alias binds the expression's TYPE: a string expression makes
    // a %string scalar — int arithmetic on it rejects downstream
    assert(err(header +
      "match (a:P)\nwith lower(a.s) as t\nwhere t.val + 1 = 2\nreturn t")
      .contains("requires int operands"))
    // …and a bool one feeds where directly
    Typing.compile(header +
      "match (a:P)\nwith a, a.s contains \"q\" as f\nwhere f.val\nreturn a")
    // count over any-typed expression is legal; expr order keys too
    Typing.compile(header +
      "match (a:P)\nwith count(lower(a.s)) as c\nreturn c")
    Typing.compile(header +
      "match (a:P)\nreturn a order by size(a.s) desc, a.x mod 3 limit 2")
  }

  test("string concat, substring, replace typecheck (round 10 continued)") {
    // + is concat on string × string, arithmetic on int × int; mixing rejects
    Typing.compile(header + "match (a:P)\nset a.s = a.s + \"x\"\nreturn a")
    assert(err(header + "match (a:P)\nwhere a.s + a.x = a.s\nreturn a")
      .contains("arithmetic"))
    // substring: string, int, int; replace: three strings
    Typing.compile(header +
      "match (a:P)\nset a.s = substring(a.s, a.x + 1, 2) + replace(a.s, \"x\", \"y\")\nreturn a")
    assert(err(header + "match (a:P)\nwhere substring(a.x, 1, 2) = \"a\"\nreturn a")
      .contains("string first argument"))
    assert(err(header + "match (a:P)\nwhere substring(a.s, \"1\", 2) = \"a\"\nreturn a")
      .contains("must be int"))
    assert(err(header + "match (a:P)\nwhere replace(a.s, 1, \"y\") = \"a\"\nreturn a")
      .contains("requires string arguments"))
    // toString renders any type as a string
    Typing.compile(header +
      "match (a:P)\nset a.s = toString(a.x) + toString(a.x = 1) + toString(a.s)\nreturn a")
  }

  test("remove: declared attrs only, node and edge, virtuals rejected") {
    val eh = header.replace("(:P) -[:r]-> (:Q)", "(:P) -[:r {w int}]-> (:Q)")
    Typing.compile(eh + "match (a:P)\nremove a.x, a.s\nreturn a")
    Typing.compile(eh +
      "match (a:P)\nmatch (b:Q)\nmatch (a) -[x:r]-> (b)\nremove x.w\nreturn a")
    assert(err(eh + "match (a:P)\nremove a.zz")
      .contains("attribute zz not declared"))
    assert(err(eh + "remove a.x").contains("unbound variable a"))
    assert(err(eh + "match (a:P)\nwith count(a) as c\nremove c.val\nreturn c")
      .contains("cannot remove attribute"))
    // union branches are read-only: remove is a mutation like set/delete
    // (ADVICE r10 — it used to slip through mutationKind and be silently
    // dropped by the union path)
    assert(err(eh + "match (a:P)\nremove a.x\nreturn a union match (b:P) return b")
      .contains("read-only"))
    assert(err(eh +
      "match (a:P)\nmatch (b:Q)\nmatch (a) -[x:r]-> (b)\nremove x.w\nreturn a " +
      "union match (c:P) return c")
      .contains("read-only"))
    // an unlabeled delete mutates too, though its binding has no label
    assert(err(eh + "match (n)\nwhere id(n) = 1\ndelete n\nwith count(*) as k\nreturn k " +
      "union match (c:P) with count(c) as k return k")
      .contains("union branch 1 mutates the graph (delete)"))
  }

  test("in-list: element types must match the tested expression") {
    Typing.compile(header + "match (a:P)\nwhere a.x in [1, 2, 3]\nreturn a")
    Typing.compile(header + "match (a:P)\nwhere a.s not in [\"u\", a.s]\nreturn a")
    assert(err(header + "match (a:P)\nwhere a.x in [1, \"u\"]\nreturn a")
      .contains("in-list elements must match the tested Int"))
    assert(err(header + "match (a:P)\nwhere a.s in [a.x]\nreturn a")
      .contains("in-list elements must match the tested String"))
    // the whole membership is bool: it can't feed arithmetic
    assert(err(header + "match (a:P)\nwhere (a.x in [1]) + 1 > 0\nreturn a")
      .contains("arithmetic"))
    // unbound variables inside elements are caught like anywhere else
    assert(err(header + "match (a:P)\nwhere a.x in [z.x]\nreturn a")
      .contains("variable z not bound"))
  }

  test("strjoin: string-only argument; result types as string") {
    Typing.compile(header + "match (a:P)\nreturn strjoin(a.s)")
    Typing.compile(header + "match (a:P)\nreturn strjoin(distinct lower(a.s)) as j")
    assert(err(header + "match (a:P)\nreturn strjoin(a.x)")
      .contains("requires a string attribute"))
    assert(err(header + "match (a:P)\nreturn strjoin(a.x + 1) as j")
      .contains("requires a string expression"))
    assert(err(header + "match (a:P)\nreturn strjoin(a)")
      .contains("attribute argument"))
    // the result is a STRING: int contexts reject it
    assert(err(header +
      "match (a:P)\nwith strjoin(a.s) as j\nwhere j.val > 1\nreturn j")
      .contains("ordering"))
  }

  test("id(): node bindings only; types as int") {
    Typing.compile(header + "match (a:P)\nwhere id(a) >= 0\nreturn a")
    assert(err(header + "where id(z) = 1").contains("variable z not bound"))
    assert(err(header + "match (a:P)\nwith count(a) as c\nwhere id(c) = 1\nreturn c")
      .contains("is a value, not a node"))
    val eh = header.replace("(:P) -[:r]-> (:Q)", "(:P) -[:r {w int}]-> (:Q)")
    assert(err(eh +
      "match (a:P)\nmatch (b:Q)\nmatch (a) -[x:r]-> (b)\nwhere id(x) = 1\nreturn a")
      .contains("has no id"))
    // string context rejects the int result
    assert(err(header + "match (a:P)\nwhere id(a) contains \"1\"\nreturn a")
      .contains("string"))
  }

  test("lists: collect typing, indexing, size, unwind-var; no nesting") {
    // collect any scalar; result is a %list binding readable via .val
    Typing.compile(header +
      "match (a:P)\nwith collect(a.x) as xs\nreturn xs, size(xs.val) as n")
    Typing.compile(header +
      "match (a:P)\nwith collect(distinct a.s) as ss\nwhere ss.val[0] contains \"a\"\nreturn ss")
    Typing.compile(header +
      "match (a:P)\nwith collect(a.x) as xs\nunwind xs as x\nwhere x.val > 1\nreturn x")
    // nesting rejected
    assert(err(header +
      "match (a:P)\nwith collect(a.x) as xs\nwith collect(xs.val) as yss\nreturn yss")
      .contains("cannot collect a list"))
    // index typing: int index over a list operand only
    assert(err(header +
      "match (a:P)\nwith collect(a.x) as xs\nwhere xs.val[\"u\"] > 0\nreturn xs")
      .contains("list index must be int"))
    assert(err(header + "match (a:P)\nwhere a.x[0] > 0\nreturn a")
      .contains("indexing requires a list operand"))
    // element type flows: string elements reject int comparison
    assert(err(header +
      "match (a:P)\nwith collect(a.s) as ss\nwhere ss.val[0] > 1\nreturn ss")
      .contains("ordering"))
    // unwind-var demands a list binding; toString of lists rejected
    assert(err(header + "match (a:P)\nunwind a as x\nreturn x")
      .contains("must be a list binding"))
    assert(err(header +
      "match (a:P)\nwith count(a) as c\nunwind c as x\nreturn x")
      .contains("must be a list binding"))
    assert(err(header +
      "match (a:P)\nwith collect(a.x) as xs\nreturn toString(xs.val) as t")
      .contains("toString of a list"))
  }

  test("range and in-over-expression type; unwind-expression demands a list") {
    Typing.compile(header + "match (a:P)\nwhere a.x in range(1, 5)\nreturn a")
    Typing.compile(header +
      "match (a:P)\nwith collect(a.s) as ss\nmatch (b:P)\nwhere b.s not in ss.val\nreturn b")
    Typing.compile(header + "match (a:P)\nunwind range(0, a.x) as i\nwhere i.val > 1\nreturn a, i")
    assert(err(header + "match (a:P)\nwhere a.x in range(1, \"u\")\nreturn a")
      .contains("range bounds must be int"))
    assert(err(header + "match (a:P)\nwhere a.s in range(1, 5)\nreturn a")
      .contains("does not match list elements"))
    assert(err(header + "match (a:P)\nwhere a.x in a.x + 1\nreturn a")
      .contains("requires a list right operand"))
    assert(err(header + "match (a:P)\nunwind lower(a.s) as x\nreturn x")
      .contains("unwind expression must be a list"))
  }

  test("not: bool-only operand; simple case types through the desugar") {
    Typing.compile(header + "match (a:P)\nwhere not a.x > 1\nreturn a")
    assert(err(header + "match (a:P)\nwhere not a.x\nreturn a")
      .contains("not requires a bool operand"))
    // simple-case arm keys type against the operand via the equality desugar
    assert(err(header +
      "match (a:P)\nwhere case a.x when \"u\" then true else false end\nreturn a")
      .contains("same-typed"))
    Typing.compile(header +
      "match (a:P)\nwhere case a.s when \"u\" then a.x > 1 else false end\nreturn a")
  }

  test("coalesce: one shared argument type; composes as that type") {
    Typing.compile(header + "match (a:P)\nwhere coalesce(a.x, 0) > 1\nreturn a")
    Typing.compile(header +
      "match (a:P)\nwhere size(coalesce(a.s, \"d\")) > 1\nreturn a")
    assert(err(header + "match (a:P)\nwhere coalesce(a.x, \"u\") > 1\nreturn a")
      .contains("coalesce arguments must share one type"))
    assert(err(header + "match (a:P)\nwhere coalesce(a.s, 0) > 1\nreturn a")
      .contains("coalesce arguments must share one type"))
  }

  test("call: registered procs only, arity, fresh distinct yields") {
    Typing.compile(header +
      "call degree() yield id, o, n\nwhere o.val + n.val > 0\nreturn id, o")
    Typing.compile(header + "call cc() yield id, comp\nreturn comp, count(id) as k")
    Typing.compile(header +
      "call pagerank() yield id, rank\nreturn rank, count(id) as k")
    assert(err(header + "call nope() yield a, b\nreturn a")
      .contains("unknown procedure"))
    // parameterized form: bfs takes exactly one int argument
    Typing.compile(header +
      "call bfs(1000000000) yield id, dist\nreturn dist, count(id) as k")
    assert(err(header + "call bfs() yield id, dist\nreturn id")
      .contains("takes 1 or 2 argument(s)"))
    // degree/cc take an OPTIONAL relation-name string (round 12): a
    // non-string single arg is a type error, two args an arity error,
    // an undeclared relation name a compile error
    assert(err(header + "call degree(7) yield a, b, c\nreturn a")
      .contains("argument 1 must be string, got int"))
    assert(err(header + "call degree(\"x\", \"y\") yield a, b, c\nreturn a")
      .contains("takes 0 or 1 argument(s), got 2"))
    assert(err(header + "call cc(\"nosuchrel\") yield id, comp\nreturn comp")
      .contains("unknown relation type :nosuchrel"))
    assert(err(header + "call bfs(\"emp\") yield id, dist\nreturn id")
      .contains("argument 1 must be int, got string"))
    // positive: scoping to the declared relation compiles, on all four
    Typing.compile(header +
      "call degree(\"r\") yield id, o, n\nreturn id, o, n")
    Typing.compile(header + "call cc(\"r\") yield id, comp\nreturn comp")
    Typing.compile(header + "call pagerank(\"r\") yield id, rank\nreturn rank")
    Typing.compile(header + "call bfs(7, \"r\") yield id, dist\nreturn dist")
    // labelprop (round 15): same 0-or-1-string signature as cc
    Typing.compile(header + "call labelprop() yield id, comm\nreturn comm, count(id) as k")
    Typing.compile(header + "call labelprop(\"r\") yield id, comm\nreturn comm")
    assert(err(header + "call labelprop(7) yield id, comm\nreturn comm")
      .contains("argument 1 must be string, got int"))
  }

  test("call subquery: imports-only scope, fresh outputs, per-invocation paging (round 15)") {
    // positive: correlated aggregate + per-key top-k + uncorrelated
    Typing.compile(header +
      "match (a:P)\ncall { with a match (a) -[:r]-> (b:Q) return count(b) as k }\nreturn a, k")
    Typing.compile(header +
      "match (a:P)\ncall { with a match (a) -[:r]-> (b:Q) return b order by b.y desc limit 2 }\nreturn a, b")
    Typing.compile(header +
      "call { match (b:Q) return count(b) as total }\nmatch (a:P)\nreturn a, total")
    // scope isolation: the inner query sees ONLY the imports — an
    // expression reference to a non-imported outer variable is unbound
    // (a bare pattern head like (c) would instead declare a FRESH inner
    // variable, Cypher's scoping)
    assert(err(header +
      "match (a:P), (c:P)\ncall { with a match (b:Q) where c.x > 0 return count(b) as k }\nreturn a, k")
      .contains("not bound"))
    // imports must be bound…
    assert(err(header +
      "match (a:P)\ncall { with nope match (b:Q) return count(b) as k }\nreturn a, k")
      .contains("not bound"))
    // …and plain (a rel binding has no importable column)
    assert(err(header +
      "match (a:P) -[x:r]-> (b:Q)\ncall { with x match (c:Q) return count(c) as k }\nreturn a, k")
      .contains("cannot be imported"))
    // outputs bind FRESH outer names
    assert(err(header +
      "match (a:P), (b:Q)\ncall { with a match (a) -[:r]-> (b2:Q) return b2 as b }\nreturn a, b")
      .contains("collides with an outer binding"))
    // attr/agg items need an alias, like with
    assert(err(header +
      "match (a:P)\ncall { with a match (a) -[:r]-> (b:Q) return b.y }\nreturn a")
      .contains("needs an alias"))
    // optional match composes inside (round-15 v2)
    Typing.compile(header +
      "match (a:P)\ncall { with a optional match (a) -[:r]-> (b:Q) return count(b) as k }\nreturn a, k")
    // per-invocation paging demands a deterministic order
    assert(err(header +
      "match (a:P)\ncall { with a match (a) -[:r]-> (b:Q) return b limit 2 }\nreturn a, b")
      .contains("need an order by"))
    // aggregated subqueries may only order by returned items
    assert(err(header +
      "match (a:P)\ncall { with a match (a) -[:r]-> (b:Q) return count(b) as k order by b.y limit 1 }\nreturn a, k")
      .contains("may only order by"))
    assert(err(header + "call bfs(7, \"nosuch\") yield id, dist\nreturn dist")
      .contains("unknown relation type :nosuch"))
    assert(err(header + "call bfs(\"r\", 7) yield id, dist\nreturn dist")
      .contains("argument 1 must be int, got string"))
    assert(err(header + "call degree() yield a, b\nreturn a")
      .contains("yields 3 column(s)"))
    assert(err(header + "call cc() yield a, a\nreturn a")
      .contains("duplicate yield"))
    assert(err(header + "match (x:P)\ncall cc() yield x, c\nreturn c")
      .contains("rebinds an existing variable"))
    // round 13: sssp/kcore/triangles through the bridge — same argument
    // grammar (sssp/kcore lead with an int, every proc takes an
    // optional trailing relation scope)
    Typing.compile(header +
      "call sssp(1000000000) yield id, dist\nreturn dist, count(id) as k")
    Typing.compile(header + "call sssp(7, \"r\") yield id, dist\nreturn dist")
    Typing.compile(header + "call kcore(3) yield id, cd\nreturn cd, count(id) as k")
    Typing.compile(header + "call kcore(3, \"r\") yield id, cd\nreturn cd")
    Typing.compile(header + "call triangles() yield id, t\nreturn id, t")
    Typing.compile(header + "call triangles(\"r\") yield id, t\nreturn id, t")
    assert(err(header + "call sssp() yield id, dist\nreturn id")
      .contains("takes 1 or 2 argument(s)"))
    assert(err(header + "call kcore(\"r\") yield id, cd\nreturn cd")
      .contains("argument 1 must be int, got string"))
    assert(err(header + "call triangles(3) yield id, t\nreturn t")
      .contains("argument 1 must be string, got int"))
    assert(err(header + "call sssp(7, \"nosuch\") yield id, dist\nreturn dist")
      .contains("unknown relation type :nosuch"))
  }

  test("named paths: %pathval immutability, length/nodes typing (round 12)") {
    val h2 = header + "(:P) -[:s]-> (:P)\n"
    // positive: list value flows through the round-11 machinery
    Typing.compile(h2 +
      """match p = (a:P) -[:s*1..2]-> (b:P)
        |where length(p) > 0 and size(nodes(p)) = length(p) + 1
        |unwind nodes(p) as n
        |return a, b, n""".stripMargin)
    Typing.compile(h2 +
      "match p = (a:P) -[:s*0..2]-> (b:P)\nwhere a.x in p.val\nreturn a")
    // length/nodes demand a named-path binding
    assert(err(h2 + "match (a:P)\nwhere length(a) > 0\nreturn a")
      .contains("not a named-path binding"))
    assert(err(h2 + "match (a:P)\nunwind nodes(a) as n\nreturn n")
      .contains("not a named-path binding"))
    // the binding is fresh: rebinds and collisions are rejected
    assert(err(h2 + "match (p:P)\nmatch p = (a:P) -[:s*1..2]-> (b:P)\nreturn p")
      .contains("named-path binding p already bound"))
    assert(err(h2 + "match p = (a:P) -[:s*1..2 as p]-> (b:P)\nreturn a")
      .contains("collides with the distance binding"))
    // a named path is a value: node mutation through it is rejected
    assert(err(h2 + "match p = (a:P) -[:s*1..2]-> (b:P)\nset p.x = 1\nreturn a")
      .contains("named-path"))
    assert(err(h2 + "match p = (a:P) -[:s*1..2]-> (b:P)\ndelete p\nreturn a")
      .nonEmpty)
  }

  test("named paths: fixed/multi-segment typing + rejection paths (round 13)") {
    val h2 = header + "(:P) -[:s]-> (:P)\n(:Q) -[:t]-> (:P)\n"
    // positives: fixed hop, heterogeneous multi-segment chain, reverse
    // hop, relationships() on the binding and through a with
    Typing.compile(h2 +
      "match p = (a:P) -[:r]-> (b:Q)\nreturn a, length(p) as l")
    Typing.compile(h2 +
      """match p = (a:P) -[:r]-> (b:Q) -[:t]-> (c:P)
        |where size(relationships(p)) = 2
        |unwind relationships(p) as lbl
        |return lbl""".stripMargin)
    Typing.compile(h2 +
      "match p = (b:Q) <-[:r]- (a:P)\nreturn nodes(p) as ns")
    Typing.compile(h2 +
      "match p = (a:P) -[:s*1..2]-> (b:P)\nwith p\nreturn relationships(p) as rs")
    Typing.compile(h2 +
      "match p = (a:P) -[:r]-> (b:Q)\nwith p as q\nreturn relationships(q) as rs")
    // relationships demands a named-path binding
    assert(err(h2 + "match (a:P)\nreturn relationships(a) as rs")
      .contains("not a named-path binding"))
    // a fixed-hop segment must exist in the PATTERN's orientation (the
    // error points at the declared reverse when that's the miss)
    assert(err(h2 + "match p = (b:Q) -[:r]-> (a:P)\nreturn a")
      .contains("use <-[:r]-"))
    // undirected single-hop with BOTH orientations declared is ambiguous
    // for the one-witness named form (the unnamed pattern handles it)
    val h3 = h2 + "(:Q) -[:u]-> (:P)\n(:P) -[:u]-> (:Q)\n"
    assert(err(h3 + "match p = (a:P) -[:u]- (b:Q)\nreturn a")
      .contains("declared in both orientations"))
    // ... but a single declared orientation symmetrizes fine
    Typing.compile(h2 + "match p = (a:Q) -[:t]- (b:P)\nreturn length(p) as l")
  }

  test("unlabeled match: any-label restrictions + inference errors (round 14)") {
    // header declares (:P)-[:r]->(:Q); add a reverse r and a self rel
    val h2 = header + "(:P) -[:s]-> (:P)\n"
    val hAmb = h2 + "(:Q) -[:r]-> (:P)\n"
    // positives: scan, id, count, inference on both ends, narrowing
    Typing.compile(h2 + "match (n)\nreturn n")
    Typing.compile(h2 + "match (n)\nwhere id(n) > 0\nreturn count(n) as c")
    Typing.compile(h2 + "match (n) -[:r]-> (m)\nreturn n.x, m.y")
    Typing.compile(h2 + "match (n)\nmatch (n) -[:r]-> (m)\nreturn n.x")
    Typing.compile(h2 + "match (u) -[:s*1..2]-> (v)\nreturn u.x, v.x")
    // undirected inference works when both orientations land on one
    // label (self relation); bound bare (v) is a no-op re-reference
    Typing.compile(h2 + "match (u) -[:s]- (v)\nreturn u.x")
    Typing.compile(h2 + "match (a:P)\nmatch (a)\nreturn a.x")
    // the any-label binding is a node with an UNKNOWN label: attribute
    // access / set / delete / label() are rejected with a pointer
    assert(err(h2 + "match (n)\nreturn n.x")
      .contains("unlabeled"))
    assert(err(h2 + "match (n)\nset n.x = 1\nreturn n")
      .contains("unlabeled"))
    // delete needs only the id, so it works through %any (round 14's
    // unlabeled-delete extension); the binding unbinds as usual
    Typing.compile(h2 + "match (n)\nwhere id(n) = 0\ndelete n\nreturn 1 as k")
    assert(err(h2 + "match (n)\ndelete n\nreturn n").contains("unbound"))
    // unlabeled nodes WITH props: legal on inferable hop endpoints
    // (props type after inference); standalone keeps the unlabeled-
    // attribute pointer, and create/merge demand a label outright
    Typing.compile(h2 + "match (a {x: 1}) -[:r]-> (b)\nreturn b.y")
    assert(err(h2 + "match (n {x: 1})\nreturn n").contains("unlabeled"))
    assert(err(h2 + "create (n {x: 1})\nreturn n").contains("needs a label"))
    assert(err(h2 + "merge (n {x: 1})\nreturn n").contains("needs a label"))
    // inference demands a UNIQUE declared endpoint label
    assert(err(hAmb + "match (x) -[:r]-> (y)\nreturn x")
      .contains("cannot infer a label for x"))
    // ... and an undirected hop over a non-self relation is two-sided
    assert(err(h2 + "match (x) -[:r]- (y)\nreturn x")
      .contains("cannot infer"))
    // no declared relation fits: the known endpoint contradicts
    assert(err(h2 + "match (q:Q)\nmatch (q) -[:r]-> (z)\nreturn z")
      .contains("no declared relation type matches"))
    // any-relation hop -[]->: match-only union over declared triples
    Typing.compile(h2 + "match (a:P) -[]-> (b:Q)\nreturn a, b")
    Typing.compile(h2 + "match (a:P) -[]- (b:Q)\nreturn a") // undirected
    // endpoint inference composes: unique over ALL rel types (header
    // declares only r: P->Q), ambiguous when several endpoints fit
    Typing.compile(header + "match (a:P) -[]-> (b)\nreturn b.y")
    assert(err(h2 + "match (a:P) -[]-> (b)\nreturn b")
      .contains("cannot infer"))
    assert(err(h2 + "create (a:P) -[]-> (b:Q)")
      .contains("match-only"))
    assert(err(h2 + "match (a:Q) -[]-> (b:Q)\nreturn a")
      .contains("no relation type is declared"))
    // label(n) on an unlabeled binding reads the runtime companion —
    // well-typed, including through a with; still rejected on scalars
    Typing.compile(h2 + "match (n)\nreturn n, label(n) as l")
    Typing.compile(h2 + "match (n)\nwith n\nreturn label(n) as l")
    assert(err(h2 + "match (a:P)\nwith a.x as v\nreturn label(v) as l")
      .contains("is a value, not a node"))
  }

  test("query parameters: substitute as typed constants (round 12)") {
    val ps = Map[String, Value]("lo" -> IntV(5), "pre" -> StringV("ab"),
      "flag" -> BoolV(true), "src" -> IntV(42), "neg" -> IntV(-2))
    def ok(q: String): Unit =
      Typing.compile(header + q, ps): Unit
    def perr(q: String): String =
      intercept[Typing.TypeError](Typing.compile(header + q, ps)).getMessage
    // params work anywhere an expression is legal, typed by their value
    ok("match (a:P)\nwhere a.x > $lo and a.s starts with $pre\nreturn a")
    ok("match (a:P)\nwhere $flag or a.x = 0\nset a.x = $lo + 1\nreturn a")
    ok("create (a:P {x: $lo, s: $pre})\nreturn a")
    ok("call bfs($src) yield id, dist\nreturn dist, count(id) as k")
    // missing parameter is a compile error, not a NULL
    assert(perr("match (a:P)\nwhere a.x > $nope\nreturn a")
      .contains("missing parameter $nope"))
    assert(perr("call bfs($nope) yield id, dist\nreturn id")
      .contains("missing parameter $nope"))
    // mistyped parameter fails with the ordinary typing error
    assert(perr("match (a:P)\nwhere a.x > $pre\nreturn a")
      .contains("requires int operands"))
    assert(perr("match (a:P)\nwhere a.s contains $lo\nreturn a")
      .contains("requires string operands"))
    assert(perr("call bfs($pre) yield id, dist\nreturn id")
      .contains("argument 1 must be int, got string"))
    // $param in skip/limit position (round 14): same foldable constant
    // a literal gives; missing/mistyped/negative rejected at typing
    ok("match (a:P)\nreturn a order by a skip $lo limit $lo")
    ok("match (a:P)\nwith a order by a limit $lo\nreturn a")
    assert(perr("match (a:P)\nreturn a limit $nope")
      .contains("missing parameter $nope"))
    assert(perr("match (a:P)\nreturn a limit $pre")
      .contains("must be an integer"))
    assert(perr("match (a:P)\nreturn a order by a skip $neg")
      .contains("negative"))
    // ... and as a procedure's relation-scope string argument
    Typing.compile(header + "call cc($rel) yield id, comp\nreturn comp",
      Map[String, Value]("rel" -> StringV("r"))): Unit
    // extra params are ignored; empty map means plain compile
    Typing.compile(header + "match (a:P)\nreturn a", ps): Unit
  }

  test("split/slice: string-only split, int slice bounds on a list") {
    Typing.compile(header + "match (a:P)\nunwind split(a.s, \"-\") as p\nreturn p")
    Typing.compile(header +
      "match (a:P)\nwith collect(a.x) as xs\nwhere size(xs.val[1..3]) > 0\nreturn xs")
    // split result is a string list: int comparison on elements rejected
    assert(err(header + "match (a:P)\nunwind split(a.s, \"-\") as p\nwhere p.val > 1\nreturn p")
      .contains("ordering"))
    assert(err(header + "match (a:P)\nunwind split(a.x, \"-\") as p\nreturn p")
      .contains("split requires string arguments"))
    assert(err(header +
      "match (a:P)\nwith collect(a.x) as xs\nwhere size(xs.val[\"u\"..3]) > 0\nreturn xs")
      .contains("slice bounds must be int"))
    assert(err(header + "match (a:P)\nwhere size(a.s[1..3]) > 0\nreturn a")
      .contains("slicing requires a list operand"))
    // a slice stays list-typed: element access composes on top
    Typing.compile(header +
      "match (a:P)\nwith collect(a.x) as xs\nwhere xs.val[1..3][0] > 0\nreturn xs")
    // toInteger: string-only operand, int result
    Typing.compile(header + "match (a:P)\nwhere toInteger(a.s) > a.x\nreturn a")
    assert(err(header + "match (a:P)\nwhere toInteger(a.x) > 0\nreturn a")
      .contains("toInteger requires a string operand"))
  }

  test("label/type: fold to static strings; wrong binding kinds rejected") {
    Typing.compile(header +
      "match (a:P) -[x:r]-> (b:Q)\nwhere label(a) = \"P\" and type(x) = \"r\"\nreturn a")
    assert(err(header + "match (a:P) -[x:r]-> (b:Q)\nwhere label(x) = \"r\"\nreturn a")
      .contains("use type"))
    assert(err(header + "match (a:P) -[x:r]-> (b:Q)\nwhere type(a) = \"P\"\nreturn a")
      .contains("not a relationship"))
    assert(err(header + "match (a:P)\nwith a.x as c\nwhere label(c) = \"x\"\nreturn c")
      .contains("is a value"))
  }

  test("abs/sign: int-only operand, types as int") {
    Typing.compile(header + "match (a:P)\nwhere abs(a.x - 5) < 2\nreturn a")
    Typing.compile(header + "match (a:P)\nwhere sign(a.x - 5) = 0 - 1\nreturn a")
    assert(err(header + "match (a:P)\nwhere abs(a.s) > 0\nreturn a")
      .contains("abs requires an int operand"))
    assert(err(header + "match (a:P)\nwhere sign(a.x) = \"u\"\nreturn a")
      .contains("same-typed"))
  }

  test("list predicates: list operand, bool body, fresh lambda variable") {
    val pre = header + "match (a:P)\nwith collect(a.x) as xs\n"
    Typing.compile(pre + "where any(x in xs.val where x.val > 1)\nreturn xs")
    // the lambda variable carries the element type (string here)
    Typing.compile(header +
      "match (a:P)\nwith collect(a.s) as ss\n" +
      "where all(x in ss.val where x.val starts with \"u\")\nreturn ss")
    // outer references compose inside the body
    Typing.compile(header +
      "match (a:P)\nwith a.x as m, collect(a.x) as xs\n" +
      "where single(x in xs.val where x.val = m.val)\nreturn m")
    assert(err(header + "match (a:P)\nwhere any(x in a.x where x.val > 1)\nreturn a")
      .contains("any requires a list operand"))
    assert(err(pre + "where none(x in xs.val where x.val + 1)\nreturn xs")
      .contains("none predicate must be bool"))
    // shadowing an existing binding is rejected (SQL lambda capture)
    assert(err(pre + "match (x:P)\nwhere any(x in xs.val where x.val > 1)\nreturn xs")
      .contains("shadows an existing binding"))
    // element reads type as the element: string list vs int comparison
    assert(err(header +
      "match (a:P)\nwith collect(a.s) as ss\n" +
      "where any(x in ss.val where x.val > 1)\nreturn ss")
      .contains("ordering"))
    // null()/id() have no meaning on a lambda binding
    assert(err(pre + "where any(x in xs.val where null(x))\nreturn xs")
      .contains("never NULL"))
    assert(err(pre + "where any(x in xs.val where id(x) > 0)\nreturn xs")
      .contains("lambda"))
  }

  test("list comprehension: scalar elements; reduce: scalar fold, fresh vars") {
    val pre = header + "match (a:P)\nwith collect(a.x) as xs\n"
    Typing.compile(pre + "unwind [x in xs.val where x.val > 1 | x.val * 2] as y\nreturn y")
    // mapping arm may change the element type (int -> string)
    Typing.compile(pre + "unwind [x in xs.val | toString(x.val)] as s\nreturn s")
    // nested-list elements rejected (the collect rule)
    assert(err(pre + "unwind [x in xs.val | range(0, x.val)] as y\nreturn y")
      .contains("must be scalar"))
    assert(err(pre + "unwind [x in xs.val where x.val + 1] as y\nreturn y")
      .contains("where-predicate must be bool"))

    Typing.compile(pre + "return reduce(s = 0, x in xs.val | s.val + x.val) as t")
    // fold type = init type; body must match it
    assert(err(pre + "return reduce(s = 0, x in xs.val | toString(x.val)) as t")
      .contains("must match the accumulator type"))
    assert(err(pre + "return reduce(s = 0, x in xs.val | s.val + x.val) as t, " +
      "reduce(x = 0, x in xs.val | 1) as u")
      .contains("must differ"))
    // membership over a comprehension composes
    Typing.compile(pre +
      "match (b:P)\nwhere b.x in [x in xs.val | x.val * 2]\nreturn b")
  }

  test("count { } expressions: scope + rejection surface (round 15 v2)") {
    // positives: where / return / with positions, filtered and
    // uncorrelated forms
    Typing.compile(header +
      "match (p:P)\nwhere count { (p) -[:r]-> (q:Q) } >= 1\nreturn p")
    Typing.compile(header +
      "match (p:P)\nreturn p, count { (p) -[:r]-> (q:Q) where q.y > 0 } as k")
    Typing.compile(header +
      "match (p:P)\nwith p, count { (q:Q) } as nq\nwhere nq.val > 0\nreturn p, nq")
    Typing.compile(header +
      "match (p:P)\nwhere exists { (p) -[:r]-> (q:Q) }\nreturn p")
    // a bare variable not bound outside = unknown import
    assert(err(header +
      "match (p:P)\nwhere count { (nope) -[:r]-> (q:Q) } > 0\nreturn p")
      .contains("nope"))
    // inner typing errors surface as the ordinary subquery ones
    assert(err(header +
      "match (p:P)\nwhere count { (p) -[:r]-> (z:Z) } > 0\nreturn p")
      .contains("undeclared node label Z"))
    // inside a call { } body the sugar doesn't reach — pointed rejection
    assert(err(header +
      "match (p:P)\ncall { with p match (p) -[:r]-> (q:Q) " +
      "where count { (q) -[:r]-> (z:Q) } > 0 return count(q) as k }\nreturn p, k")
      .contains("count { }"))
    // pattern comprehensions: the map types INSIDE the subquery (it
    // reads the fresh pattern variable); a list comes back
    Typing.compile(header +
      "match (p:P)\nwith p, [ (p) -[:r]-> (q:Q) | q.y ] as ys\n" +
      "return p, size(ys.val) as n")
    // mistyped map surfaces as the ordinary inner error
    assert(err(header +
      "match (p:P)\nwith p, [ (p) -[:r]-> (q:Q) | q.nope ] as ys\nreturn p")
      .contains("nope"))
    // a nested subquery expression in the map is rejected with a pointer
    assert(err(header +
      "match (p:P)\nwith p, [ (p) -[:r]-> (q:Q) | count { (q) -[:r]-> (z:Q) } ] as ys\n" +
      "return p")
      .contains("count { }"))
  }
}
