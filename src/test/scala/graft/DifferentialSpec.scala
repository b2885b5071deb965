package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => ScTest}
import graft.lang.Typing
import graft.engine.{Engine, PropertyGraph}
import scala.math.Ordering.Implicits.seqOrdering

/** Differential testing (SURVEY.md §5.2(3), build-plan M4): random
  * well-typed MiniGQL programs, executed both by the Spark engine and by
  * the in-memory reference interpreter (RefInterp, the sem.ml port);
  * graphs and binding tables must agree exactly.
  *
  * The generator emits SOURCE TEXT (so the parser is inside the tested
  * pipeline) and enforces the invariants that keep both sides total:
  * every created node's attributes are set immediately (no unset-
  * attribute reads), divisors are nonzero constants, and edge clauses
  * only use schema-declared (label, rel, label) combinations.
  */
class DifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val header =
    """(:P {x int, nm string})
      |(:Q {y int})
      |(:P) -[:r {w int}]-> (:Q)
      |(:P) -[:s]-> (:P)
      |(:P) -[:s2]-> (:P)
      |(:Q) -[:t]-> (:Q)
      |""".stripMargin

  /** Stateful source generator: tracks latest bindings like the checker. */
  private def genProgram(seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val sb = new StringBuilder(header)
    var env = List.empty[(String, String)] // (var, label), latest first
    // optional-match bindings are NULLABLE: they only ever appear in
    // null() filters and return — a read through a NULL binding (attr,
    // edge, set, delete) is where engine and interpreter semantics are
    // allowed to diverge, so the generator never emits one
    var optEnv = List.empty[String]
    def latest(v: String) = env.collectFirst { case (`v`, l) => l }
    // latest bindings only: a rebound variable's old label is shadowed
    def bound(lbl: String) = env.map(_._1).distinct.filter(v => latest(v).contains(lbl))
    var n = 0
    def freshOrReuse(): String =
      if (env.nonEmpty && rnd.nextInt(4) == 0) env(rnd.nextInt(env.size))._1
      else { n += 1; s"v$n" }
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def intExpr(depth: Int): String = {
      val xvars = bound("P").map(_ + ".x") ++ bound("Q").map(_ + ".y") ++
        bound(Typing.PathLabel).map(_ + ".hops") ++
        bound("%int").map(_ + ".val") ++ // with-bound scalars
        // id() over node bindings (round 11) — ids are deterministic
        // in both engines, so they are ordinary int atoms
        (bound("P") ++ bound("Q") ++ bound(Typing.AnyLabel)).map(v => s"id($v)")
      val atom = if (xvars.isEmpty || rnd.nextBoolean()) (rnd.nextInt(10) + 1).toString
                 else pick(xvars)
      if (depth == 0) atom
      else rnd.nextInt(6) match {
        case 0 => s"($atom + ${intExpr(depth - 1)})"
        case 1 => s"(${intExpr(depth - 1)} * ${rnd.nextInt(3) + 1})"
        case 2 => s"(${intExpr(depth - 1)} / ${rnd.nextInt(3) + 2})" // nonzero const divisor
        case 3 => s"(${intExpr(depth - 1)} mod ${rnd.nextInt(4) + 2})"
        // round 10: size over a string expression (string → int)
        case 4 if rnd.nextBoolean() => s"(size(${strExpr(1)}) + ${intExpr(depth - 1)})"
        // round 11: coalesce over non-nullable ints (= first argument;
        // the NULL-recovery leg is drawn at the optional-match site);
        // abs/sign (subtraction-heavy operands exercise the negatives)
        case 4 if rnd.nextBoolean() =>
          s"${pick(Seq("abs", "sign"))}((${intExpr(depth - 1)} - ${intExpr(0)}))"
        // toInteger ∘ toString roundtrip (round 11) — pins the strict
        // parse against Spark's ANSI cast on negative values too
        case 4 if rnd.nextBoolean() =>
          s"toInteger(toString((${intExpr(depth - 1)} - ${intExpr(0)})))"
        case 4 => s"coalesce(${intExpr(depth - 1)}, ${intExpr(0)})"
        // round 10: searched case — only the taken branch evaluates in
        // BOTH engines (SQL CASE / RefInterp's collectFirst), and the
        // generator keeps all attrs set + const divisors nonzero, so
        // short-circuiting is unobservable and results stay equal
        // round 11: half the case draws use the SIMPLE form (value
        // dispatch) — it desugars in the parser to the searched form,
        // so this covers the sugar end-to-end
        case _ if rnd.nextBoolean() =>
          s"(case ${intExpr(0)} when ${rnd.nextInt(6)} then ${intExpr(depth - 1)} " +
            s"when ${rnd.nextInt(10)} then ${intExpr(0)} " +
            s"else ${intExpr(depth - 1)} end)"
        case _ => s"(case when ${boolExpr(0)} then ${intExpr(depth - 1)} " +
          s"else ${intExpr(depth - 1)} end)"
      }
    }
    def strExpr(depth: Int): String = {
      val svars = bound("P").map(_ + ".nm")
      val atom = if (svars.nonEmpty && rnd.nextBoolean()) pick(svars)
                 else s"\"${pick(Seq("alpha", "beta", "gamma", " padded "))}\""
      if (depth == 0) atom
      else rnd.nextInt(7) match {
        // round 10 continued: concat, substring (incl. the pos-0 and
        // negative-position edge rules — negatives spelled 0-k, the
        // lexer has no negative literals), replace, toString
        case 5 => s"toString(${intExpr(0)})"
        case 0 => s"(${strExpr(depth - 1)} + ${strExpr(0)})"
        case 1 => s"substring(${strExpr(depth - 1)}, ${rnd.nextInt(5)}, ${rnd.nextInt(6)})"
        case 2 if rnd.nextBoolean() =>
          s"substring(${strExpr(depth - 1)}, 0 - ${rnd.nextInt(9) + 1}, ${rnd.nextInt(4) + 1})"
        case 2 => s"replace(${strExpr(depth - 1)}, \"${pick(Seq("a", "ta", "dd", ""))}\", \"${pick(Seq("X", "", "yz"))}\")"
        case _ => s"${pick(Seq("lower", "upper", "trim"))}(${strExpr(depth - 1)})"
      }
    }
    def boolExpr(depth: Int): String = {
      val svars = bound("P").map(_ + ".nm")
      val base = rnd.nextInt(10) match {
        case 0 | 1 if svars.nonEmpty =>
          // polymorphic string equality (reference sem.ml:168,173)
          s"${pick(svars)} ${pick(Seq("=", "<>"))} \"${pick(Seq("alpha", "beta", "gamma"))}\""
        case 2 | 3 =>
          // round 10: string predicates over function-wrapped operands
          s"${strExpr(1)} ${pick(Seq("starts with", "ends with", "contains"))} " +
            s"\"${pick(Seq("a", "al", "ta", "mm", "ET", "pad", ""))}\""
        case 7 =>
          // round 12: regex =~ (find semantics both sides — RefInterp
          // Pattern.find vs Spark RLIKE, both java.util.regex)
          // no backslash draws: the lexer bans `\` in string literals
          s"${strExpr(1)} =~ " +
            s"\"${pick(Seq("a", "^al", "t.a", "[ad]m*", "a+$$", "(be|ga)", "^$$", "[^x]{2}"))}\""
        // round 11: in-list membership, both polarities, string and int
        // element draws (elements are full expressions)
        case 8 if svars.nonEmpty =>
          val elems = Seq.fill(1 + rnd.nextInt(3))(
            s"\"${pick(Seq("alpha", "beta", "gamma", "delta"))}\"").mkString(", ")
          s"${pick(svars)}${if (rnd.nextBoolean()) "" else " not"} in [$elems]"
        case 9 =>
          val elems = Seq.fill(1 + rnd.nextInt(3))(intExpr(0)).mkString(", ")
          s"${intExpr(1)}${if (rnd.nextBoolean()) "" else " not"} in [$elems]"
        case _ =>
          s"${intExpr(1)} ${pick(Seq("=", "<>", ">=", ">", "<=", "<"))} ${intExpr(1)}"
      }
      // round 11: prefix not at its own tier (negate the atom so the
      // draw covers not-over-comparison without reparenthesizing)
      val base2 = if (rnd.nextInt(4) == 0) s"not ($base)" else base
      if (depth == 0 || rnd.nextBoolean()) base2
      else s"($base2 ${pick(Seq("and", "or"))} ${boolExpr(depth - 1)})"
    }
    val steps = 3 + rnd.nextInt(6)
    for (_ <- 1 to steps) rnd.nextInt(13) match {
      case 0 => // create + immediate set (keeps all attributes defined);
        // half the time via the inline property map, which desugars to
        // the same create+set instruction pair (differential coverage of
        // the sugar for free — RefInterp sees only the desugared form)
        val v = freshOrReuse()
        val lbl = pick(Seq("P", "Q"))
        val inline = rnd.nextBoolean()
        if (inline && lbl == "P")
          sb ++= s"create ($v:P {x: ${rnd.nextInt(50)}, nm: \"${pick(Seq("alpha", "beta", "gamma"))}\"})\n"
        else if (inline)
          sb ++= s"create ($v:Q {y: ${rnd.nextInt(50)}})\n"
        else {
          sb ++= s"create ($v:$lbl)\n"
          if (lbl == "P")
            sb ++= s"set $v.x = ${rnd.nextInt(50)}, $v.nm = \"${pick(Seq("alpha", "beta", "gamma"))}\"\n"
          else sb ++= s"set $v.y = ${rnd.nextInt(50)}\n"
        }
        env = (v, lbl) :: env
      case 1 => // match node; sometimes with an inline props filter
        // (desugars to a where equality conjunct)
        val v = freshOrReuse()
        val lbl = pick(Seq("P", "Q"))
        if (rnd.nextInt(3) == 0) {
          val p = if (lbl == "P") s"x: ${rnd.nextInt(50)}" else s"y: ${rnd.nextInt(50)}"
          sb ++= s"match ($v:$lbl {$p})\n"
        } else sb ++= s"match ($v:$lbl)\n"
        env = (v, lbl) :: env
      case 2 => // create or match edge on a declared rel type
        val combos = Seq(("P", "r", "Q"), ("P", "s", "P"), ("P", "s2", "P"), ("Q", "t", "Q"))
          .flatMap { case (sl, rl, tl) =>
            for (a <- bound(sl); b <- bound(tl)) yield (a, rl, b)
          }
        if (combos.nonEmpty) {
          val (a, rl, b) = pick(combos)
          // merge-edge desugars to create-edge — free differential
          // coverage of the upsert sugar; half the time write the hop in
          // its reverse form `(b)<-[:r]-(a)` (identical IR, so RefInterp
          // needs no direction handling — exactly the desugar under test).
          // Round 10: the r relation carries {w int} — creates on r
          // ALWAYS attach a per-row w expression (so every r-edge has w
          // set and rel-binding reads are total), merge is excluded on
          // r (it would create an unset-w edge).
          val kw = if (rl == "r") pick(Seq("create", "match"))
                   else pick(Seq("create", "match", "merge"))
          val props = if (rl == "r" && kw == "create") s" {w: ${intExpr(1)}}" else ""
          // a third of MATCH hops are undirected `-[:r]-` (round 9+) —
          // written from either side, so the rev-only orientation (one
          // flipped frame, e.g. `(q:Q)-[:r]-(p:P)` with only (P,r,Q)
          // declared) is generated too
          if (kw == "match" && (rl == "s" || rl == "s2") && rnd.nextInt(3) == 0) {
            // `[:s|s2]` alternation (round 10): per-pair existence over
            // the two P→P relations, in all three directions
            val alt = if (rl == "s") "s|s2" else "s2|s"
            rnd.nextInt(3) match {
              case 0 => sb ++= s"$kw ($a) -[:$alt]-> ($b)\n"
              case 1 => sb ++= s"$kw ($b) <-[:$alt]- ($a)\n"
              case _ => sb ++= s"$kw ($a) -[:$alt]- ($b)\n"
            }
          } else if (kw == "match" && rnd.nextInt(3) == 0) {
            if (rnd.nextBoolean()) sb ++= s"$kw ($a) -[:$rl]- ($b)\n"
            else sb ++= s"$kw ($b) -[:$rl]- ($a)\n"
          } else if (kw == "match" && rl == "r" && rnd.nextInt(3) == 0) {
            // rel binding (round 10): bind the matched edge and
            // immediately read / update / remove it through the binding
            n += 1
            val x = s"v$n"
            if (rnd.nextBoolean()) sb ++= s"match ($b) <-[$x:r]- ($a)\n"
            else sb ++= s"match ($a) -[$x:r]-> ($b)\n"
            rnd.nextInt(4) match {
              case 0 => sb ++= s"where $x.w >= ${rnd.nextInt(40)}\n"
              case 1 => sb ++= s"set $x.w = ${intExpr(1)}\n"
              case 2 => sb ++= s"delete $x\n"
              case _ => sb ++= s"where ($x.w mod ${rnd.nextInt(3) + 2}) = 0\n"
            }
          }
          else if (rnd.nextBoolean()) sb ++= s"$kw ($b) <-[:$rl$props]- ($a)\n"
          else sb ++= s"$kw ($a) -[:$rl$props]-> ($b)\n"
        }
      case 3 => // where
        if (env.nonEmpty) sb ++= s"where ${boolExpr(1)}\n"
      case 4 => // set on an existing binding (path bindings are immutable)
        if (env.nonEmpty) {
          val (v, lbl) = env(rnd.nextInt(env.size))
          if (latest(v).contains(lbl) && !lbl.startsWith("%")) {
            // round 10: a third of P-sets write the STRING attr through
            // the string-function pipeline instead of the int attr
            if (lbl == "P" && rnd.nextInt(3) == 0)
              sb ++= s"set $v.nm = ${strExpr(1 + rnd.nextInt(2))}\n"
            else
              sb ++= s"set $v.${if (lbl == "P") "x" else "y"} = ${intExpr(1)}\n"
          }
        }
      case 5 => // variable-length path over a self-label relation
        // the two forms exercise both join shapes: bound→bound is the
        // reach semi-join, bound→fresh-decl the fused equi-join against
        // the closure
        val starts = Seq(("P", "s"), ("Q", "t"))
          .flatMap { case (l, rl) => bound(l).map(a => (a, rl, l)) }
        if (starts.nonEmpty) {
          val (a, rl, l) = pick(starts)
          val lo = rnd.nextInt(3) // 0 = zero-length (identity) lower bound
          val hi = math.max(lo, 1) + rnd.nextInt(3)
          // a third of varpaths carry the shortest-distance binding
          // `as d` — exercises min-hop semantics on BOTH engine paths
          // (inner join + hops column vs the plain semi/equi join) and
          // feeds d.hops into later where/return draws via the env
          val dist =
            if (rnd.nextInt(3) == 0) { n += 1; Some(s"v$n") } else None
          val distSuffix = dist.fold("")(d => s" as $d")
          val bs = bound(l)
          // a third of varpaths are written in reverse form
          // `(b)<-[:rl*lo..hi]-(a)` — same IR with swapped endpoints,
          // exercising the backward seeded expansion in the engine —
          // and another third UNDIRECTED `-[:rl*lo..hi]-` (round 9+):
          // the closure walks the symmetrized edge set on both engine
          // shapes (seeded expansion + the fused equi-join)
          val dirDraw = rnd.nextInt(3)
          def hop(src: String, tgt: String): String = dirDraw match {
            case 1 => s"match ($tgt) <-[:$rl*$lo..$hi$distSuffix]- ($src)\n"
            case 2 => s"match ($src) -[:$rl*$lo..$hi$distSuffix]- ($tgt)\n"
            case _ => s"match ($src) -[:$rl*$lo..$hi$distSuffix]-> ($tgt)\n"
          }
          if (bs.nonEmpty && rnd.nextBoolean())
            sb ++= hop(a, pick(bs))
          else {
            n += 1
            val v = s"v$n"
            // reverse + fresh decl on the rest side binds v as the path
            // SOURCE (paths v→a) — the backward seeded expansion
            // (the fused hop seeds from its bound tv side:
            // varPathReachSeeded seedIsSrc=false), unreachable from
            // forward-only programs; undirected + fresh decl is the
            // fused undirected closure
            dirDraw match {
              case 1 => sb ++= s"match ($a) <-[:$rl*$lo..$hi$distSuffix]- ($v:$l)\n"
              case 2 => sb ++= s"match ($a) -[:$rl*$lo..$hi$distSuffix]- ($v:$l)\n"
              case _ => sb ++= s"match ($a) -[:$rl*$lo..$hi$distSuffix]-> ($v:$l)\n"
            }
            env = (v, l) :: env
          }
          dist.foreach(d => env = (d, Typing.PathLabel) :: env)
        }
      case 6 => // pattern predicates: `where not exists` (anti witness)
        // and, half the time, the positive `where exists` (semi witness,
        // round 9) — four shapes each: bound→bound, bound→existential
        // decl, existential decl with an inline props conjunct, and a
        // bounded-varpath witness (incl. lo = 0)
        val neg = if (rnd.nextBoolean()) "not exists" else "exists"
        val combos = Seq(("P", "r", "Q"), ("P", "s", "P"), ("Q", "t", "Q"))
          .flatMap { case (sl, rl, tl) => bound(sl).map(a => (a, rl, tl)) }
        val vpStarts = Seq(("P", "s"), ("Q", "t"))
          .flatMap { case (l, rl) => bound(l).map(a => (a, rl, l)) }
        // a quarter of witness hops are undirected (round 9+): the
        // witness sub-plan runs the same undirected RMatchEdge / symmetrized
        // closure inside the semi/anti probe
        val uh = if (rnd.nextInt(4) == 0) "-" else "->"
        if (vpStarts.nonEmpty && rnd.nextInt(3) == 0) {
          val (a, rl, l) = pick(vpStarts)
          val lo = rnd.nextInt(3)
          val hi = math.max(lo, 1) + rnd.nextInt(3)
          val bs = bound(l)
          if (bs.nonEmpty && rnd.nextBoolean())
            sb ++= s"where $neg ($a) -[:$rl*$lo..$hi]$uh (${pick(bs)})\n"
          else {
            n += 1
            sb ++= s"where $neg ($a) -[:$rl*$lo..$hi]$uh (v$n:$l)\n"
          }
        } else if (combos.nonEmpty) {
          val (a, rl, tl) = pick(combos)
          val bs = bound(tl)
          if (bs.nonEmpty && rnd.nextBoolean())
            sb ++= s"where $neg ($a) -[:$rl]$uh (${pick(bs)})\n"
          else {
            n += 1
            if (rnd.nextInt(3) == 0) {
              val p = if (tl == "P") s"x: ${rnd.nextInt(50)}" else s"y: ${rnd.nextInt(50)}"
              sb ++= s"where $neg ($a) -[:$rl]$uh (v$n:$tl {$p})\n"
            } else sb ++= s"where $neg ($a) -[:$rl]$uh (v$n:$tl)\n"
          }
        }
      case 7 => // optional match — all-or-nothing witness tails: 1-hop,
        // 2-hop (the no-partial-binding shape), and bounded-varpath
        // (incl. the lo = 0 identity seed); the engine's ROptPath left
        // join vs RefInterp's witness-map expansion
        val srcs = Seq("P", "Q").flatMap(l => bound(l).map(a => (a, l)))
        if (srcs.nonEmpty) {
          val hop1 = Map("P" -> Seq(("r", "Q"), ("s", "P")), "Q" -> Seq(("t", "Q")))
          val (a, l) = pick(srcs)
          val headLbl = rnd.nextInt(3) match {
            case 0 =>
              val (rl, tl) = pick(hop1(l))
              n += 1
              // a quarter of single-hop optional tails undirected —
              // the left-outer witness over the orientation union
              val oh = if (rnd.nextInt(4) == 0) "-" else "->"
              sb ++= s"optional match ($a) -[:$rl]$oh (v$n:$tl)\n"
              optEnv ::= s"v$n"
              tl
            case 1 =>
              val (rl, ml) = pick(hop1(l))
              val (rl2, tl) = pick(hop1(ml))
              n += 2
              sb ++= s"optional match ($a) -[:$rl]-> (v${n - 1}:$ml) -[:$rl2]-> (v$n:$tl)\n"
              optEnv = s"v$n" :: s"v${n - 1}" :: optEnv
              tl
            case _ =>
              val rl = if (l == "P") "s" else "t"
              val lo = rnd.nextInt(3)
              val hi = lo + rnd.nextInt(3) // *0..0 = pure identity is legal
              n += 1
              sb ++= s"optional match ($a) -[:$rl*$lo..$hi]-> (v$n:$l)\n"
              optEnv ::= s"v$n"
              l
          }
          // half the time, immediately filter on the new binding's
          // nullness (both polarities of the null() predicate); a third
          // of the rest read THROUGH the possibly-NULL binding under
          // coalesce (round 11) — the one sanctioned NULL-attr read:
          // the engine's strict guard yields NULL, coalesce recovers it
          if (rnd.nextBoolean())
            sb ++= s"where null(${optEnv.head})${if (rnd.nextBoolean()) " = false" else ""}\n"
          else if (rnd.nextInt(3) == 0) {
            val (ov, oattr) = headLbl match {
              case "P" => (optEnv.head, "x"); case _ => (optEnv.head, "y")
            }
            sb ++= s"where coalesce($ov.$oattr, ${rnd.nextInt(60)}) >= ${rnd.nextInt(40)}\n"
          }
        }
      case 8 => // merge node — match-or-create-one; SMALL value space so
        // both paths (collision → match-all, miss → create-one-bind-all)
        // occur across seeds, including matches against earlier merges.
        // A third carry on create/on match actions (round 11) — both
        // engines must fire exactly the taken branch's sets
        val v = freshOrReuse()
        val lbl = pick(Seq("P", "Q"))
        // rebind BEFORE drawing the actions: typing types on create/on
        // match sets in the env WITH the merged variable bound, so an
        // action expression must never reach v through its PRE-merge
        // binding (a reused with-scalar name drew `v.val` inside its
        // own merge's action and type-erred against the merged label —
        // latent since round 11, surfaced by seed 71069)
        env = (v, lbl) :: env
        val actions =
          if (rnd.nextInt(3) > 0) ""
          else {
            val sets =
              if (lbl == "P") Seq(s"$v.x = ${intExpr(1)}", s"$v.nm = ${strExpr(1)}")
              else Seq(s"$v.y = ${intExpr(1)}")
            val a1 = s" on create set ${pick(sets)}"
            val a2 = if (rnd.nextBoolean()) s" on match set ${pick(sets)}" else ""
            if (rnd.nextBoolean()) a1 + a2 else a2 + a1
          }
        if (lbl == "P")
          sb ++= s"merge ($v:P {x: ${rnd.nextInt(6)}, nm: \"${pick(Seq("alpha", "beta"))}\"})$actions\n"
        else sb ++= s"merge ($v:Q {y: ${rnd.nextInt(6)}})$actions\n"
      case 9 => // mid-query `with`: project/aggregate the binding table,
        // scope reset to exactly the with items — plain vars stay node
        // bindings (sometimes re-aliased), one optional scalar item
        // (int attribute or aggregate) binds a %int pseudo-label whose
        // `.val` feeds later where/set/return draws via intExpr
        val cands = env.map(_._1).distinct.filterNot(optEnv.contains)
        if (cands.nonEmpty) {
          val keep = rnd.shuffle(cands).take(1 + rnd.nextInt(math.min(3, cands.size)))
          // (itemText, alias clause, alias, post-with label)
          var items = keep.map { v =>
            val l = latest(v).get
            if (rnd.nextInt(4) == 0) { n += 1; (v, s"$v as v$n", s"v$n", l) }
            else (v, v, v, l)
          }
          // int-valued scalar sources readable through any NON-optional
          // binding (unset attrs never occur: creates set immediately)
          val intSrcs = env.map(_._1).distinct.filterNot(optEnv.contains)
            .flatMap { v => latest(v).get match {
              case "P"                 => Some(s"$v.x")
              case "Q"                 => Some(s"$v.y")
              case Typing.PathLabel    => Some(s"$v.hops")
              case "%int"              => Some(s"$v.val")
              case _                   => None
            } }
          // round 10: an int-expression source — a case/arith expression
          // over a scalar attr (kept parenthesized so the order-key
          // re-parse is structurally identical to the item)
          def exprSrc(): String = {
            val src = pick(intSrcs)
            rnd.nextInt(3) match {
              case 0 => s"($src + ${rnd.nextInt(5) + 1})"
              case 1 => s"($src mod ${rnd.nextInt(3) + 2})"
              case _ => s"(case when $src > ${rnd.nextInt(8)} then $src " +
                s"else ${rnd.nextInt(5)} end)"
            }
          }
          val withAgg = intSrcs.nonEmpty && rnd.nextBoolean()
          if (withAgg) {
            val src = pick(intSrcs)
            val dist = if (rnd.nextInt(4) == 0) "distinct " else ""
            val fn = pick(Seq("count", "sum", "min", "max", "avg", "median"))
            // a third of aggregate arguments are full expressions
            // (conditional aggregation, round 10)
            val arg =
              if (rnd.nextInt(3) == 0) exprSrc()
              else if (fn == "count" && rnd.nextBoolean()) src.split('.').head
              else src
            n += 1
            // count(*) (round 11): row count — the desugared constant-1
            // leaf counts every row in both engines
            val call =
              if (fn == "count" && dist.isEmpty && rnd.nextInt(3) == 0) "count(*)"
              else s"$fn($dist$arg)"
            items = items :+ (call, s"$call as v$n", s"v$n", "%int")
          } else if (intSrcs.nonEmpty && rnd.nextInt(3) == 0) {
            // half bare attr sources, half full expression items
            val src = if (rnd.nextBoolean()) exprSrc() else pick(intSrcs)
            n += 1
            items = items :+ (src, s"$src as v$n", s"v$n", "%int")
          }
          val distinctMod = if (!withAgg && rnd.nextInt(3) == 0) "distinct " else ""
          // order+limit: keys are ALL items verbatim (structural equality
          // with the resolved items — required for agg/distinct shaping,
          // and a total order on grouped/deduped rows so the engine's
          // TakeOrdered and the interpreter's stable sort pick the same
          // multiset under limit; duplicate plain rows are interchangeable)
          val tail =
            if (rnd.nextInt(3) == 0) {
              val keys = items.map(_._1).map(k =>
                if (rnd.nextBoolean()) s"$k desc" else k).mkString(", ")
              // half the pages also skip (Cypher OFFSET; round 9) — same
              // total-order argument makes the page boundary exact
              val skip = if (rnd.nextBoolean()) s" skip ${rnd.nextInt(3)}" else ""
              s" order by $keys$skip limit ${1 + rnd.nextInt(4)}"
            } else ""
          sb ++= s"with $distinctMod${items.map(_._2).mkString(", ")}$tail\n"
          env = items.map { case (_, _, a, l) => (a, l) }.toList
          optEnv = Nil
        }
      case 11 => // round 14: the unlabeled surface — a bare any-label
        // scan (id-only binding), an inferred-endpoint hop, or an
        // any-relation hop between bound endpoints
        rnd.nextInt(3) match {
          case 0 =>
            // bare (v): binds every node at the virtual %any label; the
            // engine side also binds the hidden %label_ companion
            // (RefInterp mirrors it as a label-index code), which rides
            // silently through any later with-projection
            n += 1
            val v = s"v$n"
            sb ++= s"match ($v)\n"
            env = (v, Typing.AnyLabel) :: env
          case 1 =>
            // unlabeled hop endpoint: r names only (P,r,Q) and t only
            // (Q,t,Q), so inference binds the target at the REAL label —
            // downstream draws use it like an explicit decl
            val srcs = bound("P").map((_, "r", "Q")) ++
              bound("Q").map((_, "t", "Q"))
            if (srcs.nonEmpty) {
              val (a, rl, tl) = pick(srcs)
              n += 1
              val v = s"v$n"
              // a third carry an inline prop map WITHOUT a label (round
              // 14 continued): the conjunct types AFTER inference binds
              // the real label (all attrs set by construction, so the
              // strict read is total)
              if (rnd.nextInt(3) == 0)
                sb ++= s"match ($a) -[:$rl]-> ($v {y: ${rnd.nextInt(50)}})\n"
              else
                sb ++= s"match ($a) -[:$rl]-> ($v)\n"
              env = (v, tl) :: env
            }
          case _ =>
            // any-relation hop -[]->: the union of every declared
            // relation type between the endpoint labels (P→P unions
            // s AND s2 — the multi-frame case), all three directions
            val combos = Seq(("P", "Q"), ("P", "P"), ("Q", "Q"))
              .flatMap { case (sl, tl) =>
                for (a <- bound(sl); b <- bound(tl)) yield (a, b) }
            if (combos.nonEmpty) {
              val (a, b) = pick(combos)
              rnd.nextInt(3) match {
                case 0 => sb ++= s"match ($a) -[]-> ($b)\n"
                case 1 => sb ++= s"match ($b) <-[]- ($a)\n"
                case _ => sb ++= s"match ($a) -[]- ($b)\n"
              }
            }
        }
      case 10 => // unwind an int expression list (round 10): each row
        // explodes to its elements; the alias binds a %int scalar that
        // feeds later where/with/return draws via intExpr like any
        // with-bound scalar
        val sz = 1 + rnd.nextInt(3)
        val elems = (1 to sz).map(_ => intExpr(1)).mkString(", ")
        n += 1
        sb ++= s"unwind [$elems] as v$n\n"
        env = (s"v$n", "%int") :: env
      case _ => // delete a node binding (also unbinds)
        if (env.nonEmpty && rnd.nextInt(3) == 0) {
          val (v, _) = env(rnd.nextInt(env.size))
          val lbl = latest(v)
          // retire every variable whose LATEST label is dead, with all
          // its entries: dropping only the dead-label entries would
          // unshadow an older binding of a rebound variable (seed
          // 55757: a merge rebinds v1 from P to Q, a Q delete retired
          // (v1, Q), and a later draw read v1.x through (v1, P))
          def retire(dead: String => Boolean): Unit =
            env = env.filterNot { case (w, l) => dead(l) || latest(w).exists(dead) }
          if (lbl.contains(Typing.AnyLabel)) {
            // round 14: unlabeled delete works by id — it may remove
            // nodes of ANY label, so conservatively retire every node
            // binding (an attr read through a dangling P/Q binding is
            // the known divergence point; %any bindings themselves only
            // admit id/return reads, which are total on both sides)
            sb ++= s"delete $v\n"
            retire(l => l == "P" || l == "Q" || l == Typing.AnyLabel)
          } else if (!lbl.exists(_.startsWith("%"))) {
            sb ++= s"delete $v\n"
            // conservatively retire every same-label binding: they may alias
            // the deleted nodes, and reads/sets through dangling bindings
            // are the one place engine and reference semantics diverge
            retire(lbl.contains)
          }
        }
    }
    // finish: return a distinct subset in random order (or leave the full
    // table); nullable optional bindings are fair return items
    val distinctVars = rnd.shuffle((env.map(_._1) ++ optEnv).distinct)
    if (distinctVars.nonEmpty && rnd.nextBoolean())
      sb ++= s"return ${distinctVars.take(1 + rnd.nextInt(distinctVars.size)).mkString(", ")}\n"
    sb.toString
  }

  private def runBoth(src: String): Unit = {
    val tp = Typing.compile(src)
    val expected = RefInterp.run(tp)
    val r = Engine.run(spark, tp, PropertyGraph.empty(spark, tp.schema))
    runCompare(tp, expected, r, src)
  }

  private def runCompare(tp: Typing.TypedProg, expected: RefInterp.Result,
                         r: Engine.QueryResult, src: String): Unit = {

    // binding table: same header, same row multiset (engine NULLs — from
    // unmatched optional matches — compare as RefInterp's NullId sentinel)
    assert(r.bindings.columns.toList == expected.header, s"header mismatch\n$src")
    val got = r.bindings.collect().map(_.toSeq.map {
      case null => RefInterp.NullId
      case x    => x.asInstanceOf[Long]
    }.toList).toList
    assert(got.sorted == expected.rows.map(_.toList).sorted, s"rows mismatch\n$src")

    // graph: per-label node sets with attributes, and every edge frame
    for (lbl <- tp.schema.nodeAttrs.keys) {
      val gotNodes = r.graph.nodes(lbl).collect().map { row =>
        val id = row.getLong(0)
        val attrs = tp.schema.nodeAttrs(lbl).zipWithIndex.flatMap { case ((f, _), i) =>
          if (row.isNullAt(i + 1)) None else Some(f -> row.get(i + 1))
        }.toMap
        id -> attrs
      }.toMap
      val expNodes: Map[Long, Map[String, Any]] =
        expected.nodes.collect { case (id, n) if n.label == lbl =>
          id -> n.attrs.map {
            case (f, graft.lang.IntV(i))    => f -> (i: Any)
            case (f, graft.lang.StringV(x)) => f -> (x: Any)
            case (f, graft.lang.BoolV(b))   => f -> (b: Any)
          }
        }
      assert(gotNodes == expNodes, s"nodes($lbl) mismatch\n$src")
    }
    for (key @ (_, rl, _) <- tp.schema.relTypes) {
      val attrs = tp.schema.relAttrsOf(key)
      // edge set AND edge attributes (round 10): engine frames carry the
      // typed columns after (src, dst); RefInterp mirrors them in eattrs
      val gotE: Map[(Long, String, Long), Map[String, Any]] =
        r.graph.edges(key).collect().map { row =>
          ((row.getLong(0), rl, row.getLong(1)),
            attrs.zipWithIndex.flatMap { case ((f, _), i) =>
              if (row.isNullAt(i + 2)) None else Some(f -> row.get(i + 2))
            }.toMap)
        }.toMap
      val expE: Map[(Long, String, Long), Map[String, Any]] =
        expected.edges.filter(_._2 == rl).map { k =>
          k -> expected.eattrs.getOrElse(k, Map.empty).map {
            case (f, graft.lang.IntV(i))    => f -> (i: Any)
            case (f, graft.lang.StringV(x)) => f -> (x: Any)
            case (f, graft.lang.BoolV(b))   => f -> (b: Any)
          }
        }.toMap
      assert(gotE == expE, s"edges($key) mismatch\n$src")
    }
  }

  test("random well-typed programs agree with the in-memory reference interpreter") {
    // ScalaCheck property over generated seeds (scalatest-scalacheck
    // bridge isn't in the offline cache, so drive ScalaCheck directly)
    val drawn = scala.collection.mutable.ArrayBuffer.empty[Long]
    val prop = Prop.forAll(Gen.choose(0L, 100000L)) { seed =>
      drawn += seed; runBoth(genProgram(seed)); true
    }
    // 30 fresh programs per run (raised with the round-8 shape additions:
    // optional tails, varpath witnesses, zero-length bounds)
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(30), prop)
    // reported either way, so any run's programs can be replayed
    info(s"seeds drawn: ${drawn.mkString(", ")}")
    assert(res.passed, res.status.toString)
  }

  test("pinned regression seeds") {
    // -1629: count(distinct (expr)) — the agg distinct modifier must
    // admit a parenthesized expression argument (round 10)
    // 71069: a merge REUSING a with-scalar name must draw its action
    // expressions in the POST-merge env (round 14 generator fix)
    // 74273: `with … where exists (pattern)` — the round-16 attached
    // where stole the token and died parsing the pattern head as an
    // expression; the parser now leaves pattern-predicate `where`s to
    // the standalone clause (round 17)
    // 37204: a merge over a table a run-time `where` left empty, then a
    // strict `where v2.nm = …` over the still-empty P frame — the folded
    // raise_error guard ran below the first filter, on rows no binding
    // held
    // 55757: a delete retired a rebound variable's latest binding and
    // the generator read an attribute through its older, shadowed label
    for (seed <- Seq(1L, 7L, 42L, 1234L, 99999L, -1629L, 71069L, 74273L, 37204L, 55757L))
      runBoth(genProgram(seed))
  }

  /** Read-only union query over the P/Q graph: 2-3 branches, every
    * branch returning the single column `u` (node binding — typing's
    * signature rule), drawn from plain matches, filtered matches, edge
    * hops, and unwind compositions. */
  private def genUnionQuery(seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def branch(): String = rnd.nextInt(4) match {
      case 0 => s"match (u:${pick(Seq("P", "Q"))})\nreturn u"
      case 1 =>
        val (l, f) = pick(Seq(("P", "x"), ("Q", "y")))
        s"match (u:$l)\nwhere u.$f ${pick(Seq(">=", "<", "<>"))} ${rnd.nextInt(20)}\nreturn u"
      case 2 =>
        val (sl, rl, tl) = pick(Seq(("P", "r", "Q"), ("P", "s", "P"), ("Q", "t", "Q")))
        if (rnd.nextBoolean()) s"match (u:$sl) -[:$rl]-> (w:$tl)\nreturn u"
        else s"match (w:$sl) -[:$rl]-> (u:$tl)\nreturn u"
      case _ =>
        // unwind × union composition: the branch's rows multiply per
        // element before the filter
        s"match (u:P)\nunwind [u.x, ${rnd.nextInt(10)}] as k\n" +
          s"where k.val >= ${rnd.nextInt(10)}\nreturn u"
    }
    val sep = if (rnd.nextBoolean()) "union all" else "union"
    (1 to (2 + rnd.nextInt(2))).map(_ => branch()).mkString("", s"\n$sep\n", "\n")
  }

  test("random union queries agree with the interpreter over generator-built graphs") {
    for (seed <- Seq(2L, 11L, 77L, 555L, 31337L, 424242L)) {
      // build a graph with the standard generator (both engines replay
      // it — covered by the other tests), then run a READ-ONLY union
      // query against it on both sides
      val buildSrc = genProgram(seed)
      val tpB = Typing.compile(buildSrc)
      val expB = RefInterp.run(tpB)
      val rB = Engine.run(spark, tpB, PropertyGraph.empty(spark, tpB.schema))
      val unionSrc = header + genUnionQuery(seed)
      val tpU = Typing.compile(unionSrc)
      val expU = RefInterp.runOn(tpU, expB.nodes, expB.edges, firstId = 100000L)
      val rU = Engine.run(spark, tpU, rB.graph, 100000L)
      assert(rU.bindings.columns.toList == expU.header, s"header mismatch\n$unionSrc")
      val got = rU.bindings.collect().map(_.toSeq.map {
        case null => RefInterp.NullId
        case x    => x.asInstanceOf[Long]
      }.toList).toList
      assert(got.sorted == expU.rows.map(_.toList).sorted,
        s"rows mismatch\n$buildSrc\n---\n$unionSrc")
    }
  }

  test("forced new-shape coverage: optional tails, not-exists varpath, zero-length") {
    // The random generator emits these shapes too, but not guaranteed
    // per run — these minimal programs pin each round-8 shape every run.
    val progs = Seq(
      // optional match with a 2-hop all-or-nothing tail
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:Q {y: 2})
        |create (c:Q {y: 3})
        |match (p:P), (q:Q)
        |create (p) -[:r]-> (q)
        |match (q1:Q) where q1.y = 2
        |match (q2:Q) where q2.y = 3
        |create (q1) -[:t]-> (q2)
        |match (p2:P)
        |optional match (p2) -[:r]-> (w1:Q) -[:t]-> (w2:Q)
        |return p2, w1, w2
        |""".stripMargin,
      // optional match with a zero-length-lower-bound varpath tail
      """create (a:P {x: 1, nm: "beta"})
        |create (c:P {x: 3, nm: "gamma"})
        |match (a2:P)
        |optional match (a2) -[:s*0..2]-> (v:P)
        |where null(v) = false
        |return a2, v
        |""".stripMargin,
      // unmatched optional binds NULL and null() selects it
      """create (a:P {x: 1, nm: "alpha"})
        |match (p:P)
        |optional match (p) -[:r]-> (w:Q)
        |where null(w)
        |return p, w
        |""".stripMargin,
      // not exists with a bounded-varpath witness (reachability negation)
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |match (p1:P), (p2:P)
        |create (p1) -[:s]-> (p2)
        |match (q1:P)
        |where not exists (q1) -[:s*2..3]-> (q2:P)
        |return q1
        |""".stripMargin,
      // not exists with a zero-length varpath witness: every live P
      // reaches itself, so all rows are filtered
      """create (a:P {x: 1, nm: "alpha"})
        |match (p:P)
        |where not exists (p) -[:s*0..1]-> (q:P)
        |return p
        |""".stripMargin,
      // merge: match path (m1 finds a's node), create path (m2 binds one
      // fresh node to every row), read-your-writes (m3 finds m2's), and
      // the idempotent edge merge
      """create (a:P {x: 1, nm: "alpha"})
        |merge (m1:P {x: 1, nm: "alpha"})
        |merge (m2:P {x: 9, nm: "beta"})
        |merge (m3:P {x: 9, nm: "beta"})
        |merge (a) -[:s]-> (m2)
        |merge (a) -[:s]-> (m2)
        |return a, m1, m2, m3
        |""".stripMargin,
      // shortest-distance binding on BOTH join shapes: bound→fresh-decl
      // (the fused equi-join) with d.hops in where AND return, under
      // path multiplicity (a→b direct edge and a→c→b 2-hop: minimum 1)
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |create (c:P {x: 3, nm: "gamma"})
        |match (p1:P {x: 1}), (p2:P {x: 2}), (p3:P {x: 3})
        |create (p1) -[:s]-> (p2)
        |create (p1) -[:s]-> (p3)
        |create (p3) -[:s]-> (p2)
        |match (u:P {x: 1})
        |match (u) -[:s*1..3 as d]-> (w:P)
        |where d.hops >= 1
        |return u, w, d
        |""".stripMargin,
      // bound→bound shortest path (the bound-both inner join), with
      // the zero-length identity minimum (hops 0 beats the 1..2 routes)
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |match (p1:P {x: 1}), (p2:P {x: 2})
        |create (p1) -[:s]-> (p2)
        |match (u:P), (v:P)
        |match (u) -[:s*0..2 as d]-> (v)
        |return u, v, d
        |""".stripMargin,
      // round 9: with — grouped aggregate, filter on the scalar, keep
      // matching; the scalar survives into the final table
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |create (q1:Q {y: 5})
        |create (q2:Q {y: 6})
        |match (p:P), (q:Q)
        |create (p) -[:r]-> (q)
        |match (p2:P) -[:r]-> (q3:Q)
        |with p2, count(q3) as c
        |where c.val >= 2
        |match (p2) -[:r]-> (q4:Q)
        |return p2, c, q4
        |""".stripMargin,
      // round 9: with — re-alias keeps the node binding (set through the
      // alias mutates the same node), old names unbind, attr scalar item
      """create (a:P {x: 7, nm: "alpha"})
        |create (b:P {x: 9, nm: "beta"})
        |match (p:P)
        |with p as m, p.x as w
        |where w.val > 8
        |set m.x = (w.val * 2)
        |return m, w
        |""".stripMargin,
      // round 9: with order+limit mid-query (total order via all items)
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |create (c:P {x: 3, nm: "gamma"})
        |match (p:P)
        |with p, p.x as w order by p.x desc, p limit 2
        |return p, w
        |""".stripMargin,
      // round 9: with distinct collapses duplicate rows mid-query
      """create (a:P {x: 1, nm: "alpha"})
        |create (q1:Q {y: 5})
        |create (q2:Q {y: 6})
        |match (p:P), (q:Q)
        |create (p) -[:r]-> (q)
        |match (p2:P) -[:r]-> (q3:Q)
        |with distinct p2
        |return p2
        |""".stripMargin,
      // round 9: reverse hops — edge + varpath written backward are the
      // same IR; fresh decl on the rest side of a reverse varpath binds
      // the path SOURCE (backward seeded expansion)
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |create (q1:Q {y: 5})
        |match (p1:P {x: 1}), (p2:P {x: 2}), (q:Q)
        |create (q) <-[:r]- (p1)
        |create (p1) -[:s]-> (p2)
        |match (q2:Q) <-[:r]- (w:P)
        |match (p2) <-[:s*1..2 as d]- (src:P)
        |return q2, w, src, d
        |""".stripMargin,
      // round 9: undirected hops — fixed hop from BOTH sides (fwd-only
      // and rev-only orientations of an undirected RMatchEdge), the fused
      // undirected hop (fresh decl), and the undirected varpath incl. the
      // a-b-a walk self-pair and the distance binding over the
      // symmetrized closure
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |create (q1:Q {y: 5})
        |match (p1:P {x: 1}), (p2:P {x: 2}), (q:Q)
        |create (p1) -[:r]-> (q)
        |create (p1) -[:s]-> (p2)
        |match (q2:Q) -[:r]- (w:P)
        |match (w2:P) -[:r]- (q)
        |match (p2) -[:s*1..2 as d]- (other:P)
        |return q2, w, w2, other, d
        |""".stripMargin,
      // round 9: `skip` pages a fully-ordered with — rows 2.. of the
      // 3-row P table survive, and the continuation matches against
      // exactly that page
      """create (a:P {x: 3, nm: "alpha"})
        |create (b:P {x: 1, nm: "beta"})
        |create (c:P {x: 2, nm: "alpha"})
        |match (p:P)
        |with p, p.x as w order by p.x, p skip 1 limit 2
        |return p, w
        |""".stripMargin,
      // round 10: unwind — expression elements per row, duplicates
      // preserved, scalar alias in where AND as a with-group key, and
      // an unwind over the unit table (no prior match)
      """create (a:P {x: 2, nm: "alpha"})
        |create (b:P {x: 5, nm: "beta"})
        |match (p:P)
        |unwind [p.x, (p.x + 1), 2] as k
        |where k.val >= 2
        |with k, count(p) as c
        |return k, c
        |""".stripMargin,
      """unwind [4, 4, 1] as k
        |where k.val > 2
        |return k
        |""".stripMargin,
      // round 10: typed edge properties — per-row create map, set-
      // semantics no-op on re-create, rel-binding read/set/delete
      """create (a:P {x: 4, nm: "alpha"})
        |create (b:Q {y: 7})
        |create (c:Q {y: 8})
        |match (p:P), (q:Q)
        |create (p) -[:r {w: p.x + q.y}]-> (q)
        |create (p) -[:r {w: 999}]-> (q)
        |match (p2:P) -[x:r]-> (q2:Q)
        |where x.w >= 12
        |set x.w = x.w * 2
        |match (p3:P) -[x2:r]-> (q3:Q)
        |where x2.w < 23
        |delete x2
        |return p3, q3
        |""".stripMargin,
      // round 10: edge props inside a pattern predicate (witness-local
      // rel binding via the inline map) + reverse-form create with props
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |create (q1:Q {y: 5})
        |match (p1:P {x: 1}), (q:Q)
        |create (q) <-[:r {w: 30}]- (p1)
        |match (u:P)
        |where exists (u) -[:r {w: 30}]-> (v:Q)
        |return u
        |""".stripMargin,
      // round 10: [:s|s2] alternation — a pair connected by BOTH types
      // yields ONE row (fused + bound-bound + undirected forms)
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |create (c:P {x: 3, nm: "gamma"})
        |match (p1:P {x: 1}), (p2:P {x: 2}), (p3:P {x: 3})
        |create (p1) -[:s]-> (p2)
        |create (p1) -[:s2]-> (p2)
        |create (p2) -[:s2]-> (p3)
        |match (u:P) -[:s|s2]-> (v:P)
        |match (u2:P)
        |match (u2) -[:s|s2]- (v)
        |return u, v, u2
        |""".stripMargin,
      // round 10: string predicates / functions / case — every new
      // expression form on both engines, incl. trim of a padded
      // literal, size as an int atom, and a case-driven conditional set
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |create (c:P {x: 3, nm: " padded "})
        |match (u:P)
        |where u.nm starts with "a" or u.nm ends with "ta"
        |   or trim(u.nm) = "padded" and size(u.nm) > 6
        |set u.x = case when upper(u.nm) contains "ALP" then u.x * 10
        |               when size(trim(u.nm)) = 6 then 66
        |               else u.x + 100 end
        |set u.nm = lower(upper(trim(u.nm)))
        |match (w:P)
        |where w.nm contains ""
        |return w
        |""".stripMargin,
      // round 10 continued: concat + substring edge rules (pos 0 acts
      // like 1; negative pos counts from the end with the END computed
      // from the UNCLAMPED start; len 0 empty) + replace (empty find =
      // no-op) — pinned against the real Spark functions
      """create (a:P {x: 1, nm: "alpha"})
        |match (u:P)
        |set u.nm = (substring(u.nm, 0, 3) + substring(u.nm, 0 - 2, 2))
        |match (v:P)
        |where replace(v.nm, "", "ZZ") = v.nm
        |   and substring(v.nm, 0 - 9, 2) = ""
        |   and substring(v.nm, 2, 0) = ""
        |set v.nm = replace((v.nm + "ha"), "haha", "HA")
        |return v
        |""".stripMargin,
      // round 10: remove — final graph state carries the unset attr on
      // exactly the filtered nodes / bound edges (engine NULL column ≡
      // interpreter's missing key in runCompare); no later reads, so
      // strict mode never fires
      """create (a:P {x: 1, nm: "alpha"})
        |create (b:P {x: 2, nm: "beta"})
        |create (c:Q {y: 3})
        |match (p1:P {x: 1})
        |match (q1:Q)
        |create (p1) -[:r {w: 5}]-> (q1)
        |match (u:P)
        |where u.x = 2
        |remove u.nm
        |match (s1:P), (t1:Q)
        |match (s1) -[e:r]-> (t1)
        |remove e.w
        |return s1, t1
        |""".stripMargin)
    progs.foreach(p => runBoth(header + p))
  }
}
