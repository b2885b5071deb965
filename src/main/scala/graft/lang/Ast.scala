package graft.lang

/** MiniGQL source AST.
  *
  * Semantics follow the reference implementation
  * (/root/reference/graphDB/lib/lang.ml:29-83): a typed, Cypher-inspired
  * graph query language over a schema-declared property graph. Values are
  * bool / int / string only; attributes live on nodes, never on edges.
  */
sealed trait Value extends Product with Serializable
final case class BoolV(b: Boolean) extends Value
final case class IntV(i: Long) extends Value
final case class StringV(s: String) extends Value

sealed trait AttribTp extends Product with Serializable
case object BoolT extends AttribTp
case object IntT extends AttribTp
case object StringT extends AttribTp
/** List of one scalar element type (round 11 — the value type behind
  * Cypher's collect()/UNWIND roundtrip). Expression-level only: node
  * and edge attribute DECLARATIONS stay scalar (the parser's type
  * grammar has no list syntax), and `collect` rejects list arguments,
  * so lists never nest and never reach storage. */
final case class ListT(elem: AttribTp) extends AttribTp

sealed trait BinOp extends Product with Serializable
// arithmetic (int × int → int)
case object BAadd extends BinOp
case object BAsub extends BinOp
case object BAmul extends BinOp
case object BAdiv extends BinOp
case object BAmod extends BinOp
// comparison (= / <> polymorphic; ordering int-only at runtime,
// reference sem.ml:168-173)
case object BCeq extends BinOp
case object BCge extends BinOp
case object BCgt extends BinOp
case object BCle extends BinOp
case object BClt extends BinOp
case object BCne extends BinOp
// logic (bool × bool → bool). The reference evaluates both operands
// before dispatch (sem.ml:174-175); compiled SQL AND/OR may short-circuit
// per row and Catalyst may reorder conjuncts — an accepted deviation,
// observable only through error effects of the skipped operand (strict-mode
// unset-attribute raise, ANSI div-by-zero). Documented in Engine's scaladoc.
case object BLand extends BinOp
case object BLor extends BinOp
// string predicates (string × string → bool; engine extension — Cypher's
// STARTS WITH / ENDS WITH / CONTAINS, parsed at comparison precedence)
case object BSstarts extends BinOp
case object BSends extends BinOp
case object BScontains extends BinOp
/** `s =~ pat` (Cypher's regex operator, comparison precedence): true iff
  * `s` CONTAINS a match of `pat` (find semantics — anchor with ^...$ for
  * full match). Dialect pin: the engine compiles to Spark's codegen'd
  * RLIKE (java.util.regex); the DuckDB oracle uses regexp_matches (RE2).
  * Programs must stay inside the shared dialect subset — literals,
  * classes, anchors, quantifiers, alternation — and avoid backrefs or
  * lookaround (Java-only) so both engines agree. The lexer already bans
  * `\` in string literals, which rules out the escape-class divergences
  * (\d \w \b \Q…) wholesale. */
case object BSregex extends BinOp

/** Unary string functions (engine extension; Cypher's
  * toLower/toUpper/trim/size over the string value type). `size` is
  * string → int (character count); the rest are string → string. */
sealed trait UnOp extends Product with Serializable
case object USlower extends UnOp
case object USupper extends UnOp
case object UStrim extends UnOp
case object USsize extends UnOp
/** `toString(e)` — any value to its string rendering (ints in decimal,
  * bools as `true`/`false`, strings unchanged); Cypher's toString,
  * identical in Spark CAST AS STRING and DuckDB CAST AS VARCHAR for
  * this value domain. */
case object UStoStr extends UnOp
/** Prefix `not e` — boolean negation (round 11; Cypher precedence:
  * looser than comparison, tighter than `and`, so `not a.x > 1` negates
  * the comparison). Contextual: `not` at OPERAND position followed by
  * anything but `.` (a variable named not keeps `not.f` working); the
  * clause-level `not exists <pattern>` form wins at clause position. */
case object ULnot extends UnOp
/** `abs(e)` / `sign(e)` — integer magnitude and signum (round 11).
  * The lexer has no negative literals (`0 - 1` spells −1), so abs is
  * the idiomatic way distance-like expressions (`abs(a.x - b.x)`)
  * stay non-negative. Int-only, like the rest of the arithmetic
  * tier; abs(Long.MinValue) RAISES under the session's ANSI mode
  * (arithmetic overflow — the strict-engine rule, like div-by-zero). */
case object UIabs extends UnOp
case object UIsign extends UnOp
/** `toInteger(s)` — string to int (round 11; Cypher's toInteger,
  * strict flavor): parses an optionally-signed decimal integer; a
  * non-numeric string RAISES under ANSI (Cypher's null has no home
  * here — same strict-engine rule as div-by-zero and OOB indexing).
  * The other half of the tokenization story: `toInteger(split(s,
  * "_")[1])` recovers numbers from structured strings; inverse of
  * `toString` on the int domain. */
case object UStoInt extends UnOp

sealed trait Expr extends Product with Serializable
final case class Const(v: Value) extends Expr
/** `$name` — a query parameter (round 12; Cypher's `$param`): a typed
  * constant supplied at compile time via `Typing.compile(src, params)`
  * (CLI `--param name=value`). Substitution happens on the normalized
  * instruction stream BEFORE typechecking, so a parameter is exactly a
  * literal of its value's type everywhere an expression is legal —
  * including `call` procedure arguments — and a mistyped parameter
  * fails with the ordinary typing error for that position. A `$name`
  * with no supplied value is a compile error (never a runtime NULL):
  * programmatic callers get the missing-parameter list up front. */
final case class Param(name: String) extends Expr
/** `v.f` — attribute access on the node bound to variable `v`. */
final case class AttribAcc(v: String, field: String) extends Expr
final case class Bin(op: BinOp, l: Expr, r: Expr) extends Expr
/** `lower(e)` / `upper(e)` / `trim(e)` / `size(e)` — contextual call
  * shapes like `null(v)`: a variable named lower still works. */
final case class Un(op: UnOp, e: Expr) extends Expr
/** `length(p)` / `nodes(p)` over a named-path binding (round 12; see
  * [[VarPattern.pathVar]]): `nodes(p)` is the canonical witness's
  * node-id list (`%list%int`-typed — composes with size/indexing/
  * unwind/in), `length(p)` its hop count (`size(nodes(p)) - 1`). Both
  * are contextual call shapes like `id(v)`; typing desugars them onto
  * the existing list machinery, so no new executor surface exists. */
final case class LengthFn(v: String) extends Expr
final case class NodesFn(v: String) extends Expr
/** `relationships(p)` (round 13): the named path's hop-LABEL list, in
  * pattern order — a `%list%string` value (composes with size/indexing/
  * unwind/in like any string list). Typing desugars it onto the hidden
  * companion binding `%rels_<p>` the executor materializes alongside
  * every named-path witness (per segment: the relation label repeated
  * hop-count times; multi-segment paths concatenate). */
final case class RelsFn(v: String) extends Expr
/** `substring(s, pos, len)` — SQL 1-based position (Spark/DuckDB
  * convention, a documented deviation from Cypher's 0-based
  * `substring`); out-of-range positions clamp, non-positive lengths
  * yield the empty string. Contextual call shape. */
final case class Substr(s: Expr, pos: Expr, len: Expr) extends Expr
/** `replace(s, find, repl)` — replace ALL non-overlapping literal
  * occurrences; an empty `find` leaves the string unchanged (Spark's
  * StringReplace rule). Contextual call shape. */
final case class Replace(s: Expr, find: Expr, repl: Expr) extends Expr
/** Searched `case when c1 then e1 … else e end` (engine extension —
  * Cypher/SQL's conditional). The `else` is MANDATORY: MiniGQL values
  * have no NULL, so Cypher's implicit null default has no counterpart
  * (a deliberate, typed deviation). Branch types must agree; only the
  * taken branch's effects (strict unset-attr raise, ANSI div-by-zero)
  * can fire — SQL CASE short-circuits, consistent with the documented
  * AND/OR deviation from the reference's evaluate-both order. */
final case class CaseExpr(whens: List[(Expr, Expr)], otherwise: Expr) extends Expr
/** `null(v)` — true iff `v`'s binding is NULL on this row (engine
  * extension; only an `optional match` target can be NULL). Composes
  * with equality for negation: `null(m) = false`. */
final case class NullCheck(v: String) extends Expr
/** `e in [e1, …, en]` / `e not in [e1, …, en]` — list membership at
  * comparison precedence (Cypher's IN over the same inline-list
  * constructor `unwind` uses; MiniGQL has no list values, so the
  * bracket literal IS the list). Elements are full expressions
  * evaluated per row; the empty list is rejected like unwind's.
  * Contextual: only `in`/`not in` followed by `[` in operator
  * position is special — variables named in/not stay legal. */
final case class InList(e: Expr, items: List[Expr], neg: Boolean) extends Expr
/** `id(v)` — the node id of the binding as an int (Cypher's id();
  * round 11). Ids are engine-assigned (loader bases / dense create
  * counters) but DETERMINISTIC, so they are legitimately queryable —
  * interop code keys caches and external joins on them. Node bindings
  * only (a rel binding has no id; scalars are values already).
  * Contextual call shape like `null(v)`. */
final case class IdFn(v: String) extends Expr
/** `label(v)` / `type(x)` — the node binding's label / the rel
  * binding's relation name as a string (round 11; Cypher's labels()/
  * type() specialized to this engine's single-label model). Labels are
  * STATIC here — the typechecker resolved them — so both compile to
  * string constants: zero runtime cost, and they exist purely for
  * interop (generic result-shaping code that tags rows by provenance).
  * label takes a node binding, type a rel binding; each rejects the
  * other. Contextual call shapes like `id(v)`. */
final case class LabelFn(v: String) extends Expr
final case class TypeFn(v: String) extends Expr
/** `range(a, b)` — the inclusive int list a..b (Cypher's range/2;
  * round 11). Empty when a > b (Cypher's rule — Spark's sequence would
  * DESCEND there, so the compiler guards the direction explicitly).
  * Contextual call shape. The workhorse list constructor for
  * `unwind range(1, n) as i` row generation. */
final case class RangeE(lo: Expr, hi: Expr) extends Expr
/** `e in xs` / `e not in xs` over a LIST EXPRESSION (round 11 — the
  * general membership test completing [[InList]]'s literal form):
  * `n.x in ks.val`, `i in range(1, 5)`. Same precedence tier. */
final case class InListE(e: Expr, list: Expr, neg: Boolean) extends Expr
/** `e[i]` — 0-based list element access (Cypher's convention; round
  * 11). The operand must be list-typed (a with-bound collect read via
  * `xs.val`); an out-of-range index RAISES (ANSI array access — the
  * strict-engine flavor of Cypher's null), pinned in tests. Postfix,
  * binds tighter than any operator. */
final case class IndexAcc(e: Expr, i: Expr) extends Expr
/** `coalesce(e1, …, en)` — first non-NULL argument (Cypher/SQL).
  * MiniGQL values themselves have no NULL: NULL enters only through
  * binding-NULL semantics (an unmatched `optional match` target's
  * guarded attribute read, a NULL `with`-scalar), so coalesce is the
  * recovery point for those — an UNSET attribute on a present binding
  * still raises under strict mode (it is an error, not a NULL).
  * Contextual call shape; ≥2 arguments. */
final case class Coalesce(items: List[Expr]) extends Expr
/** `any/all/none/single(x in <list> where p)` — Cypher's list
  * predicates (round 11). `x` binds a fresh SCALAR variable over the
  * list's elements, read as `x.val` inside `p` like every other
  * scalar binding (the unwind convention); shadowing an existing
  * binding is rejected. Compiles to Spark's codegen'd higher-order
  * functions (exists/forall/filter) — per-row, no joins, no shuffles.
  * `kind` ∈ any | all | none | single. Vacuous truth follows Cypher:
  * `all` over the empty list is true, `any`/`single` false. */
final case class ListPred(kind: String, v: String, list: Expr, pred: Expr) extends Expr
/** `[x in <list> where p | e]` — Cypher's list comprehension (round
  * 11); `where` and the `|` mapping arm are each optional (both absent
  * = identity copy). The RESULT is re-sorted ascending — MiniGQL list
  * values are canonically sorted (the collect() rule: a pure function
  * of the element bag), so a non-monotonic mapping cannot leak
  * engine-dependent order. The mapped element must be scalar (no
  * nested lists, same rule as collect). */
final case class ListComp(v: String, list: Expr, pred: Option[Expr], map: Option[Expr]) extends Expr
/** `reduce(acc = init, x in <list> | e)` — Cypher's left fold (round
  * 11). Folds over the list's canonical ASCENDING order (lists are
  * sorted values here), so the result is deterministic even for
  * non-commutative bodies. `acc`/`x` bind fresh scalar variables read
  * as `.val`; init (and hence the fold) must be scalar-typed. */
final case class ReduceE(acc: String, init: Expr, v: String, list: Expr, body: Expr) extends Expr
/** `split(s, sep)` — s split on the LITERAL separator sep into a
  * string list (round 11; Cypher's split). The result keeps TOKEN
  * ORDER — a split list is a pure function of the string, so it is
  * deterministic without collect's canonical re-sort (the ascending
  * rule exists to canonicalize BAGS; split has an inherent order).
  * Both engines keep leading/trailing/interior empty tokens
  * (`split(",a,", ",")` = ["", "a", ""]). An EMPTY separator RAISES
  * (strict-engine rule: Spark and DuckDB disagree on that edge, so it
  * is banned rather than silently divergent). The workhorse for
  * in-language tokenization: `unwind split(n.name, "_") as part`. */
final case class SplitFn(s: Expr, sep: Expr) extends Expr
/** `xs.val[lo..hi]` — list slice (round 11; Cypher's convention):
  * 0-based, lo inclusive, hi EXCLUSIVE, both bounds CLAMPED to the
  * list (so out-of-range never raises, unlike single-element
  * indexing's ANSI raise — a slice is a set carve, not an element
  * dereference; empty when lo >= hi after clamping). Negative bounds
  * clamp to 0 (Cypher's from-the-end negatives are not supported —
  * documented deviation; `size(xs.val) - k` spells them). */
final case class SliceAcc(e: Expr, lo: Expr, hi: Expr) extends Expr
/** `count { <pattern> [where e] }` — Cypher's COUNT subquery
  * expression (round 15): the number of expansions of the pattern,
  * per row. PARSE-TIME SUGAR: the clause assembler hoists each
  * occurrence into a hidden `call { }` subquery returning
  * `count(...) as %csN` immediately before the consuming clause, and
  * the expression becomes the scalar read `%csN.val` — so typing, the
  * engine, and the plan are exactly the call-subquery ones (keyed
  * aggregate, zero-match rows pad 0). Imports are the pattern's BARE
  * (label-less) variables — Cypher's rule that unlabeled names refer
  * to the outer row; label the variables you mean to be fresh. The
  * node only survives to typing when written somewhere the sugar
  * doesn't reach (inside a call { } body or a pattern property map),
  * where it is rejected with a pointer. `exists { … }` parses as
  * `count { … } > 0`. */
final case class CountPat(pat: Pattern, filter: Option[Expr]) extends Expr
/** `[ <pattern> [where e] | <expr> ]` — Cypher's pattern comprehension
  * (round 15 v2): the list of `<expr>` values over the pattern's
  * expansions, per row. Same parse-time sugar as [[CountPat]]: a
  * hidden `call { }` subquery returns `collect(<expr>) as %csN` and
  * the expression becomes the list read `%csN.val` (the map expression
  * types INSIDE the subquery — it sees the pattern's fresh variables
  * plus the imports). Two documented deviations, both inherited from
  * machinery the engine already pins: elements come out SORTED
  * ascending (the collect determinism rule — Cypher's match order is
  * nondeterministic anyway), and a zero-match row binds the list to
  * NULL with the usual with-scalar binding-NULL semantics (Cypher's
  * `[]`; guard with `null(xs)` or a size predicate). */
final case class PatComp(pat: Pattern, filter: Option[Expr], map: Expr) extends Expr

/** Node patterns: `(v: L)` declares-and-binds, `(v)` references an
  * existing binding (reference lang.ml:47-50). */
sealed trait NodePattern extends Product with Serializable {
  def variable: String
}
/** `(v: L)` or `(v: L {f: e, …})` — the optional inline property map
  * (engine extension, Cypher-shaped) is pure sugar: on `create` it
  * desugars to `set v.f = e` instructions, on `match` to
  * `where v.f = e` conjuncts, both appended after the clause's pattern
  * instructions (see Normalize), so the typed machinery is reused
  * unchanged and every reference-legal program parses as before.
  *
  * Deliberate deviation from Cypher: because match-props desugar to the
  * language's own `where`, they inherit ITS unset-attribute semantics —
  * under strict mode (reference parity, sem.ml:148-158) matching
  * `{f: e}` against a node whose `f` is unset RAISES, exactly as the
  * explicit `where v.f = e` would; Cypher would treat it as a
  * non-match. Non-strict mode (what the parquet-graph ops and CLI
  * g-mode use) gives the Cypher behavior: NULL ≠ e, row drops. */
final case class DeclPattern(variable: String, label: String,
    props: List[(String, Expr)] = Nil) extends NodePattern
final case class VarRefPattern(variable: String) extends NodePattern

/** Sentinel relation name of an any-relation hop `-[]->` (round 14 —
  * Cypher's untyped relationship): the empty string can never lex as an
  * identifier, so no declared relation collides. Typing resolves it to
  * the union of the declared triples between the endpoint labels. */
object AnyRel {
  val name = ""
  def apply(): String = name
  def unapply(s: String): Boolean = s == name
}

/** Sentinel label of an unlabeled-with-props node pattern `(n {x: 1})`
  * (round 14): like [[AnyRel]], the empty string can never lex, so no
  * declared label collides. Normalization treats it as the bare-node
  * form (any-label scan / inference); its props desugar to where
  * conjuncts that type after inference binds the real label. */
object AnyNodeLabel {
  val name = ""
  def apply(): String = name
  def unapply(s: String): Boolean = s == name
}


/** Right-nested path pattern `(a:A)-[:r]->(b:B)-[:s]->(c)`
  * (reference lang.ml:52-55, parser.mly:50-52). */
sealed trait Pattern extends Product with Serializable
final case class SimpPattern(np: NodePattern) extends Pattern
/** Hop direction (engine extension; the reference grammar admits only
  * `->`, parser.mly:50-56). [[Rev]] — `(a)<-[:r]-(b)` — runs the edge
  * FROM the rest-side node TO this pattern's head: desugaring emits the
  * relation instruction with swapped endpoints and everything downstream
  * (typing, the engine's fused hop join, the seeded varpath) is reused
  * unchanged. [[Undir]] — `(a)-[:r]-(b)` — matches the edge in EITHER
  * direction (Cypher's undirected relationship): match-only (direction
  * is storage, so create/merge reject it in typing), evaluated over the
  * union of the declared orientations. Directions mix freely along one
  * path: `(a)<-[:r]-(b)-[:s]->(c)-[:t]-(d)`. */
sealed trait Dir extends Product with Serializable
case object Fwd extends Dir
case object Rev extends Dir
case object Undir extends Dir
/** `relVar`/`relProps` (round-10 extension — typed edge properties; the
  * reference PDF explicitly excludes attributes on edges, "mais pas aux
  * arcs"): `(a)-[x:r]->(b)` binds `x` to the matched edge so `x.f`
  * reads / `set x.f` writes / `delete x` removes it (match-only —
  * typing rejects rel variables on create/undirected hops), and
  * `-[:r {f: e, …}]->` attaches an inline property map — on `create`
  * the new edge's attribute values (evaluated per row), on `match`
  * equality conjuncts on an auto-bound rel variable. An edge has no id:
  * its identity IS the (src, dst) pair within its relation type, so a
  * rel binding occupies no new binding column — it aliases the two
  * endpoint columns — and cannot be returned or grouped directly (only
  * its attributes can). */
/** `relAlts` (round-10 continued — Cypher's `[:a|b]` alternation): the
  * hop matches when ANY of `rel :: relAlts` connects the endpoints.
  * Match-only, per-PAIR existence semantics (a pair connected by
  * several of the listed types yields ONE row, consistent with the
  * engine's cross+semi pair semantics and the undirected reciprocal
  * dedup); rel variables and property maps are rejected on alternation
  * hops (which type's attrs would they refer to?). */
final case class CompPattern(np: NodePattern, rel: String, rest: Pattern,
    dir: Dir = Fwd, relVar: Option[String] = None,
    relProps: List[(String, Expr)] = Nil,
    relAlts: List[String] = Nil) extends Pattern
/** Variable-length hop `(a)-[:r*lo..hi]->(b)` (engine extension; match
  * only): b is reachable from a via lo..hi consecutive `r` edges. The
  * relation must be label-homogeneous — exactly one declared `r` triple
  * and its source label equals its target label — so every hop of the
  * closure is well-typed.
  *
  * `dist` is the optional shortest-path distance binding
  * `-[:r*lo..hi as d]->` (Cypher's `shortestPath` + `length(p)`,
  * re-expressed without path values): `d` binds, per (a,b) row, the
  * MINIMAL number of hops among the lo..hi-length paths — a virtual
  * binding of pseudo-label [[graft.lang.Typing.PathLabel]] whose single
  * int attribute `d.hops` flows through the existing typed expression
  * machinery (`where d.hops = 2`, `return d.hops`, aggregates).
  *
  * `pathVar` is the optional NAMED-PATH binding `match p = (a)
  * -[:r*lo..hi]-> (b)` (round 12 — Cypher's path values, re-expressed
  * over the engine's reachability semantics): `p` binds, per (a,b) row,
  * ONE CANONICAL WITNESS — the lexicographically smallest node-id
  * sequence among the MINIMAL-hop paths — as a `%pathval` virtual
  * binding whose value is the node-id list. `nodes(p)` reads the list,
  * `length(p)` = size - 1 = the hop count (≡ the `as d` binding), and
  * `p.val` exposes the list to the round-11 machinery (unwind,
  * indexing, size, `in`). Row multiplicity is UNCHANGED — this is the
  * documented canonical-witness deviation from Cypher's one-row-per-
  * path enumeration; determinism makes it oracle-checkable. The list
  * runs along the STORAGE edge direction (for `<-[:r*..]-` it starts
  * at the pattern's right endpoint; for undirected hops, at the left
  * seed). Canonicality survives the per-level pruning by
  * prefix-optimality: the lex-min k-hop path's (k-1)-hop prefix is
  * itself lex-min for its endpoint pair. */
final case class VarPattern(np: NodePattern, rel: String, lo: Int, hi: Int, rest: Pattern,
    dist: Option[String] = None, dir: Dir = Fwd,
    pathVar: Option[String] = None, allPaths: Boolean = false) extends Pattern

/** A GENERAL named path `p = (a)-[:r]->(b)-[:s*1..2]->(c)` (round 13 —
  * the fixed-hop / multi-segment forms round 12's single-trailing-
  * varpath restriction rejected). The parser validates the chain (pure
  * `[:r]` / `[:r*lo..hi]` hops only — rel variables, property maps and
  * alternation have no single witness to ride) and wraps it; Normalize
  * desugars BEFORE pattern normalization: each hop becomes a witness-
  * carrying var-path segment (fixed hops are the lo = hi = 1 case of
  * the existing machinery) bound to a hidden `%`-name, and one
  * [[INamedPath]] instruction binds `p` to the segments' concatenation
  * in PATTERN order (reverse hops flip their storage-ordered witness).
  * A single forward/undirected trailing varpath keeps the round-12
  * direct binding — identical plan, no concat step. */
final case class NamedPattern(name: String, pat: Pattern) extends Pattern

sealed trait DeletePattern extends Product with Serializable
final case class DeleteNodes(vs: List[String]) extends DeletePattern
final case class DeleteRels(rels: List[(String, String, String)]) extends DeletePattern

/** Extended-return items (engine extension; the reference's `return` is
  * variables-only, lang.ml:73). `RetVar` projects the node id, `RetAttr`
  * the attribute value, `RetAgg` aggregates — `count(v)`, `count(v.f)`
  * (non-null), `sum/min/max(v.f)` (int attributes only, matching the
  * language's int-only ordering). */
sealed trait AggFn extends Product with Serializable { def name: String }
case object AggCount extends AggFn { val name = "count" }
case object AggSum extends AggFn { val name = "sum" }
case object AggMin extends AggFn { val name = "min" }
case object AggMax extends AggFn { val name = "max" }
/** Integer average: `sum div count` with the language's truncating
  * division (the reference has no floats; Cypher's float avg would be
  * untypable here) — documented deviation, exact in both engines. */
case object AggAvg extends AggFn { val name = "avg" }
/** `strjoin(e)` / `strjoin(distinct e)` — the group's string values
  * concatenated in ASCENDING order, comma-separated (round 11 — the
  * deterministic stand-in for Cypher's collect(): MiniGQL has no list
  * values, and the sort makes the result independent of row order,
  * partitioning, and engine, so it oracle-checks bit-exactly). */
case object AggStrJoin extends AggFn { val name = "strjoin" }
/** `collect(e)` / `collect(distinct e)` — the group's values as a list,
  * SORTED ASCENDING (round 11; documented deviation from Cypher's
  * row-order list: the sort makes the value a pure function of the
  * group's bag, so partitioning and merge order can't perturb it —
  * the list-valued twin of [[AggStrJoin]]). Scalar arguments only. */
case object AggCollect extends AggFn { val name = "collect" }
/** `median(e)` / `median(distinct e)` — the LOW median: element
  * `(n-1) div 2` of the group's ascending-sorted values (round 11).
  * Int-only; exact and deterministic (no interpolation — MiniGQL has
  * no floats, and the low-median convention makes even-sized groups
  * unambiguous), so it oracle-checks bit-exactly. Unlike sum/avg it
  * has no map-side partial form — the full group's values gather at
  * the merge (the exact-median cost; production approximates with a
  * quantile sketch when that gather is too wide — `p_events_
  * quantiles_approx` is that operator). */
case object AggMedian extends AggFn { val name = "median" }

sealed trait RetItem extends Product with Serializable
final case class RetVar(v: String) extends RetItem
final case class RetAttr(v: String, field: String) extends RetItem
/** A full expression as a projection item (round 10 continued —
  * Cypher's `WITH expr AS x`): legal in `with` (where the alias
  * machinery names it — an alias is mandatory) and as an `order by`
  * key; a plain `return` REJECTS it in typing (return items have no
  * alias syntax — project through `with <expr> as x` first). Also the
  * argument form of aggregates over expressions (`sum(x.f * 2)`,
  * `count(case … end)`). */
final case class RetExpr(e: Expr) extends RetItem
/** `distinct` aggregates over the argument's distinct values —
  * `count(distinct v)` / `sum(distinct v.f)`; a no-op for min/max. */
final case class RetAgg(fn: AggFn, arg: RetItem,
    distinct: Boolean = false) extends RetItem // arg: RetVar | RetAttr | RetExpr

sealed trait Clause extends Product with Serializable
final case class Create(pats: List[Pattern]) extends Clause
/** `remove v.f, …` (round 10 continued — Cypher's attribute REMOVE):
  * unset the attribute on every node (or, through a rel binding, edge)
  * bound to `v` — the value becomes NULL, exactly the state of a
  * never-set attribute: strict mode raises on a later read, non-strict
  * predicates treat it as a non-match. Contextual keyword. */
final case class RemoveClause(targets: List[(String, String)]) extends Clause
final case class Match(pats: List[Pattern]) extends Clause
final case class Delete(dp: DeletePattern) extends Clause
final case class SetClause(assigns: List[(String, String, Expr)]) extends Clause
final case class Where(e: Expr) extends Clause
final case class Return(vs: List[String]) extends Clause
/** `return <items> [order by <key> [desc], …] [skip s] [limit n]` — the
  * extended form; parsed only when an item is non-variable or
  * order/skip/limit appears, so reference-shaped programs take the
  * [[Return]] path unchanged. If any item aggregates, the plain items
  * become the grouping keys. `skip` (Cypher's OFFSET) drops the first s
  * rows AFTER ordering and BEFORE limit — like limit, deterministic
  * only under an order that fully determines the page boundary. */
final case class ReturnExt(
    /** Items with their optional `as alias` output names (round 10
      * continued — Cypher's `RETURN expr AS x`): an alias renames any
      * item's output column; expression items REQUIRE one (no derivable
      * name); an aliased plain variable also re-binds under the alias
      * for any later clause, mirroring `with`. */
    items: List[(RetItem, Option[String])],
    order: List[(RetItem, Boolean)], // (key, ascending)
    /** Page bounds: an integer literal or a `$param` (round 14) — the
      * parser admits only [[Const]]/[[Param]] here; substitution turns
      * the param into the same foldable constant a literal gives. */
    skip: Option[Expr],
    limit: Option[Expr],
    /** `return distinct <items>` — row-level dedup of the projected
      * output (rejected when an item aggregates: grouped rows are
      * already distinct; use `count(distinct …)` instead). */
    distinct: Boolean = false) extends Clause
/** `with <item> [as <alias>], … [order by …] [limit n]` (engine
  * extension — Cypher's mid-query pipeline composition; the reference
  * has no aggregation at all, lang.ml:62-69). Projects / aggregates the
  * binding table EXACTLY like [[ReturnExt]] — same grouping rule (plain
  * items are the keys when any item aggregates), same order/limit/
  * distinct machinery — but the query CONTINUES: later clauses see only
  * the `with` items, each re-bound under its alias.
  *
  *   - a plain variable item stays a node binding under its own name
  *     (alias optional — aliasing re-binds the same node id);
  *   - an attribute or aggregate item REQUIRES an alias and binds a
  *     scalar pseudo-label (`%int`/`%bool`/`%string`, mirroring the
  *     `%path` distance binding) whose single attribute `val` is the
  *     value — `where cnt.val >= 5`, `return cnt.val`, aggregates over
  *     it, all through the unchanged typed expression machinery.
  * With-bound scalars have binding-NULL semantics (like optional-match
  * targets): a NULL scalar never raises under strict mode, it just
  * fails predicates. Mutation (set/delete) of a scalar binding is
  * rejected at typing. */
final case class WithClause(
    items: List[(RetItem, Option[String])],
    order: List[(RetItem, Boolean)],
    skip: Option[Expr],
    limit: Option[Expr],
    distinct: Boolean = false,
    // attached `where` sugar (round 16 — Cypher's `WITH … WHERE p`):
    // desugars to the standalone where INSTRUCTION after the
    // projection, matching Cypher's subclause order (projection →
    // order/skip/limit → filter)
    where: Option[Expr] = None) extends Clause
/** `optional match (a) -[:r]-> (b:B) [-[:s]-> (c:C) …]` (engine
  * extension): keep every existing row; bind the pattern's declared tail
  * variables to each full-path witness reachable from the head, or ALL
  * of them to NULL when no complete witness exists (Cypher's
  * all-or-nothing OPTIONAL MATCH — never a partial binding). The head
  * node may be a bound reference or a fresh declaration (which
  * match-binds it first, non-optionally). Inline property maps and
  * variable-length hops are allowed anywhere in the pattern: tail-node
  * props filter INSIDE the witness computation, so a non-matching
  * property yields NULL bindings rather than dropping the row. */
final case class OptMatch(pat: Pattern) extends Clause
/** `where not exists (a) -[:r]-> (b:B)` (engine extension): keep only
  * the rows for which NO expansion of the pattern exists. Declared
  * pattern variables are existentially quantified (they do NOT bind);
  * referenced variables must be bound. Compiles to a left_anti join —
  * the mirror of match-edge's left_semi. */
final case class NotExists(pat: Pattern) extends Clause
/** `where exists (a) -[:r]-> (b:B)` (engine extension) — the POSITIVE
  * pattern predicate (Cypher's `WHERE EXISTS { … }`): keep only the
  * rows for which SOME expansion of the pattern exists. Unlike `match`,
  * declared variables stay existential (bind nothing) and row
  * MULTIPLICITY is preserved — a row with many witnesses appears once,
  * where match-edge would multiply it per witness. Compiles to a
  * left_semi join over the same witness sub-plan as [[NotExists]]. */
final case class Exists(pat: Pattern) extends Clause
/** `unwind [e1, …, en] as x` (engine extension — Cypher's UNWIND over
  * an inline list; MiniGQL has no list values, so the literal bracket
  * form IS the list constructor). For each binding row, produce one row
  * per element with `x` bound to the element's value — the row-
  * multiplying dual of `with`'s row-collapsing aggregation. Elements
  * are full expressions (constants, attribute accesses, arithmetic)
  * that must share one type; `x` binds the matching scalar pseudo-label
  * (`%int`/`%bool`/`%string`) readable as `x.val`, exactly like a
  * with-bound scalar. The empty list (Cypher: zero rows) is rejected —
  * with no element there is no type. */
final case class Unwind(items: List[Expr], alias: String) extends Clause
/** `unwind xs as x` over a LIST BINDING (round 11 — the second half of
  * the collect()/UNWIND roundtrip): one output row per element of the
  * with-bound list, `x` bound to the element's scalar pseudo-label. */
final case class UnwindVar(v: String, alias: String) extends Clause
/** `unwind <list-expr> as x` over a general LIST EXPRESSION (round 11):
  * `unwind range(1, n.x) as i`, `unwind xs.val as x`. One row per
  * element; the Cypher row-generation workhorse. */
final case class UnwindExpr(e: Expr, alias: String) extends Clause
/** `call <proc>() yield a, b, …` — the procedure bridge (round 11;
  * Neo4j's CALL, GDS-style): runs a whole-graph analytics procedure
  * from the library against the CURRENT graph state and joins its
  * result table into the bindings (per-row cross product, like a
  * fresh match). Yields bind fresh int scalars read as `a.val` —
  * downstream where/return/aggregation compose unchanged. Registered
  * procedures (fixed yield arity, all-int columns, deterministic):
  *   - `degree()` → (id, outdeg, indeg) over every relation type;
  *   - `cc()` → (id, comp), comp = the component's minimum node id
  *     (delta min-label propagation — the same fixed point as the
  *     analytics library's deltaCC).
  * Read-only (legal in union branches); the graph is the instr-stream
  * state at the call point, so procs observe earlier mutations.
  * `args` are literal parameters — int, string, or `$param` (rounds
  * 11-12):
  *   - `bfs(src)` → (id, dist) — undirected hop distances from the
  *     node `src`, reached nodes only (the whole-graph reachability
  *     probe; src need not exist — an absent id reaches nothing);
  *   - `degree("rel")` / `cc("rel")` — the same procedures SCOPED to
  *     one declared relation type: degrees count only `rel` edges,
  *     components use only `rel` edges (every node still appears —
  *     isolated nodes are their own component / zero-degree). */
final case class CallProc(proc: String, yields: List[String],
    args: List[Expr] = Nil) extends Clause
/** `call { [with v1, v2] <match/where clauses> return items … }`
  * (round 15 — Cypher's CALL subquery): a READ-ONLY correlated subquery
  * run once per input row, with ONLY the imported variables in scope
  * inside. The output rows join back onto their input row — zero
  * subquery rows drop the row (inner-join semantics), EXCEPT when every
  * returned item aggregates, where Cypher's one-row-per-invocation rule
  * applies (count/sum pad 0, other aggregates NULL). The subquery's
  * `order by`/`skip`/`limit` page PER INVOCATION — the per-key top-k
  * no other clause can express (a global `with … limit` pages the whole
  * table). v1 scope: imports are plain node/scalar variables, inner
  * clauses are match/where only (varpaths and named paths included),
  * and the final return's items bind fresh outer names (attr/agg/expr
  * items need an alias, like `with`). */
final case class CallSub(imports: List[String], inner: List[Clause],
    ret: ReturnExt) extends Clause
/** `union` / `union all` between two complete queries (engine extension
  * — Cypher's UNION): the clause list splits at each separator into
  * BRANCHES, each a standalone query evaluated from its own empty
  * binding table against the same graph. Branch results are combined
  * as a bag (`union all`) or deduplicated (`union`). Typing enforces
  * Cypher's rules: every branch ends in a `return` with the same
  * output column names (and runtime-compatible types), the two
  * flavors cannot mix in one query, and — because branches are
  * independent reads of one graph, with no defined evaluation order —
  * every branch must be read-only (no create/delete/set/merge). */
final case class UnionSep(all: Boolean) extends Clause
/** `merge` (engine extension, Cypher-shaped upsert). Two forms, both
  * parser-enforced:
  *   - `merge (x:L {f: const, …})` — if any L-node carries exactly the
  *     given property values, bind them all (like match); otherwise
  *     create ONE node with those properties and bind it to every row.
  *     Properties must be CONSTANTS (typing rejects attribute refs):
  *     with constant props the lookup is row-independent, so Cypher's
  *     sequential created-nodes-visible-to-later-rows semantics
  *     collapses to a declarative match-or-create-one — exactly
  *     Neo4j-observable behavior for this form, with no sequential
  *     dependence to distribute.
  *   - `merge (a)-[:r]->(b)` with a, b bound — ensure the edge exists;
  *     desugars to create-edge, whose set semantics already upsert.
  * Merge matching always uses NULL-propagating equality (an unset
  *  attribute never matches), independent of strict mode.
  *
  * Node-form merge takes optional conditional actions (round 11 —
  * Cypher's ON CREATE SET / ON MATCH SET): plain set-assignments run
  * only on the branch merge actually took. Because this merge form is
  * globally match-or-create-ONE, the chosen branch applies to the whole
  * binding table — exactly Cypher-observable for constant-prop merges.
  * Each action list is (variable, field, expr) like [[SetClause]]. */
final case class Merge(pat: Pattern,
    onCreate: List[(String, String, Expr)] = Nil,
    onMatch: List[(String, String, Expr)] = Nil) extends Clause

final case class Query(clauses: List[Clause])

/** Declared graph schema: a graph of types (reference lang.ml:81).
  * Node types carry ordered attribute declarations; relation types are
  * (srcLabel, relLabel, tgtLabel) triples with no attributes. */
final case class NodeTypeDecl(label: String, attribs: List[(String, AttribTp)])
/** `(:A) -[:r {f t, …}]-> (:B)` — the optional attribute list is the
  * round-10 edge-property extension; reference-legal declarations (no
  * braces) parse unchanged. */
final case class RelTypeDecl(src: String, rel: String, tgt: String,
    attribs: List[(String, AttribTp)] = Nil)
final case class GraphTypes(nodeTypes: List[NodeTypeDecl], relTypes: List[RelTypeDecl])

final case class Prog(types: GraphTypes, query: Query)
