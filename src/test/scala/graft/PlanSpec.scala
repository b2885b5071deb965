package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the operators whose 100 TB story
  * depends on Catalyst choosing a specific strategy. A correctness hash
  * can't see these — a q_topk_global that global-sorts, a 2-hop match
  * that cartesian-products, or a dfcut whose anti-join shuffles would
  * all still return the right rows, just not at scale. Each test pins
  * the executed plan string the way `.explain("formatted")` review
  * froze it.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("correlated NOT EXISTS decorrelates to a hash anti-join (no per-row subquery)") {
    val p = plan("q_exists_correlated")
    assert(p.contains("LeftAnti"), s"expected decorrelated anti join in:\n$p")
    assert(!p.contains("InSubquery") && !p.contains("ExistenceJoin"),
      s"subquery survived decorrelation:\n$p")
  }

  test("df-cut hot-shingle filter is a broadcast anti-join (no index-scale shuffle)") {
    val p = plan("p_dedup_ngram_jaccard_dfcut")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast anti join for the df cut in:\n$p")
    // the containment production path (round 14) uses the same cut:
    // candidate generation never joins a shingle group above maxDf
    val pc = plan("p_dedup_containment_dfcut")
    assert(pc.contains("BroadcastHashJoin") && pc.contains("LeftAnti"),
      s"expected broadcast anti join for the containment df cut in:\n$pc")
  }

  test("global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q_topk_global")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
    assert(!p.lines.anyMatch(l => l.contains("Sort ") && l.contains("global=true")),
      s"unexpected global sort in:\n$p")
  }

  test("star join broadcasts the dimension sides") {
    val p = plan("q_join_star")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dims fell back to SMJ in:\n$p")
  }

  test("2-hop pattern match plans with no cartesian product") {
    // match-node × match-edge fuses into an equi-join on the bound side
    val p = plan("gql_match_2hop")
    assert(!p.contains("CartesianProduct"), s"unfused cross join in:\n$p")
  }

  test("named path keeps the varpath fusion: no cartesian, witness rides the reach join") {
    // a path-carrying varpath hop must fuse exactly like the plain one —
    // the witness array is one extra column on the reach frame, never a
    // second join or a cross product
    val p = plan("gql_named_path")
    assert(!p.contains("CartesianProduct"), s"unfused cross join in:\n$p")
  }

  test("inferred endpoints fuse like explicit labels: no cartesian") {
    // inference INSERTS the same RMatchNode an explicit label produces,
    // so the hop must fuse identically
    for (q <- Seq("gql_match_any_edge", "gql_match_any_varpath")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q lost the fusion:\n$p")
    }
  }

  test("unlabeled scan is a narrow union: no exchange, no cartesian") {
    // RMatchAnyNode = union of one-column label scans; the where filter
    // pushes through the Union into every leg — any Exchange here means
    // the any-label scan stopped being a narrow operator
    val p = plan("gql_match_any")
    assert(p.contains("Union"), s"expected a union of label scans in:\n$p")
    assert(!p.contains("Exchange"), s"unexpected shuffle in the any-label scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the any-label scan:\n$p")
  }

  test("bpe encode is one scan stage: zero exchanges") {
    // the whole encoder (spaced form + K replaces + HOF fold) is a
    // per-row projection — any Exchange here means the scan-speed claim
    // is false. (Training runs its own jobs; this pins the ENCODE op's
    // final plan only.)
    val p = plan("p_text_bpe_encode")
    assert(!p.contains("Exchange"), s"unexpected shuffle in the encode scan:\n$p")
  }

  test("undirected hop fuses too: equi-join against the orientation union") {
    // cross+semi over either orientation fuses to ONE equi-join against
    // the (deduped) union of the declared orientation frames; same
    // no-cartesian guarantee as the directed hop, for both the fixed
    // hop and the undirected varpath
    for (q <- Seq("gql_match_undir", "gql_match_undir_mixed", "gql_varpath_undir")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"unfused cross join in $q:\n$p")
    }
  }

  test("alternation hop fuses too: equi-join against the type union") {
    // cross+semi over any listed relation type fuses to
    // ONE equi-join against the pair-deduped union of the resolved
    // frames; the bound-bound form stays a semi-join (no cartesian
    // reintroduced by the union side)
    for (q <- Seq("gql_match_alt", "gql_match_alt_semi")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"unfused cross join in $q:\n$p")
    }
  }

  test("per-row repetition signals project with zero shuffle") {
    // p_text_rep_ngrams builds and dedups its n-gram arrays per row, so
    // the plan must be scan → project — any Exchange would mean the
    // "runs at parquet-read speed" 100 TB claim is false.
    val p = plan("p_text_rep_ngrams")
    assert(!p.contains("Exchange"), s"unexpected shuffle in:\n$p")
  }

  test("bucketed graph store: pattern-match joins read bucket-aligned") {
    // SURVEY §9.3(1): a RE-LOADED bucketed graph joins node scans
    // (bucketBy id) against edge frames (bucketBy src, equal bucket
    // counts) with NO join-key exchange on either side for the first
    // hop, and none on the EDGE side of later hops — only the re-keyed
    // binding table ever moves. Broadcast is disabled so the bucket
    // alignment (not a small-table fallback) is what's pinned.
    val (g, nextId) = graft.sources.GraphLoader.load(spark, dir)
    graft.sources.GraphStore.saveBucketed(g, nextId, spark, "planspec_bkt", buckets = 4)
    val (g2, _) = graft.sources.GraphStore.loadBucketed(spark, "planspec_bkt")
    val cfg = graft.engine.Engine.Config(strict = false)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hdr = graft.sources.GraphLoader.headerGql
      val one = graft.engine.Engine.runSourceOn(spark, hdr +
        "match (c:customer) -[:cnation]-> (n:nation)\nreturn c, n",
        g2, nextId, cfg).bindings
      val p1 = one.queryExecution.executedPlan.toString
      assert(p1.contains("SortMergeJoin"), s"expected bucket SMJ in:\n$p1")
      assert(!p1.contains("Exchange hashpartitioning"),
        s"join-key exchange in the bucket-aligned 1-hop match:\n$p1")
      val two = graft.engine.Engine.runSourceOn(spark, hdr +
        "match (s:supplier) -[:snation]-> (n:nation) -[:nregion]-> (r:region)\nreturn s, n, r",
        g2, nextId, cfg).bindings
      val p2 = two.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(p2).size <= 1,
        s"expected at most the binding-table re-key exchange in the 2-hop:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed graph store: seeded varpath reads the edge frame bucket-aligned") {
    // VERDICT r09 item 6: extend the exchange pin from fixed hops to the
    // seeded varpath closure. The per-hop self-join chain joins the
    // frontier against the nnext edge frame on e.src — with the store's
    // bucketBy(src) layout, the EDGE side of every hop must read in
    // place; only the frontier (re-keyed per hop) and the pair dedups
    // may move.
    val (g, nextId) = graft.sources.GraphLoader.load(spark, dir)
    graft.sources.GraphStore.saveBucketed(g, nextId, spark, "planspec_vp_bkt", buckets = 4)
    val (g2, _) = graft.sources.GraphStore.loadBucketed(spark, "planspec_vp_bkt")
    val cfg = graft.engine.Engine.Config(strict = false)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val r = graft.engine.Engine.runSourceOn(spark,
        graft.sources.GraphLoader.headerGql +
          "match (a:nation) -[:nnext*1..2]-> (b:nation)\nreturn a, b",
        g2, nextId, cfg)
      val p = r.bindings.queryExecution.executedPlan.toString
      // the bucketed nnext scan appears once per hop level + once for
      // the seed join, and NONE of those scans sits under a join-key
      // exchange of its own output: the measured plan has exactly 4
      // exchanges — (1) the depth-1 pair dedup, (2) the frontier re-key
      // onto hop 2's e.src, (3) the hop-2 pair dedup, (4) the closing
      // cross-level dedup feeding the endpoint equi-join (the binding
      // side IS the bucketed label scan, so it never moves). The
      // depth-1 seed join itself is exchange-free: seeds come off the
      // id-bucketed scan and edges off the src-bucketed scan with equal
      // bucket counts. Anything above 4 means an edge-frame or
      // full-closure re-shuffle crept in.
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n <= 4, s"expected <=4 exchanges (frontier re-keys + dedups), got $n in:\n$p")
      assert(!p.contains("CartesianProduct"), s"unfused varpath join in:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("open *2.. varpath: extension rides the converged closure, bounded exchanges") {
    // round 17 (VERDICT r16 item 5): the floored unbounded spelling is
    // step^(lo-1) OF THE CONVERGED CLOSURE — the visible plan must be
    // checkpoint scans (the converged levels) + ONE extension join +
    // the per-pair min collapse + the endpoint equi-joins. No cartesian
    // product, no unrolled per-level join chain (the convergence loop
    // already ran), and a bounded exchange budget: closure dedup,
    // extension re-keys, post-extension min, endpoint joins.
    val df = SparkEntry.queries("gql_varpath_unbounded_lo2")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"unfused floored varpath in:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"expected the converged closure's checkpoint scans in:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 8, s"expected <=8 exchanges in the floored-closure plan, got $n in:\n$p")
  }

  test("real BMP decode keeps the stub ops' dataflow: zero shuffles") {
    // the decode seam claim (SURVEY §8.3): swapping the stub for a real
    // parser changes only the bytes inspected — scan → mapPartitions,
    // no Exchange; and the real-raster phash keeps the single per-doc
    // tally aggregate of the stub phash
    val p = plan("p_mm_bmp_decode")
    assert(!p.contains("Exchange"), s"unexpected shuffle in:\n$p")
    val ph = plan("p_mm_bmp_phash")
    assert("Exchange".r.findAllIn(ph).size <= 1,
      s"expected the single per-doc tally exchange in:\n$ph")
    // the COMPRESSED-format twin (round 10): inflate + defilter inside
    // the same scan → mapPartitions shape, identical shuffle budget
    val pp = plan("p_mm_png_decode")
    assert(!pp.contains("Exchange"), s"unexpected shuffle in:\n$pp")
    val pph = plan("p_mm_png_phash")
    assert("Exchange".r.findAllIn(pph).size <= 1,
      s"expected the single per-doc tally exchange in:\n$pph")
    // the LOSSY transform-format leg (round 16): javax.imageio JPEG
    // decode (and decode→halve resize) ride the same scan →
    // mapPartitions shape — decode-at-read, zero shuffles
    val pj = plan("p_mm_jpeg_decode")
    assert(!pj.contains("Exchange"), s"unexpected shuffle in:\n$pj")
    val pjr = plan("p_mm_jpeg_resize")
    assert(!pjr.contains("Exchange"), s"unexpected shuffle in:\n$pjr")
    // the GENERIC ops on the real codecs (round 17): SOF header parse
    // is a pure codegen projection, the re-encoded-thumb resize is two
    // chained mapPartitions, audio chunking is decode → lateral view →
    // in-row fold — all zero-Exchange
    val pm = plan("p_mm_metadata")
    assert(!pm.contains("Exchange"), s"unexpected shuffle in:\n$pm")
    val pr = plan("p_mm_resize")
    assert(!pr.contains("Exchange"), s"unexpected shuffle in:\n$pr")
    val pa = plan("p_mm_audio_chunks")
    assert(!pa.contains("Exchange"), s"unexpected shuffle in:\n$pa")
    // the VIDEO leg (round 18): AVI demux + sampled-frame JPEG decode
    // is scan → mapPartitions → mapPartitions → lateral-view generate —
    // still zero-Exchange
    val pf = plan("p_mm_framesample")
    assert(!pf.contains("Exchange"), s"unexpected shuffle in:\n$pf")
    assert(pf.contains("Generate"), s"expected the lateral-view explode in:\n$pf")
  }

  test("aggregation uses map-side partial aggregates") {
    val p = plan("q_agg_pricing")
    // partial + final HashAggregate pair
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected two-phase hash aggregation in:\n$p")
  }

  test("table statistics profile in one scan of the table") {
    // 4 columns × 4 aggregates must not become 4 jobs or 4 scans — the
    // ANALYZE shape is a single pass (multi-distinct plans via Expand,
    // still one FileScan)
    val p = plan("p_io_stats")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one lineitem scan in:\n$p")
  }

  test("match-props predicates push down to the node parquet scans") {
    // gql_props_match desugars {mktsegment: "BUILDING"} / {regionkey: 1}
    // to where-conjuncts appended AFTER the pattern joins — Catalyst must
    // still push both through the attribute joins into the parquet scans,
    // or the sugar would silently cost a full post-join filter at scale.
    val p = plan("gql_props_match")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"mktsegment predicate not pushed to the customer scan:\n$p")
    assert(p.contains("EqualTo(n_regionkey,1)"),
      s"regionkey predicate not pushed to the nation scan:\n$p")
  }

  test("CLI explain (x-mode) surfaces pushed filters and the fused hop to users") {
    // the same gql_props_match program a user would `x <dir> q.q`: the
    // formatted explain must show the desugared props conjuncts as
    // PushedFilters on the parquet scans (non-empty = pushdown reached
    // the source) and no cartesian product for the fused hop
    val (g, nextId) = graft.sources.GraphLoader.load(spark, dir)
    val r = graft.engine.Engine.runSourceOn(spark,
      graft.sources.GraphLoader.headerGql +
        """match (c:customer {mktsegment: "BUILDING"}) -[:cnation]-> (n:nation {regionkey: 1})
          |return c, n""".stripMargin,
      g, nextId, graft.engine.Engine.Config(strict = false))
    val x = Cli.explainString(r)
    assert(x.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]"),
      s"customer scan without pushed mktsegment filter in:\n$x")
    assert(x.contains("EqualTo(n_regionkey,1)"),
      s"nation scan without pushed regionkey filter in:\n$x")
    assert(!x.contains("CartesianProduct"), s"unfused cross join in:\n$x")
  }

  test("varpath per-hop dedup bounds the frontier on a cyclic graph") {
    // The *lo..hi expansion is hop-by-hop self-joins of the edge set; on
    // a CYCLIC graph with branching, distinct PATHS multiply per hop
    // (here: the a→{b,c}→d diamond doubles the path count every cycle
    // lap) while distinct (src,dst) PAIRS are bounded by |V|². The
    // per-hop dropDuplicates (VarPathClosure.varPathReach) is what keeps the
    // joined frontier pair-bounded instead of path-exploding — the
    // blow-up guard behind the hi <= 10 typing cap. Pin it in the plan:
    // one pair-keyed dedup aggregate per expansion hop.
    val src =
      """(:N {x int})
        |(:N) -[:next]-> (:N)
        |create (a:N) create (b:N) create (c:N) create (d:N)
        |create (a) -[:next]-> (b), (a) -[:next]-> (c)
        |create (b) -[:next]-> (d), (c) -[:next]-> (d), (d) -[:next]-> (a)
        |match (s:N) -[:next*1..6]-> (t:N)
        |return s, t
        |""".stripMargin
    val r = graft.engine.Engine.runSource(spark, src)
    // semantics first: exactly the 1..6-hop closure of the cycle
    val edges = Set(0L -> 1L, 0L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 0L)
    var hop = edges; var expected = edges
    for (_ <- 2 to 6) {
      hop = for ((s, m) <- hop; (m2, t) <- edges if m == m2) yield (s, t)
      expected ++= hop
    }
    val got = r.bindings.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == expected, s"varpath closure mismatch: $got")
    // plan: pin the guard on varPathReach itself over a CLEAN edge
    // frame (the full program plan mixes in the graph build's own
    // set-semantics dedups). Exactly-d-hop reach carries exactly d
    // Deduplicates — hops 2..d plus the terminal one: EVERY hop is
    // deduped, so the joined frontier is pair-bounded (≤ |V|²) no
    // matter how the path count multiplies.
    import spark.implicits._
    val key = ("N", "next", "N")
    val g = graft.engine.PropertyGraph(r.graph.schema, r.graph.nodes,
      Map(key -> edges.toSeq.toDF("src", "dst")))
    for (d <- 1 to 6) {
      val reach = VarPathClosure.varPathReach(g, key, d, d)
      val a = reach.queryExecution.analyzed.toString
      assert("Deduplicate".r.findAllIn(a).size == d,
        s"hop $d: expected $d pair dedups in:\n$a")
    }
    // and the dedup survives optimization to execution as pair-keyed
    // hash aggregates, with every hop an equi-join (no cross join)
    val full = VarPathClosure.varPathReach(g, key, 1, 6)
    assert(full.count() == expected.size)
    val p = full.queryExecution.executedPlan.toString
    assert("HashAggregate\\(keys=\\[src".r.findAllIn(p).size >= 2,
      s"pair dedup missing from the executed varpath expansion:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"varpath hop fell back to a cross join in:\n$p")
  }

  test("varpath expansion is seeded by the bindings, not the full closure") {
    // VERDICT r08 #1: the engine's varpath work must scale with
    // |bindings| × reached frontier, not |graph|². Pinned on
    // varPathReachSeeded (the engine's only varpath entry since round 9)
    // over a clean edge frame: with a 1-row seed set the expansion
    // references the edge frame exactly hi times — one frontier×edges
    // equi-join per hop, every hop pair-deduped — and never builds the
    // edge×edge self-join chain of the full closure. Then the
    // differential: seeded results equal the full closure restricted to
    // the seeds (both orientations, dist and plain, incl. the lo = 0
    // identity), and seeding with the whole label reproduces the full
    // closure bit-for-bit.
    import spark.implicits._
    import graft.engine.Engine
    val src =
      """(:N {x int})
        |(:N) -[:next]-> (:N)
        |create (a:N) create (b:N) create (c:N) create (d:N)
        |create (a) -[:next]-> (b), (a) -[:next]-> (c)
        |create (b) -[:next]-> (d), (c) -[:next]-> (d), (d) -[:next]-> (a)
        |""".stripMargin
    val r = Engine.runSource(spark, src)
    val edgeSet = Set(0L -> 1L, 0L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 0L)
    val key = ("N", "next", "N")
    val g = graft.engine.PropertyGraph(r.graph.schema, r.graph.nodes,
      Map(key -> edgeSet.toSeq.toDF("src", "dst")))
    // in-JVM oracle: minimal hops per pair within the lo..hi window
    def closure(lo: Int, hi: Int): Map[(Long, Long), Long] = {
      val best = scala.collection.mutable.Map[(Long, Long), Long]()
      if (lo == 0) (0L to 3L).foreach(n => best((n, n)) = 0L)
      var hop = edgeSet
      for (d <- 1 to hi) {
        if (d > 1) hop = for ((s, m) <- hop; (m2, t) <- edgeSet if m == m2) yield (s, t)
        if (d >= lo) hop.foreach(p => if (!best.contains(p)) best(p) = d.toLong)
      }
      best.toMap
    }
    // (1) 1-row seed: the edge frame is scanned exactly hi times ACROSS
    // the whole computation — each intermediate level is a deferred
    // checkpoint (one LogicalRDD leaf per materialized level, its single
    // edge scan inside the checkpoint lineage, computed once), and the
    // residual plan holds exactly ONE edge scan (the last hop's join).
    // (A CHEAP leaf-backed edge frame like this one is deliberately NOT
    // hoisted behind a checkpoint — round 16 hoists only mutation-built
    // frames whose plans do real work; the bucketed-store varpath test
    // pins the in-place re-scan this preserves.) Without the level
    // materialization each union branch re-embeds the prior chain and
    // the analyzed plan holds O(hi²) edge leaves — the
    // full-closure-shaped blowup this test exists to forbid.
    val seed1 = Seq(0L).toDF("seed")
    for (hi <- 1 to 4) {
      val reach = Engine.varPathReachSeeded(g, key, 1, hi, seed1,
        seedIsSrc = true, dist = false)
      val a = reach.queryExecution.analyzed.toString
      // the edge frame is a 2-tuple LocalRelation (_1,_2), the seed frame
      // a 1-value LocalRelation — distinct leaf shapes, countable apart
      assert("LocalRelation \\[_1#".r.findAllIn(a).size == 1,
        s"hi=$hi: expected 1 residual edge-frame scan, got:\n$a")
      assert("LogicalRDD".r.findAllIn(a).size == (if (hi == 1) 0 else hi),
        s"hi=$hi: expected ${if (hi == 1) 0 else hi} materialized-level leaves in:\n$a")
      assert("Deduplicate".r.findAllIn(a).size == 2,
        s"hi=$hi: last hop + close must pair-dedup in:\n$a")
      val p = reach.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"seeded hop fell back to cross join:\n$p")
      val got = reach.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val want = closure(1, hi).keySet.filter(_._1 == 0L)
      assert(got == want, s"hi=$hi seeded rows $got != restricted closure $want")
    }
    // (2) dst-side seed expands backward to the same restricted closure
    val back = Engine.varPathReachSeeded(g, key, 1, 3, Seq(3L).toDF("seed"),
      seedIsSrc = false, dist = false)
    val gotB = back.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(gotB == closure(1, 3).keySet.filter(_._2 == 3L),
      s"backward seeded mismatch: $gotB")
    // (3) whole-label seeds reproduce the full closure exactly — plain
    // and dist, across windows incl. the lo = 0 identity
    val allSeeds = (0L to 3L).toDF("seed")
    for ((lo, hi) <- Seq((0, 3), (1, 4), (2, 5))) {
      val want = closure(lo, hi)
      val seededD = Engine.varPathReachSeeded(g, key, lo, hi, allSeeds,
        seedIsSrc = true, dist = true)
        .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
      val fullD = VarPathClosure.varPathReachDist(g, key, lo, hi)
        .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
      assert(seededD == fullD, s"($lo,$hi) seeded dist != full closure dist")
      assert(fullD == want, s"($lo,$hi) full closure dist != in-JVM oracle")
      val seededP = Engine.varPathReachSeeded(g, key, lo, hi, allSeeds,
        seedIsSrc = true, dist = false)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(seededP == want.keySet, s"($lo,$hi) seeded pairs != closure pairs")
    }
  }

  test("unbounded varpath converges: one checkpointed level per superstep, then stops") {
    // Round 16 (VERDICT r15 item 2): hi == varPathUnbounded runs the
    // seeded closure to its fixed point with the reached-pair anti-join
    // as both prune and termination. On the cyclic diamond the pair set
    // saturates at all 16 (every node reaches every node through the
    // cycle, incl. itself): levels carry 5 + 5 + 6 strictly-new pairs,
    // the 4th frontier is empty and stops the loop — no unrolled-to-cap
    // join chain, no infinite loop on the cycle. Plan pin: the result
    // is a union of exactly the 3 materialized level checkpoints
    // (LogicalRDD leaves) with NO residual raw edge scan — every hop's
    // edge scan lives inside its level's checkpoint, computed once by
    // the superstep's count probe. Hop counts are the BFS levels.
    import spark.implicits._
    import graft.engine.Engine
    val src =
      """(:N {x int})
        |(:N) -[:next]-> (:N)
        |create (a:N) create (b:N) create (c:N) create (d:N)
        |create (a) -[:next]-> (b), (a) -[:next]-> (c)
        |create (b) -[:next]-> (d), (c) -[:next]-> (d), (d) -[:next]-> (a)
        |""".stripMargin
    val r = Engine.runSource(spark, src)
    val edgeSet = Set(0L -> 1L, 0L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 0L)
    val key = ("N", "next", "N")
    val g = graft.engine.PropertyGraph(r.graph.schema, r.graph.nodes,
      Map(key -> edgeSet.toSeq.toDF("src", "dst")))
    val allSeeds = (0L to 3L).toDF("seed")
    val reach = Engine.varPathReachSeeded(g, key, 1,
      graft.lang.Typing.varPathUnbounded, allSeeds, seedIsSrc = true, dist = true)
    val a = reach.queryExecution.analyzed.toString
    assert("LogicalRDD".r.findAllIn(a).size == 3,
      s"expected exactly 3 materialized level leaves in:\n$a")
    assert("LocalRelation \\[_1#".r.findAllIn(a).size == 0,
      s"expected no residual edge scan (all hops inside checkpoints) in:\n$a")
    val got = reach.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val want = Map(
      (0L, 1L) -> 1L, (0L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L, (3L, 0L) -> 1L,
      (0L, 3L) -> 2L, (1L, 0L) -> 2L, (2L, 0L) -> 2L, (3L, 1L) -> 2L, (3L, 2L) -> 2L,
      (0L, 0L) -> 3L, (1L, 1L) -> 3L, (2L, 2L) -> 3L, (3L, 3L) -> 3L,
      (1L, 2L) -> 3L, (2L, 1L) -> 3L)
    assert(got == want, s"unbounded BFS levels mismatch: $got")
    // plain (non-dist) unbounded returns the same saturated pair set,
    // and the zero-length floor adds the identity at hop 0
    val plain = Engine.varPathReachSeeded(g, key, 1,
      graft.lang.Typing.varPathUnbounded, allSeeds, seedIsSrc = true, dist = false)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(plain == want.keySet)
    val zero = Engine.varPathReachSeeded(g, key, 0,
      graft.lang.Typing.varPathUnbounded, allSeeds, seedIsSrc = true, dist = true)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(zero == want ++ (0L to 3L).map(n => (n, n) -> 0L).toMap,
      s"zero-floor unbounded mismatch: $zero")
  }

  test("superstep merge does not re-shuffle an eagerPartitioned checkpoint (AQE on)") {
    // Replays the g_sssp/CC merge shape: `dists` is a checkpoint of a
    // frame hash-partitioned by id, `improved` derives from a
    // groupBy(id) — the full-outer merge on id must reuse the
    // checkpoint's partitioning instead of re-exchanging the accumulated
    // frame every superstep. Under AQE a PLAIN eager localCheckpoint
    // captures UnknownPartitioning (the adaptive plan's), which re-adds
    // that exchange — Ckpt.eagerPartitioned materializes the checkpoint
    // with AQE off so the partitioning survives while the consuming
    // query (this one) still runs adaptively. Both halves pinned here.
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("id"), col("c_nationkey").as("d"))
    def mergeExchanges(ckpt: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Int = {
      val dists = ckpt(base.groupBy("id").agg(min("d").as("d")))
      val improved = base.filter(col("d") > 2)
        .groupBy("id").agg(min("d").as("cand"))
      val merged = dists.join(improved.select(col("id"), col("cand").as("nd")), Seq("id"), "full")
        .select(col("id"), coalesce(col("nd"), col("d")).as("d"))
      merged.count()
      "Exchange".r.findAllIn(merged.queryExecution.executedPlan.toString).size
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // the fixed shape: one exchange (improved's aggregation), none above dists
    assert(mergeExchanges(graft.Ckpt.eagerPartitioned) <= 1,
      "eagerPartitioned checkpoint was re-shuffled by the merge")
    // the pitfall this guards against: a plain eager checkpoint loses its
    // partitioning under AQE — if Spark ever fixes that, this inverts and
    // eagerPartitioned can be retired
    assert(mergeExchanges(graft.Ckpt.eager) >= 2,
      "plain eager checkpoint now preserves partitioning under AQE — " +
        "Ckpt.eagerPartitioned may be unnecessary")
    graft.Ckpt.drain()
  }

  test("call-bridge superstep join reads the hoisted edge frame in place") {
    // VERDICT r12 #1: the procedure bridge (Engine RCallProc cc/bfs/sssp)
    // now hoists its loop-invariant undirected edge frame into
    // Ckpt.eagerPartitioned(union.repartition(src)) BEFORE the superstep
    // loops. This replays one bridge superstep over that exact frame and
    // pins that the edge side contributes NO exchange and NO re-scan of
    // the per-relation frames: the only exchanges are the label probe's
    // re-key onto src and the min-aggregation — 2, never 3+.
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("src"), (col("c_nationkey") + 1000000L).as("dst"))
    def stepExchanges(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): (Int, Int) = {
      val ue = mk(e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))))
      val labels = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_custkey").as("comp"))
      val step = ue.join(labels, ue("src") === labels("id"))
        .select(ue("dst").as("id"), col("comp").as("cand"))
        .groupBy("id").agg(min("cand").as("cand"))
      step.count()
      val p = step.queryExecution.executedPlan.toString
      ("Exchange".r.findAllIn(p).size, "Scan parquet".r.findAllIn(p).size)
    }
    val (nHoisted, scansHoisted) = stepExchanges(df =>
      graft.Ckpt.eagerPartitioned(df.repartition(col("src"))))
    assert(nHoisted <= 2,
      s"hoisted edge frame re-exchanged in the superstep join ($nHoisted exchanges)")
    assert(scansHoisted <= 1, // the labels probe only
      s"hoisted superstep re-scanned the edge frames ($scansHoisted parquet scans)")
    // discriminator — the r12 bug this pin guards against: a LAZY edge
    // union pays a per-superstep exchange AND re-derives the union from
    // storage (2 extra parquet scans here; per-relation frames in the
    // engine)
    val (nLazy, scansLazy) = stepExchanges(identity)
    assert(nLazy > 2 || scansLazy > 1,
      "a lazy edge union now plans like the hoisted checkpoint — " +
        "re-measure whether the bridge hoist is still load-bearing")
    graft.Ckpt.drain()
  }

  test("call subquery top-k pages with a keyed window, not a global sort") {
    // gql_callsub_topk: order by + limit INSIDE call { } page per
    // imported tuple — the plan must be a row_number window partitioned
    // by the import key (local sort within key partitions), never a
    // global sort of the inner match output
    val p = plan("gql_callsub_topk")
    assert(p.contains("Window"), s"expected a window for per-key paging in:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("Sort ") && l.contains("global=true")),
      s"per-invocation paging fell back to a global sort:\n$p")
  }

  test("count { } expression plans as the keyed call-subquery aggregate (round 15 v2)") {
    // gql_count_expr: the parse-time sugar must produce exactly the
    // hand-written counting subquery's plan — a hash aggregate keyed on
    // the imported binding with a map-side partial count, re-expanded
    // onto the outer rows by an equi-join (never a cartesian/nested-
    // loop re-expansion), and no sort anywhere (nothing orders)
    val p = plan("gql_count_expr")
    assert(p.contains("HashAggregate"), s"expected the keyed count aggregate in:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"count not map-side combined in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"correlated count re-expanded without a key in:\n$p")
    assert(!p.contains("Sort "), s"unexpected sort in an unordered count plan:\n$p")
  }

  test("label propagation superstep: 2 exchanges, no scan, no carry merge (round 15)") {
    // Replays one g_labelprop / call-labelprop superstep: messages =
    // (hoisted src-partitioned edge frame ⋈ id-partitioned labels
    // checkpoint) ∪ labels (self-inclusion), then the (node,label)
    // count and the per-node argmax. The fixed shape: the message join
    // exchanges NEITHER side (src-hash meets id-hash), so the only
    // exchanges are the two aggregations — count re-key and argmax
    // re-key — and nothing re-reads storage (both inputs are
    // checkpoints). The argmax covers every node via the self leg, so
    // there is no third carry-over merge join to mis-plan.
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("src"), (col("c_nationkey") + 1000000L).as("dst"))
    def stepShape(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): (Int, Int) = {
      val ue = mk(e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))))
      val labels = graft.Ckpt.eagerPartitioned(
        spark.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("id"), col("c_custkey").as("lbl"))
          .repartition(col("id")))
      val msgs = ue.join(labels, ue("src") === labels("id"))
        .select(ue("dst").as("id"), col("lbl"))
        .unionByName(labels)
      val next = msgs.groupBy("id", "lbl").agg(count(lit(1)).as("cnt"))
        .groupBy("id")
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("id"), col("m.l").as("lbl"))
      next.count()
      val p = next.queryExecution.executedPlan.toString
      // SHUFFLE exchanges only: at test scale the small labels side may
      // ride a BroadcastExchange into the message join — free for the
      // edge frame, which is what this pin protects
      ("Exchange hashpartitioning".r.findAllIn(p).size,
        "Scan parquet".r.findAllIn(p).size)
    }
    val (nHoisted, scansHoisted) = stepShape(df =>
      graft.Ckpt.eagerPartitioned(df.repartition(col("src"))))
    assert(nHoisted <= 2,
      s"LPA superstep shuffled beyond the two aggregations ($nHoisted exchanges)")
    assert(scansHoisted == 0,
      s"LPA superstep re-read storage ($scansHoisted parquet scans)")
    // discriminator: a lazy edge union re-scans storage every superstep
    // — if this ever plans identically, re-measure whether the hoist is
    // still load-bearing
    val (nLazy, scansLazy) = stepShape(identity)
    assert(nLazy > 2 || scansLazy > 0,
      "a lazy edge union now plans like the hoisted checkpoint — " +
        "re-measure whether the labelprop hoist is still load-bearing")
    graft.Ckpt.drain()
  }

  test("walk step joins the hoisted adjacency in place (round 15 v2)") {
    // The g_walks claim: the adjacency is pre-partitioned on the
    // walker key and checkpointed once, so each step exchanges ONLY
    // the walker frame (one hash exchange for the argmin re-key; the
    // small walker side may ride a broadcast into the join) and never
    // re-reads storage.
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("cur"), (col("c_nationkey") + 1000000L).as("nb"))
    val adj = graft.Ckpt.eagerPartitioned(
      e.union(e.select(col("nb").as("cur"), col("cur").as("nb")))
        .repartition(col("cur")))
    val walks = adj.select(col("cur").as("start")).distinct()
      .select(col("start"), col("start").as("cur"))
    val next = walks.join(adj, Seq("cur"))
      .select(col("start"), col("nb"),
        expr("(cur * 48271 + 1 * 39916801 + nb * 69621) % 1000000007").as("h"))
      .groupBy("start")
      .agg(min(struct(col("h"), col("nb"))).as("m"))
      .select(col("start"), col("m.nb").as("cur"))
    next.count()
    val p = next.queryExecution.executedPlan.toString
    val nEx = "Exchange hashpartitioning".r.findAllIn(p).size
    val nScan = "Scan parquet".r.findAllIn(p).size
    assert(nEx <= 2,
      s"walk step re-exchanged the adjacency ($nEx hash exchanges):\n$p")
    assert(nScan <= 1,
      s"walk step re-read the adjacency from storage ($nScan scans):\n$p")
    graft.Ckpt.drain()
  }

  test("multi-source superstep merge stays co-partitioned on the (seed,id) pair") {
    // The g_harmonic_landmarks shape: the accumulated distance frame is
    // keyed by the COMPOSITE (seed,id) and the per-superstep delta comes
    // off a groupBy(seed,id) — the full-outer merge must reuse the
    // checkpoint's composite-key partitioning exactly like the
    // single-key CC/SSSP merge (the seed column must ride inside the
    // partitioning, not demote the merge to a re-exchange of both sides).
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$dir/customer.parquet")
      .select((col("c_custkey") % 3).as("seed"), col("c_custkey").as("id"),
        col("c_nationkey").as("d"))
    val dists = graft.Ckpt.eagerPartitioned(
      base.groupBy("seed", "id").agg(min("d").as("d")))
    val next = base.filter(col("d") > 2)
      .groupBy("seed", "id").agg(min("d").as("nd"))
    val merged = dists.join(next, Seq("seed", "id"), "full")
      .select(col("seed"), col("id"), coalesce(col("nd"), col("d")).as("d"))
    merged.count()
    val nEx = "Exchange".r.findAllIn(merged.queryExecution.executedPlan.toString).size
    assert(nEx <= 1, s"composite-key merge re-shuffled the checkpoint ($nEx exchanges)")
    graft.Ckpt.drain()
  }

  test("bin packing is one shard exchange + an in-partition fold") {
    // p_pack_bins' scale shape: ONE repartition-by-shard-key exchange,
    // then sort + greedy fold INSIDE each partition — a second
    // exchange would mean the sequential walk isn't running where the
    // shuffle put the data
    val df = SparkEntry.queries("p_pack_bins")(spark, dir)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly the shard exchange:\n$p")
  }

  test("hash sampler scan prunes the text column") {
    // the sample predicate and output touch only doc_id/lang — reading
    // the (dominant) text column would make the \"scan-speed\" claim false
    val p = plan("p_sample_stratified")
    val readSchema = p.lines.filter(_.contains("ReadSchema"))
      .findFirst.orElse("")
    assert(readSchema.nonEmpty, s"no ReadSchema in:\n$p")
    assert(!readSchema.contains("text"), s"text column not pruned: $readSchema")
  }

  test("six-table join tree has no cartesian product and broadcasts dims") {
    val p = plan("q_join5_volume")
    assert(!p.contains("CartesianProduct"), s"cartesian in join tree:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast dims in:\n$p")
  }

  test("sorted layout pushes the time predicate into the parquet scan") {
    val p = plan("p_io_sorted")
    val pushed = p.lines.filter(l =>
      l.contains("PushedFilters") && l.contains("ts")).findFirst.orElse("")
    assert(pushed.contains("LessThan"), s"ts range not pushed: $pushed\n$p")
  }

  test("scd2 history build serves both window passes from ONE shuffle") {
    // change-collapse (lag) and versioning (row_number + lead) window
    // over the SAME (user_id → ts, event_id) partitioning; a second
    // exchange between them would re-shuffle the whole feed at 100 TB
    val p = plan("p_events_scd2")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"scd2 re-shuffles between its window passes:\n$p")
    assert(p.contains("Window"), s"expected window operators in:\n$p")
  }

  test("semantic dedup pair stage co-partitions on centroid_id (cluster-local pairs)") {
    // the within-cluster self-join must join on the cluster key — the
    // SemDeDup bound (sum of cluster sizes squared, not corpus squared)
    // only holds if pair generation is cluster-local
    val p = plan("p_dedup_semantic")
    assert(!p.contains("CartesianProduct"),
      s"semantic dedup fell back to an all-pairs product:\n$p")
    assert(p.contains("centroid_id"), s"cluster key missing from the plan:\n$p")
  }

  test("decontamination is a broadcast semi-join (corpus side never shuffles)") {
    val p = plan("p_curate_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected broadcast semi join for the benchmark set in:\n$p")
  }

  test("bloom decontamination prefilters at the scan and still semi-joins exactly") {
    // the 100 TB claim: corpus shingles meet Spark's codegen'd
    // BloomFilterMightContain BEFORE the verify join (non-candidates
    // never hash into it), and the verify join stays the broadcast
    // semi-join of the exact op — corpus side never shuffles
    val p = plan("p_curate_decontaminate_bloom")
    assert(p.contains("might_contain") || p.contains("BloomFilterMightContain"),
      s"expected a bloom membership prefilter in:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected the exact verify semi-join above the prefilter in:\n$p")
  }

  test("incremental dedup anti-joins the fingerprint store bucket-aligned") {
    // the store (the 100 TB side) must not reshuffle: only the batch
    // side may exchange on the hash
    val p = plan("p_dedup_incremental")
    assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"),
      s"expected a sort-merge anti join over the bucketed store in:\n$p")
    assert("Exchange hashpartitioning\\(th".r.findAllIn(p).size <= 1,
      s"the bucketed fingerprint store should not re-exchange on th:\n$p")
  }

  test("incremental ingest keeps the store exchange-free through the append") {
    // same discipline as the read-only op, now with the store having
    // been APPENDED to: the post-ingest batch-2 anti-join must still
    // read the store bucket-aligned (at most the batch side exchanges
    // on th), proving insertInto preserved the bucket layout
    val p = plan("p_dedup_incremental_ingest")
    assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"),
      s"expected a sort-merge anti join over the bucketed store in:\n$p")
    assert("Exchange hashpartitioning\\(th".r.findAllIn(p).size <= 1,
      s"the bucketed fingerprint store should not re-exchange on th:\n$p")
  }

  test("persisted IVF probe keeps the index exchange-free on centroid_id") {
    // the ANN serving path: the bucketed index (the 100 TB side) must
    // read bucket-aligned through the probe join — at most the tiny
    // probe batch may exchange on the cell id
    val p = plan("p_sim_ivf_store")
    assert("Exchange hashpartitioning\\(centroid_id".r.findAllIn(p).size <= 1,
      s"the bucketed IVF index should not re-exchange on centroid_id:\n$p")
  }

  test("incremental LSH candidate join keeps the band store exchange-free") {
    // the near-dup store discipline: the bucketed band table (the
    // 100 TB side) must not reshuffle on the bucket hash — only the
    // batch's own band rows may exchange
    val p = plan("p_dedup_lsh_incremental")
    assert(p.contains("SortMergeJoin"),
      s"expected a sort-merge join over the bucketed band store in:\n$p")
    assert("Exchange hashpartitioning\\(bh".r.findAllIn(p).size <= 1,
      s"the bucketed band store should not re-exchange on bh:\n$p")
  }

  test("bucketed join reads co-located buckets with no join-key exchange") {
    val p = plan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets in:\n$p")
    assert(!p.contains("hashpartitioning(l_orderkey") &&
      !p.contains("hashpartitioning(o_orderkey"),
      s"bucketed layout did not eliminate the join shuffle:\n$p")
  }

  test("partitioned layout prunes to one etype partition at the scan") {
    val p = plan("p_io_partitioned")
    assert(p.contains("PartitionFilters") && p.contains("etype"),
      s"expected etype partition pruning in:\n$p")
  }

  test("triangle wedge stream is generated and checked without shuffling") {
    // both the wedge join and the closing-edge semi-join must be
    // broadcast: an exchange of the wedge stream (34x the edge list at
    // sf0.1) was the 2.4x slowdown this plan shape removed. Pin the
    // UNCACHED build — the query itself serves the round-15 memoized
    // checkpoint once any earlier query in the session built it, which
    // hides the wedge pipeline from its plan.
    val (tc, _, cached) = graft.operators.GraphAlgos.triangleCounts(
      graft.operators.GraphAlgos.coPurchasePairs(spark, dir))
    tc.count()
    val p = tc.queryExecution.executedPlan.toString
    cached.foreach(_.unpersist(false))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected broadcast wedge + semi joins in:\n$p")
    assert(p.contains("LeftSemi"), s"expected closing-edge semi join in:\n$p")
  }

  test("wedge broadcasts degrade to shuffled joins past the measured-count gate") {
    // VERDICT r15 item 1: the wedge-pipeline broadcast hints are gated
    // on the MEASURED pair count — above the cap the hints must be
    // absent (no executor-OOM broadcast of an |E|-scale frame) and the
    // plan must degrade to the sort-merge form, with IDENTICAL results.
    val (tcB, _, cB) = graft.operators.GraphAlgos.triangleCounts(
      graft.operators.GraphAlgos.coPurchasePairs(spark, dir))
    val base = tcB.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    cB.foreach(_.unpersist(false))
    // disable the size-based auto-broadcast too: at sf0.001 everything
    // fits Spark's own threshold, which would re-broadcast the hint-free
    // plan and hide a gate that failed to drop the hint
    val key = graft.Bcast.confKey
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAuto = spark.conf.getOption(autoKey)
    spark.conf.set(key, "0")
    spark.conf.set(autoKey, "-1")
    try {
      val (tc, _, cached) = graft.operators.GraphAlgos.triangleCounts(
        graft.operators.GraphAlgos.coPurchasePairs(spark, dir))
      val rows = tc.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val p = tc.queryExecution.executedPlan.toString
      cached.foreach(_.unpersist(false))
      assert(!p.contains("BroadcastHashJoin"),
        s"broadcast hint survived a zero row cap in:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected shuffled wedge joins past the gate in:\n$p")
      assert(rows == base, "gated SMJ form changed the triangle counts")
    } finally {
      spark.conf.unset(key)
      prevAuto.fold(spark.conf.unset(autoKey))(v => spark.conf.set(autoKey, v))
    }
  }

  test("URL dedup is one canonical groupBy: single exchange, no UDFs") {
    // the crawl-level collapse must run at string speed: synthesize +
    // canonicalize are codegen'd regexp projections riding the scan,
    // and the only exchange is the map-side-combined canonical groupBy
    val p = plan("p_dedup_url")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"expected the single canonical-url exchange in:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation in:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"unexpected UDF in the canonicalization path:\n$p")
  }

  test("quality-model gate projects with zero shuffle (scores at scan speed)") {
    // The classifier gate's 100 TB claim is "weights broadcast as
    // literals into codegen, scoring never shuffles" — any Exchange
    // falsifies it.
    val p = plan("p_curate_quality_model")
    assert(!p.contains("Exchange"), s"unexpected shuffle in:\n$p")
  }

  test("forward fill runs on ONE user-keyed shuffle") {
    val p = plan("p_events_ffill")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"expected a single user_id exchange in:\n$p")
  }

  test("ADC search broadcasts the LUT against the codes table") {
    // The serving path must stream codes against a broadcast lookup
    // table; a shuffled (sort-merge) join on (block, code) would move
    // the whole codes table per query batch.
    val p = plan("p_sim_pq_search")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast LUT join in:\n$p")
  }

  test("IVFPQ search broadcasts probes, LUT and cell map (pruning never shuffles codes)") {
    // The composed read path's claim: the IVF probe map and the ADC LUT
    // are broadcast against the codes stream, so pruning + scoring are
    // map-side; the only exchange is the final (query, neighbor) ADC
    // aggregation (plus its window). A sort-merge join on centroid or
    // (block, code) would falsify the 100 TB shape.
    val p = plan("p_sim_ivfpq_search")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected broadcast probe + LUT joins in:\n$p")
  }

  test("shard layout runs on ONE shard-keyed exchange") {
    // The permutation is hash order WITHIN hash-assigned shards: one
    // exchange on shard, then a partition-local sort — a global ORDER BY
    // (RangePartitioning) would funnel the corpus through one task
    // boundary per shard anyway and is the shape this op exists to avoid.
    val p = plan("p_sample_shard")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"expected a single shard exchange in:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"unexpected global range sort in:\n$p")
  }

  test("byte-level phash tallies with map-side partial aggregation, no UDFs") {
    // fingerprint = scan → hex/shingle projection → partial tally →
    // one doc_id exchange → final tally; the shingle explode must not
    // introduce its own shuffle.
    val p = plan("p_mm_phash")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"expected a single doc_id exchange in:\n$p")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"expected partial aggregation in:\n$p")
  }

  test("personalized PageRank hands the consumer a materialized frame") {
    // g_ppr shares fixedPageRank's 1-exchange superstep via the same
    // eagerPartitioned invariants (the superstep-merge pin covers that
    // shape); the operator's own contract is that the iteration happens
    // INSIDE — the consumer sees only the checkpointed top-100 scan,
    // never the loop's join/exchange chain (an unmaterialized loop plan
    // here would mean the checkpoint discipline broke and every consumer
    // action re-runs 6 supersteps).
    val df = SparkEntry.queries("g_ppr")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD") && !p.contains("Exchange"),
      s"expected a materialized checkpoint scan in:\n$p")
    assert(df.count() == 100)
  }

  /** Run `body` with the Bcast cell cap forced to `cap` and Spark's own
    * size-based auto-broadcast disabled (at sf0.001 everything fits the
    * default threshold, which would re-broadcast a hint-free plan and
    * hide a gate that failed to drop the hint). */
  private def withBcastCap[A](cap: String)(body: => A): A = {
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAuto = spark.conf.getOption(autoKey)
    spark.conf.set(graft.Bcast.confKey, cap)
    spark.conf.set(autoKey, "-1")
    try body
    finally {
      spark.conf.unset(graft.Bcast.confKey)
      prevAuto.fold(spark.conf.unset(autoKey))(v => spark.conf.set(autoKey, v))
    }
  }

  test("k-core alive filter broadcasts under the gate and degrades past it") {
    // VERDICT r16 item 1a: the peel round's dst-side semi join — shared
    // by the library g_kcore loop and the call kcore() bridge — must
    // broadcast the alive set only under the measured-count cell cap.
    import org.apache.spark.sql.functions.{col, expr}
    val edges = spark.range(0, 200)
      .select(col("id").as("src"), ((col("id") * 7 + 1) % 200).as("dst"))
    val alive = spark.range(0, 150).select(col("id"))
    def run() = graft.operators.GraphAlgos.kcoreAliveFilter(edges, alive, 150L)
    val under = run()
    val pUnder = under.queryExecution.executedPlan.toString
    assert(pUnder.contains("BroadcastHashJoin"),
      s"expected the dst-side alive broadcast under the cap in:\n$pUnder")
    val base = under.orderBy("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    withBcastCap("0") {
      val over = run()
      val pOver = over.queryExecution.executedPlan.toString
      assert(!pOver.contains("BroadcastHashJoin"),
        s"broadcast hint survived a zero cell cap in:\n$pOver")
      assert(pOver.contains("SortMergeJoin") || pOver.contains("ShuffledHashJoin"),
        s"expected the shuffled degrade shape in:\n$pOver")
      val rows = over.orderBy("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == base, "gated SMJ form changed the peel round's edge set")
    }
  }

  test("nodesim degree-table broadcasts ride the measured-count gate") {
    // VERDICT r16 item 1b: the |parts|-scale degree table joins the
    // (u,v) intersection frame broadcast ONLY under the cell cap —
    // bounded by the distinct (o,p) count, whose job doubles as the
    // shared-checkpoint materialization — and degrades to the shuffled
    // form past it with identical rows.
    val (under, li1) = graft.operators.GraphAlgos.nodesimUncached(spark, dir)
    val pUnder = under.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(pUnder).size >= 2,
      s"expected both degree-side broadcasts under the cap in:\n$pUnder")
    val base = under.collect().map(_.toSeq).toSeq
    graft.Ckpt.drop(li1)
    withBcastCap("0") {
      val (over, li2) = graft.operators.GraphAlgos.nodesimUncached(spark, dir)
      val pOver = over.queryExecution.executedPlan.toString
      assert(!pOver.contains("BroadcastHashJoin"),
        s"degree-table broadcast survived a zero cell cap in:\n$pOver")
      assert(pOver.contains("SortMergeJoin") || pOver.contains("ShuffledHashJoin"),
        s"expected the shuffled degrade shape in:\n$pOver")
      val rows = over.collect().map(_.toSeq).toSeq
      graft.Ckpt.drop(li2)
      assert(rows == base, "gated SMJ form changed the nodesim top-100")
    }
  }
}
