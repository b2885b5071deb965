package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

/** Invariant + differential tests for the pipeline operator inventory at
  * sf0.001 (the DuckDB oracle equivalence itself is exercised by the
  * driver's Verify harness; these pin the in-JVM semantic relationships
  * between operators that the oracle can't see — e.g. streaming ≡ batch,
  * LSH ⊆ exact). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) =
    SparkEntry.queries(name)(spark, dir)

  /** Events table with ts normalized to TimestampType (PipeData is
    * private to the operators package; this mirrors its reader, which
    * handles both the TIMESTAMP(NANOS) and the timestamp[us] source
    * layouts the driver's generator has shipped). */
  private def events = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  test("bin packing: budget respected, bins contiguous and maximal per lang") {
    val rows = SparkEntry.queries("p_pack_bins")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val budget = 256L
    rows.groupBy(_._1).foreach { case (lang, ds) =>
      val inOrder = ds.sortBy(_._2)
      // bin ids start at 0 and never skip or decrease along doc order
      assert(inOrder.head._4 == 0L, s"$lang: first bin not 0")
      inOrder.sliding(2).foreach {
        case Array((_, _, _, b1), (_, _, _, b2)) =>
          assert(b2 == b1 || b2 == b1 + 1, s"$lang: bin jump $b1 -> $b2")
        case _ => ()
      }
      val fills = inOrder.groupBy(_._4).view.mapValues(_.map(_._3).sum)
      // every multi-doc bin respects the budget (an oversized single
      // doc may exceed it alone — the greedy rule)
      inOrder.groupBy(_._4).foreach { case (b, docs) =>
        if (docs.length > 1)
          assert(fills(b) <= budget, s"$lang bin $b overfull: ${fills(b)}")
      }
      // maximality: a closed bin could not have absorbed the next doc
      val maxBin = inOrder.map(_._4).max
      (0L until maxBin).foreach { b =>
        val nextDoc = inOrder.find(_._4 == b + 1).get
        assert(fills(b) + nextDoc._3 > budget,
          s"$lang bin $b closed early: ${fills(b)} + ${nextDoc._3} <= $budget")
      }
    }
  }

  test("dedup_exact partitions the corpus: n_copies sums to |documents|") {
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val agg = run("p_dedup_exact").agg(sum("n_copies")).collect()(0).getLong(0)
    assert(agg == total)
  }

  test("minhash LSH pairs are canonical and confirmed by exact Jaccard >= 0.4") {
    val lsh = run("p_dedup_minhash_lsh").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.forall { case (a, b) => a < b })
    assert(lsh.distinct.length == lsh.length)
    // Banding (8 bands × 2 rows) catches a J>=0.5 pair with only ~90%
    // per-pair probability, so asserting subset over ALL exact pairs
    // would flake on a borderline pair in a regenerated corpus (ADVICE
    // r02). Restrict to J>=0.9, where the per-pair miss probability is
    // (1 - 0.81)^8 ≈ 1e-6 — effectively deterministic.
    val exact = run("p_dedup_ngram_jaccard").collect()
      .filter(_.getDouble(2) >= 0.9)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh.toSet))
  }

  test("dup clustering converges on an 11-hop chain the fixed-depth loop would abort on") {
    import spark.implicits._
    // A 12-document chain d0-d1-…-d11: min-label propagation needs 11
    // supersteps to carry doc 0's label to the far end — round 9's fixed
    // 5-superstep loop would have hit its convergence `require` and
    // ABORTED the pipeline (VERDICT r09 item 2). Plus a disjoint
    // triangle to pin multi-cluster output.
    val chain = (0L until 11L).map(i => (i, i + 1))
    val clique = Seq((100L, 101L), (100L, 102L), (101L, 102L))
    val labels = DedupOps.dupClusterLabels((chain ++ clique).toDF("a", "b"), maxIters = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 15)
    assert((0L to 11L).forall(labels(_) == 0L))
    assert(Seq(100L, 101L, 102L).forall(labels(_) == 100L))
    // ...and the bound is a loud backstop, not a silent truncation
    val e = intercept[IllegalArgumentException] {
      DedupOps.dupClusterLabels(chain.toDF("a", "b"), maxIters = 3)
    }
    assert(e.getMessage.contains("not converged"))
  }

  test("repetition signals agree: dup2_frac = 0 iff the top bigram is unique") {
    // Cross-validates the zero-shuffle per-row op (p_text_rep_ngrams)
    // against the aggregate-shaped top-bigram coverage
    // (p_curate_repetition): a doc repeats NO bigram exactly when its
    // most frequent bigram occurs once. Also pins the fraction ranges.
    val rep = run("p_text_rep_ngrams").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val top = run("p_curate_repetition").collect()
    assert(top.nonEmpty)
    top.foreach { r =>
      val (nG2, dup2) = rep(r.getLong(0))
      val topN = r.getLong(2)
      val topFrac = r.getDouble(3)
      assert(dup2 >= 0.0 && dup2 < 1.0)
      assert(topFrac > 0.0 && topFrac <= 1.0)
      // dup2_frac is rounded to 6 dp for cross-engine hashing, so compare
      // in integers: recover the repeat count (exact while n_g2 < 1e6,
      // since the rounding error n_g2 * 5e-7 stays below 0.5).
      val repeats = Math.round(dup2 * nG2)
      assert((repeats == 0L) == (topN == 1L),
        s"doc ${r.getLong(0)}: dup2_frac=$dup2 but top_n=$topN")
      // the top gram's repeats are a subset of all repeated-gram slots
      assert(topN - 1 <= repeats,
        s"doc ${r.getLong(0)}: top_n=$topN exceeds repeats=$repeats")
    }
    // docs with < 2 words appear in rep (n_g2 = 0) but not in top
    assert(rep.size >= top.length)
  }

  test("editdist join equals the length-banded brute force (blocking is exact)") {
    // The PassJoin pigeonhole claim, proven: the segment-blocked join
    // must produce EXACTLY the pairs the O(n²) brute force finds — a
    // missing pair breaks the ±k probe-window guarantee, an extra pair
    // breaks the levenshtein verification.
    val norm = spark.read.parquet(s"$dir/documents.parquet").selectExpr("doc_id",
      "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' ')) AS t")
    // precondition of the k+1-segment scheme: no zero-length segments
    assert(norm.selectExpr("min(length(t))").collect()(0).getInt(0) >= 5)
    val x = norm.selectExpr("doc_id AS a", "t AS ta")
    val brute = x.crossJoin(norm.selectExpr("doc_id AS b", "t AS tb"))
      .filter("a < b AND abs(length(ta) - length(tb)) <= 4")
      .selectExpr("a", "b", "levenshtein(ta, tb, 4) AS dist")
      .filter("dist >= 0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val blocked = run("p_dedup_editdist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "corpus has no pairs within edit distance 4 — test is vacuous")
    assert(blocked == brute,
      s"missed=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
  }

  test("simhash fingerprints are 64-bit bitstrings, one per document") {
    val fp = run("p_dedup_simhash").collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(fp.length == total)
    assert(fp.forall(_.getString(1).matches("[01]{64}")))
  }

  test("simhash near-dup pairs have verified Hamming <= 3") {
    assert(run("p_dedup_simhash_pairs").collect()
      .forall(r => r.getInt(2) >= 0 && r.getInt(2) <= 3))
  }

  test("brute-force top-k: consecutive ranks, cosine in [-1,1], ordered") {
    val rows = run("p_sim_topk_brute")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to sorted.length))
      // cosine non-increasing with rank
      assert(sorted.sliding(2).forall {
        case Array(x, y) => x._4 >= y._4
        case _ => true
      })
    }
    assert(rows.forall(r => r._4 >= -1.0001 && r._4 <= 1.0001))
    assert(rows.forall(r => r._1 != r._2))
  }

  test("LSH-bucket top-k is a subset of each query's brute-force ordering domain") {
    val bucket = run("p_sim_lsh_bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // no self-matches, canonical ranks
    assert(bucket.forall { case (q, n) => q != n })
  }

  test("streaming tumbling window equals the batch tumbling counts") {
    val stream = run("p_stream_tumbling")
      .select("window_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = run("p_events_tumbling")
      .select("window_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(stream == batch)
  }

  test("sessionization conserves events; sliding windows hold each event 4x") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val total = spark.read.parquet(s"$dir/events.parquet").count()
    val sessions = run("p_events_sessions").agg(sum("n_events")).collect()(0).getLong(0)
    assert(sessions == total)
    val sliding = run("p_events_sliding").agg(sum("n")).collect()(0).getLong(0)
    assert(sliding == 4 * total)
  }

  test("multimodal metadata decode matches the JPEG corpus dims (round 17: real SOF parse)") {
    val rows = run("p_mm_metadata").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == 8 * (1 + id % 3), s"doc $id width")
      assert(r.getLong(2) == 8 * (1 + id % 2), s"doc $id height")
      assert(r.getLong(3) == 8, s"doc $id precision")
      assert(r.getBoolean(4), s"doc $id JFIF signature")
    }
  }

  test("mapPartitions feature extraction produces one row per payload") {
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val feats = run("p_mm_features").collect()
    assert(feats.length == total)
    assert(feats.forall(r => r.getDouble(1) >= 0 && r.getDouble(1) <= 255))
  }

  test("url dedup: canonical form strips every noise axis, groups = page identity") {
    // semantic pin beyond the oracle hash: no canonical URL may retain
    // fragment / www. / tracking params / scheme-host case noise, path
    // case must be PRESERVED, and each group's size must equal the
    // closed-form count of doc_ids congruent to its page mod 120
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val rows = run("p_dedup_url").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum == total, "groups must partition the corpus")
    rows.foreach { case (u, n, keeper) =>
      assert(u.startsWith("https://example"), s"scheme/host not canonical: $u")
      assert(!u.contains("#") && !u.contains("utm_") && !u.contains("www."),
        s"noise survived canonicalization: $u")
      assert(u.contains("/Docs/"), s"path case not preserved: $u")
      assert(!u.endsWith("/"), s"trailing slash survived: $u")
      val page = u.replaceAll("^.*/Docs/([0-9]+).*$", "$1").toLong
      assert(keeper % 120 == page, s"keeper $keeper not in page-$page group")
      val expect = (0L until total).count(_ % 120 == page)
      assert(n == expect, s"page $page: $n docs, closed form says $expect")
    }
  }

  // Running the query also exercises the in-operator convergence
  // assertion (DedupOps requires one extra propagation step change no
  // label), so an under-converged superstep count fails here loudly.
  test("dup clusters: exactly one survivor per cluster, members cover all pairs") {
    val rows = run("p_dedup_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    rows.groupBy(_._2).foreach { case (_, members) =>
      assert(members.count(_._3) == 1)
      // canonical label: the cluster id is one of its members (the min)
      assert(members.map(_._1).min == members.head._2)
    }
    val paired = run("p_dedup_minhash_lsh").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(_._1).toSet == paired)
  }

  test("df-cut jaccard is a subset of plain jaccard and retains all high-J pairs") {
    val plain = run("p_dedup_ngram_jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val cut = run("p_dedup_ngram_jaccard_dfcut").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // candidates are generated from a subset of shingles, verification is
    // identical -> always a subset with identical scores
    assert(cut.keySet.subsetOf(plain.keySet))
    cut.foreach { case (k, j) => assert(plain(k) == j) }
    // recall precondition on this corpus: planted near-dups (J >= 0.9)
    // share document-specific rare shingles, so the cut keeps them all
    plain.filter(_._2 >= 0.9).keySet
      .foreach(k => assert(cut.contains(k), s"$k lost by df-cut"))
  }

  test("df-cut containment is a subset of plain containment, retains the >= 0.8 band") {
    val plain = run("p_dedup_containment").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val cut = run("p_dedup_containment_dfcut").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // candidates from a subset of shingles, identical exact verification
    assert(cut.keySet.subsetOf(plain.keySet))
    cut.foreach { case (k, c) => assert(plain(k) == c) }
    // recall on this corpus: a containment >= 0.8 pair shares 0.8·|A|
    // shingles — the planted sub-document dups carry document-specific
    // rare trigrams, so the cut loses nothing in the output band
    plain.keySet.foreach(k => assert(cut.contains(k), s"$k lost by df-cut"))
  }

  test("containment is a superset relation of symmetric high-Jaccard pairs") {
    val cont = run("p_dedup_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // J >= 0.8 implies containment >= 0.8 in both directions
    run("p_dedup_ngram_jaccard").collect()
      .filter(_.getDouble(2) >= 0.8)
      .foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        assert(cont((a, b)) && cont((b, a)), s"($a,$b)")
      }
  }

  test("LSH dedup recall: sound (no false pairs) and above the banding-theory floor") {
    val r = run("p_dedup_lsh_recall").collect()(0)
    val (nExact, nLsh, nCommon) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // soundness: the LSH path exact-verifies at the same tau, so every
    // emitted pair is a true pair
    assert(nCommon == nLsh, s"LSH emitted ${nLsh - nCommon} false pairs")
    // recall floor: P(candidate) = 1-(1-j^2)^8 >= 0.75 at j = tau = 0.4,
    // higher for stronger pairs — 0.6 leaves margin for corpus shape
    assert(nExact > 0 && nCommon.toDouble / nExact >= 0.6,
      s"LSH recall ${nCommon.toDouble / nExact} below floor ($nCommon/$nExact)")
  }

  test("foreachBatch upsert final state equals batch latest-per-key") {
    val stream = run("p_stream_upsert").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3))).toSet
    // the upsert genuinely merged across micro-batches, not one big batch
    assert(StreamingOps.lastRunDataBatches >= StreamingOps.stagedFiles,
      s"upsert saw ${StreamingOps.lastRunDataBatches} data batches")
    val batch = run("p_events_latest").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3))).toSet
    assert(stream == batch)
  }

  test("streaming user_seq carries GroupState across >= 3 micro-batches") {
    val got = run("p_stream_user_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the staged source is 3 ts-range files with maxFilesPerTrigger=1 —
    // the per-user counter MUST survive batch boundaries to match the
    // global ROW_NUMBER (VERDICT r02 item 3: with one staged file the
    // state-carry path never executed)
    assert(StreamingOps.lastRunDataBatches >= StreamingOps.stagedFiles,
      s"only ${StreamingOps.lastRunDataBatches} data micro-batches ran")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val want = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("seq", row_number().over(w).cast("long"))
      .select("user_id", "event_id", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("HLL approx distinct users is within 3x the configured 2% rsd of exact") {
    val approx = run("p_events_approx_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val truth = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == truth.keySet)
    truth.foreach { case (t, e) =>
      val a = approx(t)
      assert(math.abs(a - e) <= math.max(3 * 0.02 * e, 3.0),
        s"$t: approx $a vs exact $e outside 3x rsd bound")
    }
  }

  test("streaming dedup equals batch distinct (user, hour)") {
    val stream = run("p_stream_dedup").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(stream.size == run("p_stream_dedup").count(),
      "streaming dedup emitted a duplicate")
    val batch = events
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(stream == batch)
  }

  test("stream-static join equals the batch enrichment") {
    val stream = run("p_stream_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val clicks = events
      .filter(col("event_type") === "click")
      .groupBy("user_id").agg(count(lit(1)).as("n_clicks"))
    val batch = events
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id").join(clicks, Seq("user_id"))
      .select("user_id", "event_id", "n_clicks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream == batch)
  }

  test("streaming sessions = batch sessions closed by the final watermark") {
    val stream = run("p_stream_sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // batch twin + closure predicate: a session is emitted iff its end
    // (last event + 30min) <= max(ts) - 2h; compute ends independently
    val ev = events
    val maxTs = ev.agg(max("ts")).collect()(0).getTimestamp(0)
    val batch = ev
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("w.end") <= lit(maxTs) - expr("INTERVAL 2 HOURS"))
      .select(col("user_id"), col("w.start"), col("n_events")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(stream == batch)
  }

  test("as-of with tolerance is the <=1h-gap subset of the plain as-of") {
    val plain = run("p_events_asof").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getTimestamp(2))).toMap
    val tol = run("p_events_asof_tol").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getTimestamp(2))).toMap
    assert(tol.keySet.subsetOf(plain.keySet))
    tol.foreach { case (k, ts) => assert(plain(k) == ts) }
  }

  test("IVF probe search: consecutive ranks, no self-matches") {
    val rows = run("p_sim_ivf_search").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.forall(r => r._1 != r._2))
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.length))
    }
  }

  test("PQ: 8 codes per vector, and the Lloyd update reduced distortion") {
    val rows = run("p_sim_pq").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // every vector gets exactly one code per block
    rows.groupBy(_._1).foreach { case (v, g) =>
      assert(g.map(_._2).sorted.toSeq == (0 to 7), s"vector $v missing blocks")
    }
    assert(rows.forall(_._4 >= 0))
    // Lloyd monotonicity: total distortion under the TRAINED codebook
    // must not exceed the seed assignment's (means minimize the summed
    // squared distance of their members; truncation slack is dwarfed by
    // the improvement). Recompute the seed-assignment distortion inline.
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    e.select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000, 0) as bigint))").as("q"))
      .createOrReplaceTempView("pq_q")
    val seedDist = spark.sql("""
      WITH blocks AS (
        SELECT vec_id, x.block AS block, x.sub AS sub
        FROM pq_q LATERAL VIEW explode(transform(sequence(0, 7),
          b -> struct(b AS block, slice(q, b*8+1, 8) AS sub))) t AS x),
      cb AS (SELECT vec_id AS code, block, sub AS csub FROM blocks WHERE vec_id < 4),
      scored AS (SELECT b.vec_id, b.block,
          aggregate(zip_with(b.sub, cb.csub, (a, c) -> (a - c) * (a - c)),
                    0L, (acc, v) -> acc + v) AS dist
        FROM blocks b JOIN cb ON b.block = cb.block),
      best AS (SELECT vec_id, block, min(dist) AS dist
               FROM scored GROUP BY vec_id, block)
      SELECT sum(dist) FROM best""").collect()(0).getLong(0)
    val trainedDist = rows.map(_._4).sum
    assert(trainedDist <= seedDist,
      s"trained codebook distortion $trainedDist > seed $seedDist")
  }

  test("salted two-phase aggregation equals the plain groupBy") {
    val salted = run("q_skew_salted").collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("q"),
        count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("train/val/test split partitions the corpus deterministically") {
    val rows = run("p_sample_split").collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == total)
    val bySplit = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    // 14/16 expected in train; loose bound that still catches a swapped
    // predicate or a wrong digit index
    assert(bySplit("train") > total * 0.75)
    // determinism: a re-run yields the identical assignment
    val again = run("p_sample_split").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(again == rows.map(r => (r.getLong(0), r.getString(2))).toSet)
  }

  test("approx quantiles bracket the exact per-type percentiles") {
    // The operator now emits a bound CERTIFICATE (event_type, q,
    // within_bound) — assert the full certificate table first: every
    // (type × quantile) present, every verdict true.
    val cert = run("p_events_quantiles_approx").collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getBoolean(2)).toMap
    val types = events.select("event_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cert.keySet == (for (t <- types; q <- Set(0.5, 0.95, 0.99))
      yield (t, q)))
    assert(cert.values.forall(identity), "certificate has a false verdict")
    // Independent value-level check on the raw sketch: its guarantee is
    // on RANK error, not value error (a sparse tail makes neighboring
    // ranks far apart in value — p99 'view' is ~25% off in value at
    // sf0.001 while still rank-exact). Bound each approximate quantile
    // by the exact values at rank ±2% — catches a wrong column or
    // swapped quantile order without re-deriving the sketch's epsilon.
    val approx = events
      .groupBy("event_type")
      .agg(expr("percentile_approx(value, array(0.5, 0.95, 0.99), 10000)").as("a"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val brackets = events
      .groupBy("event_type")
      .agg(expr("percentile(value, array(0.48, 0.52, 0.93, 0.97, 0.97, 1.0))").as("b"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(approx.keySet == brackets.keySet)
    approx.foreach { case (t, qs) =>
      val b = brackets(t)
      qs.zipWithIndex.foreach { case (a, i) =>
        val (lo, hi) = (b(2 * i), b(2 * i + 1))
        assert(a >= lo - 1e-9 && a <= hi + 1e-9,
          s"$t: approx quantile $i = $a outside exact rank bracket [$lo, $hi]")
      }
      assert(qs.sorted.toSeq == qs.toSeq, s"$t: quantiles not monotone")
    }
  }

  test("CDC latest-per-key has one row per user at the max timestamp") {
    val latest = run("p_events_latest").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(2)).toMap
    val maxTs = events.groupBy("user_id").agg(max("ts").as("m"))
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(latest == maxTs)
  }

  test("results are invariant under shuffle-partition count") {
    // The cross-engine determinism story (fixed-point sums, in-row
    // folds, rank tie-breaks) implies a stronger property that is easy
    // to test directly: the SAME session must produce identical rows at
    // any parallelism. Run order-free-claimed operators at 7 and 32
    // shuffle partitions and compare full row sets.
    val conf = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(conf)
    def rows(name: String) = run(name).collect().map(_.toString).sorted.toSeq
    try {
      for (name <- Seq("p_dedup_simhash_pairs", "p_sim_topk_brute",
        "q_percentile", "p_text_tfidf")) {
        spark.conf.set(conf, "7")
        val at7 = rows(name)
        spark.conf.set(conf, "32")
        val at32 = rows(name)
        assert(at7 == at32, s"$name differs across partition counts")
      }
    } finally spark.conf.set(conf, prev)
  }

  test("text stats invariants: 0 < ttr <= 1, n_uniq <= n_words") {
    val rows = run("p_text_stats").collect()
    assert(rows.forall(r => r.getInt(2) <= r.getInt(1)))
    assert(rows.forall(r => r.getDouble(3) > 0 && r.getDouble(3) <= 1.0))
  }

  test("decontamination never flags the benchmark slice itself") {
    val rows = run("p_curate_decontaminate").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) % 20 != 0), "benchmark doc flagged")
    assert(rows.forall(_.getLong(1) >= 1), "zero-hit doc reported")
  }

  test("redaction digest equals the original text digest iff nothing redacted") {
    val scrubbed = run("p_curate_redact").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    val orig = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), md5(col("text")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scrubbed.keySet == orig.keySet)
    for ((id, (n, m)) <- scrubbed)
      assert((m == orig(id)) == (n == 0), s"doc $id: n_redacted=$n digest drift")
  }

  test("PII scrub: every planted item caught, clean text is a fixed point (round 16)") {
    // the augmentation plants EXACTLY one email, one phone, one id per
    // doc; counts must say so (no under-match) and the scrubbed digest
    // must differ from the augmented text's digest (rewrite happened)
    val rows = run("p_curate_pii").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getLong(1) == 1L, s"doc ${r.getLong(0)}: n_email=${r.getLong(1)}")
      assert(r.getLong(2) == 1L, s"doc ${r.getLong(0)}: n_phone=${r.getLong(2)}")
      assert(r.getLong(3) == 1L, s"doc ${r.getLong(0)}: n_id=${r.getLong(3)}")
    }
    // no false rewrite: the CLEAN corpus text must be a fixed point of
    // the same scrub chain — pinned via the pipeline's pii_scrub_md5
    // column, which runs the chain over the raw text
    val piped = run("p_curate_pipeline").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(piped.nonEmpty)
    val orig = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), md5(col("text")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, m) <- piped)
      assert(m == orig(id), s"doc $id: clean text rewritten by the PII scrub")
  }

  test("repetition: top-bigram fraction in (0, 1], count >= 1") {
    val rows = run("p_curate_repetition").collect()
    assert(rows.forall(_.getLong(2) >= 1))
    assert(rows.forall(r => r.getDouble(3) > 0 && r.getDouble(3) <= 1.0))
  }

  test("mixture sampling keeps a subset of each source near the half budget") {
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val perSource = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = run("p_curate_mix").collect().map(r => r.getString(1))
    val keptBySource = kept.groupBy(identity).view.mapValues(_.size).toMap
    assert(keptBySource.forall { case (s, n) => n <= perSource(s) })
    // budget is corpus/2; 8-bit hash thresholds keep the realized total
    // within a wide deterministic band of it
    assert(kept.length > total * 3 / 10 && kept.length < total * 7 / 10)
  }

  test("kmeans update emits one mean per (centroid, dimension)") {
    val rows = run("p_sim_kmeans_update").collect()
    assert(rows.length == 8 * 64)
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).distinct.length == rows.length)
    assert(rows.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 64))
  }

  test("triangle participation counts are positive and canonical") {
    val rows = run("g_triangles").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_.getLong(1) >= 1))
  }

  test("observe() metrics match the materialized result (pipeline monitoring)") {
    // The production observability hook: named metrics ride the job
    // itself (no second scan), the contract a 100 TB pipeline uses for
    // row-count/quality accounting on every stage boundary.
    val obs = new org.apache.spark.sql.Observation("docs_stats")
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .observe(obs, count(lit(1)).as("rows"), sum(col("n_chars")).as("chars"))
      .filter(col("lang") === "en")
    val enRows = df.count()
    val m = obs.get
    val all = spark.read.parquet(s"$dir/documents.parquet")
    assert(m("rows") == all.count())
    assert(m("chars") == all.agg(sum("n_chars")).collect()(0).getLong(0))
    assert(enRows < m("rows").asInstanceOf[Long])
  }

  test("update mode runs multi-batch and lands one final row per user") {
    val finalRows = run("p_stream_counts_update").count()
    val users = events.select("user_id").distinct().count()
    assert(finalRows == users, "final state must be one row per user")
    assert(StreamingOps.lastRunDataBatches >= StreamingOps.stagedFiles,
      "update-mode run did not span the staged micro-batches")
  }

  test("custom-state sessionization equals built-in session_window") {
    def rows(name: String) = run(name).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).sorted.toSeq
    assert(rows("p_stream_sessions_state") == rows("p_stream_sessions"))
  }

  test("compaction collapses the fragmented layout to 4 shards, losslessly") {
    run("p_io_compact").collect() // side effect: builds frag + compact dirs
    def parts(d: String): Int = {
      val f = new java.io.File(d)
      if (!f.exists()) 0
      else f.listFiles().map(c =>
        if (c.isDirectory) parts(c.getPath)
        else if (c.getName.endsWith(".parquet")) 1 else 0).sum
    }
    val nFrag = parts(graft.operators.IoOps.scratch("frag", dir))
    val nComp = parts(graft.operators.IoOps.scratch("compact", dir))
    assert(nComp == 4, s"expected 4 compacted shards, got $nComp")
    assert(nFrag > nComp, s"fragmented layout ($nFrag files) not larger")
  }

  test("three CC implementations agree: delta iteration, star, GraphX") {
    def comps(name: String) = run(name).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val delta = comps("g_connected_components")
    assert(comps("g_connected_components_star") == delta)
    assert(comps("g_cc_graphx") == delta)
  }

  test("LSH-bucketed embedding pairs are a subset of the exact pairs") {
    val lsh = run("p_dedup_embedding_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = run("p_dedup_embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.keySet.subsetOf(exact.keySet), "LSH invented a pair")
    for ((k, c) <- lsh) assert(c == exact(k), s"cosine drift on $k")
  }

  test("semantic dedup drops only vectors with an exact near-duplicate witness") {
    val surv = run("p_dedup_semantic").collect().map(_.getLong(0)).toSet
    val allIds = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val dropped = allIds -- surv
    // the corpus contains within-cluster near-dups, so the op must
    // actually deduplicate (a no-op pass would vacuously satisfy the
    // soundness check below)
    assert(dropped.nonEmpty, "semantic dedup dropped nothing")
    assert(surv.subsetOf(allIds))
    // soundness: every dropped vector has a LOWER-id exact near-dup pair
    // (the cluster bound may only MISS cross-cluster dups, never invent
    // a within-cluster one)
    val exactBs = run("p_dedup_embedding").collect().map(_.getLong(1)).toSet
    assert(dropped.subsetOf(exactBs),
      s"dropped without exact witness: ${(dropped -- exactBs).take(5)}")
  }

  test("scd2 versions: contiguous per user, intervals chain, one current row") {
    val rows = run("p_events_scd2").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)), r.getBoolean(5)))
    val byUser = rows.groupBy(_._1)
    for ((u, vs) <- byUser) {
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to vs.size), s"user $u: version gap")
      // exactly one open (current) interval, and it is the last version
      assert(vs.count(_._6) == 1 && sorted.last._6, s"user $u: current-row violation")
      // intervals chain: each version's valid_to is the next valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.contains(b._4), s"user $u: interval gap at v${a._2}")
          // consecutive versions must differ in the tracked attribute
          assert(a._3 != b._3, s"user $u: non-change version at v${b._2}")
        case _ => ()
      }
    }
  }

  test("file sink is idempotent: a restarted run appends nothing") {
    val first = run("p_stream_file_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // second run restarts against the same durable checkpoint: all
    // source files are already committed, so the sink must not grow
    val second = run("p_stream_file_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(first == second, "restarted file-sink run changed the landed data")
  }

  test("file sink runs leave no streaming listener bus behind") {
    // the query runs on the caller's session, whose streaming query
    // manager puts one StreamingQueryListenerBus on the shared
    // SparkContext's bus on the first run; a run that also left its
    // stream clone's bus behind would grow the count on every run
    def buses = org.apache.spark.ListenerBusProbe.streamBuses(spark.sparkContext)
    run("p_stream_file_sink")
    val after1 = buses
    run("p_stream_file_sink")
    run("p_stream_file_sink")
    assert(buses == after1, s"streaming listener buses grew from $after1 to $buses over two runs")
  }

  test("stream-stream interval join equals the batch interval join") {
    val got = run("p_stream_stream_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("u"), col("event_id").as("cid"), col("ts").as("cts"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"), col("event_id").as("pid"), col("ts").as("pts"))
    val want = c.join(p, Seq("u"))
      .filter(col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("interval 30 minutes"))
      .select(col("u"), col("cid"), col("pid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == want)
  }

  test("ANN recall gate: IVF nprobe=2 mean recall@k >= 0.6 vs brute truth") {
    // The quality floor for the approximate path (VERDICT r05 item 6):
    // a future IVF change that silently degrades ranking quality —
    // centroid drift, probe-selection bug, assignment mismatch — fails
    // here, not in post-hoc analysis. 0.6 is safely below the current
    // measured recall at this corpus (leaving room for benign float
    // nudges) and far above what a broken probe path produces.
    val rec = run("p_sim_recall").agg(avg(col("recall"))).head().getDouble(0)
    assert(rec >= 0.6, f"mean IVF recall@k degraded to $rec%.3f (< 0.6)")
    // and recall is a well-formed fraction everywhere
    val bad = run("p_sim_recall")
      .filter(col("recall") < 0 || col("recall") > 1).count()
    assert(bad == 0)
  }

  test("weighted reservoir: exact top-k per stratum equals the in-JVM A-ES replay") {
    val res = run("p_sample_reservoir").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    docs.groupBy(_._2).foreach { case (lang, ds) =>
      val expectIds = ds.map { case (id, _, nc) =>
        val h = Integer.parseInt(md5hex(id.toString).slice(4, 8), 16)
        val key = Math.round(-Math.log((h + 0.5) / 65536.0)
          / (Math.min(nc, 4000) / 1000.0) * 1e9)
        (key, id)
      }.sorted.take(10).map(_._2).toSeq
      val got = res.filter(_._1 == lang).sortBy(_._2).map(_._3).toSeq
      assert(got == expectIds, s"lang $lang: reservoir $got != replay $expectIds")
    }
  }

  test("temperature sampling boosts low-resource languages; keep set replays exactly") {
    val kept = run("p_sample_temperature").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // replay the rate computation and the per-doc integer keep decision
    val nL = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val zq = nL.values.map(n => Math.round(Math.pow(n.toDouble, 0.7) * 1e6)).sum
    val nTotal = nL.values.sum
    val thresh = nL.map { case (l, n) =>
      val rate = math.min(1.0,
        (Math.pow(n.toDouble, 0.7) / (zq / 1e6)) * (nTotal.toDouble / 2.0) / n)
      l -> math.floor(rate * 256).toInt
    }
    val expect = docs.filter { case (id, l) =>
      Integer.parseInt(md5hex(id.toString).slice(8, 10), 16) < thresh(l)
    }.toSet
    assert(kept.toSet == expect, "temperature keep set differs from replay")
    // α = 0.7 boosts low-resource languages: per-language keep RATES are
    // anti-monotone in corpus size (smaller language -> rate at least as
    // high), which proportional sampling would make flat instead
    val sorted = nL.toSeq.sortBy(_._2).map { case (l, _) => thresh(l) }
    assert(sorted.reverse == sorted.sorted, s"thresholds not anti-monotone: $sorted")
    assert(thresh.values.max > thresh.values.min, "α-scaling had no effect on rates")
  }

  test("nearest as-of picks the min-|dt| click per purchase (imperative replay)") {
    val near = run("p_events_asof_near").collect()
      .map(r => r.getLong(0) -> (r.getTimestamp(2), r.getLong(3))).toMap
    val evs = events.select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("t")).collect()
    val clicksByUser = evs.filter(_.getString(2) == "click")
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(3)).sorted).toMap
    val purchases = evs.filter(_.getString(2) == "purchase")
    assert(near.nonEmpty)
    purchases.foreach { p =>
      val (pid, u, pt) = (p.getLong(0), p.getLong(1), p.getLong(3))
      clicksByUser.get(u) match {
        case None => assert(!near.contains(pid), s"purchase $pid has no clicks but a match")
        case Some(cts) =>
          val best = cts.minBy(ct => (math.abs(ct - pt), ct > pt)) // tie -> earlier
          val (ts, dt) = near(pid)
          assert(dt == math.abs(best - pt), s"purchase $pid: dt $dt != ${math.abs(best - pt)}")
          val tsUs = ts.getTime * 1000 + (ts.getNanos % 1000000) / 1000
          assert(tsUs == best, s"purchase $pid: near_ts $tsUs != $best us")
      }
    }
  }

  test("PQ ADC distance equals the exact distance to the code reconstruction") {
    // The ADC identity that makes the LUT trick correct: summing the 8
    // per-block LUT entries must equal the FULL squared distance between
    // the raw query and the vector RECONSTRUCTED from its codes. A block
    // misalignment, code mixup, or LUT keying bug breaks this exactly.
    val (blocks, cb) = SimilarityOps.pqModel(spark, dir)
    val recon = run("p_sim_pq").select("vec_id", "block", "code")
      .join(cb, Seq("block", "code"))
    val q = blocks.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("block"), col("sub").as("qsub"))
    val exact = q.join(recon, Seq("block"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("d",
        expr("aggregate(zip_with(qsub, csub, (a, b) -> (a-b)*(a-b)), 0L, (acc, x) -> acc + x)"))
      .groupBy("qid", "vec_id").agg(sum(col("d")).as("dist"))
    val adc = run("p_sim_pq_search")
    assert(adc.count() == 8 * 5)
    val mism = adc.join(exact, Seq("qid", "vec_id"))
      .filter(col("adc_dist") =!= col("dist")).count()
    assert(mism == 0, s"$mism ADC distances differ from reconstruction distance")
    // and each query's ranks are exactly 1..5 with nondecreasing distance
    adc.collect().groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 5))
      assert(sorted.sliding(2).forall(p => p(0).getLong(2) <= p(1).getLong(2)))
    }
  }

  test("DSIR gate boosts the target language; weights replay in-JVM exactly") {
    val kept = run("p_curate_dsir").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // in-JVM replay of the unigram importance weights (same Math.log)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ").toSeq))
    val allW = docs.flatMap(_._3)
    val cs = allW.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val ct = docs.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val (ns, v) = (allW.size.toLong, cs.size.toLong)
    val nt = ct.values.sum
    val lam = cs.map { case (w, c) =>
      w -> Math.round((math.log((ct.getOrElse(w, 0L) + 1).toDouble / (nt + v))
        - math.log((c + 1).toDouble / (ns + v))) * 1e9)
    }
    val expected = docs.map { case (id, lang, ws) => (id, lang, ws.map(lam).sum) }
      .filter(_._3 > 0).toSet
    assert(kept.toSet == expected)
    // the gate exists to prefer the target: the kept fraction of the
    // target language must strictly exceed every other language's
    val langTotals = docs.groupBy(_._2).map { case (l, ds) => l -> ds.length }
    val keptBy = kept.groupBy(_._2).map { case (l, ks) => l -> ks.length }
    val frac = langTotals.map { case (l, n) =>
      l -> keptBy.getOrElse(l, 0).toDouble / n }
    assert(frac.filter(_._1 != "en").values.forall(_ < frac("en")),
      s"target boost lost: $frac")
  }

  test("shard layout: a deterministic permutation partitioned into dense shards") {
    val rows = run("p_sample_shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    // every document lands in exactly one (shard, pos) slot
    assert(rows.length == nDocs)
    assert(rows.map(_._1).distinct.length == nDocs)
    // positions are dense 1..n within each shard (a dataloader can seek
    // by offset), and no shard is empty or hot: hex-digit mass splits
    // 500 docs across 8 shards ~62 each
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length))
      assert(rs.length > 30 && rs.length < 100, s"shard $shard holds ${rs.length}")
    }
    // the permutation is a pure function of the data: byte-identical on
    // a re-run (the property sort-on-rand() shuffles do not have)
    val again = run("p_sample_shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
    // and the order within a shard is hash order, not insert order:
    // doc_ids in any shard are not simply ascending by position
    val someShard = rows.filter(_._2 == rows.head._2).sortBy(_._3).map(_._1)
    assert(someShard.zip(someShard.sorted).exists { case (a, b) => a != b },
      "shard order degenerated to doc_id order — permutation lost")
  }

  test("IVFPQ search = ADC ranking restricted to each query's probed cells") {
    // The composition contract: p_sim_ivfpq_search must equal "compute
    // the PQ-ADC distance to EVERY corpus vector (the un-pruned serving
    // path), then keep only neighbors assigned to one of the query's 2
    // probed IVF cells, then take the top-5" — i.e. IVF changes WHICH
    // vectors are scored, never their scores or order. Probes are
    // re-derived from the oracle-checked p_sim_ivf assignment operator
    // (its rank-1 column is the same cosine scorer the probe pass uses,
    // so the spec reuses a verified component, not a copy).
    val ivfpq = run("p_sim_ivfpq_search").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // full ADC scores for the ivfpq queries (vec_id < 10), un-pruned
    val (blocks, cb) = SimilarityOps.pqModel(spark, dir)
    val codes = run("p_sim_pq").select("vec_id", "block", "code")
    val q = blocks.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("block"), col("sub").as("qsub"))
    val adcAll = q.join(codes.join(cb, Seq("block", "code")), Seq("block"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("d",
        expr("aggregate(zip_with(qsub, csub, (a, b) -> (a-b)*(a-b)), 0L, (acc, x) -> acc + x)"))
      .groupBy("qid", "vec_id").agg(sum(col("d")).as("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // probed cells per query: top-2 centroids by the same quantized
    // cosine p_sim_ivf ranks with — replayed over its (vec, centroid,
    // cos) scores
    val ivf = run("p_sim_ivf").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // corpus → its cell
    val cents = (0L until 8L).toSet
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => Math.round(x.toDouble * 1000000))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val d = dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (0L until 10L).foreach { qid =>
      val probed = cents.toSeq
        .map(c => (c, cos(quant(emb(qid)), quant(emb(c)))))
        .sortBy { case (c, s) => (-s, c) }.take(2).map(_._1).toSet
      val expected = adcAll.collect {
        case ((`qid`, v), d) if probed.contains(ivf(v)) => (v, d)
      }.toSeq.sortBy { case (v, d) => (d, v) }.take(5)
        .zipWithIndex.map { case ((v, d), i) => (qid, v, d, i + 1) }
      val got = ivfpq.filter(_._1 == qid).sortBy(_._4).toSeq
      assert(got == expected, s"query $qid: ivfpq != pruned ADC ranking")
    }
  }

  test("substring-span coverage: exact duplicates are fully covered, fractions in range") {
    val sub = run("p_dedup_substring").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    sub.values.foreach { case (n, d, f) =>
      assert(d >= 0L && d <= n, s"coverage $d outside [0, $n]")
      assert(f >= 0.0 && f <= 1.0)
    }
    // Differential check of the window-lag interval merge: the naive
    // set-union coverage (explode every duplicated-gram hit to its 5
    // token indices, count distinct) must agree exactly. The merge is
    // the scale path (no 5× hit blowup); the union is the obviously-
    // correct baseline.
    val grams = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(ws)-5), " +
          "i -> concat(ws[i],' ',ws[i+1],' ',ws[i+2],' ',ws[i+3],' ',ws[i+4]))")))
      .toDF("doc_id", "pos", "gram")
    val dup = grams.groupBy("gram").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select("gram")
    val naive = grams.join(dup, Seq("gram"), "left_semi")
      .select(col("doc_id"), explode(expr("sequence(pos, pos + 4)")).as("tok"))
      .groupBy("doc_id").agg(countDistinct(col("tok")).as("cov"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(naive.nonEmpty && naive.values.exists(_ > 0)) // nonvacuous: near-dups share grams
    sub.foreach { case (id, (_, d, _)) =>
      assert(d == naive.getOrElse(id, 0L),
        s"doc $id: merged coverage $d != set-union coverage ${naive.getOrElse(id, 0L)}")
    }
  }

  test("activity streaks partition each user's active days") {
    val activeDays = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct().groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val st = run("p_events_streaks").collect()
    assert(st.length == activeDays.size)
    st.foreach { r =>
      val (u, nStreaks, longest, active) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      // streaks partition the active-day set: lengths sum to the
      // independently-counted distinct days, and max*count bounds the sum
      assert(active == activeDays(u), s"user $u active_days $active != ${activeDays(u)}")
      assert(longest <= active && nStreaks <= active)
      assert(longest * nStreaks >= active)
    }
  }

  test("forward fill carries the last non-click value per user (LOCF replay)") {
    val ff = run("p_events_ffill").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val rows = events
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .collect()
    rows.groupBy(_.getLong(1)).foreach { case (u, rs) =>
      var lastV: Option[Double] = None
      rs.sortBy(r => (r.getTimestamp(2).getTime, r.getLong(0))).foreach { r =>
        if (r.getString(3) != "click") lastV = Some(r.getDouble(4))
        assert(ff(r.getLong(0)) == lastV,
          s"user $u event ${r.getLong(0)}: ffill ${ff(r.getLong(0))} != replay $lastV")
      }
    }
  }

  test("incremental ingest: batch 2 sees batch 1's survivors; re-run is a no-op") {
    import spark.implicits._
    // first run builds the store (history = doc_id%10<8), ingests batch
    // 1 (=8), and dedups batch 2 (=9) against history ∪ batch 1
    val out1 = run("p_dedup_incremental_ingest")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // batch-2-sees-batch-1: no surviving batch-2 hash may exist in
    // batch 1 (the plain store-less anti-join against history alone
    // WOULD keep them — that difference is the ingested delta)
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val vocabFp = md5(array_join(
      array_sort(array_distinct(split(col("text"), " "))), " "))
    val b1Hashes = docsDf.filter(col("doc_id") % 10 === 8)
      .select(vocabFp).as[String].collect().toSet
    assert(out1.nonEmpty)
    assert(!out1.exists { case (th, _) => b1Hashes.contains(th) },
      "a batch-2 survivor duplicates a batch-1 hash: ingest not visible")
    // …and the delta is non-trivial at this SF: some batch-2 hash IS in
    // batch 1 and got suppressed (otherwise this test pins nothing)
    val b2 = docsDf.filter(col("doc_id") % 10 === 9)
      .select(vocabFp).as[String].collect().toSet
    assert((b2 intersect b1Hashes).nonEmpty,
      "test data has no cross-batch duplicate; pin is vacuous")
    // idempotency: a second run appends nothing and returns the same set
    val out2 = run("p_dedup_incremental_ingest")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out2 == out1, "re-run changed the result: ingest not idempotent")
    // the store grew by exactly batch 1's survivor count (distinct
    // hashes not in history), not by the re-run
    val hist = docsDf.filter(col("doc_id") % 10 < 8)
      .select(vocabFp).as[String].collect().toSet
    val storeName = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_bkt_fp_live_")).head
    val storeN = spark.table(storeName).count()
    assert(storeN == hist.size + (b1Hashes -- hist).size,
      s"store has $storeN hashes, expected history ${hist.size} + delta ${(b1Hashes -- hist).size}")
  }

  test("stream dedup-store: one row per user, store state carried across batches") {
    val out = run("p_stream_dedup_store").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly one first-sighting per user — a second batch re-emitting a
    // stored user would duplicate here
    assert(out.map(_._1).distinct.length == out.length,
      "a user was emitted by more than one micro-batch: store not consulted")
    // the stream really ran multiple data batches (state-carry exercised)
    assert(StreamingOps.lastRunDataBatches >= StreamingOps.stagedFiles,
      s"expected >= ${StreamingOps.stagedFiles} data batches, " +
        s"got ${StreamingOps.lastRunDataBatches}")
    // and users genuinely span batches at this SF: some user's events
    // cross the staged ts-range bounds (otherwise the pin is vacuous) —
    // users with events in both the first and last ts third qualify
    val ev = events.select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (lo, hi) = (ev.map(_._2).min, ev.map(_._2).max)
    val third = (hi - lo) / 3
    val spanners = ev.groupBy(_._1).filter { case (_, es) =>
      es.exists(_._2 < lo + third) && es.exists(_._2 > hi - third)
    }
    assert(spanners.nonEmpty, "no user spans batches; store pin is vacuous")
  }

  test("bpe: decode(encode(w)) = w for every word; counts bounded; vocab sane") {
    // vocab table: K ranked merges, merged = pair with the space removed
    val vocab = run("p_text_bpe_train").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(vocab.map(_._1).toSeq == (1L to vocab.length).toSeq)
    vocab.foreach { case (_, pair, merged) =>
      assert(pair.count(_ == ' ') == 1 && pair.replace(" ", "") == merged,
        s"malformed merge: '$pair' -> '$merged'")
    }
    // ranks must be distinct merges (training can't emit the same pair twice)
    assert(vocab.map(_._2).distinct.length == vocab.length)
    // ROUNDTRIP: encoding only moves token boundaries — stripping the
    // separators reconstructs the original word, for EVERY word. The
    // encoder expression here is the op's own (same merges, same order).
    val merges = vocab.map(v => (v._2.split(" ")(0), v._2.split(" ")(1)))
    val enc = merges.foldLeft("concat(' ', regexp_replace(w, '(.)', '$1 '))") {
      case (acc, (a, b)) => s"replace($acc, ' $a $b ', ' $a$b ')"
    }
    val bad = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(expr(s"replace($enc, ' ', '')") =!= col("w"))
      .count()
    assert(bad == 0L, s"$bad words fail decode(encode(w)) = w")
    // token counts: compression is real but lossless — per doc,
    // n_words <= n_tokens <= n_chars-without-spaces, strictly less than
    // chars somewhere (the merges fired)
    val counts = run("p_text_bpe_encode").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val chars = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), (col("n_chars") - (size(split(col("text"), " ")) - 1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    counts.foreach { case (id, nt, nw) =>
      assert(nw <= nt && nt <= chars(id), s"doc $id: n_words=$nw n_tokens=$nt chars=${chars(id)}")
    }
    assert(counts.exists { case (id, nt, _) => nt < chars(id) }, "no merge ever fired")
  }

  test("bpe train at K=64: per-round job count flat (lineage cuts in effect)") {
    // each merge round is one argmax collect (1-2 jobs under AQE) plus
    // one checkpoint materialization every bpeCkptEvery rounds — the
    // job-group count catches any accidental extra action sneaking into
    // the driver loop (an eager count, a per-round cache rebuild)
    spark.sparkContext.setJobGroup("bpe_pin", "bpe train job-count pin")
    val merges =
      try TextOps.bpeTrainUncached(spark, dir)
      finally spark.sparkContext.clearJobGroup()
    assert(merges.length == 64 && merges.distinct.length == 64)
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("bpe_pin").length
    assert(jobs <= 64 * 3 + 16, s"per-round job count not flat: $jobs jobs for 64 rounds")
  }

  test("bpe train at K=256: job count stays flat at scale (round 17)") {
    // the VOCAB-SCALE pin (VERDICT r16 item 6): the per-round shape —
    // one argmax collect plus a lineage cut every max(8, K/32) rounds —
    // must not degrade as K grows (an accidental per-round extra action
    // multiplies by K). stopAtExhaustion: the sf0.001 shard may run out
    // of distinct pairs before 256 merges — the bound scales with what
    // actually trained (+1 for the dry-probe round).
    spark.sparkContext.setJobGroup("bpe_pin_k256", "bpe scale job-count pin")
    val merges =
      try TextOps.bpeTrainUncached(spark, dir, 256, stopAtExhaustion = true)
      finally spark.sparkContext.clearJobGroup()
    assert(merges.length > 64, s"scale run trained only ${merges.length} merges")
    assert(merges.distinct.length == merges.length)
    val rounds = merges.length + 1
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("bpe_pin_k256").length
    assert(jobs <= rounds * 3 + rounds / 8 + 16,
      s"per-round job count not flat at scale: $jobs jobs for $rounds rounds")
  }

  test("entropy is bounded by ln(n_uniq) and agrees with p_text_stats' vocabulary") {
    val stats = run("p_text_stats").collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    run("p_text_entropy").collect().foreach { r =>
      val (id, u, h, hn) = (r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(u == stats(id).toLong, s"doc $id n_uniq $u != stats ${stats(id)}")
      // 1e-4 absorbs the 1e-6 per-term fixed-point quantization plus the
      // 6-dp output rounding; the bounds are information-theoretic.
      assert(h >= -1e-4 && h <= math.log(u.toDouble) + 1e-4, s"doc $id H=$h outside [0, ln($u)]")
      assert(hn >= -1e-4 && hn <= 1.0 + 1e-4, s"doc $id norm H=$hn")
      assert((u == 1L) == (h <= 1e-4), s"doc $id degenerate iff H=0 violated: u=$u h=$h")
    }
  }
}
