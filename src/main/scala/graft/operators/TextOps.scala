package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import PipeData._

/** Text-analysis operators over the `documents` table: token statistics,
  * language identification, quality scoring, and document fingerprinting.
  * Everything is a single narrow scan + projection (no shuffle except the
  * fingerprint's per-doc aggregate) — at 100 TB these run at parquet-read
  * speed with full column pruning and whole-stage codegen (built-in
  * functions only, no UDFs).
  *
  * Ratios are exact integer counts divided once in double with the
  * identical expression in the DuckDB oracle, so values are bit-stable.
  */
object TextOps {

  /** Per-language marker (stopword) lists for the n-gram/marker language
    * heuristic. Real profiles would be frequency-ranked n-grams; the
    * mechanism (count markers per language, argmax with a fixed
    * preference order) is the production shape. */
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "les", "et"),
    "zh" -> Seq("de5", "shi4"))

  private def markerCount(lang: String): String = {
    val preds = markers(lang).map(m => s"w = '$m'").mkString(" OR ")
    s"size(filter(ws, w -> $preds))"
  }

  private def markerCountDuck(lang: String): String = {
    val preds = markers(lang).map(m => s"w = '$m'").mkString(" OR ")
    s"len(list_filter(ws, w -> $preds))"
  }

  // ---- byte-pair encoding (round 12) ---------------------------------
  // The canonical training-data tokenization kernel. Training never
  // touches the corpus more than once: the ONLY corpus-wide job is the
  // word-frequency aggregate (map-side combinable — at 100 TB it is a
  // scan plus one shuffle of the distinct-word table), and each of the K
  // merge rounds is one tiny aggregate over that vocabulary table with a
  // 1-row argmax collect — the documented driver-loop shape. Encoding is
  // pure per-row string work (K chained codegen'd replaces inside a
  // higher-order transform), zero shuffles.
  //
  // Tokenization state of a word is its SPACED form " c h a r s " —
  // tokens separated and flanked by single spaces — so applying a merge
  // (a, b) is exactly one literal string replace of " a b " with " ab ".
  // Replace is single-pass, left-to-right, non-overlapping, resuming
  // AFTER each replacement — identical semantics in Spark and DuckDB.
  // Documented deviation from strict greedy BPE: inside a run of
  // immediately-repeating symbols ("a a a a"), adjacent matches share
  // their boundary space, so the single pass merges the 1st+2nd and
  // 4th+5th tokens where strict greedy would take 3rd+4th — a different
  // but equally deterministic canonical form, replayed bit-identically
  // by the oracle.

  private val bpeK = 64

  /** Lineage-cut cadence floor: re-materialize the vocabulary table
    * every R merge rounds, so round k's pair aggregate replays at most
    * R chained replaces on top of a materialized table instead of all
    * k — O(K·R) total replace work and bounded plan depth, not O(K²).
    * The cut is a localCheckpoint, dropped as soon as the next
    * materializes (the last one when training ends). The EFFECTIVE
    * cadence is derived from K (round 17, VERDICT r16 item 6):
    * `max(8, K/32)` keeps the checkpoint count bounded at 32 while the
    * replace-chain depth grows only with K/32 — at K=64 that is exactly
    * the old 8, so the oracle-pinned path is byte-identical; at K=1024
    * it is 32 cuts of depth ≤ 32 instead of 128 materializations. */
  private val bpeCkptEvery = 8
  private def bpeCkptCadence(k: Int): Int = math.max(bpeCkptEvery, k / 32)

  /** Spaced-token form of word `w`: `" c h a r s "`. Built with a
    * regexp_replace (each char → "char "), identical in both engines. */
  private def spaced(w: Column): Column =
    concat(lit(" "), regexp_replace(w, "(.)", "$1 "))

  /** Train: the K merge pairs in rank order (ties broken by pair string
    * ascending). One corpus pass + K vocabulary-table aggregates, with a
    * lineage cut every [[bpeCkptEvery]] rounds. Memoized per (session,
    * dir, corpus contentTag) ([[graft.Ckpt.memo]]): training is
    * deterministic and both the train-table and encode operators need
    * the same merge list — without the memo the encode query replays the
    * whole K-round driver loop. The contentTag in the key (file listing
    * + sizes + mtimes, the PipeData srcTag discipline) invalidates the
    * memo when the documents under dir are rewritten within one
    * session. */
  private[operators] def bpeTrain(s: SparkSession, dir: String): Seq[(String, String)] =
    graft.Ckpt.memo(s, ("bpeTrain", dir, contentTag(dir)))(bpeTrainUncached(s, dir))

  /** Uncached train. `kMerges` rounds (default the oracle-pinned K=64);
    * `stopAtExhaustion` turns the loud corpus-exhaustion failure into a
    * graceful early return of however many merges exist — the SCALE
    * path's contract (a 32k-vocab run on a small shard legitimately
    * runs dry; the oracle-checked K=64 path keeps the require). */
  private[graft] def bpeTrainUncached(s: SparkSession, dir: String,
      kMerges: Int = bpeK, stopAtExhaustion: Boolean = false): Seq[(String, String)] = {
    val cadence = bpeCkptCadence(kMerges)
    val wf0 = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(spaced(col("w")).as("toks"), col("freq"))
      .cache()
    // Round 19 (guide §2): every one of the K driver-paced rounds scans
    // the vocabulary table and aggregates pair counts — at the session's
    // core-count partitioning that is 2×cores tasks per round for a
    // VOCAB-scale table (thousands of rows), pure scheduling overhead
    // × K rounds. Measure the vocabulary once (the count also
    // materializes the cache) and run the whole loop — the table
    // placement, the per-round aggregation exchange, the lineage-cut
    // checkpoints — at a volume-derived partition count. Merge order is
    // partitioning-independent (exact integer counts, total argmax
    // order), so the trained vocabulary is byte-identical.
    val nVocab = wf0.count()
    val vParts = graft.Ckpt.partsFor(s, nVocab)
    // Whole-stage codegen OFF for the K driver-paced rounds: every
    // round's plan is new (one more chained replace), so codegen
    // compiles a fresh generated class per round — tens of ms × K of
    // pure janino time for a vocabulary-scale table where interpreted
    // evaluation is instant. Both settings are a thread-scoped overlay,
    // as in the superstep driver (graft.Superstep): the session's own conf
    // never changes.
    org.apache.spark.sql.GraftShim.withConf(s,
        "spark.sql.shuffle.partitions" -> vParts.toString,
        "spark.sql.codegen.wholeStage" -> "false") {
    var wf: DataFrame = graft.Ckpt.eager(wf0.repartition(vParts))
    wf0.unpersist()
    var lastCk: Option[DataFrame] = Some(wf)
    val merges = Seq.newBuilder[(String, String)]
    var k = 0
    var dry = false
    while (k < kMerges && !dry) {
      k += 1
      val ts = split(trim(col("toks")), " ")
      val top = wf
        .select(explode(zip_with(
          slice(ts, lit(1), size(ts) - 1), slice(ts, lit(2), size(ts) - 1),
          (x, y) => concat(x, lit(" "), y))).as("p"), col("freq"))
        .groupBy("p").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("p").asc)
        .limit(1).collect()
      if (top.isEmpty) {
        require(stopAtExhaustion, "bpe train: corpus exhausted before K merges")
        dry = true
      } else {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        merges += ((a, b))
        wf = wf.withColumn("toks",
          regexp_replace(col("toks"), lit(java.util.regex.Pattern.quote(s" $a $b ")),
            lit(java.util.regex.Matcher.quoteReplacement(s" $a$b "))))
        if (k % cadence == 0 && k < kMerges) {
          val ck = graft.Ckpt.eager(wf)
          lastCk.foreach(graft.Ckpt.drop)
          lastCk = Some(ck)
          wf = ck
        }
      }
    }
    lastCk.foreach(graft.Ckpt.drop)
    merges.result()
    }
  }

  /** Encode one word column with the trained merges: spaced form, then
    * the K replaces in rank order. Tokens are `lit` values, so any corpus
    * alphabet (quotes or backslashes in words) is data. */
  private def encode(merges: Seq[(String, String)], w: Column): Column =
    merges.foldLeft(concat(lit(" "), regexp_replace(w, "(.)", "$1 "))) {
      case (acc, (a, b)) => replace(acc, lit(s" $a $b "), lit(s" $a$b "))
    }

  /** The train CTE chain shared by both DuckDB oracles: w0 (spaced
    * word-frequency table), then per round k the pair counts `c{k}`, the
    * argmax `m{k}`, and the merged table `w{k}`. */
  private def bpeTrainCtes: String = {
    // MATERIALIZED throughout: each round references its predecessor
    // twice (pair count + merge application), so inlined CTEs would
    // re-derive the whole chain exponentially
    val w0 =
      """w0 AS MATERIALIZED (SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS toks,
        |              count(*) AS freq
        |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |       GROUP BY w)""".stripMargin
    val rounds = (1 to bpeK).map { k =>
      s"""c$k AS MATERIALIZED (SELECT p, sum(freq) AS n FROM (
         |  SELECT unnest(list_transform(range(1, len(ts)),
         |           i -> ts[i] || ' ' || ts[i+1])) AS p, freq
         |  FROM (SELECT string_split(trim(toks), ' ') AS ts, freq FROM w${k - 1}))
         |  GROUP BY p),
         |m$k AS MATERIALIZED (SELECT p FROM c$k ORDER BY n DESC, p LIMIT 1),
         |w$k AS MATERIALIZED (SELECT replace(toks, ' ' || (SELECT p FROM m$k) || ' ',
         |          ' ' || replace((SELECT p FROM m$k), ' ', '') || ' ') AS toks,
         |          freq FROM w${k - 1})""".stripMargin
    }
    (w0 +: rounds).mkString(",\n")
  }

  private lazy val bpeTrainOracle: String = {
    val ranks = (1 to bpeK).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, p AS pair, replace(p, ' ', '') AS merged FROM m$k")
    s"WITH $bpeTrainCtes\n${ranks.mkString("\nUNION ALL\n")}"
  }

  private lazy val bpeEncodeOracle: String = {
    val enc0 =
      """enc0 AS MATERIALIZED (SELECT doc_id, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS toks
        |         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |               FROM documents))""".stripMargin
    val encs = (1 to bpeK).map { k =>
      s"""enc$k AS MATERIALIZED (SELECT doc_id, replace(toks, ' ' || (SELECT p FROM m$k) || ' ',
         |  ' ' || replace((SELECT p FROM m$k), ' ', '') || ' ') AS toks FROM enc${k - 1})"""
        .stripMargin
    }
    s"""WITH $bpeTrainCtes,
       |$enc0,
       |${encs.mkString(",\n")}
       |SELECT doc_id,
       |       CAST(sum(len(string_split(trim(toks), ' '))) AS BIGINT) AS n_tokens,
       |       CAST(count(*) AS BIGINT) AS n_words
       |FROM enc$bpeK GROUP BY doc_id""".stripMargin
  }

  val all: List[Q] = List(

    // ---- BPE train: the merge vocabulary as a table --------------------
    Q("p_text_bpe_train",
      (s, dir) => {
        import s.implicits._
        bpeTrain(s, dir).zipWithIndex
          .map { case ((a, b), i) => (i + 1L, s"$a $b", s"$a$b") }
          .toDF("rank", "pair", "merged")
      },
      Some(bpeTrainOracle)),

    // ---- BPE encode: per-document token counts --------------------------
    // transform() maps the encoder over each document's words in place;
    // aggregate() folds the counts — all inside one projection, so the
    // whole encode is a parquet scan at whole-stage-codegen speed.
    Q("p_text_bpe_encode",
      (s, dir) => {
        val merges = bpeTrain(s, dir)
        docs(s, dir).select(col("doc_id"),
          aggregate(transform(split(col("text"), " "),
              w => size(split(trim(encode(merges, w)), " ")).cast("long")),
            lit(0L), _ + _).as("n_tokens"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
      },
      Some(bpeEncodeOracle)),

    // ---- BPE at vocabulary scale (round 17, VERDICT r16 item 6) -------
    // The K=1024 bench row: same kernel, same flat per-round job shape
    // (one argmax collect per round + a lineage cut every max(8, K/32)
    // rounds — PipelineSpec pins the job count at a larger K), with
    // graceful early stop when a small shard's pair diversity runs dry
    // before K. A DuckDB replay would be a 1024-round materialized CTE
    // chain, so this entry is deliberately rows-only checked; the
    // kernel's CORRECTNESS oracle is the unchanged K=64 pair
    // (p_text_bpe_train / p_text_bpe_encode — byte-identical path, the
    // cadence derivation equals the old 8 there). Output: one summary
    // row — merge count, an order-sensitive digest of the ranked merge
    // list, and the last merge — enough to diff runs without shipping
    // the vocabulary.
    Q("p_text_bpe_scale",
      (s, dir) => {
        import s.implicits._
        val k = graft.Knob.int("spark.graft.bpeK", s.conf.get("spark.graft.bpeK", "1024"), min = 1)
        val merges = bpeTrainUncached(s, dir, k, stopAtExhaustion = true)
        val blob = merges.map { case (a, b) => s"$a $b" }.mkString("\n")
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(blob.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        // a degenerate shard (all single-character words) legitimately
        // trains ZERO merges — the graceful contract must hold there too
        val last = merges.lastOption.fold("")(m => m._1 + m._2)
        Seq((merges.length.toLong, digest, last))
          .toDF("n_merges", "vocab_md5", "last_merged")
      },
      None),

    // ---- token statistics --------------------------------------------
    Q("p_text_stats",
      (s, dir) => words(s, dir)
        .withColumn("n_words", size(col("ws")))
        .withColumn("n_uniq", size(array_distinct(col("ws"))))
        .select(col("doc_id"), col("n_words"), col("n_uniq"),
          round(col("n_uniq").cast("double") / col("n_words"), 6).as("ttr"),
          round((col("n_chars") - (col("n_words") - 1)).cast("double") / col("n_words"), 6)
            .as("avg_wlen")),
      Some("""WITH dd AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)
             |SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_uniq,
             |       round(len(list_distinct(ws))::DOUBLE / len(ws), 6) AS ttr,
             |       round((n_chars - (len(ws) - 1))::DOUBLE / len(ws), 6) AS avg_wlen
             |FROM dd""".stripMargin)),

    // ---- token counting: whitespace + regex (BPE-ish pre-tokenizer) ---
    Q("p_text_tokens",
      (s, dir) => docs(s, dir).select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("re_tokens"),
        size(array_distinct(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")))
          .as("uniq_tokens")),
      Some("""SELECT doc_id,
             |  len(string_split(text, ' ')) AS ws_tokens,
             |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
             |  len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS uniq_tokens
             |FROM documents""".stripMargin)),

    // ---- language id: marker-count argmax with fixed preference -------
    Q("p_text_langid",
      (s, dir) => {
        // One explode + conditional sums (fully codegen'd, one shuffle)
        // instead of five interpreted array-filter lambdas per row.
        def hits(lang: String) =
          sum(when(col("w").isInCollection(markers(lang)), 1L).otherwise(0L))
        val scored = words(s, dir)
          .select(col("doc_id"), col("lang"), explode(col("ws")).as("w"))
          .groupBy("doc_id", "lang")
          .agg(hits("en").as("s_en"), hits("es").as("s_es"), hits("de").as("s_de"),
            hits("fr").as("s_fr"), hits("zh").as("s_zh"))
        scored.select(col("doc_id"), col("lang").as("labeled"),
          expr("""CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                 |     WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
                 |     WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
                 |     WHEN s_fr >= s_zh THEN 'fr'
                 |     ELSE 'zh' END""".stripMargin).as("predicted"))
      },
      Some(s"""WITH dd AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
              |scored AS (SELECT doc_id, lang,
              |  ${markerCountDuck("en")} AS s_en, ${markerCountDuck("es")} AS s_es,
              |  ${markerCountDuck("de")} AS s_de, ${markerCountDuck("fr")} AS s_fr,
              |  ${markerCountDuck("zh")} AS s_zh FROM dd)
              |SELECT doc_id, lang AS labeled,
              |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
              |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
              |       WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
              |       WHEN s_fr >= s_zh THEN 'fr'
              |       ELSE 'zh' END AS predicted
              |FROM scored""".stripMargin)),

    // ---- quality score: ttr + length + stopword-ratio blend -----------
    Q("p_text_quality",
      (s, dir) => words(s, dir)
        .withColumn("n_words", size(col("ws")))
        .withColumn("n_uniq", size(array_distinct(col("ws"))))
        .withColumn("n_stop", expr(markerCount("en")))
        .select(col("doc_id"), round(
          expr("""0.4 * (cast(n_uniq as double) / n_words)
                 |+ 0.3 * least(1.0, cast(n_words as double) / 150)
                 |+ 0.3 * (cast(n_stop as double) / n_words)""".stripMargin), 6)
          .as("quality")),
      Some(s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              |c AS (SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_uniq,
              |        ${markerCountDuck("en")} AS n_stop FROM dd)
              |SELECT doc_id, round(
              |  0.4 * (n_uniq::DOUBLE / n_words)
              |  + 0.3 * least(1.0, n_words::DOUBLE / 150)
              |  + 0.3 * (n_stop::DOUBLE / n_words), 6) AS quality
              |FROM c""".stripMargin)),

    // ---- corpus n-gram frequency: vocab/statistics building -----------
    // The "build the tokenizer's world" op: global bigram counts with
    // document frequency. One explode + one shuffle with map-side
    // partial aggregation; top-k via TakeOrderedAndProject.
    Q("p_text_ngram_freq",
      (s, dir) => words(s, dir)
        .filter(size(col("ws")) >= 2) // Spark sequence(0, n) descends for n<0
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1]))"))
          .as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(50),
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
             |         i -> ws[i] || ' ' || ws[i+1])) AS bigram FROM dd)
             |SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS df
             |FROM bg GROUP BY bigram
             |ORDER BY n DESC, bigram LIMIT 50""".stripMargin)),

    // ---- tf-idf: top-3 distinguishing terms per document ---------------
    // The keyword/topic-feature op of a curation pipeline. tf and df are
    // exact integer counts; idf = ln(N/df) on identical double inputs is
    // bit-identical IEEE in both engines, so scores hash-match at round 6.
    // Shapes: one explode + (doc,term) count, a term-keyed df aggregate
    // joined back (at scale: broadcast — the vocabulary is tiny next to
    // the corpus), window top-3 per doc.
    Q("p_text_tfidf",
      (s, dir) => {
        val n = docs(s, dir).count()
        val tf = words(s, dir)
          .select(col("doc_id"), explode(col("ws")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
        tf.join(df_, Seq("term"))
          .withColumn("score",
            round(col("tf") * log(lit(n).cast("double") / col("df")), 6))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("term"), col("rank"), col("score"))
      },
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |tf AS (SELECT doc_id, unnest(ws) AS term FROM dd),
             |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
             |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
             |scored AS (SELECT tfc.doc_id, tfc.term,
             |             round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df), 6) AS score
             |           FROM tfc JOIN dfc ON tfc.term = dfc.term),
             |ranked AS (SELECT doc_id, term, score,
             |             ROW_NUMBER() OVER (PARTITION BY doc_id
             |                                ORDER BY score DESC, term) AS rank
             |           FROM scored)
             |SELECT doc_id, term, rank, score FROM ranked WHERE rank <= 3""".stripMargin)),

    // ---- document fingerprint: winnowed min-hash sketch ---------------
    // fp1/fp2 = two smallest shingle md5s (a 2-fingerprint winnow);
    // identical docs share both, heavily-overlapping docs usually share
    // fp1 — a cheap pre-cluster key for the dedup family.
    Q("p_text_fingerprint",
      (s, dir) => {
        val dsh = shingles(s, dir).cache().withColumn("h", md5(col("shingle")))
        dsh.groupBy("doc_id").agg(
          min(col("h")).as("fp1"),
          // try_element_at: NULL (like the oracle's [2]) for a single-
          // shingle doc, where ANSI-mode [1] would throw
          expr("try_element_at(array_sort(collect_set(h)), 2)").as("fp2"),
          count(lit(1)).as("n_shingles"))
      },
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
             |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle FROM dd),
             |dsh AS (SELECT DISTINCT doc_id, md5(shingle) AS h FROM sh)
             |SELECT doc_id, min(h) AS fp1,
             |       (list_sort(list(h)))[2] AS fp2,
             |       count(*) AS n_shingles
             |FROM dsh GROUP BY doc_id""".stripMargin)),

    // ---- unigram log-frequency score (CCNet-style LM-perplexity proxy)
    // Per doc: mean negative log unigram probability under the corpus's
    // own unigram model — the cheap stand-in for LM-perplexity quality
    // filtering (high score = rare-word-heavy = candidate junk; low =
    // boilerplate). Two shuffles: the corpus frequency table and the
    // per-doc aggregate. Each ln() is quantized to 1e-9 fixed point
    // BEFORE summation so the per-doc sum is an exact int64 — order-free
    // across partitions and engines — and only the final mean divides
    // in double.
    Q("p_text_logfreq",
      (s, dir) => {
        val w = words(s, dir)
          .select(col("doc_id"), explode(col("ws")).as("w"))
        val freq = w.groupBy("w").agg(count(lit(1)).as("c"))
        val tot = freq.agg(sum("c").as("n"))
        w.join(freq, Seq("w"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            expr("cast(round(ln(cast(n as double) / c) * 1000000000, 0) as bigint)")
              .as("q"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("q")).as("sq"))
          .select(col("doc_id"), col("n_words"),
            round(col("sq").cast("double") / (col("n_words") * lit(1000000000L)), 6)
              .as("logfreq"))
      },
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |           FROM documents),
             |f AS (SELECT w, count(*) AS c FROM w GROUP BY w),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w),
             |q AS (SELECT doc_id,
             |        CAST(round(ln(n::DOUBLE / c) * 1000000000, 0) AS BIGINT) AS q
             |      FROM w JOIN f USING (w), t)
             |SELECT doc_id, count(*) AS n_words,
             |       round(CAST(sum(q) AS BIGINT)::DOUBLE
             |             / (count(*) * 1000000000), 6) AS logfreq
             |FROM q GROUP BY doc_id""".stripMargin)),

    // ---- repetition: duplicated-n-gram fraction (Gopher-style) --------
    // Per doc: the fraction of word {2,3}-grams that are repeats of an
    // earlier occurrence — the "repetition" family of quality filters
    // from the Gopher corpus-curation recipe (duplicate line/paragraph
    // fraction degenerates here: the synthetic docs are single-line, so
    // the token-n-gram variants carry the signal). Pure scan +
    // projection: the n-gram arrays are built and deduped per row with
    // codegen'd collection expressions, so at 100 TB this runs at
    // parquet-read speed with zero shuffle — the complementary signal
    // to p_curate_repetition's aggregate-shaped top-bigram coverage
    // (PipelineSpec pins the two ops' agreement).
    Q("p_text_rep_ngrams",
      (s, dir) => words(s, dir)
        .withColumn("g2", expr(
          """case when size(ws) >= 2
            |     then transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1]))
            |     else cast(array() as array<string>) end""".stripMargin))
        .withColumn("g3", expr(
          """case when size(ws) >= 3
            |     then transform(sequence(0, size(ws)-3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))
            |     else cast(array() as array<string>) end""".stripMargin))
        .select(col("doc_id"),
          size(col("g2")).as("n_g2"),
          round((size(col("g2")) - size(array_distinct(col("g2")))).cast("double")
            / greatest(size(col("g2")), lit(1)), 6).as("dup2_frac"),
          size(col("g3")).as("n_g3"),
          round((size(col("g3")) - size(array_distinct(col("g3")))).cast("double")
            / greatest(size(col("g3")), lit(1)), 6).as("dup3_frac")),
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |g AS (SELECT doc_id,
             |        list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS g2,
             |        list_transform(range(1, len(ws)-1),
             |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3
             |      FROM dd)
             |SELECT doc_id,
             |  len(g2) AS n_g2,
             |  round((len(g2) - len(list_distinct(g2)))::DOUBLE / greatest(len(g2), 1), 6) AS dup2_frac,
             |  len(g3) AS n_g3,
             |  round((len(g3) - len(list_distinct(g3)))::DOUBLE / greatest(len(g3), 1), 6) AS dup3_frac
             |FROM g""".stripMargin)),

    // ---- word-distribution Shannon entropy (gibberish/boilerplate axis)
    // H = ln(n) − (Σ c·ln c)/n over per-doc word counts c: low entropy =
    // repetitive boilerplate, near-ln(n_uniq) = diverse text — the
    // quality axis length/punct ratios can't see. The float sum follows
    // the house quantization rule (PipeData): each c·ln(c) term is
    // quantized to 1e-6 fixed point and summed as int64 — order-free, so
    // partition layout can't perturb the hash — and only the final
    // expression divides through double identically in both engines.
    // Shapes: one explode + (doc, word) count + per-doc aggregate; the
    // same two keyed shuffles as tf-idf, nothing quadratic.
    Q("p_text_entropy",
      (s, dir) => words(s, dir)
        .select(col("doc_id"), explode(col("ws")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).cast("long").as("n_words"),
          count(lit(1)).as("n_uniq"),
          sum(expr("cast(round(c * ln(c) * 1000000, 0) as bigint)")).as("slc"))
        .select(col("doc_id"), col("n_words"), col("n_uniq"),
          round(log(col("n_words").cast("double"))
            - (col("slc") / 1000000.0d) / col("n_words"), 6).as("entropy"),
          round(when(col("n_uniq") > 1,
            (log(col("n_words").cast("double")) - (col("slc") / 1000000.0d) / col("n_words"))
              / log(col("n_uniq").cast("double"))).otherwise(0.0d), 6).as("norm_entropy")),
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |tf AS (SELECT doc_id, unnest(ws) AS w FROM dd),
             |fc AS (SELECT doc_id, w, count(*) AS c FROM tf GROUP BY doc_id, w),
             |agg AS (SELECT doc_id, sum(c)::BIGINT AS n_words, count(*) AS n_uniq,
             |          sum(CAST(round(c * ln(c) * 1000000, 0) AS BIGINT))::BIGINT AS slc
             |        FROM fc GROUP BY doc_id)
             |SELECT doc_id, n_words, n_uniq,
             |  round(ln(n_words) - (slc / 1000000.0) / n_words, 6) AS entropy,
             |  round(CASE WHEN n_uniq > 1
             |             THEN (ln(n_words) - (slc / 1000000.0) / n_words) / ln(n_uniq)
             |             ELSE 0.0 END, 6) AS norm_entropy
             |FROM agg""".stripMargin)),
  )
}
