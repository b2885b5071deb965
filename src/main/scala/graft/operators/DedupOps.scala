package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import PipeData._

/** Deduplication operator family over the `documents` / `embeddings`
  * tables — the core of a training-data pipeline at 100 TB. Five
  * strategies, cheapest to richest:
  *
  *   - exact (hash groupBy) — one shuffle on the content hash;
  *   - exact n-gram Jaccard via a shingle inverted index — no LSH error,
  *     candidate set bounded by shared shingles; the `_dfcut` variant IS
  *     the scale path: candidate generation joins only on rare shingles
  *     (df-cut), neutralizing hot-shingle skew, with exact verification
  *     over the full sets;
  *   - MinHash + LSH banding — the sub-quadratic scale path: 16 hashes,
  *     8 bands × 2 rows (catches J≥0.5 with ~90% per-pair probability,
  *     ~100% at the J≥0.9 the corpus actually contains), candidates
  *     verified with exact Jaccard so precision is 1.0;
  *   - SimHash — 64-bit weighted fingerprint, near-dups via 16-bit band
  *     collision + Hamming verification;
  *   - embedding cosine — semantic near-dup on the vector table, exact
  *     fixed-point math (see PipeData).
  *
  * All hashing is md5 (identical in Spark and DuckDB); every operator's
  * oracle replays the same pipeline in SQL, so results hash-match
  * bit-for-bit. Pair outputs are canonical (a < b) and deduplicated.
  */
object DedupOps {

  private val mhSeeds = 16
  private val mhRows = 2 // rows per band -> 8 bands
  private val jaccardTau = 0.4 // exact-Jaccard verification threshold
  private val cosineTau = 0.4  // embedding near-dup threshold (independent knob)
  private val edK = 4          // edit-distance join threshold
  private val edSeg = edK + 1  // PassJoin segment count

  val all: List[Q] = List(

    // ---- exact dedup: content-hash groupBy, survivor = min id ---------
    Q("p_dedup_exact",
      (s, dir) => docs(s, dir)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
             |       count(*) AS n_copies
             |FROM documents GROUP BY md5(text)""".stripMargin)),

    // ---- normalized exact dedup: canonicalize before hashing ----------
    // The production form of exact dedup: case-fold, strip non-alnum,
    // collapse whitespace — catches trivially-reformatted copies that a
    // raw byte hash misses. Same scan-speed shape as p_dedup_exact.
    Q("p_dedup_exact_norm",
      (s, dir) => docs(s, dir)
        .withColumn("norm", expr(
          "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' '))"))
        .groupBy(md5(col("norm")).as("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      Some("""SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             |                ' +', ' ', 'g'))) AS norm_hash,
             |       min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents
             |GROUP BY 1""".stripMargin)),

    // ---- incremental dedup against a persisted fingerprint store ------
    // The continuous-crawl shape of exact dedup: the accumulated corpus'
    // content hashes live in a BUCKETED store (built once, appended per
    // batch); each new batch dedups by (1) anti-joining its hashes
    // against the store and (2) collapsing batch-internal copies. The
    // store side — the 100 TB side — is never reshuffled: the anti join
    // reads it bucket-aligned on the hash, so a daily batch costs one
    // shuffle of the BATCH only, forever, regardless of corpus growth.
    // Here history = 80% of documents (doc_id % 10 < 8), batch = the
    // rest; output = the batch's surviving representatives.
    Q("p_dedup_incremental",
      (s, dir) => {
        val ft = bucketedTable(s, "graft_bkt_fingerprints", dir, "th", 16)(
          docs(s, dir).filter(col("doc_id") % 10 < 8)
            .select(md5(col("text")).as("th")).distinct())
        docs(s, dir).filter(col("doc_id") % 10 >= 8)
          .select(col("doc_id"), md5(col("text")).as("th"))
          .hint("merge") // sort-merge: store side stays bucket-aligned
          .join(s.table(ft), Seq("th"), "left_anti")
          .groupBy(col("th").as("text_hash"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_batch_copies"))
      },
      Some("""WITH h AS (SELECT DISTINCT md5(text) AS th FROM documents
             |           WHERE doc_id % 10 < 8),
             |b AS (SELECT doc_id, md5(text) AS th FROM documents
             |      WHERE doc_id % 10 >= 8)
             |SELECT th AS text_hash, min(doc_id) AS keep_id,
             |       count(*) AS n_batch_copies
             |FROM b WHERE NOT EXISTS (SELECT 1 FROM h WHERE h.th = b.th)
             |GROUP BY th""".stripMargin)),

    // ---- incremental dedup with store INGESTION (round 12) ------------
    // The WRITABLE half of the continuous-crawl loop: after a batch is
    // deduped, its surviving hashes are APPENDED to the bucketed store
    // so the next batch dedups against them. insertInto on a bucketed
    // table writes NEW bucket-aligned files only — the store's existing
    // files (the 100 TB side) are never rewritten, re-read, or
    // re-exchanged by the append; the appended batch is hashed into its
    // buckets at write time, one batch-sized write per day forever.
    // Naturally idempotent: a re-run's survivors are already stored, so
    // the anti-join leaves nothing to append. The fingerprint is the
    // SORTED-VOCABULARY hash (md5 of the doc's distinct words, sorted,
    // space-joined) — the order-insensitive exact-dedup key that
    // catches reshuffled/reordered copies a raw byte hash misses (and
    // the corpus actually contains cross-batch vocabulary duplicates,
    // so the loop's visibility is testable). Here: history (doc_id%10
    // < 8) seeds the store, batch 1 (=8) is deduped AND ingested, and
    // the output is batch 2 (=9) deduped against history ∪ batch 1 —
    // batch-2-sees-batch-1 is the loop closing.
    Q("p_dedup_incremental_ingest",
      (s, dir) => {
        val fp = md5(array_join(
          array_sort(array_distinct(split(col("text"), " "))), " ")).as("th")
        val ft = bucketedTable(s, "graft_bkt_fp_live", dir, "th", 16)(
          docs(s, dir).filter(col("doc_id") % 10 < 8).select(fp).distinct())
        // Eagerly materialized BEFORE the append: the survivor plan reads
        // the same table it appends to, and while insertInto alone is
        // safe (file listing snapshots at scan planning), any second
        // consumer of a lazy survivor frame after the append would see
        // the appended files — the read-then-append discipline
        // p_stream_dedup_store pins applies here too.
        val b1Survivors = graft.Ckpt.eager(
          docs(s, dir).filter(col("doc_id") % 10 === 8)
            .select(fp).distinct()
            .hint("merge")
            .join(s.table(ft), Seq("th"), "left_anti"))
        b1Survivors.write.mode("append").insertInto(ft)
        docs(s, dir).filter(col("doc_id") % 10 === 9)
          .select(col("doc_id"), fp)
          .hint("merge")
          .join(s.table(ft), Seq("th"), "left_anti")
          .groupBy(col("th").as("vocab_hash"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_batch_copies"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS th
             |  FROM documents),
             |h AS (SELECT DISTINCT th FROM d WHERE doc_id % 10 < 8),
             |b1 AS (SELECT DISTINCT th FROM d WHERE doc_id % 10 = 8),
             |h2 AS (SELECT th FROM h UNION SELECT th FROM b1),
             |b2 AS (SELECT doc_id, th FROM d WHERE doc_id % 10 = 9)
             |SELECT th AS vocab_hash, min(doc_id) AS keep_id,
             |       count(*) AS n_batch_copies
             |FROM b2 WHERE NOT EXISTS (SELECT 1 FROM h2 WHERE h2.th = b2.th)
             |GROUP BY th""".stripMargin)),

    // ---- asymmetric n-gram containment: sub-document duplication ------
    // containment(a in b) = |A ∩ B| / |A| — catches a document embedded
    // inside a larger one, which symmetric Jaccard dilutes. Same shingle
    // inverted index; both directions emitted from one canonical pair.
    Q("p_dedup_containment",
      (s, dir) => {
        val dsh = shingles(s, dir).cache()
        val sizes = dsh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val x = dsh.select(col("doc_id").as("a"), col("shingle"))
        val y = dsh.select(col("doc_id").as("b"), col("shingle"))
        val common = x.join(y, Seq("shingle")).filter(col("a") =!= col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
        common
          .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
          .withColumn("containment", col("c").cast("double") / col("na"))
          .filter(col("containment") >= 0.8)
          .select(col("a"), col("b"), round(col("containment"), 3).as("containment"))
      },
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
             |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle FROM dd),
             |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
             |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
             |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
             |           FROM dsh x JOIN dsh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
             |           GROUP BY 1, 2)
             |SELECT common.a, common.b,
             |       round(c::DOUBLE / sa.n, 3) AS containment
             |FROM common JOIN sizes sa ON common.a = sa.doc_id
             |WHERE c::DOUBLE / sa.n >= 0.8""".stripMargin)),

    // ---- df-cut containment: the production-scale path (round 14) -----
    // Candidate generation over RARE shingles only (hot boilerplate cut
    // by the broadcast anti, >= 2 shared rare shingles), then EXACT
    // containment verification on candidate pairs via the collected-set
    // counter. Recall bound, sharper than the Jaccard case: a pair with
    // containment >= 0.8 shares >= 0.8·|A| shingles — losing it needs
    // ALL of that overlap except at most one rare shingle to be hot,
    // i.e. A is boilerplate-plus-one-trigram, the precision-killing
    // class the cut exists to drop. Output is a provable subset of
    // p_dedup_containment (PipelineSpec pins the relation).
    Q("p_dedup_containment_dfcut",
      (s, dir) => {
        val dsh = shingles(s, dir).cache()
        val nDocs = docs(s, dir).count()
        val maxDf = math.max(1L, nDocs / 100)
        val hot = dsh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("shingle")
        val rare = dsh.join(broadcast(hot), Seq("shingle"), "left_anti")
        val cand = rare.select(col("doc_id").as("a"), col("shingle"))
          .join(rare.select(col("doc_id").as("b"), col("shingle")), Seq("shingle"))
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("nshared"))
          .filter(col("nshared") >= 2).select("a", "b")
        exactContainment(dsh, cand)
      },
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
             |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle FROM dd),
             |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
             |cut AS (SELECT greatest(1, (SELECT count(*) FROM documents) // 100) AS maxdf),
             |rare AS (SELECT dsh.doc_id, dsh.shingle FROM dsh
             |         JOIN (SELECT shingle FROM dsh GROUP BY shingle
             |               HAVING count(*) <= (SELECT maxdf FROM cut)) r
             |           ON dsh.shingle = r.shingle),
             |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
             |         FROM rare x JOIN rare y
             |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id
             |         GROUP BY 1, 2 HAVING count(*) >= 2),
             |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
             |common AS MATERIALIZED (SELECT c.a, c.b, count(*) AS c FROM cand c
             |           JOIN dsh da ON da.doc_id = c.a
             |           JOIN dsh db ON db.doc_id = c.b AND da.shingle = db.shingle
             |           GROUP BY c.a, c.b),
             |dirs AS (
             |  SELECT common.a, common.b, c::DOUBLE / sa.n AS containment
             |  FROM common JOIN sizes sa ON common.a = sa.doc_id
             |  UNION ALL
             |  SELECT common.b, common.a, c::DOUBLE / sb.n
             |  FROM common JOIN sizes sb ON common.b = sb.doc_id)
             |SELECT a, b, round(containment, 3) AS containment
             |FROM dirs WHERE containment >= 0.8""".stripMargin)),

    // ---- exact n-gram Jaccard over the shingle inverted index ---------
    // Self-join on shingle = candidate pairs share >=1 shingle (exact for
    // J>0); count of shared shingles + per-doc set sizes -> Jaccard.
    Q("p_dedup_ngram_jaccard",
      (s, dir) => {
        // The shingle index feeds three subplans (sizes + both join
        // sides) and FIVE different operators rebuild it; cache() (plan-
        // deduped by the cache manager) shares one materialization
        // across all of them in a session.
        val dsh = shingles(s, dir).cache()
        val sizes = dsh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val x = dsh.select(col("doc_id").as("a"), col("shingle"))
        val y = dsh.select(col("doc_id").as("b"), col("shingle"))
        val common = x.join(y, Seq("shingle")).filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
        common
          .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
          .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
          .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
          .filter(col("jac") >= 0.5)
          .select(col("a"), col("b"), round(col("jac"), 3).as("jac"))
      },
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
             |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle FROM dd),
             |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
             |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
             |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
             |           FROM dsh x JOIN dsh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
             |           GROUP BY 1, 2)
             |SELECT common.a, common.b,
             |       round(c::DOUBLE / (sa.n + sb.n - c), 3) AS jac
             |FROM common
             |JOIN sizes sa ON common.a = sa.doc_id
             |JOIN sizes sb ON common.b = sb.doc_id
             |WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.5""".stripMargin)),

    // ---- df-cut n-gram Jaccard: the skew-resistant scale variant ------
    // The shingle self-join above explodes quadratically on the hottest
    // shingles (boilerplate trigrams shared by thousands of documents) —
    // the classic skew-killer at corpus scale. Fix: CANDIDATE GENERATION
    // only joins on "rare" shingles (document frequency <= max(1,
    // |docs|/100)); exact-Jaccard verification still runs over the FULL
    // shingle sets (see exactJaccard), so any surviving pair's score is
    // exact.
    //
    // Recall argument: a pair with J >= tau shares >= tau/(1+tau) of its
    // union — at tau=0.5 a third of all its shingles. Losing the pair
    // requires EVERY shared shingle to be hot, i.e. the overlap is pure
    // boilerplate — exactly the precision-killing pairs df-cut exists to
    // drop (a document that is 100% boilerplate duplicates everything).
    // Near-dup content shares document-specific trigrams whose df is the
    // cluster size, far under any sane cut. The oracle replays the same
    // cut, and the output is provably a subset of p_dedup_ngram_jaccard
    // (PipelineSpec pins both relations).
    Q("p_dedup_ngram_jaccard_dfcut",
      (s, dir) => {
        val dsh = shingles(s, dir).cache()
        val nDocs = docs(s, dir).count()
        val maxDf = math.max(1L, nDocs / 100)
        // Hot shingles (df > cut) are a SMALL set by construction — at
        // most total_occurrences/maxDf of them — so the cut is a
        // broadcast ANTI join (map-side, no shuffle of the index), not a
        // shuffle join against the near-full "rare" side.
        val hot = dsh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("shingle")
        val rare = dsh.join(broadcast(hot), Seq("shingle"), "left_anti")
        // Count-based candidate pruning: keep pairs sharing >= 2 rare
        // shingles. Pairs sharing exactly one are overwhelmingly random
        // collisions (a true tau=0.5 pair shares ~a third of its union's
        // shingles — see the recall argument above), yet they dominate the
        // raw pair volume; the groupBy is map-side combined, and the >= 2
        // cut shrinks the verify stage by an order of magnitude. A true
        // pair lost here would need ALL its overlap except one rare
        // shingle to be hot — the same boilerplate-only-overlap class the
        // df-cut already drops.
        val cand = rare.select(col("doc_id").as("a"), col("shingle"))
          .join(rare.select(col("doc_id").as("b"), col("shingle")), Seq("shingle"))
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("nshared"))
          .filter(col("nshared") >= 2).select("a", "b")
        exactJaccard(dsh, cand)
      },
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
             |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle FROM dd),
             |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
             |cut AS (SELECT greatest(1, (SELECT count(*) FROM documents) // 100) AS maxdf),
             |rare AS (SELECT dsh.doc_id, dsh.shingle FROM dsh
             |         JOIN (SELECT shingle FROM dsh GROUP BY shingle
             |               HAVING count(*) <= (SELECT maxdf FROM cut)) r
             |           ON dsh.shingle = r.shingle),
             |cand AS (SELECT x.doc_id AS a, y.doc_id AS b
             |         FROM rare x JOIN rare y
             |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id
             |         GROUP BY 1, 2 HAVING count(*) >= 2),
             |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
             |common AS (SELECT c.a, c.b, count(*) AS c FROM cand c
             |           JOIN dsh da ON da.doc_id = c.a
             |           JOIN dsh db ON db.doc_id = c.b AND da.shingle = db.shingle
             |           GROUP BY c.a, c.b)
             |SELECT common.a, common.b,
             |       round(c::DOUBLE / (sa.n + sb.n - c), 3) AS jac
             |FROM common
             |JOIN sizes sa ON common.a = sa.doc_id
             |JOIN sizes sb ON common.b = sb.doc_id
             |WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.5""".stripMargin)),

    // ---- MinHash + LSH banding + exact verification -------------------
    // Signature: per seed i in 0..15, min over md5("i|shingle") (hex
    // strings compare in ASCII order — engine-independent). Bands of 2
    // rows hashed to a bucket key; same-bucket pairs are candidates;
    // exact Jaccard >= 0.4 confirms. ONE wide shuffle (groupBy doc_id)
    // builds the whole signature; the band join is sub-quadratic.
    Q("p_dedup_minhash_lsh",
      (s, dir) => minhashPairs(s, dir),
      Some(minhashOracle + "\nSELECT a, b FROM pairs")),

    // ---- incremental NEAR-dup dedup against a persisted band store ----
    // The continuous-crawl shape of MinHash-LSH (round 12; the near-dup
    // counterpart of p_dedup_incremental's exact store): the accumulated
    // corpus' LSH BAND TABLE lives bucketed on the bucket hash, so a new
    // batch finds its history near-dup candidates with one bucket-
    // aligned join — the store (the 100 TB side) never re-exchanges; the
    // batch shuffles only its own 8·|batch| band rows. Candidates are
    // exact-Jaccard verified (so a cross-band bucket-hash collision can
    // never emit a wrong pair), and each batch doc reports its minimal
    // history duplicate. Appending the surviving batch's band rows back
    // is the same insertInto mechanics p_dedup_incremental_ingest pins.
    Q("p_dedup_lsh_incremental",
      (s, dir) => {
        val dsh = shingles(s, dir).cache()
        val hist = docs(s, dir).filter(col("doc_id") % 10 < 8).select("doc_id")
        val ft = bucketedTable(s, "graft_bkt_lshbands", dir, "bh", 16)(
          bandTable(dsh.join(hist, Seq("doc_id"), "left_semi")))
        val batch = docs(s, dir).filter(col("doc_id") % 10 >= 8).select("doc_id")
        val bb = bandTable(dsh.join(batch, Seq("doc_id"), "left_semi"))
        val cand = bb.select(col("doc_id").as("a"), col("bh"))
          .hint("merge")
          .join(s.table(ft).select(col("doc_id").as("b"), col("bh")), Seq("bh"))
          .select("a", "b").distinct()
        exactJaccard(dsh, cand, jaccardTau)
          .groupBy(col("a").as("doc_id"))
          .agg(min(col("b")).as("dup_of"), count(lit(1)).as("n_matches"))
      },
      Some(s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
         |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle FROM dd),
         |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |mh AS (SELECT doc_id, seed,
         |         min(md5(seed::VARCHAR || '|' || shingle)) AS mh
         |       FROM dsh, (SELECT unnest(range($mhSeeds)) AS seed)
         |       GROUP BY doc_id, seed),
         |bands AS (SELECT doc_id, seed // $mhRows AS band,
         |            md5(string_agg(mh, ',' ORDER BY seed)) AS bh
         |          FROM mh GROUP BY doc_id, seed // $mhRows),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bands x JOIN bands y ON x.bh = y.bh
         |         WHERE x.doc_id % 10 >= 8 AND y.doc_id % 10 < 8),
         |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
         |common AS (SELECT c.a, c.b, count(*) AS cnt FROM cand c
         |           JOIN dsh da ON da.doc_id = c.a
         |           JOIN dsh db ON db.doc_id = c.b AND da.shingle = db.shingle
         |           GROUP BY c.a, c.b),
         |ver AS (SELECT common.a, common.b FROM common
         |        JOIN sizes sa ON common.a = sa.doc_id
         |        JOIN sizes sb ON common.b = sb.doc_id
         |        WHERE cnt::DOUBLE / (sa.n + sb.n - cnt) >= $jaccardTau)
         |SELECT a AS doc_id, min(b) AS dup_of, count(*) AS n_matches
         |FROM ver GROUP BY a""".stripMargin)),

    // ---- LSH recall: the dedup-quality loop closed with integers -----
    // p_sim_recall's counterpart for the dedup family: how many of the
    // TRUE near-dup pairs (exact all-pairs Jaccard >= tau, the
    // verification-grade baseline) does the banded MinHash path recover?
    // Banding theory predicts P(candidate) = 1-(1-j^r)^b (r=2, b=8):
    // ~0.75 at j=0.4 rising to ~1 near j=1 — the emitted triple
    // (n_exact, n_lsh, n_common) measures the realized recall EXACTLY
    // (integer counts, no float in the result), and n_common = n_lsh
    // doubles as a soundness check (the LSH path verifies at the same
    // tau, so it can never emit a non-true pair). At 100 TB only the
    // LSH path runs over the corpus; this evaluation runs on a sample —
    // exactly how production dedup recall is monitored.
    Q("p_dedup_lsh_recall",
      (s, dir) => {
        val dsh = shingles(s, dir).cache()
        val sizes = dsh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val x = dsh.select(col("doc_id").as("a"), col("shingle"))
        val y = dsh.select(col("doc_id").as("b"), col("shingle"))
        val exact = x.join(y, Seq("shingle")).filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
          .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
          .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
          .filter(col("c").cast("double") / (col("na") + col("nb") - col("c")) >= jaccardTau)
          .select("a", "b")
        val lsh = minhashPairs(s, dir).select("a", "b")
        val nE = exact.agg(count(lit(1)).as("n_exact"))
        val nL = lsh.agg(count(lit(1)).as("n_lsh"))
        val nC = lsh.join(exact, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_common"))
        nE.crossJoin(nL).crossJoin(nC)
      },
      Some(minhashOracle + s""",
         |common_all AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM dsh x JOIN dsh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |exact AS (SELECT common_all.a, common_all.b FROM common_all
         |  JOIN sizes sa ON common_all.a = sa.doc_id
         |  JOIN sizes sb ON common_all.b = sb.doc_id
         |  WHERE c::DOUBLE / (sa.n + sb.n - c) >= $jaccardTau)
         |SELECT (SELECT count(*) FROM exact) AS n_exact,
         |       (SELECT count(*) FROM pairs) AS n_lsh,
         |       (SELECT count(*) FROM pairs JOIN exact USING (a, b)) AS n_common""".stripMargin)),

    // ---- dup clustering + survivor selection --------------------------
    // The full pipeline stage the dedup family exists for: LSH-verified
    // pairs -> connected components over the duplicate graph
    // (convergence-driven delta min-label propagation — see
    // [[dupClusterLabels]]) -> per-cluster survivor by quality score
    // (highest quality wins, doc_id tie-break: near-identical docs often
    // tie on quality). Output: one row per clustered document with its
    // cluster id and keep flag.
    Q("p_dedup_clusters",
      (s, dir) => {
        // memoized + cached across queries (see minhashPairs), then snapshot
        // to a localCheckpoint HERE: the checkpoint leaf truncates the
        // plan under the superstep loop (the loop's plan doubles per
        // superstep over whatever sits beneath it — over the cached-but-
        // full logical plan this measured 4× slower than over a
        // checkpoint, pure planning weight). Snapshotting a populated
        // cache costs one cheap pass over a few hundred rows.
        val pairs = graft.Ckpt.eager(minhashPairs(s, dir))
        // Materialize once: the survivor join consumes the loop's result
        // repeatedly (window + join).
        val labels = graft.Ckpt.eager(dupClusterLabels(pairs, maxIters = 20))
        val q = words(s, dir)
          .withColumn("n_words", size(col("ws")))
          .withColumn("n_uniq", size(array_distinct(col("ws"))))
          .withColumn("n_stop", expr("size(filter(ws, w -> w = 'the' OR w = 'a'))"))
          .select(col("doc_id"), round(
            expr("""0.4 * (cast(n_uniq as double) / n_words)
                   |+ 0.3 * least(1.0, cast(n_words as double) / 150)
                   |+ 0.3 * (cast(n_stop as double) / n_words)""".stripMargin), 6)
            .as("quality"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster")).orderBy(col("quality").desc, col("doc_id"))
        labels.join(q, Seq("doc_id"))
          .withColumn("keep", row_number().over(w) === 1)
          .select(col("doc_id"), col("cluster"), col("quality"), col("keep"))
      },
      Some(minhashOracle +
        """,
          |members AS (SELECT DISTINCT doc_id FROM (
          |  SELECT a AS doc_id FROM pairs UNION ALL SELECT b FROM pairs)),
          |und AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
          |l0 AS MATERIALIZED (SELECT doc_id, doc_id AS cluster FROM members),
          |l1 AS MATERIALIZED (SELECT x.doc_id, min(x.cluster) AS cluster FROM (
          |  SELECT doc_id, cluster FROM l0
          |  UNION ALL SELECT und.b, l0.cluster FROM und JOIN l0 ON und.a = l0.doc_id) x
          |  GROUP BY x.doc_id),
          |l2 AS MATERIALIZED (SELECT x.doc_id, min(x.cluster) AS cluster FROM (
          |  SELECT doc_id, cluster FROM l1
          |  UNION ALL SELECT und.b, l1.cluster FROM und JOIN l1 ON und.a = l1.doc_id) x
          |  GROUP BY x.doc_id),
          |l3 AS MATERIALIZED (SELECT x.doc_id, min(x.cluster) AS cluster FROM (
          |  SELECT doc_id, cluster FROM l2
          |  UNION ALL SELECT und.b, l2.cluster FROM und JOIN l2 ON und.a = l2.doc_id) x
          |  GROUP BY x.doc_id),
          |l4 AS MATERIALIZED (SELECT x.doc_id, min(x.cluster) AS cluster FROM (
          |  SELECT doc_id, cluster FROM l3
          |  UNION ALL SELECT und.b, l3.cluster FROM und JOIN l3 ON und.a = l3.doc_id) x
          |  GROUP BY x.doc_id),
          |l5 AS MATERIALIZED (SELECT x.doc_id, min(x.cluster) AS cluster FROM (
          |  SELECT doc_id, cluster FROM l4
          |  UNION ALL SELECT und.b, l4.cluster FROM und JOIN l4 ON und.a = l4.doc_id) x
          |  GROUP BY x.doc_id),
          |l6 AS MATERIALIZED (SELECT x.doc_id, min(x.cluster) AS cluster FROM (
          |  SELECT doc_id, cluster FROM l5
          |  UNION ALL SELECT und.b, l5.cluster FROM und JOIN l5 ON und.a = l5.doc_id) x
          |  GROUP BY x.doc_id),
          |l7 AS MATERIALIZED (SELECT x.doc_id, min(x.cluster) AS cluster FROM (
          |  SELECT doc_id, cluster FROM l6
          |  UNION ALL SELECT und.b, l6.cluster FROM und JOIN l6 ON und.a = l6.doc_id) x
          |  GROUP BY x.doc_id),
          |l8 AS MATERIALIZED (SELECT x.doc_id, min(x.cluster) AS cluster FROM (
          |  SELECT doc_id, cluster FROM l7
          |  UNION ALL SELECT und.b, l7.cluster FROM und JOIN l7 ON und.a = l7.doc_id) x
          |  GROUP BY x.doc_id),
          |qual AS (SELECT doc_id, round(
          |    0.4 * (len(list_distinct(ws))::DOUBLE / len(ws))
          |    + 0.3 * least(1.0, len(ws)::DOUBLE / 150)
          |    + 0.3 * (len(list_filter(ws, w -> w = 'the' OR w = 'a'))::DOUBLE / len(ws)), 6)
          |    AS quality
          |  FROM dd)
          |SELECT l8.doc_id, l8.cluster, qual.quality,
          |  ROW_NUMBER() OVER (PARTITION BY l8.cluster
          |                     ORDER BY qual.quality DESC, l8.doc_id) = 1 AS keep
          |FROM l8 JOIN qual ON l8.doc_id = qual.doc_id""".stripMargin)),

    // ---- SimHash: 64-bit weighted fingerprint per document ------------
    // Feature = word with multiplicity; bit j of md5(word) (hex digit
    // j/4, MSB-first within the digit) votes +cnt/-cnt; fingerprint bit =
    // sign of the tally. Emitted as a 64-char bitstring (no cross-engine
    // integer-width games).
    Q("p_dedup_simhash",
      (s, dir) => simhash(s, dir),
      Some(simhashOracle + "\nSELECT doc_id, simhash FROM fp")),

    // ---- SimHash near-dup pairs: 16-bit band collision + Hamming ------
    Q("p_dedup_simhash_pairs",
      (s, dir) => {
        // The fingerprint frame is tiny (one 64-char string per doc) but
        // expensive to build (words × 64 bit-tallies); reused by the band
        // explode and both Hamming join sides, so materialize it once.
        val fp = simhash(s, dir).cache()
        val bands = fp.select(col("doc_id"), explode(expr(
          "transform(sequence(0, 3), b -> named_struct('band', b, 'key', substring(simhash, 1 + b * 16, 16)))"))
          .as("e")).select(col("doc_id"), col("e.band").as("band"), col("e.key").as("key"))
        val cand = bands.select(col("doc_id").as("a"), col("band"), col("key"))
          .join(bands.select(col("doc_id").as("b"), col("band"), col("key")), Seq("band", "key"))
          .filter(col("a") < col("b"))
          .select("a", "b").distinct()
        // Hamming via 4×16-bit XOR popcount (whole-stage codegen) rather
        // than a 64-iteration string-compare lambda — band keys collide
        // heavily on a same-distribution corpus, so the verify stage sees
        // many candidates and its per-pair cost dominates.
        val packed = fp.select(col("doc_id") +: (0 until 4).map(b =>
          expr(s"cast(conv(substring(simhash, ${1 + b * 16}, 16), 2, 10) as int)").as(s"w$b")): _*)
        val pa = packed.select(col("doc_id").as("a") +:
          (0 until 4).map(b => col(s"w$b").as(s"a$b")): _*)
        val pb = packed.select(col("doc_id").as("b") +:
          (0 until 4).map(b => col(s"w$b").as(s"b$b")): _*)
        cand.join(pa, Seq("a")).join(pb, Seq("b"))
          .withColumn("hamming", expr(
            (0 until 4).map(b => s"bit_count(a$b ^ b$b)").mkString(" + ")))
          .filter(col("hamming") <= 3)
          .select(col("a"), col("b"), col("hamming"))
      },
      Some(simhashOracle +
        """,
          |bands AS (SELECT doc_id, b AS band, substr(simhash, 1 + b * 16, 16) AS key
          |          FROM fp, (SELECT unnest(range(4)) AS b)),
          |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          |         FROM bands x JOIN bands y
          |           ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
          |SELECT cand.a, cand.b,
          |       len(list_filter(range(1, 65),
          |           i -> substr(fa.simhash, i, 1) <> substr(fb.simhash, i, 1))) AS hamming
          |FROM cand
          |JOIN fp fa ON fa.doc_id = cand.a
          |JOIN fp fb ON fb.doc_id = cand.b
          |WHERE len(list_filter(range(1, 65),
          |        i -> substr(fa.simhash, i, 1) <> substr(fb.simhash, i, 1))) <= 3""".stripMargin)),

    // ---- embedding cosine near-dup (exact fixed-point math) -----------
    // Exact all-pairs. A crossJoin + higher-order-function dot product
    // leaves whole-stage codegen on every pair, so this uses the
    // broadcast-corpus mapPartitions kernel instead (SURVEY §2 preference
    // (d), deliberately: the quadratic kernel is genuine per-partition
    // imperative logic). Corpus fits comfortably in a broadcast (n×64
    // int64); each partition streams its vectors against it in a tight
    // primitive loop. The math is bit-identical to the SQL form: exact
    // int64 dot, sqrt(na)*sqrt(nb) in the same order, HALF_UP round —
    // the oracle still hash-matches. At 100 TB this op runs over LSH
    // candidates only (p_sim_lsh_bucket's bucket join is the pre-filter).
    Q("p_dedup_embedding",
      (s, dir) => {
        val sp = s
        import sp.implicits._
        // cached: evaluated twice (driver collect for the broadcast +
        // the distributed mapPartitions pass)
        val vecs = quantized(s, dir).select("vec_id", "q", "nrm")
          .as[(Long, Array[Long], Long)].cache()
        val bc = s.sparkContext.broadcast(vecs.collect().sortBy(_._1))
        val tau = cosineTau
        vecs.mapPartitions { it =>
          val corpus = bc.value
          it.flatMap { case (a, qa, na) =>
            val sa = math.sqrt(na.toDouble)
            corpus.iterator.filter(_._1 > a).flatMap { case (b, qb, nb) =>
              var dot = 0L
              var i = 0
              while (i < qa.length) { dot += qa(i) * qb(i); i += 1 }
              val cos = dot.toDouble / (sa * math.sqrt(nb.toDouble))
              if (cos >= tau)
                Some((a, b, BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
              else None
            }
          }
        }.toDF("a", "b", "cos")
      },
      Some(s"""WITH e AS (SELECT vec_id,
              |         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000, 0) AS BIGINT)) AS q
              |       FROM embeddings),
              |n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS nrm FROM e),
              |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
              |        list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i]))::DOUBLE
              |          / (sqrt(a.nrm::DOUBLE) * sqrt(b.nrm::DOUBLE)) AS cos
              |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
              |SELECT a, b, round(cos, 6) AS cos FROM p WHERE cos >= $cosineTau""".stripMargin)),

    // ---- embedding near-dup, LSH-bucketed (the 100 TB path) -----------
    // The scale twin of p_dedup_embedding: candidate pairs come from an
    // 8-bit sign-LSH bucket equi-join (same data-independent projection
    // as p_sim_lsh_bucket) instead of the all-pairs cross product, then
    // exact fixed-point cosine verifies only the in-bucket pairs. One
    // bucket shuffle + one candidate-scale verify — sub-quadratic the
    // same way minhash-LSH is for text. Recall vs the exact op is the
    // LSH trade (near-identical vectors share all 8 signs with high
    // probability); the exact op remains the verification baseline.
    Q("p_dedup_embedding_lsh",
      (s, dir) => {
        val e = quantized(s, dir)
          .withColumn("bucket", expr(
            "array_join(transform(slice(q, 1, 8), x -> if(x >= 0, '1', '0')), '')"))
        val x = e.select(col("vec_id").as("a"), col("bucket"),
          col("q").as("qa"), col("nrm").as("na"))
        val y = e.select(col("vec_id").as("b"), col("bucket"),
          col("q").as("qb"), col("nrm").as("nb"))
        // threshold on the RAW cosine (round only for output), exactly
        // like the exact op — keeps lsh-pairs ⊆ exact-pairs bit-true
        x.join(y, Seq("bucket"))
          .filter(col("a") < col("b"))
          .withColumn("rawcos", cosine("qa", "na", "qb", "nb"))
          .filter(col("rawcos") >= cosineTau)
          .select(col("a"), col("b"), round(col("rawcos"), 6).as("cos"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
              |         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000, 0) AS BIGINT)) AS q
              |       FROM embeddings),
              |n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS nrm,
              |        array_to_string(list_transform(q[1:8],
              |          x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
              |      FROM e),
              |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
              |        list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i]))::DOUBLE
              |          / (sqrt(a.nrm::DOUBLE) * sqrt(b.nrm::DOUBLE)) AS cos
              |      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |SELECT a, b, round(cos, 6) AS cos FROM p WHERE cos >= $cosineTau""".stripMargin)),

    // ---- SemDeDup: cluster-bounded semantic deduplication -------------
    // The semantic-dedup shape that survives corpus scale (SemDeDup,
    // Abbas et al. 2023, arXiv:2303.09540): k-means-assign every vector
    // to a centroid first (the p_sim_ivf assignment — centroids
    // broadcast, one map-only scoring pass), then compare pairs ONLY
    // within a cluster. The quadratic term drops from |corpus|² to
    // Σ|cluster|², and the within-cluster self-join co-partitions both
    // sides on centroid_id — one shuffle each, pair generation local to
    // the partition. Survivor rule (deterministic, non-iterative): a
    // vector is dropped iff a LOWER-id near-duplicate (raw cos ≥ τ,
    // same τ as the exact baseline) shares its cluster; PipelineSpec
    // pins that every dropped vector has an exact-baseline near-dup
    // pair, i.e. the approximation only ever misses CROSS-cluster dups,
    // never invents one.
    Q("p_dedup_semantic",
      (s, dir) => {
        val e = quantized(s, dir)
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("q").as("cq"), col("nrm").as("cn"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("centroid_id"))
        val assigned = e.select(col("vec_id"), col("q"), col("nrm"))
          .crossJoin(broadcast(cents))
          .withColumn("ccos", round(cosine("q", "nrm", "cq", "cn"), 6))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") === 1)
          .select(col("vec_id"), col("q"), col("nrm"), col("centroid_id"))
        val x = assigned.select(col("centroid_id"), col("vec_id").as("a"),
          col("q").as("qa"), col("nrm").as("na"))
        val y = assigned.select(col("centroid_id"), col("vec_id").as("b"),
          col("q").as("qb"), col("nrm").as("nb"))
        val dropped = x.join(y, Seq("centroid_id"))
          .filter(col("a") < col("b"))
          .withColumn("rawcos", cosine("qa", "na", "qb", "nb"))
          .filter(col("rawcos") >= cosineTau)
          .select(col("b").as("vec_id")).distinct()
        assigned.join(dropped, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("centroid_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
              |         list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000000, 0) AS BIGINT)) AS q
              |       FROM embeddings),
              |n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS nrm FROM e),
              |assigned AS (
              |  SELECT vec_id, q, nrm, centroid_id FROM (
              |    SELECT a.vec_id, a.q, a.nrm, c.vec_id AS centroid_id,
              |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              |        round(list_sum(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * c.q[i]))::DOUBLE
              |          / (sqrt(a.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)), 6) DESC, c.vec_id) AS rank
              |    FROM n a JOIN n c ON c.vec_id < 8) WHERE rank = 1),
              |dropped AS (
              |  SELECT DISTINCT y.vec_id
              |  FROM assigned x JOIN assigned y
              |    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
              |  WHERE list_sum(list_transform(range(1, len(x.q) + 1), i -> x.q[i] * y.q[i]))::DOUBLE
              |      / (sqrt(x.nrm::DOUBLE) * sqrt(y.nrm::DOUBLE)) >= $cosineTau)
              |SELECT vec_id, centroid_id FROM assigned
              |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin)),

    // ---- bounded edit-distance join: partition-blocked, exact ---------
    // Record linkage / OCR-noise dedup: all document pairs whose
    // NORMALIZED texts are within edit distance k, without an all-pairs
    // scan. Partition blocking (the PassJoin scheme — Li/Deng/Feng/Wang,
    // PVLDB 5(3) 2011, public): split every indexed string into k+1
    // contiguous segments; if dist(a,b) <= k then by pigeonhole over an
    // optimal alignment, b contains at least one of a's segments EXACTLY,
    // starting within +-k of its indexed position. Candidate generation
    // is therefore an EQUI-join on (segment text, segment index, indexed
    // length) — the probe side enumerates the (k+1)·(2k+1)² bounded
    // substring windows, the index side emits k+1 segments per string —
    // followed by banded-levenshtein verification (threshold form:
    // O(k·len) per pair, not O(len²)). At 100 TB: index rows (k+1)·n,
    // probe rows <= (k+1)(2k+1)²·n, one shuffle on the segment key, and
    // the verify join touches blocking survivors only; there is no n²
    // term anywhere. The +-k probe window is a superset of PassJoin's
    // tighter multi-match window — extra candidates, never a missed
    // pair; PipelineSpec proves set-equality against the O(n²)
    // length-banded brute force at sf0.001. Precondition len >= k+1
    // (zero-length segments) holds by construction: normalized docs are
    // >= 47 chars; the spec asserts it.
    Q("p_dedup_editdist",
      (s, dir) => {
        val norm = docs(s, dir).select(col("doc_id"),
          expr("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' '))")
            .as("t"))
          .withColumn("len", length(col("t")))
        // Join on xxhash64(segment) rather than the segment text: equal
        // segments always hash equal (no missed pair), and a hash
        // collision only ADDS a candidate that verification filters —
        // the shuffled key drops from a ~110-char string to 8 bytes.
        // Probe only indexed lengths L <= len: a qualifying pair is
        // always found from its longer-or-equal side probing the
        // shorter side's segments, so the upper half of the L window is
        // redundant (halves probe volume).
        val segs = norm
          .withColumn("i", explode(expr(s"sequence(0, $edK)")))
          .withColumn("st", expr(s"i * len div $edSeg"))
          .select(col("doc_id").as("ib"), col("len").as("L"), col("i"),
            expr(s"xxhash64(substring(t, st + 1, (i + 1) * len div $edSeg - st))").as("seg"))
        val probes = norm
          .withColumn("i", explode(expr(s"sequence(0, $edK)")))
          .withColumn("L", explode(expr(s"sequence(len - $edK, len)")))
          .filter(col("L") >= edSeg)
          .withColumn("st", expr(s"i * L div $edSeg"))
          .withColumn("slen", expr(s"(i + 1) * L div $edSeg - st"))
          .withColumn("p", explode(expr(
            s"IF(greatest(st - $edK, 0) <= least(st + $edK, len - slen), " +
              s"sequence(greatest(st - $edK, 0), least(st + $edK, len - slen)), " +
              "array())")))
          .select(col("doc_id").as("ia"), col("i"), col("L"),
            expr("xxhash64(substring(t, p + 1, slen))").as("seg"))
        val cands = probes.join(segs, Seq("seg", "i", "L"))
          .filter(col("ia") =!= col("ib"))
          .select(least(col("ia"), col("ib")).as("a"),
            greatest(col("ia"), col("ib")).as("b"))
          .distinct()
        val t = norm.select(col("doc_id"), col("t"))
        cands
          .join(t.select(col("doc_id").as("a"), col("t").as("ta")), Seq("a"))
          .join(t.select(col("doc_id").as("b"), col("t").as("tb")), Seq("b"))
          .withColumn("dist", expr(s"levenshtein(ta, tb, $edK)"))
          .filter(col("dist") >= 0)
          .select(col("a"), col("b"), col("dist"))
      },
      Some(s"""WITH n AS (SELECT doc_id,
              |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
              |                      ' +', ' ', 'g')) AS t
              |  FROM documents)
              |SELECT x.doc_id AS a, y.doc_id AS b, levenshtein(x.t, y.t) AS dist
              |FROM n x JOIN n y ON x.doc_id < y.doc_id
              |WHERE abs(length(x.t) - length(y.t)) <= $edK
              |  AND levenshtein(x.t, y.t) <= $edK""".stripMargin)),

    // ---- cross-document duplicated-SPAN coverage (exact substring) ----
    // The Lee et al. "Deduplicating Training Data Makes Language Models
    // Better" signal, bounded to word 5-grams: for every document, the
    // fraction of its tokens covered by some 5-gram that ALSO occurs in
    // at least one other document. Unlike the Jaccard/MinHash family
    // (whole-doc set similarity), this localizes duplication to spans —
    // the signal used to CUT boilerplate from otherwise-unique pages.
    // Shapes: positional 5-grams (posexplode keeps the offset), one
    // groupBy on the gram for the cross-doc document frequency (the same
    // shuffle as an inverted index build; at 100 TB the _dfcut hot-key
    // discipline above applies unchanged), a semi join back to positions,
    // then a per-doc sort-merge of overlapping [pos, pos+5) intervals via
    // one window lag — coverage = sum(min(5, pos - prev_pos)), exact
    // interval union without exploding each hit to its 5 tokens.
    Q("p_dedup_substring",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))
        val d5 = words(s, dir).filter(size(col("ws")) >= 5)
        val grams = d5.select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(ws)-5), " +
            "i -> concat(ws[i],' ',ws[i+1],' ',ws[i+2],' ',ws[i+3],' ',ws[i+4]))")))
          .toDF("doc_id", "pos", "gram")
        val dup = grams.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 2).select("gram")
        val cov = grams.join(dup, Seq("gram"), "left_semi")
          .select(col("doc_id"), col("pos"))
          .withColumn("c",
            least(lit(5), col("pos") - coalesce(lag(col("pos"), 1).over(w), col("pos") - 5)))
          .groupBy("doc_id").agg(sum(col("c")).cast("long").as("dup_tokens"))
        d5.join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"), size(col("ws")).as("n_words"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
            round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / size(col("ws")), 6)
              .as("dup_frac"))
      },
      Some("""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |d5 AS (SELECT doc_id, ws FROM dd WHERE len(ws) >= 5),
             |g AS (SELECT doc_id,
             |        unnest(range(1, len(ws) - 3)) AS pos,
             |        unnest(list_transform(range(1, len(ws) - 3),
             |          i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])) AS gram
             |      FROM d5),
             |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
             |cov AS (SELECT doc_id,
             |          least(5, pos - coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
             |                                  pos - 5)) AS c
             |        FROM g WHERE gram IN (SELECT gram FROM dup)),
             |agg AS (SELECT doc_id, sum(c)::BIGINT AS dup_tokens FROM cov GROUP BY doc_id)
             |SELECT d.doc_id, len(d.ws) AS n_words,
             |       coalesce(a.dup_tokens, 0)::BIGINT AS dup_tokens,
             |       round(coalesce(a.dup_tokens, 0)::DOUBLE / len(d.ws), 6) AS dup_frac
             |FROM d5 d LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // ---- URL canonicalization + dedup (round 17) -----------------------
    // The crawl-level dedup every web-corpus pipeline runs BEFORE any
    // content hashing (CCNet/RefinedWeb discipline: the same page is
    // re-fetched under scheme/case/www./tracking-param/fragment noise,
    // and URL-level collapse removes the bulk of refetch duplicates at
    // string speed, no shingling). The corpus carries no URL column, so
    // each doc is AUGMENTED with a deterministic raw URL (the PII-op
    // discipline) whose page identity is doc_id % 120 and whose noise —
    // scheme case, www., host case, trailing slash, utm_* tracking
    // params, #fragment — varies per doc_id, so canonicalization does
    // real work and same-page docs collapse (~4 docs/group at sf0.001).
    // Canonical form: lower scheme+host (path case PRESERVED — real
    // URL paths are case-sensitive), strip www., strip the fragment,
    // strip one trailing slash, drop utm_* params keeping the rest.
    // Every step is a codegen'd regexp projection in the pinned
    // Spark∩DuckDB dialect; the only exchange is the canonical groupBy
    // (map-side combined). Output: one row per canonical URL with the
    // group size and the min-doc_id keeper — the survivorship contract
    // the exact-dedup ops use.
    Q("p_dedup_url",
      (s, dir) => {
        val id = col("doc_id")
        val page = (id % 120).cast("string")
        val host0 = concat(lit("example"), ((id % 120) % 8).cast("string"), lit(".com"))
        val raw = concat(
          when(id % 2 === 0, "https://").otherwise("HTTPS://"),
          when(id % 3 === 0, "www.").otherwise(""),
          when(id % 5 === 0, upper(host0)).otherwise(host0),
          lit("/Docs/"), page,
          when(id % 7 === 0, "/").otherwise(""),
          when(id % 120 % 2 === 0, concat(lit("?id="), page)).otherwise(""),
          when(id % 4 === 0, concat(
            when(id % 120 % 2 === 0, "&").otherwise("?"),
            lit("utm_source=feed&utm_campaign="), id.cast("string"))).otherwise(""),
          when(id % 6 === 0, concat(lit("#sec"), id.cast("string"))).otherwise(""))
        val noFrag = regexp_replace(raw, "#.*$", "")
        val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
        val host = regexp_replace(
          lower(regexp_extract(noFrag, "^[A-Za-z]+://([^/?#]+)", 1)), "^www\\.", "")
        val path = regexp_replace(
          regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/$", "")
        val query = regexp_replace(
          regexp_extract(noFrag, "\\?([^#]*)", 1), "(^|&)utm_[a-z]+=[^&]*", "")
        val canon = concat(scheme, lit("://"), host, path,
          when(query =!= "", concat(lit("?"), query)).otherwise(lit("")))
        docs(s, dir).select(id, canon.as("canonical_url"))
          .groupBy("canonical_url")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
      },
      Some("""WITH raw AS (SELECT doc_id,
             |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END)
             |    || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
             |    || (CASE WHEN doc_id % 5 = 0
             |          THEN upper('example' || ((doc_id % 120) % 8) || '.com')
             |          ELSE 'example' || ((doc_id % 120) % 8) || '.com' END)
             |    || '/Docs/' || (doc_id % 120)
             |    || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
             |    || (CASE WHEN (doc_id % 120) % 2 = 0 THEN '?id=' || (doc_id % 120) ELSE '' END)
             |    || (CASE WHEN doc_id % 4 = 0 THEN
             |          (CASE WHEN (doc_id % 120) % 2 = 0 THEN '&' ELSE '?' END)
             |          || 'utm_source=feed&utm_campaign=' || doc_id ELSE '' END)
             |    || (CASE WHEN doc_id % 6 = 0 THEN '#sec' || doc_id ELSE '' END) AS u
             |  FROM documents),
             |nf AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM raw),
             |parts AS (SELECT doc_id,
             |    lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
             |    regexp_replace(lower(regexp_extract(u, '^[A-Za-z]+://([^/?#]+)', 1)),
             |                   '^www\.', '') AS host,
             |    regexp_replace(regexp_extract(u, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
             |                   '/$', '') AS path,
             |    regexp_replace(regexp_extract(u, '\?([^#]*)', 1),
             |                   '(^|&)utm_[a-z]+=[^&]*', '', 'g') AS q
             |  FROM nf)
             |SELECT scheme || '://' || host || path
             |         || (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS canonical_url,
             |       count(*) AS n_docs, min(doc_id) AS keeper
             |FROM parts GROUP BY 1""".stripMargin)),
  )

  /** MinHash signature -> LSH band candidates -> exact-Jaccard-verified
    * near-duplicate pairs (a < b). Shared by the pair operator and the
    * clustering/survivor pipeline, which share the whole
    * signature→band→verify pipeline: production materializes the pair
    * list exactly once before clustering, memoized per (session, dir)
    * ([[graft.Ckpt.memo]]). */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.Ckpt.memo(s, ("minhashPairs", dir)) {
      val df = buildMinhashPairs(s, dir).cache()
      // Materialize NOW (one action): a lazy cache under the clustering
      // pipeline's many subplan references gets planned without sizes and
      // raced by concurrent stages — measured 3-4× slower than reading a
      // populated cache.
      df.count()
      df
    }

  /** Connected components over a dup-pair frame `(a, b)` by
    * CONVERGENCE-DRIVEN delta min-label propagation: every clustered
    * document is labeled with the minimum doc_id of its component.
    *
    * Round 9's fixed 5-superstep loop was correct-but-brittle: a dup
    * chain longer than 5 hops would ABORT the pipeline via the
    * post-hoc convergence `require` (VERDICT r09 item 2). This loop
    * runs until a superstep changes no label, so any chain length up to
    * `maxIters` converges; exhausting the bound still fails loudly
    * (the backstop — the DuckDB oracle replays a fixed unrolling, so a
    * silent under-convergence would hash-match).
    *
    * The loop is [[GraphAlgos.deltaCC]] over the pair graph. Supersteps
    * scale with CLUSTER diameter — dup clusters are near-cliques plus
    * short chains, so this converges in a handful of rounds regardless
    * of corpus size; a pathological long-chain corpus at 100 TB would
    * instead route through GraphAlgos.starCC (O(log n) rounds on any
    * diameter) over the same pair frame. PipelineSpec pins an 11-hop
    * chain the fixed-depth loop would have aborted on. */
  private[graft] def dupClusterLabels(pairs: DataFrame, maxIters: Int): DataFrame = {
    val docs = graft.Ckpt.eager(
      pairs.select(col("a").as("id")).union(pairs.select(col("b").as("id"))).distinct())
    val und = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    // per-superstep frames are bounded by the clustered-doc count
    // (counted off the checkpoint just materialized) — dup-pair frames
    // are tiny next to the corpus
    val (labels, _) = GraphAlgos.deltaCC(docs, und, maxIters,
      graft.Ckpt.partsFor(pairs.sparkSession, docs.count()))
    graft.Ckpt.drop(docs)
    labels.select(col("id").as("doc_id"), col("comp").as("cluster"))
  }

  /** `(doc_id, band, bh)` LSH band table of a shingle index: the 16-hash
    * MinHash signature folded into 8 two-row band bucket hashes. ONE
    * wide shuffle (the signature groupBy); shared by the batch pair
    * operator and the incremental band store. */
  private def bandTable(dsh: DataFrame): DataFrame = {
    val sig = dsh.groupBy("doc_id").agg(
      min(md5(concat(lit("0"), lit("|"), col("shingle")))).as("mh0"),
      (1 until mhSeeds).map(i =>
        min(md5(concat(lit(i.toString), lit("|"), col("shingle")))).as(s"mh$i")): _*)
    val bandCols = (0 until mhSeeds / mhRows).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"mh${mhRows * b}"), lit(","), col(s"mh${mhRows * b + 1}"))).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  private def buildMinhashPairs(s: SparkSession, dir: String): DataFrame = {
    // Cached (plan-deduped): feeds the signature build, sizes, and both
    // verify join sides (4 subplans) — and the same index as the other
    // shingle-based operators.
    val dsh = shingles(s, dir).cache()
    val bands = bandTable(dsh)
    val cand = bands.select(col("doc_id").as("a"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("b"), col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    exactJaccard(dsh, cand, jaccardTau).select("a", "b")
  }

  /** Exact asymmetric containment on CANONICAL (a < b) candidate pairs,
    * emitting both directions from the one symmetric intersection count
    * (|A∩B|/|A| and |A∩B|/|B|) — the verify stage of the df-cut
    * containment path, same collected-set counter as [[exactJaccard]]. */
  private def exactContainment(dsh: DataFrame, cand: DataFrame,
      tau: Double = 0.8): DataFrame = {
    graft.functions.GraftFunctions.register(dsh.sparkSession)
    val sets = dsh.groupBy("doc_id")
      .agg(collect_list(col("shingle")).as("sh"), count(lit(1)).as("n"))
    val withC = cand
      .join(sets.select(col("doc_id").as("a"), col("sh").as("sa"), col("n").as("na")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("sh").as("sb"), col("n").as("nb")), Seq("b"))
      .withColumn("c", expr("array_intersect_count(sa, sb)"))
      .select(col("a"), col("b"), col("c"), col("na"), col("nb"))
    val ab = withC.select(col("a"), col("b"),
      (col("c").cast("double") / col("na")).as("containment"))
    val ba = withC.select(col("b").as("a"), col("a").as("b"),
      (col("c").cast("double") / col("nb")).as("containment"))
    ab.unionByName(ba).filter(col("containment") >= tau)
      .select(col("a"), col("b"), round(col("containment"), 3).as("containment"))
  }

  /** Exact-Jaccard verification over candidate pairs.
    *
    * Shape: aggregate the shingle index into one SET-ARRAY per document
    * (a ~100-element array — documents are bounded, so this is always
    * small per row), join each candidate pair to its two arrays, and
    * intersect inside the row (`array_intersect`, codegen'd). Compared
    * with re-joining the pair list against the full inverted index twice
    * and re-counting matches, this replaces two index-scale shuffles with
    * one doc-scale aggregation + two joins against a doc-count-sized frame
    * (AQE broadcasts it at test scale; at corpus scale it's an equi-join
    * on doc id, still linear). |A∩B| via set arrays is identical to the
    * join-count the oracles compute — dsh is distinct by construction. */
  private def exactJaccard(dsh: DataFrame, cand: DataFrame, tau: Double = 0.5): DataFrame = {
    // |A∩B| via the native codegen'd counter (no per-pair intersection
    // array) — identical to size(array_intersect) here because each
    // per-doc array is DISTINCT by construction (dsh is distinct).
    graft.functions.GraftFunctions.register(dsh.sparkSession)
    val sets = dsh.groupBy("doc_id")
      .agg(collect_list(col("shingle")).as("sh"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("a"), col("sh").as("sa"), col("n").as("na")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("sh").as("sb"), col("n").as("nb")), Seq("b"))
      .withColumn("c", expr("array_intersect_count(sa, sb)"))
      .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= tau)
      .select(col("a"), col("b"), round(col("jac"), 3).as("jac"))
  }

  /** DuckDB CTE chain reproducing minhashPairs, ending at `pairs(a, b)`
    * (no trailing comma — callers append a SELECT or more CTEs). */
  private lazy val minhashOracle: String =
    s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
       |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle FROM dd),
       |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
       |mh AS (SELECT doc_id, seed,
       |         min(md5(seed::VARCHAR || '|' || shingle)) AS mh
       |       FROM dsh, (SELECT unnest(range($mhSeeds)) AS seed)
       |       GROUP BY doc_id, seed),
       |bands AS (SELECT doc_id, seed // $mhRows AS band,
       |            md5(string_agg(mh, ',' ORDER BY seed)) AS bh
       |          FROM mh GROUP BY doc_id, seed // $mhRows),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
       |common AS (SELECT c.a, c.b, count(*) AS cnt FROM cand c
       |           JOIN dsh da ON da.doc_id = c.a
       |           JOIN dsh db ON db.doc_id = c.b AND da.shingle = db.shingle
       |           GROUP BY c.a, c.b),
       |pairs AS (SELECT common.a, common.b FROM common
       |          JOIN sizes sa ON common.a = sa.doc_id
       |          JOIN sizes sb ON common.b = sb.doc_id
       |          WHERE cnt::DOUBLE / (sa.n + sb.n - cnt) >= $jaccardTau)""".stripMargin

  /** 64-bit SimHash per document as a bitstring column.
    *
    * One explode (word occurrences — each occurrence votes, identical to
    * count-weighted voting) and ONE groupBy with 64 codegen'd conditional
    * sums, the bit position constants baked per aggregate — no 64× row
    * explosion, no interpreted lambdas, single shuffle with map-side
    * partial aggregation. The oracle keeps the equivalent per-(doc,word,
    * count) formulation. */
  private def simhash(s: SparkSession, dir: String): DataFrame = {
    val feats = words(s, dir)
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
    val tallies = (0 until 64).map { j =>
      val digit = s"(instr('0123456789abcdef', substring(h, ${1 + j / 4}, 1)) - 1)"
      val shift = Seq(8, 4, 2, 1)(j % 4)
      sum(expr(s"2 * (($digit div $shift) % 2) - 1")).as(s"t$j")
    }
    feats.groupBy("doc_id").agg(tallies.head, tallies.tail: _*)
      .select(col("doc_id"),
        concat((0 until 64).map(j => when(col(s"t$j") > 0, "1").otherwise("0")): _*)
          .as("simhash"))
  }

  /** DuckDB CTE chain computing the same fingerprint, shared by both
    * simhash oracles; ends at the `fp` definition (no trailing comma, so
    * callers append either a final SELECT or `,\nmore CTEs…`). */
  // lazy: referenced from `all` above its definition site
  private lazy val simhashOracle: String =
    """WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |feats AS (SELECT doc_id, unnest(ws) AS w FROM dd),
      |fc AS (SELECT doc_id, w, count(*) AS cnt FROM feats GROUP BY doc_id, w),
      |bits AS (SELECT doc_id, j,
      |           sum(cnt * (2 * ((strpos('0123456789abcdef',
      |                               substr(md5(w), 1 + (j // 4), 1)) - 1)
      |                           // (CASE j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
      |                                          WHEN 2 THEN 2 ELSE 1 END) % 2) - 1)) AS tally
      |         FROM fc, (SELECT unnest(range(64)) AS j)
      |         GROUP BY doc_id, j),
      |fp AS (SELECT doc_id,
      |         string_agg(CASE WHEN tally > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
      |       FROM bits GROUP BY doc_id)""".stripMargin
}
