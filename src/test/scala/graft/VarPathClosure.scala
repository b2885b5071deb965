package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.PropertyGraph

/** The full bounded varpath closures, kept in test scope: the engine
  * expands every varpath from its bound endpoints
  * (`Engine.varPathReachSeeded`), and PlanSpec pins that seeded
  * expansion against these whole-relation closures as its exactness
  * baseline. RefInterp's varpath case mirrors them. */
object VarPathClosure {

  /** Distinct (src,dst) pairs connected by `lo..hi` consecutive edges of
    * one label-homogeneous relation type — the FULL bounded transitive
    * closure behind `-[:r*lo..hi]->`. Each extra hop is ONE distributed
    * self-join of the edge frame followed by a distinct; the per-level
    * dedup keeps the intermediate linear in reachable-pairs (path
    * multiplicity never materializes) — the depth cap (typing: hi <= 10)
    * bounds the join chain. The ENGINE no longer calls this directly:
    * both varpath paths seed the expansion from the bound endpoints
    * (`Engine.varPathReachSeeded`), whose work tracks the bindings' frontier
    * instead of the whole relation; this full closure remains the
    * exactness baseline the seeded path is differentially pinned
    * against (PlanSpec / GoldenSpec). */
  private[graft] def varPathReach(graph: PropertyGraph,
      key: (String, String, String), lo: Int, hi: Int): DataFrame = {
    val edges = graph.edges(key).select(col("src"), col("dst"))
    // lo = 0 (Cypher zero-length path): seed with the identity pair of
    // EVERY node of the homogeneous label — including isolated nodes,
    // which have a zero-length path to themselves but touch no edge.
    // The node frame is id-partitioned like the edge endpoints, so the
    // union adds no exchange beyond the closure's own.
    val ident =
      if (lo == 0) Some(graph.nodes(key._1).select(col("id").as("src"), col("id").as("dst")))
      else None
    if (hi == 0) ident.get.dropDuplicates("src", "dst")
    else {
      var cur = edges // exactly-d-hop pairs (deduped), d = 1 …
      var acc = if (lo <= 1) edges else null
      for (d <- 2 to hi) {
        val stepped = cur.as("p")
          .join(edges.as("e"), col("p.dst") === col("e.src"))
          .select(col("p.src").as("src"), col("e.dst").as("dst"))
          .dropDuplicates("src", "dst")
        cur = stepped
        if (d >= lo) acc = if (acc == null) cur else acc.unionByName(cur)
      }
      val hops = if (acc == null) cur else acc
      ident.fold(hops)(_.unionByName(hops)).dropDuplicates("src", "dst")
    }
  }

  /** [[varPathReach]] with the MINIMAL hop count per reachable pair —
    * the shortest-path distance within the lo..hi window (`as d`).
    * Levels are already deduped per hop count, so tagging each level
    * with its depth and taking the per-pair min adds no asymptotic cost:
    * the union holds ≤ (hi−lo+1)×|pairs| rows and the closing groupBy
    * replaces the plain closure's dropDuplicates — same shuffle count,
    * same per-level co-partitioned self-join chain at scale. A zero-
    * length identity pair (lo = 0) is depth 0, trivially the minimum. */
  private[graft] def varPathReachDist(graph: PropertyGraph,
      key: (String, String, String), lo: Int, hi: Int): DataFrame = {
    val edges = graph.edges(key).select(col("src"), col("dst"))
    val ident =
      if (lo == 0) Some(graph.nodes(key._1)
        .select(col("id").as("src"), col("id").as("dst"), lit(0L).as("hops")))
      else None
    val levels =
      if (hi == 0) Nil
      else {
        var cur = edges
        val out = List.newBuilder[DataFrame]
        if (lo <= 1) out += edges.withColumn("hops", lit(1L))
        for (d <- 2 to hi) {
          cur = cur.as("p")
            .join(edges.as("e"), col("p.dst") === col("e.src"))
            .select(col("p.src").as("src"), col("e.dst").as("dst"))
            .dropDuplicates("src", "dst")
          if (d >= lo) out += cur.withColumn("hops", lit(d.toLong))
        }
        out.result()
      }
    (ident.toList ++ levels).reduce(_ unionByName _)
      .groupBy("src", "dst").agg(min("hops").as("hops"))
  }
}
