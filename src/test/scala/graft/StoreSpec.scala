package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine
import graft.sources.GraphStore
import graft.TestResources.resource

/** Round-trip: execute a program, persist the resulting graph, reload it,
  * and run a further query against the reloaded graph. The program is
  * `entreprise_graph.q`, which rebuilds the reference's recorded golden
  * graph (FIXTURES.md A.2). */
class StoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("save/load round-trips graph, schema, and supports further queries") {
    val r = Engine.runSource(spark, resource("entreprise_graph.q"))
    // the fixture builds the recorded golden graph (entreprise.t:3-22),
    // so an edit to it cannot silently change what these tests check
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(r.graph.nodes("P")) ==
      Set(Seq(0L, "Marie Dubois", 25L), Seq(2L, "Pierre Dupont", 24L)))
    assert(rows(r.graph.nodes("E")) ==
      Set(Seq(1L, "Airbus", false), Seq(3L, "Petit Pain", true)))
    assert(r.graph.schema.relTypes.map(k => k -> rows(r.graph.edges(k))).toMap == Map(
      ("P", "ami", "P") -> Set(Seq(0L, 2L)),
      ("P", "emp", "E") -> Set(Seq(0L, 1L), Seq(2L, 3L)),
      ("E", "f", "E") -> Set(Seq(3L, 1L))))
    assert(r.nextId == 4L)
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    GraphStore.save(r.graph, r.nextId, dir, partitions = 2)

    val (g2, nextId2) = GraphStore.load(spark, dir)
    assert(g2.schema == r.graph.schema)
    assert(nextId2 == r.nextId)
    for (l <- r.graph.schema.nodeAttrs.keys) {
      val a = r.graph.nodes(l).collect().map(_.toSeq).toSet
      val b = g2.nodes(l).collect().map(_.toSeq).toSet
      assert(a == b, s"nodes($l)")
    }
    for (k <- r.graph.schema.relTypes) {
      assert(r.graph.edges(k).collect().map(_.toSeq).toSet ==
        g2.edges(k).collect().map(_.toSeq).toSet, s"edges($k)")
    }

    // run a fresh query over the persisted graph with the PERSISTED counter
    val q = "match (p:P) -[:emp]-> (e:E) where p.age >= 25 return p, e"
    val r2 = Engine.runSourceOn(spark, GraphStore.schemaGql(g2.schema) + q, g2, nextId2)
    assert(r2.bindings.collect().map(_.toSeq).toSeq == Seq(Seq(0L, 1L)))
  }

  test("save -> load -> create continues ids densely with no collision") {
    // The counter round-trip the metadata file exists for (VERDICT r09
    // item 8): the entreprise graph has ids 0..3, so a reloaded session that
    // creates MUST mint 4, 5, … — before the counter was persisted, a
    // caller-guessed stale value silently collided with stored ids.
    val r = Engine.runSource(spark, resource("entreprise_graph.q"))
    assert(r.nextId == 4L)
    val dir = java.nio.file.Files.createTempDirectory("graft_store_ids").toString
    GraphStore.save(r.graph, r.nextId, dir, partitions = 2)

    val (g2, nextId2) = GraphStore.load(spark, dir)
    val r2 = Engine.runSourceOn(spark,
      GraphStore.schemaGql(g2.schema) + "create (x:P), (y:P) return x, y",
      g2, nextId2)
    assert(r2.bindings.collect().map(_.toSeq).toSeq == Seq(Seq(4L, 5L)))
    assert(r2.nextId == 6L)
    val ids = r2.graph.nodes("P").select("id").collect().map(_.getLong(0)).sorted
    assert(ids.distinct.length == ids.length, s"id collision: ${ids.mkString(",")}")

    // legacy store (no next_id metadata file): loader falls back to
    // max stored id + 1, which also cannot collide
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "next_id"))
    val (_, legacyNext) = GraphStore.load(spark, dir)
    assert(legacyNext == 4L)
  }

  test("bucketed save/load round-trips and answers the same queries") {
    val r = Engine.runSource(spark, resource("entreprise_graph.q"))
    GraphStore.saveBucketed(r.graph, r.nextId, spark, "storespec_bkt", buckets = 2)

    val (g2, nextId2) = GraphStore.loadBucketed(spark, "storespec_bkt")
    assert(g2.schema == r.graph.schema)
    assert(nextId2 == r.nextId)
    for (l <- r.graph.schema.nodeAttrs.keys)
      assert(r.graph.nodes(l).collect().map(_.toSeq).toSet ==
        g2.nodes(l).collect().map(_.toSeq).toSet, s"nodes($l)")
    for (k <- r.graph.schema.relTypes)
      assert(r.graph.edges(k).collect().map(_.toSeq).toSet ==
        g2.edges(k).collect().map(_.toSeq).toSet, s"edges($k)")

    val q = "match (p:P) -[:emp]-> (e:E) where p.age >= 25 return p, e"
    val r2 = Engine.runSourceOn(spark, GraphStore.schemaGql(g2.schema) + q, g2, nextId2)
    assert(r2.bindings.collect().map(_.toSeq).toSeq == Seq(Seq(0L, 1L)))

    // counter continues densely through the catalog round-trip too
    val r3 = Engine.runSourceOn(spark,
      GraphStore.schemaGql(g2.schema) + "create (x:P) return x", g2, nextId2)
    assert(r3.bindings.collect().map(_.toSeq).toSeq == Seq(Seq(4L)))

    // overwriting the same store name is clean (fresh managed tables)
    GraphStore.saveBucketed(r.graph, r.nextId, spark, "storespec_bkt", buckets = 2)
    assert(GraphStore.loadBucketed(spark, "storespec_bkt")._1
      .nodes("P").count() == r.graph.nodes("P").count())
  }
}
