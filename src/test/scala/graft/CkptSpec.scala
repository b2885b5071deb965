package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}
import graft.engine.{Engine, PropertyGraph}
import graft.operators.{GraphAlgos, Topology}

/** Releasing checkpoints: a dropped one leaves the block manager and the
  * release logs nothing; a drain releases only its owner's checkpoints
  * and keeps those a given frame still reads; a memo build's checkpoints
  * live with its entry. */
class CkptSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def stored(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** `body`'s log messages, captured on the root logger. */
  private def logged(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("CkptSpec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender("CkptSpec")
      ctx.updateLoggers()
      appender.stop()
    }
    lines.toArray(Array.empty[String]).toSeq
  }

  test("a dropped checkpoint leaves the block manager without a lineage warning") {
    val lines = logged {
      val before = stored()
      val c = Ckpt.eager(spark.range(1000).toDF("id"))
      val added = stored() -- before
      assert(added.size == 1, s"one checkpoint RDD expected, got $added")
      Ckpt.drop(c)
      assert((stored() & added).isEmpty, "the dropped checkpoint is still stored")
    }
    val warned = lines.filter(_.contains("was locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
  }

  test("a graph carried across a drain that keeps its frames still reads its checkpoints") {
    // node creation assigns ids through an eager checkpoint, which the
    // created graph reads: create → drain → delete on the carried graph
    val header = "(:tag {})\n"
    def createDrainDelete(drain: PropertyGraph => Unit): Long = Ckpt.scope {
      val tp = graft.lang.Typing.compile(header + "create (t:tag)\n")
      val created = Engine.run(spark, tp, PropertyGraph.empty(spark, tp.schema))
      drain(created.graph)
      val deleted = Engine.runSourceOn(spark, header + "match (t:tag)\ndelete t\n",
        created.graph, created.nextId)
      deleted.bindings.collect()
      deleted.graph.nodes("tag").count()
    }
    def frames(g: PropertyGraph): Seq[DataFrame] = g.nodes.values.toSeq ++ g.edges.values
    assert(createDrainDelete(g => Ckpt.drain(frames(g): _*)) == 0L)
    val e = intercept[Exception](createDrainDelete(_ => Ckpt.drain()))
    assert(e.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), e.getMessage)
  }

  test("a drain on one thread leaves another thread's scope alone") {
    // min-label propagation over a 20-node chain: 20 supersteps, each
    // reading the checkpoint of the one before
    def labels(s: SparkSession, pause: Int => Unit): Map[Long, Long] = {
      val chain = s.range(19).select(col("id").as("src"), (col("id") + 1).as("dst"))
      val und = chain.unionByName(chain.select(col("dst").as("src"), col("src").as("dst")))
      val (out, _) = Superstep.converge(s, "chain labels", limit = 40)(
          s.range(20).select(col("id"), col("id").as("lbl")))(l => Seq(l)) { (l, n) =>
        pause(n)
        val next = und.join(l, und("src") === l("id")).select(und("dst").as("id"), l("lbl"))
          .unionByName(l).groupBy("id").agg(min("lbl").as("lbl"))
        Superstep.Probe(next, probe = f => f.join(l.withColumnRenamed("lbl", "old"), Seq("id"))
            .filter(col("lbl") =!= col("old")).count()) { (f, changed) =>
          Superstep.doneIf(changed == 0)(f)
        }
      }
      out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val (reached, go) = (new CountDownLatch(1), new CountDownLatch(1))
    @volatile var got: Either[Throwable, Map[Long, Long]] = null
    val b = new Thread(() => got =
      try Right(Ckpt.scope(labels(spark.newSession(), n => if (n == 3) {
        reached.countDown()
        go.await()
      })))
      catch { case e: Throwable => Left(e) })
    b.start()
    try {
      assert(reached.await(120, TimeUnit.SECONDS), s"session B never reached superstep 3: $got")
      Ckpt.scope {
        Ckpt.eager(spark.range(10).toDF("id"))
        Ckpt.drain()
      }
      Ckpt.drain()
    } finally go.countDown()
    b.join(120000)
    val single = Ckpt.scope(labels(spark, _ => ()))
    assert(single == (0L until 20L).map(_ -> 0L).toMap)
    assert(got == Right(single), s"session B: $got")
  }

  test("drain(keep) keeps a checkpoint read through an unmaterialized mark's lineage") {
    Ckpt.scope {
      val e = Ckpt.eager(spark.range(100).toDF("id"))
      val eRdds = stored()
      val m = Ckpt.deferred(e.select((col("id") * 2).as("v")))
      val keep = m.filter(col("v") > 10)
      Ckpt.drain(keep)
      assert(eRdds.subsetOf(stored()), "the mark's input was released before it materialized")
      assert(keep.count() == 94L)
      // materialized, the mark no longer reads its input
      val marked = stored() -- eRdds
      assert(marked.size == 1, s"one materialized mark expected, got $marked")
      Ckpt.drain(keep)
      assert(stored().contains(marked.head))
      assert(keep.count() == 94L)
    }
  }

  test("a memo build's checkpoints live with its entry; a first build keeps only those") {
    import spark.implicits._
    // a fresh graph version, so every memo entry below is built here
    val tp = graft.lang.Typing.compile(
      "(:A {})\n(:A) -[:x]-> (:A)\ncall triangles() yield id, t\nreturn id, t\n")
    val g = PropertyGraph(tp.schema, Map("A" -> (1L to 5L).toDF("id")),
      Map(("A", "x", "A") -> Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
        .toDF("src", "dst")))
    def added(build: => Any): Int = {
      Ckpt.drain()
      val before = stored()
      build
      Ckpt.drain()
      (stored() -- before).size
    }
    // the rank frame
    assert(added(GraphAlgos.fixedPageRank(Topology(spark, g, _ => true)).count()) == 1)
    // the triangle counts and the degrees
    assert(added(Engine.run(spark, tp, g, 6L).bindings.collect()) == 2)
    val triangles = Engine.run(spark, tp, g, 6L).bindings.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(triangles == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
  }
}
