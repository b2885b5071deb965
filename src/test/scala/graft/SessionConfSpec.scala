package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.StreamingOps

/** Iterative loops and streaming runs carry their plan settings (loop
  * shuffle width, AQE off for partitioned checkpoints, whole-stage
  * codegen off for BPE, streaming state width) in the plan or query that
  * needs them, never in the caller's session conf. So loops on two
  * threads of one session and on a second session run side by side,
  * agree with their single-threaded answers, and no session's conf
  * changes while they run. */
class SessionConfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val watched = Seq("spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")

  private def rows(s: SparkSession, query: String): Seq[String] =
    SparkEntry.queries(query)(s, dir).collect().map(_.toString).toSeq.sorted

  private def confOf(s: SparkSession): Seq[Option[String]] = watched.map(s.conf.getOption)

  test("loops on two threads and on a second session agree with their single-threaded runs; session conf never moves") {
    val other = spark.newSession()
    // the broadcast gate closed on both sessions: sf0.001 would otherwise
    // run its cc and bfs loops on the driver, with no superstep to race
    val sessions = Seq(spark, other)
    sessions.foreach(_.conf.set(Bcast.confKey, "0"))
    try concurrentLoops(other)
    finally sessions.foreach(_.conf.unset(Bcast.confKey))
  }

  private def concurrentLoops(other: SparkSession): Unit = {
    // one list of runs per thread: the call door next to the library door
    val threads = Seq(
      Seq(spark -> "gql_call_cc", spark -> "gql_call_bfs"),
      Seq(spark -> "g_connected_components", spark -> "g_bfs"),
      Seq(other -> "g_connected_components"))
    val expected = threads.flatten.map { case (s, q) => (s, q) -> rows(s, q) }.toMap
    Ckpt.drain()

    val own = Seq(spark, other).map(s => s -> confOf(s))
    val drift = new ConcurrentLinkedQueue[String]()
    @volatile var sampling = true
    val sampler = new Thread(() =>
      while (sampling) {
        own.foreach { case (s, c) =>
          val now = confOf(s)
          if (now != c) drift.add(watched.zip(now).toString)
        }
        Thread.sleep(2)
      })
    val got = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Seq[String]]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val workers = threads.map { runs =>
      new Thread(() =>
        try {
          start.await()
          runs.foreach { case (s, q) => got.put((s, q), rows(s, q)) }
        } catch { case e: Throwable => errors.add(e) })
    }
    sampler.start()
    workers.foreach(_.start())
    start.countDown()
    try workers.foreach(_.join())
    finally { sampling = false; sampler.join() }
    Ckpt.drain()

    assert(errors.isEmpty, s"a concurrent run failed: ${errors.peek()}")
    expected.foreach { case ((s, q), want) =>
      val which = if (s eq spark) q else s"$q (second session)"
      assert(got.get((s, q)) == want, s"$which differs from its single-threaded run")
    }
    assert(drift.isEmpty, s"session conf moved mid-run, e.g. ${drift.peek()}")
    assert(own.forall { case (s, c) => confOf(s) == c })
  }

  test("a streaming run keeps its state width off the caller's session") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    SparkEntry.queries("p_stream_tumbling")(spark, dir).count()
    assert(spark.conf.get(key) == before)
    val ops = StreamingOps.lastRunProgress.last.stateOperators
    assert(ops.nonEmpty, "p_stream_tumbling reported no state operator")
    assert(ops.forall(_.numShufflePartitions == StreamingOps.streamStatePartitions),
      ops.map(_.numShufflePartitions).mkString(","))
    Ckpt.drain()
  }
}
