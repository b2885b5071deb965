package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

/** Releasing a checkpoint ([[Ckpt.drop]]): its blocks leave the block
  * manager, and the release logs nothing. */
class CkptSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

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
    def cached(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val lines = logged {
      val before = cached()
      val c = Ckpt.eager(spark.range(1000).toDF("id"))
      val added = cached() -- before
      assert(added.size == 1, s"one checkpoint RDD expected, got $added")
      Ckpt.drop(c)
      assert((cached() & added).isEmpty, "the dropped checkpoint is still stored")
    }
    val warned = lines.filter(_.contains("was locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
  }
}
