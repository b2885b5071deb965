package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}

/** The SQL executions a query runs — action name and formatted executed
  * plan, expression/plan ids and checkpoint RDD names normalized — one
  * file per query. Arguments: an output dir, a comma-separated list of
  * `query:from-to` (1-based, inclusive execution window; a query alone
  * keeps all) and the data dir. One session, queries in the given order,
  * the Verify/Bench session settings at local[4]:
  *
  *   java -cp <this compiled>:target/scala-2.13/classes:<spark jars>:<scala-library> \
  *     graft.SuperstepPlans out g_bfs:3-4,g_scc:37-38 /path/to/sf0.001 */
object SuperstepPlans {
  def normalize(plan: String): String = {
    def renumber(s: String, re: scala.util.matching.Regex, fmt: Int => String): String = {
      val ids = scala.collection.mutable.LinkedHashMap[String, Int]()
      re.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
        fmt(ids.getOrElseUpdate(m.group(1), ids.size + 1))))
    }
    val noRdd = plan.replaceAll("""\w*RDD\[\d+\] at \w+ at [\w.$]+:\d+""", "RDD")
    renumber(renumber(noRdd, """#(\d+)""".r, i => s"#$i"), """plan_id=(\d+)""".r, i => s"plan_id=$i")
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir, namesArg, dir) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(s"==== $f ====\n" + normalize(qe.explainString(FormattedMode)))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(s"==== $f FAILED: $e ====")
    })
    Files.createDirectories(Paths.get(outDir))
    namesArg.split(",").foreach { spec =>
      val (name, window) = spec.split(":") match {
        case Array(n, w) => val Array(a, b) = w.split("-").map(_.toInt); (n, a to b)
        case Array(n)    => (n, 1 to Int.MaxValue)
      }
      seen.clear()
      SparkEntry.queries(name)(spark, dir).collect()
      var n = -1
      while (n != seen.size) { n = seen.size; Thread.sleep(1500) }
      val out = new StringBuilder(s"# $name: SQL executions ${window.start}-${math.min(window.end, n)} of $n\n")
      var i = 0
      seen.forEach { p => i += 1; if (window.contains(i)) out.append(p).append('\n') }
      Files.writeString(Paths.get(outDir, s"$name.txt"), out.toString)
      Ckpt.drain()
      System.err.println(s"[superstep-plans] $name: $n executions")
    }
    spark.stop()
  }
}
