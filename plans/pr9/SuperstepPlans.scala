package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}

/** The SQL executions a query runs — action name and formatted executed
  * plan, expression/plan ids, lambda variable names and checkpoint RDD
  * names normalized — one
  * file per query, `<query>.txt`. Next to it, `<query>.initial.txt` holds
  * only each execution's initial plan, normalized the same way: the
  * `== Initial Plan ==` subtree that adaptive execution fixes before any
  * stage runs (a non-adaptive execution's whole plan is fixed up front).
  * The full dump also shows the final plan, whose join sides, exchange
  * reuse and stage ids AQE picks at run time and which can differ between
  * runs of one commit; the initial plans do not, so one parent/change
  * pair of them tells a plan change from run-time noise. Arguments: an
  * output dir, a comma-separated list of `query:from-to` (1-based,
  * inclusive execution window; a query alone keeps all) and the data dir.
  * One session, queries in the given order, the Verify/Bench session
  * settings at local[4], each query in its own checkpoint scope; the
  * queries of [[driverKernels]] run with the broadcast gate closed:
  *
  *   java -cp <this compiled>:target/scala-2.13/classes:<spark jars>:<scala-library> \
  *     graft.SuperstepPlans out g_bfs:3-4,g_scc:37-38 /path/to/sf0.001
  *
  * The dumps are byte-stable across runs and commits: scan metadata
  * (`DataFilters`) is printed in full, so renumbering never meets a text
  * Spark cut at a length that depends on the raw ids; each run gets a
  * fresh empty `java.io.tmpdir`, so the loader always writes its line-id
  * table (two executions) in the first graph query; the data dir prints
  * as `<name>` of its last path element, the temp dir as `<tmpdir>` and
  * the process id in temp names as `<pid>`. It is compiled with the test
  * sources. */
object SuperstepPlans {
  /** The queries whose cc or bfs/sssp kernel runs on the driver when the
    * graph passes the broadcast gate ([[graft.operators.Topology]]), as
    * any sf0.001 graph does. They run with the gate closed
    * (`spark.graft.bcastRowCap` 0), so their dumps show the distributed
    * superstep loops. Every other query runs at the default gate, so its
    * gated joins plan as in dumps taken before the driver path existed. */
  val driverKernels = Set("g_connected_components", "g_bfs", "g_sssp",
    "gql_call_cc", "gql_call_cc_rel", "gql_call_bfs", "gql_call_bfs_rel",
    "gql_call_sssp", "gql_call_sssp_rel", "gql_param_call", "gql_param_call_rel")

  def normalize(plan: String, paths: (String, String)*): String = {
    def renumber(s: String, re: scala.util.matching.Regex, fmt: Int => String): String = {
      val ids = scala.collection.mutable.LinkedHashMap[String, Int]()
      re.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
        fmt(ids.getOrElseUpdate(m.group(1), ids.size + 1))))
    }
    val noPaths = paths.foldLeft(plan) { case (p, (from, to)) => p.replace(from, to) }
      .replaceAll(s"_tmp_${ProcessHandle.current().pid()}", "_tmp_<pid>")
    val noRdd = noPaths.replaceAll("""\w*RDD\[\d+\] at \w+ at [\w.$]+:\d+""", "RDD")
    // a lambda variable is named per its expression id: the Column API
    // draws `x_<n>`/`y_<n>` from a JVM-wide counter
    val noLambda = renumber(noRdd, """lambda \w+(?=#(\d+))""".r, i => s"lambda x_$i")
    renumber(renumber(noLambda, """#(\d+)""".r, i => s"#$i"), """plan_id=(\d+)""".r, i => s"plan_id=$i")
  }

  /** The `== Initial Plan ==` subtree of an adaptive execution, or the
    * whole physical plan of a non-adaptive one. */
  def initialPlan(qe: QueryExecution): String =
    "== Initial Plan ==\n" + (qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan.treeString
      case p => p.treeString
    })

  def main(args: Array[String]): Unit = {
    val Array(outDir, namesArg, dir) = args
    val tmp = Files.createTempDirectory("superstep-plans").toString
    System.setProperty("java.io.tmpdir", tmp)
    val paths = Seq(tmp -> "<tmpdir>",
      new java.io.File(dir).getCanonicalPath -> s"<${Paths.get(dir).getFileName}>")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // (full dump, initial plan) per execution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add((s"==== $f ====\n" + normalize(qe.explainString(FormattedMode), paths: _*),
          s"==== $f ====\n" + normalize(initialPlan(qe), paths: _*)))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
        val failed = s"==== $f FAILED: $e ===="
        seen.add((failed, failed))
      }
    })
    Files.createDirectories(Paths.get(outDir))
    namesArg.split(",").foreach { spec =>
      val (name, window) = spec.split(":") match {
        case Array(n, w) => val Array(a, b) = w.split("-").map(_.toInt); (n, a to b)
        case Array(n)    => (n, 1 to Int.MaxValue)
      }
      seen.clear()
      if (driverKernels(name)) spark.conf.set(Bcast.confKey, "0") else spark.conf.unset(Bcast.confKey)
      var n = -1
      Ckpt.scope {
        SparkEntry.queries(name)(spark, dir).collect()
        while (n != seen.size) { n = seen.size; Thread.sleep(1500) }
      }
      val head = s"# $name: SQL executions ${window.start}-${math.min(window.end, n)} of $n\n"
      val (out, initial) = (new StringBuilder(head), new StringBuilder(head))
      var i = 0
      seen.forEach { case (full, init) =>
        i += 1
        if (window.contains(i)) { out.append(full).append('\n'); initial.append(init).append('\n') }
      }
      Files.writeString(Paths.get(outDir, s"$name.txt"), out.toString)
      Files.writeString(Paths.get(outDir, s"$name.initial.txt"), initial.toString)
      System.err.println(s"[superstep-plans] $name: $n executions")
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }
}
