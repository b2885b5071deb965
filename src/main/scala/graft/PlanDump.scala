package graft

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` for the named queries to files:
  * `runMain graft.PlanDump <outDir> <name1,name2,…> [sfDir]`.
  * One session for all names (shared loader caches, like Bench); for
  * iterative operators the dumped plan is the final consumer frame —
  * superstep loops execute during construction, same as everywhere else.
  * Used to produce the committed plans/r{N}/ optimization artifacts. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = SparkEntry.cpuSession()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      Ckpt.scope {
        val df = SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
      }
      System.err.println(s"[plandump] wrote $name")
    }
    spark.stop()
  }
}
