package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // usage: Verify <sfDir> <outDir> [only1,only2,…]
    val (sfDir, outDir, argOnly) = args match {
      case Array(s, o)        => (s, o, None)
      case Array(s, o, names) => (s, o, Some(names))
      case _ => sys.error(s"usage: Verify <sfDir> <outDir> [names,…]; got ${args.mkString(" ")}")
    }
    val spark = SparkEntry.cpuSession()
    new java.io.File(outDir).mkdirs()
    // Dev-loop subset (same contract as Bench; also a 3rd CLI arg): the
    // driver passes neither, so its runs always dump the full inventory.
    val only = argOnly.orElse(sys.env.get("SPARK_GRAFT_ONLY"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // the scope frees the query's checkpoints once its result is on disk
      Ckpt.scope {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
