package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Every verifiable operator query the engine implements (SURVEY.md §2
    * inventory + the scale/pipeline extension operators). */
  def allOps: List[Q] =
    GraphOps.all ++ RelOps.all ++ DedupOps.all ++ SimilarityOps.all ++
      TextOps.all ++ EventOps.all ++ StreamingOps.all ++ MultimodalOps.all ++
      GraphAlgos.all ++ SampleOps.all ++ IoOps.all ++ CurateOps.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full MiniGQL front end + Spark executor over the parquet graph
    * (2-hop path match with filter — reference test2.q shape). */
  def entry(spark: SparkSession): DataFrame =
    allOps.find(_.name == "gql_match_2hop").get.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allOps.map(q => q.name -> q.run).toMap

  /** The session the harness mains (Bench, Verify, PlanDump, Cli) run
    * under: `master`, `partitions` shuffle partitions, AQE and ANSI on,
    * UTC, no UI — so the timed run and the correctness dump plan alike. */
  def session(master: String, partitions: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** [[session]] at `local[SPARK_GRAFT_CPUS]` (default 32) with as many
    * shuffle partitions. */
  def cpuSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    session(s"local[$cpus]", cpus)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allOps.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
