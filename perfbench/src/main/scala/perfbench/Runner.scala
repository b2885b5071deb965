package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Ckpt
import graft.engine.{Engine, PropertyGraph}
import graft.lang.{IntV, Normalize, Params, Parser, StringV, Typing, Value}
import graft.operators.{GraphAlgos, Q}
import graft.sources.GraphLoader

/** One closed-loop client for the benchmark: reads a statement list
  * written by run.py, starts a local Spark session with the settings of
  * graft.Bench / graft.Verify, loads the graph, and sends each statement
  * only after the previous one has returned its last row.
  *
  *   Runner <spec.json> <out.json> <rows.jsonl>
  *
  * Timing is taken around the calls into the engine's public functions;
  * nothing inside the engine is instrumented or configured. With
  * `trace` on, a SparkListener and per-phase job groups attribute jobs,
  * stages, tasks and bytes to each statement and phase. */
object Runner {
  private val mapper = new ObjectMapper()
  private val cfg = Engine.Config(strict = false)

  final case class Stmt(id: Int, name: String, kind: String, text: String,
      params: Map[String, Value], out: JsonNode)

  /** Mutable per-statement record, serialized at the end of the run. */
  final class Rec(val s: Stmt, val pass: String) {
    var latMs = 0.0
    var ok = true
    var error = ""
    var nRows = 0L
    var storageMb = 0.0
    var rdds = 0
    val phaseMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var rows: Seq[Seq[String]] = Nil
    var cols: Seq[String] = Nil
    var t0Ms = 0L
    var t1Ms = 0L
  }

  /** Listener events, kept raw and attributed after the run. */
  final class Events extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(Int, String, Long, Seq[Int])]()
    val jobEnds = new ConcurrentLinkedQueue[(Int, Long, Boolean)]()
    val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val tasks = new ConcurrentLinkedQueue[Array[Double]]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.add((e.jobId, g.getOrElse(""), e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add((e.jobId, e.time, e.jobResult == JobSucceeded))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = if (e.reason == org.apache.spark.Success) 0.0 else 1.0
      val sub = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      val row =
        if (m == null) Array(e.stageId.toDouble, 0, (e.taskInfo.launchTime - sub).toDouble,
          0, 0, 0, failed)
        else Array(e.stageId.toDouble, m.executorCpuTime / 1e9,
          (e.taskInfo.launchTime - sub).toDouble,
          m.shuffleWriteMetrics.bytesWritten.toDouble,
          m.shuffleReadMetrics.totalBytesRead.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble, failed)
      tasks.add(row)
    }
  }

  private def value(n: JsonNode): Value =
    if (n.has("int")) IntV(n.get("int").asLong) else StringV(n.get("str").asText)

  private def stmts(spec: JsonNode): Vector[Stmt] =
    spec.get("statements").elements.asScala.map { n =>
      val ps = n.get("params").properties.asScala
        .map(e => e.getKey -> value(e.getValue)).toMap
      Stmt(n.get("id").asInt, n.get("name").asText, n.get("kind").asText,
        n.get("text").asText, ps, n.get("out"))
    }.toVector

  /** Canonical text of one cell: the oracle side renders the same way. */
  private def cell(v: Any): String = v match {
    case null                  => "null"
    case b: Boolean            => if (b) "true" else "false"
    case d: Double             => f"$d%.9f"
    case n: java.lang.Number   => n.longValue.toString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case o                     => o.toString
  }

  final class Session(val spark: SparkSession, var graph: PropertyGraph,
      var nextId: Long, val dir: String)

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val spec = mapper.readTree(new File(args(0)))
    val dir = spec.get("data_dir").asText
    val cores = spec.get("cores").asInt
    val trace = spec.get("trace").asBoolean
    val setups = spec.get("setups").asInt
    val threaded = spec.get("threaded").asBoolean
    val all = stmts(spec)
    val lib: Map[String, Q] = GraphAlgos.all.map(q => q.name -> q).toMap

    def startSession(): SparkSession = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

    /** Ends a session. Its checkpoints are released first: a threaded
      * session can release them only here, since draining between its
      * statements would destroy the graph it carries, and the drain
      * ledger is global, so a later session could not release them. */
    def endSession(s: SparkSession): Double = {
      val t = System.nanoTime()
      Ckpt.drain()
      val ms = (System.nanoTime() - t) / 1e6
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      ms
    }

    val events = new Events
    var traceOn = false
    def group(s: SparkSession, name: String): Unit =
      if (traceOn) s.sparkContext.setJobGroup(name, name)

    def timed[A](r: Rec, phase: String)(body: => A): A =
      if (!traceOn) body
      else {
        group(SparkSession.active, s"${r.pass}:${r.s.id}:$phase")
        val t = System.nanoTime()
        try body
        finally r.phaseMs(phase) = r.phaseMs.getOrElse(phase, 0.0) + (System.nanoTime() - t) / 1e6
      }

    def frameOf(sess: Session, r: Rec): DataFrame = {
      val s = r.s
      s.kind match {
        case "lib" =>
          val q = lib.getOrElse(s.text, sys.error(s"no library query ${s.text}"))
          timed(r, "lib")(q.run(sess.spark, sess.dir))
        case _ =>
          val src = GraphLoader.headerGql + s.text
          val prog = timed(r, "parse")(Parser.parse(src))
          val np = timed(r, "normalize")(Normalize.normalize(prog))
          val np2 = timed(r, "subst")(np.copy(instrs = Params.subst(np.instrs, s.params)))
          val tp = timed(r, "typecheck")(Typing.typecheck(np2)) match {
            case Right(tp) => tp
            case Left(e)   => throw Typing.TypeError(e)
          }
          val res = timed(r, "engine")(Engine.run(sess.spark, tp, sess.graph, sess.nextId, cfg))
          if (threaded) { sess.graph = res.graph; sess.nextId = res.nextId }
          val out = s.out
          out.get("type").asText match {
            case "bindings" => res.bindings
            case "nodes" =>
              res.graph.nodes(out.get("label").asText).select(
                out.get("cols").elements.asScala.map(c => col(c.get(0).asText).as(c.get(1).asText)).toSeq: _*)
            case "edges" =>
              val k = out.get("key")
              res.graph.edges((k.get(0).asText, k.get(1).asText, k.get(2).asText)).select(
                out.get("cols").elements.asScala.map(c => col(c.get(0).asText).as(c.get(1).asText)).toSeq: _*)
          }
      }
    }

    def runOne(sess: Session, r: Rec): Unit = {
      val t0 = System.nanoTime()
      r.t0Ms = System.currentTimeMillis()
      try {
        val df = frameOf(sess, r)
        if (traceOn) {
          val qe = timed(r, "qe")(df.queryExecution)
          timed(r, "optimize")(qe.optimizedPlan)
          timed(r, "physical")(qe.executedPlan)
        }
        val rows = timed(r, "action")(df.collect())
        r.latMs = (System.nanoTime() - t0) / 1e6
        r.t1Ms = System.currentTimeMillis()
        val names = df.columns.toSeq
        val order = names.zipWithIndex.sortBy(_._1).map(_._2)
        r.cols = order.map(names)
        r.rows = rows.toSeq.map(row => order.map(i => cell(row.get(i))))
        r.nRows = rows.length.toLong
      } catch {
        case e: Throwable =>
          r.latMs = (System.nanoTime() - t0) / 1e6
          r.t1Ms = System.currentTimeMillis()
          r.ok = false
          r.error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(400)}"
          System.err.println(s"[perfbench] statement ${r.s.id} (${r.s.name}) failed: ${r.error}")
      }
      if (!threaded) {
        // statements of a base-graph workload share nothing but the
        // loader's and the memos' state, so the harness releases each
        // statement's checkpoints the way graft.Bench does
        timed(r, "drain")(Ckpt.drain())
      }
      group(sess.spark, s"${r.pass}:idle")
      val info = sess.spark.sparkContext.getRDDStorageInfo
      r.storageMb = info.map(i => i.memSize + i.diskSize).sum / 1048576.0
      r.rdds = info.length
    }

    /** Session start + GraphLoader.load + first statement. */
    def setup(pass: String): (Session, Rec, ObjectNode) = {
      val o = mapper.createObjectNode()
      val t0 = System.nanoTime()
      val spark = startSession()
      spark.sparkContext.setLogLevel("ERROR")
      if (traceOn) spark.sparkContext.addSparkListener(events)
      val t1 = System.nanoTime()
      if (traceOn) spark.sparkContext.setJobGroup(s"$pass:load", "load")
      val (g, next) = GraphLoader.load(spark, dir)
      val t2 = System.nanoTime()
      val sess = new Session(spark, g, next, dir)
      val first = new Rec(all.head, s"$pass/setup")
      runOne(sess, first)
      val t3 = System.nanoTime()
      o.put("pass", pass)
      o.put("session_s", (t1 - t0) / 1e9)
      o.put("load_ms", (t2 - t1) / 1e6)
      o.put("first_ms", (t3 - t2) / 1e6)
      o.put("setup_s", (t3 - t0) / 1e9)
      (sess, first, o)
    }

    /** The closed loop over `stmts`, in order. After the first statement,
      * none is sent once the clock has passed `until`. */
    def loop(sess: Session, pass: String, stmts: Seq[Stmt] = all.drop(1),
        until: Long = Long.MaxValue): (Vector[Rec], Double) = {
      val t0 = System.nanoTime()
      val recs = Vector.newBuilder[Rec]
      val it = stmts.iterator
      var sent = 0
      while (it.hasNext && (sent == 0 || System.nanoTime() < until)) {
        val r = new Rec(it.next(), pass)
        runOne(sess, r)
        recs += r
        sent += 1
      }
      (recs.result(), (System.nanoTime() - t0) / 1e9)
    }

    val out = mapper.createObjectNode()
    out.put("workload", spec.get("workload").asText)
    out.put("seed", spec.get("seed").asLong)
    val setupArr = out.putArray("setups")
    val recsOut = Vector.newBuilder[Rec]

    traceOn = trace
    // repeated setups: every one but the last is torn down again
    var sess: Session = null
    var firstRec: Rec = null
    for (k <- 0 until setups) {
      val (s, f, o) = setup(if (k == setups - 1) "measure" else s"setup$k")
      setupArr.add(o)
      if (k < setups - 1) endSession(s.spark) else { sess = s; firstRec = f }
    }
    recsOut += firstRec

    if (!trace) {
      // warm-up statements run untimed first, so that no template is
      // measured on its first, cold execution
      val warmup = spec.get("warmup").asInt
      recsOut ++= loop(sess, "warmup", all.slice(1, 1 + warmup))._1
      // on a host slow enough that the run would overrun its time limit,
      // the measured loop ends early rather than the run failing
      val until = started + (spec.get("measure_until_s").asDouble * 1e9).toLong
      val (recs, wall) = loop(sess, "measure", all.drop(1 + warmup), until)
      recsOut ++= recs
      out.put("wall_s", wall)
    } else {
      // an untraced pass warms the JVM up; then fresh sessions replay the
      // same statements traced and untraced: the ratio of those two walls
      // is the tracing overhead
      sess.spark.sparkContext.removeSparkListener(events)
      traceOn = false
      val (warm, wallWarm) = loop(sess, "warm")
      endSession(sess.spark)
      traceOn = true
      val (s2, f2, o2) = setup("traced")
      setupArr.add(o2)
      val (traced, wallTraced) = loop(s2, "traced")
      // the listener bus is asynchronous: let it deliver every job's end
      // before the listener goes
      val until = System.nanoTime() + 10e9.toLong
      while (events.jobEnds.size < events.jobs.size && System.nanoTime() < until)
        Thread.sleep(20)
      Thread.sleep(200)
      s2.spark.sparkContext.removeSparkListener(events)
      traceOn = false
      out.put("session_drain_ms", endSession(s2.spark))
      val (s3, f3, o3) = setup("plain")
      setupArr.add(o3)
      val (plain, wallPlain) = loop(s3, "plain")
      sess = s3
      recsOut ++= warm
      recsOut += f2
      recsOut ++= traced
      recsOut += f3
      recsOut ++= plain
      out.put("wall_plain_s", wallPlain)
      out.put("wall_traced_s", wallTraced)
      out.put("wall_s", wallWarm)
    }
    val drainMs = endSession(sess.spark)
    if (!trace) out.put("session_drain_ms", drainMs)

    val recs = recsOut.result()
    val arr: ArrayNode = out.putArray("stmts")
    recs.foreach { r =>
      val o = arr.addObject()
      o.put("id", r.s.id); o.put("name", r.s.name); o.put("pass", r.pass)
      o.put("lat_ms", r.latMs); o.put("ok", r.ok); o.put("error", r.error)
      o.put("rows", r.nRows); o.put("storage_mb", r.storageMb); o.put("rdds", r.rdds)
      o.put("t0_ms", r.t0Ms); o.put("t1_ms", r.t1Ms)
      val ph = o.putObject("phase_ms")
      r.phaseMs.foreach { case (k, v) => ph.put(k, v) }
    }
    if (trace) {
      val jobs = out.putArray("jobs")
      val ends = events.jobEnds.asScala.map(e => e._1 -> e).toMap
      val stageJob = scala.collection.mutable.Map.empty[Int, Int]
      events.jobs.asScala.foreach { case (id, g, t, stages) =>
        stages.foreach(stageJob(_) = id)
        val o = jobs.addObject()
        o.put("job", id); o.put("group", g); o.put("start_ms", t)
        ends.get(id).foreach { e => o.put("end_ms", e._2); o.put("ok", e._3) }
        o.put("stages", stages.length)
      }
      val tasks = out.putArray("tasks")
      events.tasks.asScala.foreach { a =>
        val o = tasks.addArray()
        o.add(stageJob.getOrElse(a(0).toInt, -1))
        a.drop(1).foreach(v => o.add(v))
      }
    }
    mapper.writeValue(new File(args(1)), out)

    val pw = new PrintWriter(new File(args(2)), "UTF-8")
    try recs.foreach { r =>
      if (r.ok) {
        val o = mapper.createObjectNode()
        o.put("id", r.s.id); o.put("pass", r.pass)
        val c = o.putArray("cols"); r.cols.foreach(c.add)
        val rs = o.putArray("rows")
        r.rows.foreach { row => val a = rs.addArray(); row.foreach(a.add) }
        pw.println(mapper.writeValueAsString(o))
      }
    } finally pw.close()
    System.exit(0)
  }
}
