package graft

import org.apache.spark.sql.SparkSession
import graft.engine.{Engine, PropertyGraph}

/** CLI mirroring the reference driver
  * (/root/reference/graphDB/bin/main.ml:5-13, lib/interf.ml:38-71):
  *
  *   - `f <file.q> [--tex out.tex] [--dot out.dot]` — parse, typecheck,
  *     execute; print the graph and binding table in canonical order
  *     (nodes by id, edges by (src,label,dst), rows lexicographically —
  *     the reference's list order is an implementation detail, SURVEY.md
  *     §5.2), and optionally emit the reference's two render sinks
  *     (LaTeX table / Graphviz dot, interf.ml:67-68 via Display).
  *   - `i` — interactive read-print LOOP: per iteration, prompt, read one
  *     program from stdin (delimited by a blank line / `;;` line / EOF),
  *     print its NORMALIZED instruction list, repeat until EOF. Like the
  *     reference REPL (interf.ml:50-56), this mode neither typechecks nor
  *     executes.
  *   - no args — help (interf.ml:71).
  */
object Cli {

  /** `--param name=value` → typed [[graft.lang.Value]]: all-digit (with
    * optional sign) → int, true/false → bool, anything else → string.
    * Typed substitution happens at compile time (Typing.compile's params
    * path) — no string splicing into the program text, so a value can
    * never change the program's parse. */
  private[graft] def parseParam(s: String): (String, graft.lang.Value) =
    s.split("=", 2) match {
      case Array(n, v) if n.nonEmpty && n.head.isLetter =>
        val value: graft.lang.Value =
          if (v == "true") graft.lang.BoolV(true)
          else if (v == "false") graft.lang.BoolV(false)
          else if (v.matches("-?[0-9]+")) graft.lang.IntV(v.toLong)
          else graft.lang.StringV(v)
        (n, value)
      case _ =>
        System.err.println(s"bad --param '$s' (expected name=value)")
        sys.exit(2)
    }

  /** Split `--param n=v` pairs out of an option tail. */
  private def splitParams(rest: List[String]): (List[String], Map[String, graft.lang.Value]) = {
    val (others, ps) = (List.newBuilder[String], Map.newBuilder[String, graft.lang.Value])
    var xs = rest
    while (xs.nonEmpty) xs match {
      case "--param" :: spec :: tl => ps += parseParam(spec); xs = tl
      case "--param" :: Nil =>
        System.err.println("--param needs name=value"); sys.exit(2)
      case hd :: tl => others += hd; xs = tl
      case Nil => ()
    }
    (others.result(), ps.result())
  }

  /** The harness session at `SPARK_GRAFT_MASTER` (default local[4]),
    * 4 shuffle partitions; only errors are logged. */
  private def session(): SparkSession = SparkEntry.session(
    sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"), "4", logLevel = "ERROR")

  def main(args: Array[String]): Unit = args.toList match {
    case "f" :: file :: rest0 =>
      val (rest, params) = splitParams(rest0)
      val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)))
      val opts = rest.grouped(2).map {
        case List(k @ ("--tex" | "--dot"), v) => k -> v
        case bad =>
          System.err.println(s"bad option: ${bad.mkString(" ")} (expected --tex/--dot <path>)")
          sys.exit(2)
      }.toMap
      val spark = session()
      try {
        val r = try Engine.runSource(spark, src, params = params) catch {
          // Reference-shaped parse-error path (interf.ml:43-46): print
          // the line/column/token report plus the rest-of-input echo,
          // then stop with a nonzero exit (the reference's failwith).
          case e: graft.lang.Parser.ParseError =>
            println(graft.lang.Parser.errorReport(src, Some(file), e))
            System.err.println("Stopped execution.")
            spark.stop()
            sys.exit(1)
        }
        print(render(r))
        opts.get("--tex").foreach { p =>
          val (h, rows) = Display.collectTable(r)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(p), Display.tableTex(h, rows))
          println(s"wrote $p")
        }
        opts.get("--dot").foreach { p =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(p), Display.graphDot(r))
          println(s"wrote $p")
        }
      } finally spark.stop()
    // `g <testdata-dir> <file.q>` — run a program against the PARQUET
    // graph (GraphLoader's projection of the TPC-H-ish tables; the
    // loader's schema header is prepended, so the .q file contains just
    // clauses). Engine extension — the reference has no external
    // sources at all (interf.ml:38-47). Prints the binding table only
    // (row-capped): the loaded graph is data-sized, not render-sized.
    case "g" :: dir :: file :: rest0 =>
      val (leftover, params) = splitParams(rest0)
      if (leftover.nonEmpty) {
        System.err.println(
          s"bad argument(s) after g <dir> <file.q>: ${leftover.mkString(" ")} (only --param name=value is accepted)")
        sys.exit(2)
      }
      val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)))
      val full = graft.sources.GraphLoader.headerGql + src
      val spark = session()
      try {
        val r = try {
          val (g, nextId) = graft.sources.GraphLoader.load(spark, dir)
          Engine.runSourceOn(spark, full, g, nextId,
            Engine.Config(strict = false), params)
        } catch {
          case e: graft.lang.Parser.ParseError =>
            println(graft.lang.Parser.errorReport(full, Some(file), e))
            System.err.println("Stopped execution.")
            spark.stop()
            sys.exit(1)
        }
        val cols = r.bindings.columns
        val rows = r.bindings.limit(101).collect()
        println(s"Table [${cols.mkString(", ")}]:")
        rows.take(100).map(_.toSeq.mkString("  [", ", ", "]"))
          .sorted.foreach(println)
        if (rows.length > 100) println("  ... (first 100 rows shown)")
      } finally spark.stop()
    // `x <file.q>` / `x <dir> <file.q>` — EXPLAIN mode (engine
    // extension): compile and run the program (mutations execute — the
    // plan of a later match depends on them), then print the FORMATTED
    // physical plan of the final binding table instead of its rows. The
    // scale story rests on plan shapes (pushed filters reaching the
    // parquet scans, fused hop joins, no cartesian products) that were
    // previously visible only to PlanSpec — this surfaces them to users.
    // With <dir>, runs against the parquet graph like g-mode
    // (strict=false); without, against the program's own created graph.
    case "x" :: rest if rest.size == 1 || rest.size == 2 =>
      val (dirOpt, file) = rest match {
        case d :: f :: Nil => (Some(d), f)
        case f :: Nil      => (None, f)
        case _             => throw new MatchError(rest) // unreachable
      }
      val src0 = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)))
      val full = if (dirOpt.isDefined) graft.sources.GraphLoader.headerGql + src0 else src0
      val spark = session()
      try {
        val r = try dirOpt match {
          case Some(dir) =>
            val (g, nextId) = graft.sources.GraphLoader.load(spark, dir)
            Engine.runSourceOn(spark, full, g, nextId, Engine.Config(strict = false))
          case None => Engine.runSource(spark, full)
        } catch {
          case e: graft.lang.Parser.ParseError =>
            println(graft.lang.Parser.errorReport(full, Some(file), e))
            System.err.println("Stopped execution.")
            spark.stop()
            sys.exit(1)
        }
        println(explainString(r))
      } finally spark.stop()
    case "i" :: Nil =>
      // Read-print LOOP like the reference REPL (interf.ml:50-56): prompt,
      // parse one program, print its normalized IR, repeat. The reference
      // delimits programs by terminal EOF (Ctrl-D re-readable in OCaml's
      // from_channel); the JVM can't re-read stdin past EOF, so programs
      // are delimited by a blank line or a `;;` line instead (documented
      // deviation). Like the reference, i-mode neither typechecks nor
      // executes, and a parse error stops execution (failwith,
      // interf.ml:46).
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      val buf = new StringBuilder
      var eof = false
      print(">> ")
      Console.out.flush()
      while (!eof) {
        val line = in.readLine()
        val boundary = line == null || line.trim.isEmpty || line.trim == ";;"
        if (!boundary) buf ++= line + "\n"
        if (boundary && buf.nonEmpty) {
          val srcText = buf.result()
          val norm = try graft.lang.Normalize.normalize(graft.lang.Parser.parse(srcText)) catch {
            case e: graft.lang.Parser.ParseError =>
              // same report + stop as f-mode (the reference REPL's parse
              // error also aborts the loop, interf.ml:46)
              println(graft.lang.Parser.errorReport(srcText, None, e))
              System.err.println("Stopped execution.")
              sys.exit(1)
          }
          norm.instrs.foreach(i => println(s"  $i"))
          buf.clear()
          if (line != null) { print(">> "); Console.out.flush() }
        }
        if (line == null) eof = true
      }
    // no args / "h" / anything unrecognized (including bare "f") → help
    // and exit 0, exactly like the reference's print_help fall-through
    // (main.ml:5-13 treats every unmatched argv the same way)
    case args0 =>
      val out = if (args0.isEmpty || args0 == List("h")) Console.out else Console.err
      out.println(
        """usage: graft.Cli [ h | i | f <file.q> [--tex out.tex] [--dot out.dot] | g <dir> <file.q> | x [<dir>] <file.q> ]
          |  f <file.q>  parse, typecheck, execute; print graph + binding table
          |  g <dir> <file.q>  run clauses against the parquet graph at <dir>
          |  x [<dir>] <file.q>  print the compiled physical plan (formatted
          |              explain) of the final binding table — with <dir>,
          |              against the parquet graph like g-mode
          |  i           read programs from stdin, print normalized IR
          |  h           this help
          |f/g modes accept --param name=value (repeatable): supplies the
          |program's $name query parameters as typed constants (all-digit →
          |int, true/false → bool, else string) at compile time.""".stripMargin)
  }

  /** x-mode body (also pinned by PlanSpec): the FORMATTED explain of the
    * final binding table — scan nodes show `PushedFilters`/`ReadSchema`,
    * so predicate pushdown and column pruning are user-auditable. */
  def explainString(r: Engine.QueryResult): String =
    r.bindings.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  def render(r: Engine.QueryResult): String = {
    val sb = new StringBuilder
    sb ++= "Graph nodes:\n"
    r.graph.nodes.toSeq.sortBy(_._1).foreach { case (label, df) =>
      df.orderBy("id").collect().foreach { row =>
        val attrs = df.schema.fields.toSeq.drop(1).flatMap { f =>
          Option(row.get(row.fieldIndex(f.name))).map(v => s"${f.name}=$v")
        }
        sb ++= s"  ${row.getLong(0)}:$label{${attrs.mkString(", ")}}\n"
      }
    }
    sb ++= "Graph edges:\n"
    r.graph.edges.toSeq.sortBy { case ((s, l, t), _) => (s, l, t) }.foreach {
      case ((_, rl, _), df) =>
        df.orderBy("src", "dst").collect().foreach { row =>
          sb ++= s"  (${row.getLong(0)}) -[:$rl]-> (${row.getLong(1)})\n"
        }
    }
    val cols = r.bindings.columns
    sb ++= s"Table [${cols.mkString(", ")}]:\n"
    r.bindings.collect().map(_.toSeq.mkString("  [", ", ", "]"))
      .sorted.foreach(l => sb ++= l + "\n")
    sb.result()
  }
}
