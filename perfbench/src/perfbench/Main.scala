package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftFunctions, GraftSession, Scratch, SparkEntry}
import graft.jobs.ExtractTemporalAnchorText
import graft.operators.RevisionOps
import graft.sources.{GraftSinks, WikiXml}

/** One benchmark run in one JVM: set up, warm up, time closed-loop passes
  * for a fixed number of seconds, check outputs, and (traced) split the
  * time by layer. Prints one `PERFBENCH {json}` line for `run.py`.
  *
  * `perfbench.Main <ingest|queries> <seconds> <trace 0|1> <input dir> <work dir> <cores>`
  */
object Main {
  /** The query rows of one queries pass, run one after another: heavy
    * rows (eager work in the builder, shuffle-heavy actions) and light
    * relational rows (the fixed cost of planning and scheduling). */
  val Heavy: Seq[String] = Seq("graph_scc", "graph_node_sim")
  val Light: Seq[String] = Seq("q3_top_revenue", "q18_large_orders",
    "p3_time_range_us", "o9_key_cap_audit", "j1_broadcast_join",
    "a14_rollup", "w6_sessionize", "k2_parquet_roundtrip")

  /** Untimed passes before the timed ones. */
  val WarmupPasses = 2

  /** Options of the pushdown read in ExtractTemporalAnchorText. */
  val Pushdown = Map("onlyArticles" -> "true", "skipRedirects" -> "true")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[A](f: => A): (A, Double) = { val t0 = System.nanoTime(); val a = f; (a, secs(t0)) }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One timed operation of a pass: an ingest step or a query. */
  final case class Op(name: String, run: () => Unit)

  /** A workload: the operations of one pass, and its output checks. */
  trait Workload {
    def ops: Seq[Op]
    /** Operations of the warm-up pass; they may also save outputs to check. */
    def warmupOps: Seq[Op] = ops
    /** Failed checks on the last pass's outputs (empty when all agree). */
    def check(): Seq[String]
    /** `check`, with a check that cannot run counted as failed. */
    final def verify(): Seq[String] =
      try check() catch { case NonFatal(e) => Seq(s"output check failed: $e".take(400)) }
  }

  // ---------------------------------------------------------------- ingest

  /** The last 200 whitespace tokens of the revision text. */
  def lastTokens(text: Column): Column = {
    val t = GraftFunctions.tokens(text)
    when(size(t) > 200, slice(t, -200, 200)).otherwise(t)
  }

  def tokenFrame(spark: SparkSession, path: String): DataFrame =
    WikiXml.read(spark, path, Pushdown)
      .select(col("page_id"), col("rev_id"), col("timestamp"),
        lastTokens(col("text")).as("toks"))

  def diffFrame(toks: DataFrame, fn: (Column, Column) => Column): DataFrame =
    RevisionOps.diffs(toks, "page_id", "timestamp", "toks", "rev_id", fn)
      .select("page_id", "rev_id", "timestamp", "prev_tokens", "deltas")

  /** One pass of the ingest workload: the anchor-text job over the plain
    * dump, the diff step over the plain dump, the anchor-text job over the
    * bz2 dump. */
  final class Ingest(spark: SparkSession, dir: Path, tally: DumpGen.Tally,
                     out: Path) extends Workload {
    val xml: String = dir.resolve("dump.xml").toString
    val bz2: String = dir.resolve("dump.xml.bz2").toString
    val anchorsXml: String = out.resolve("anchors_xml").toString
    val anchorsBz2: String = out.resolve("anchors_bz2").toString
    val diffs: String = out.resolve("diffs").toString
    def diffStep(): Unit = GraftSinks.writeParquet(
      diffFrame(tokenFrame(spark, xml), GraftFunctions.revDiff), diffs)
    def ops: Seq[Op] = Seq(
      Op("anchor_text_xml", () => ExtractTemporalAnchorText.run(spark, xml, anchorsXml)),
      Op("diffs_xml", () => diffStep()),
      Op("anchor_text_bz2", () => ExtractTemporalAnchorText.run(spark, bz2, anchorsBz2)))

    private def checkAnchors(path: String): Seq[String] = {
      val a = spark.read.option("sep", "\t")
        .schema("timestamp STRING, page_id LONG, rev_id LONG, parent_id LONG, anchor STRING, target STRING")
        .csv(path)
      val rows = a.count()
      val ids = a.select("rev_id").distinct().collect().map(_.getLong(0)).sorted
      (if (rows != tally.keptLinks) Seq(s"$path: $rows anchor rows, expected ${tally.keptLinks}")
       else Nil) ++
        (if (!ids.sameElements(tally.keptWithLinks))
          Seq(s"$path: ${ids.length} revisions with anchors, expected ${tally.keptWithLinks.length} (or other ids)")
        else Nil)
    }

    private def checkDiffs(): Seq[String] = {
      val r = spark.read.parquet(diffs).agg(count(lit(1)),
        count(when(col("prev_tokens").isNull, 1)), sum(size(col("deltas")))).head()
      (if (r.getLong(0) != tally.rows) Seq(s"${r.getLong(0)} diff rows, expected ${tally.rows}") else Nil) ++
        (if (r.getLong(1) != tally.pages) Seq(s"${r.getLong(1)} first revisions, expected ${tally.pages}") else Nil) ++
        (if (r.isNullAt(2) || r.getLong(2) <= 0) Seq("no diff deltas") else Nil)
    }

    def check(): Seq[String] = checkAnchors(anchorsXml) ++ checkAnchors(anchorsBz2) ++ checkDiffs()
  }

  // --------------------------------------------------------------- queries

  final class Queries(spark: SparkSession, dir: String, val names: Seq[String],
                      out: Path) extends Workload {
    private val entry = SparkEntry.queries
    /** The query's builder: `SparkEntry.queries(name)` over the tables. */
    def build(name: String): DataFrame = entry(name)(spark, dir)
    def ops: Seq[Op] = names.map(n => Op(n, () => noop(build(n))))
    override def warmupOps: Seq[Op] = names.map(n => Op(n, () =>
      build(n).write.mode("overwrite").parquet(out.resolve(n).toString)))
    // results are compared against the DuckDB oracle by run.py
    def check(): Seq[String] = Nil
  }

  // ------------------------------------------------------------------ main

  final class Stats {
    var attempted = 0L
    var failed = 0L
    val errors = ArrayBuffer.empty[String]
    def attempt(op: Op): Double = {
      attempted += 1
      val t0 = System.nanoTime()
      try op.run() catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"${op.name}: ${e.getClass.getName}: ${e.getMessage}".take(400)
      }
      secs(t0)
    }
  }

  def session(cores: Int): SparkSession = {
    val s = GraftSession.build(s"local[$cores]", cores, "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, inputArg, workArg, coresArg) = args
    val trace = traceArg == "1"
    // a traced run splits its time between the untraced passes and the
    // traced ones, so that with the layer stages it stays within the
    // run's time limit
    val seconds = secondsArg.toDouble / (if (trace) 2 else 1)
    val input = Paths.get(inputArg)
    val work = Paths.get(workArg)
    val cores = coresArg.toInt
    System.setProperty("spark.ui.enabled", "false")
    System.setProperty("spark.local.dir", Scratch.sparkLocalDir)

    // set-up: the session is built three times and the median reported
    var spark: SparkSession = null
    val sessionS = (1 to 3).map { _ =>
      timed {
        if (spark != null) spark.stop()
        spark = session(cores)
        spark.range(1).count()
      }._2
    }
    val tally = if (workload == "ingest")
      Some(DumpGen.Tally.read(input.resolve("tally.txt"))) else None
    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, input, tally.get, work)
      case "queries" =>
        val names = Heavy ++ Light
        val oracle = names.map(n => graft.JsonUtil.jstr(n) + ":" +
          graft.JsonUtil.jstr(SparkEntry.oracleSql(n))).mkString("{", ",", "}")
        Files.write(work.resolve("oracle_sql.json"), oracle.getBytes("UTF-8"))
        new Queries(spark, input.toString, names, work.resolve("results"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val stats = new Stats
    // warm-up: JIT and Spark's code caches settle over the first passes
    // (with a single warm-up pass, the first timed queries pass still
    // spent about 40% more CPU time than the third)
    val warmupS = timed {
      w.warmupOps.foreach(stats.attempt)
      (2 to WarmupPasses).foreach(_ => w.ops.foreach(stats.attempt))
    }._2

    // timed closed loop: whole passes while another one still fits in
    // `seconds` (at least one); the wall and process CPU time of each
    // operation and of each pass
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val walls, cpus, latencies, opCpus = ArrayBuffer.empty[Double]
    val opNames = ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    while (walls.isEmpty || secs(t0) + median(walls.toSeq) <= seconds) {
      val c0 = os.getProcessCpuTime
      walls += timed(w.ops.foreach { op =>
        val oc = os.getProcessCpuTime
        latencies += stats.attempt(op); opNames += op.name
        opCpus += (os.getProcessCpuTime - oc) / 1e9
      })._2
      cpus += (os.getProcessCpuTime - c0) / 1e9
    }
    val (checkErrors, checkS) = timed(w.verify())
    // retained heap: collect, give Spark's ContextCleaner time to drop the
    // blocks of collected frames, collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val layers =
      if (trace) Layers.measure(spark, w, tally, cores, median(walls.toSeq), seconds, stats)
      else Map.empty[String, Double]

    val j = graft.JsonUtil.jstr _
    def nums(xs: Seq[Double]) = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
    val rec = Seq(
      s""""session_s":${nums(sessionS)}""",
      f""""warmup_s":$warmupS%.6f""",
      s""""walls":${nums(walls.toSeq)}""",
      s""""cpus":${nums(cpus.toSeq)}""",
      s""""latencies":${nums(latencies.toSeq)}""",
      s""""op_cpus":${nums(opCpus.toSeq)}""",
      s""""ops":${opNames.map(j).mkString("[", ",", "]")}""",
      f""""heap_mb":$heapMb%.3f""",
      s""""attempted":${stats.attempted}""",
      s""""failed":${stats.failed}""",
      s""""errors":${(stats.errors ++ checkErrors).map(j).mkString("[", ",", "]")}""",
      s""""check_failures":${checkErrors.length}""",
      f""""check_s":$checkS%.6f""",
      s""""layers":${layers.toSeq.sortBy(_._1).map { case (k, v) => j(k) + ":" + f"$v%.6f" }.mkString("{", ",", "}")}"""
    ).mkString("{", ",", "}")
    println("PERFBENCH " + rec)
    spark.stop()
  }
}
