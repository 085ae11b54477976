package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, explode, length, size}

import graft.GraftFunctions
import graft.jobs.ExtractTemporalAnchorText
import graft.operators.RevisionOps
import graft.sources.WikiXml

import Main._

/** The traced part of a run: passes with the benchmark's listener
  * attached, then each layer timed from outside by calling its public
  * functions. Returns per-layer metrics by name; layers a workload does
  * not touch are left out (run.py reports them as 0). */
object Layers {
  private val Mb = 1048576.0

  def measure(spark: SparkSession, w: Workload, tally: Option[DumpGen.Tally],
              cores: Int, untracedWall: Double, seconds: Double,
              stats: Stats): Map[String, Double] = {
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def snap() = { Bus.drain(spark.sparkContext); probe.snapshot() }

    // traced passes: the workload's own operations, split by layer
    val passes = mutable.ArrayBuffer.empty[(Double, Probe.Snap)]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Array[Double]]]
    val t0 = System.nanoTime()
    while (passes.isEmpty || secs(t0) + median(passes.map(_._1).toSeq) <= seconds) {
      val s0 = snap()
      val p0 = System.nanoTime()
      w match {
        case q: Queries => q.names.foreach { n =>
          stats.attempt(Op(n, () => perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) +=
            splitQuery(q, n, snap _)))
        }
        case _ => w.ops.foreach(stats.attempt)
      }
      val wall = secs(p0)
      passes += ((wall, snap() - s0))
    }
    val tracedWall = median(passes.map(_._1).toSeq)
    def med(f: Probe.Snap => Double) = median(passes.map(p => f(p._2)).toSeq)
    m("trace.untraced_wall_s") = untracedWall
    m("trace.traced_wall_s") = tracedWall
    m("trace.overhead_s") = tracedWall - untracedWall
    m("spark.jobs") = med(_.jobs.toDouble)
    m("spark.stages") = med(_.stages.toDouble)
    m("spark.tasks") = med(_.tasks.toDouble)
    m("spark.task_run_s") = med(_.runNanos / 1e9)
    m("spark.core_busy_share") =
      median(passes.map { case (wall, s) => s.runNanos / 1e9 / (wall * cores) }.toSeq)
    m("spark.shuffle_read_mb") = med(_.shuffleRead / Mb)
    m("spark.shuffle_write_mb") = med(_.shuffleWrite / Mb)
    m("spark.spill_mb") = med(_.spill / Mb)
    m("jvm.gc_s") = med(_.gcNanos / 1e9)

    if (perQuery.nonEmpty) {
      // per pass sums of [builder, plan, action, builder jobs]
      val nPass = perQuery.values.map(_.length).min
      def total(i: Int) = median((0 until nPass).map(p => perQuery.values.map(_(p)(i)).sum))
      val builder = total(0); val plan = total(1); val action = total(2)
      m("entry.builder_s") = builder
      m("entry.plan_s") = plan
      m("entry.action_s") = action
      m("entry.builder_share") = builder / math.max(builder + plan + action, 1e-9)
      m("entry.builder_jobs") = total(3)
      for (n <- Heavy; xs <- perQuery.get(n)) {
        m(s"entry.$n.builder_s") = median(xs.map(_(0)).toSeq)
        m(s"entry.$n.action_s") = median(xs.map(_(2)).toSeq)
      }
    }
    w match {
      case i: Ingest => m ++= ingestStages(spark, i, tally.get, snap _)
      case _ =>
    }
    spark.sparkContext.removeSparkListener(probe)
    m.toMap
  }

  /** One query split into builder (SparkEntry's closure, including any
    * eager work it does), physical planning and the final action.
    * Returns [builder_s, plan_s, action_s, builder_jobs]. */
  private def splitQuery(q: Queries, name: String,
                         snap: () => Probe.Snap): Array[Double] = {
    val j0 = snap().jobs
    val (df, builder) = timed(q.build(name))
    val jobs = snap().jobs - j0
    val plan = timed(df.queryExecution.executedPlan)._2
    val action = timed(noop(df))._2
    Array(builder, plan, action, jobs.toDouble)
  }

  /** Ingest split into stages, each adding one layer on top of the one
    * before: header scan → full parse → pushdown parse → + sampler →
    * + link extraction → + TSV sink (the whole anchor-text job); the diff
    * step is timed apart (+ tokens → + lag window → + revDiff → + parquet
    * sink). Each stage runs twice and the faster run counts; a layer's self
    * time is the difference between consecutive stages. The bz2 dump gets
    * the source stages and the whole job. */
  private def ingestStages(spark: SparkSession, w: Ingest, tally: DumpGen.Tally,
                           snap: () => Probe.Snap): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def best(f: => Unit): Double = math.min(timed(f)._2, timed(f)._2)
    def push(path: String) = WikiXml.read(spark, path, Pushdown)
    def sampled(path: String) = RevisionOps.changeRatioSample(
      push(path).withColumn("len", length(col("text")).cast("double")),
      "page_id", "timestamp", "len", minLen = DumpGen.MinLen)

    /** Source stages of one dump under `prefix`; returns the pushdown time. */
    def sources(path: String, prefix: String): Double = {
      val (parts, plan) = timed(push(path).rdd.getNumPartitions)
      m(s"$prefix.plan_s") = plan
      m(s"$prefix.partitions") = parts.toDouble
      val header = best(noop(WikiXml.readHeaders(spark, path)))
      var r0 = snap().recordsRead
      val full = best(noop(WikiXml.read(spark, path)))
      val fullRows = (snap().recordsRead - r0) / 2.0
      r0 = snap().recordsRead
      val pushS = best(noop(push(path)))
      val pushRows = (snap().recordsRead - r0) / 2.0
      m(s"$prefix.header_scan_s") = header
      m(s"$prefix.full_parse_s") = full
      m(s"$prefix.pushdown_parse_s") = pushS
      m(s"$prefix.parse_mb_s") = tally.xmlBytes / Mb / full
      m(s"$prefix.pushdown_keep_ratio") = pushRows / math.max(fullRows, 1.0)
      m(s"$prefix.pruning_gain") = full / header
      pushS
    }

    val pushS = sources(w.xml, "sources")
    val sampler = best(noop(sampled(w.xml)))
    val links = best(noop(sampled(w.xml).select(col("rev_id"),
      explode(GraftFunctions.extractLinks(col("text"))).as("l"))))
    val job = best(ExtractTemporalAnchorText.run(spark, w.xml, w.anchorsXml))
    m("operators.sampler_s") = sampler - pushS
    m("operators.sampler_keep_ratio") = sampled(w.xml).count().toDouble / tally.eligible
    m("functions.extract_links_s") = links - sampler
    m("jobs.anchor_text_s") = job
    val tok = best(noop(tokenFrame(spark, w.xml)))
    val lag = best(noop(diffFrame(tokenFrame(spark, w.xml), (a, _) => size(a))))
    val diff = best(noop(diffFrame(tokenFrame(spark, w.xml), GraftFunctions.revDiff)))
    val step = best(w.diffStep())
    m("functions.tokens_s") = tok - pushS
    m("operators.diffs_s") = lag - tok
    m("functions.rev_diff_s") = diff - lag
    m("sinks.write_s") = (job - links) + (step - diff)
    m("sinks.mb_out") = (dirBytes(w.anchorsXml) + dirBytes(w.diffs)) / Mb

    sources(w.bz2, "sources.bz2")
    m("jobs.bz2.anchor_text_s") =
      best(ExtractTemporalAnchorText.run(spark, w.bz2, w.anchorsBz2))
    m.toMap
  }

  private def dirBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.length).sum
}
