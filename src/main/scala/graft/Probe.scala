package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import graft.operators.{DedupOps, TermOps}
import graft.queries.Query
import graft.streaming.{EventStreamOps, StreamTrace}

/** Dev probes: the questions the bench record does not answer yet —
  * which plan a query ran, where its time goes (scheduling floor, many
  * tiny stages, shuffle volume or compute), how an operator or kernel
  * scales. Not part of the driver contract.
  *
  * `runMain graft.Probe <mode> <dir> [args…]`:
  *  - `plan <dir> [q…]`: the static formatted plan;
  *  - `final <dir> [q…]`: run, then the AQE final plan (runtime broadcast
  *    conversions and coalesced shuffle reads included);
  *  - `time <dir> [q…]`: one JSON row per query, printed as it completes:
  *    best and worst of SPARK_GRAFT_PROBE_RUNS (default 2) runs to the
  *    noop sink, and the fastest run's builder seconds and jobs (the
  *    work done building the frame, before the action), jobs, stages,
  *    tasks, shuffle and spill, followed by its `[stage] tasks<TAB>name`
  *    lines and the progress of each streaming query it ran;
  *  - `sem <dir> [k…]`: semanticDedup seconds per cluster count;
  *  - `inc <dir>…`: the incremental connected-components fold alone;
  *  - `stream <dir> [q…]`: streaming-tier throughput and state size;
  *  - `kernels <dir>`: the native text kernels, median of 3 runs, and
  *    one (`fnv64_transform`) evaluated inside a lambda, uncompiled.
  * `plan`, `final` and `time` default to every registered query.
  * SPARK_GRAFT_PROBE_PARTS sets the shuffle partitions (default: the
  * cores). Exits 2 on an unknown mode and 1 when a named query was
  * unknown or failed; a failure is an error row and the run goes on. */
object Probe {
  private val modes = Seq("plan", "final", "time", "sem", "inc", "stream", "kernels")
  val usage = s"usage: graft.Probe <${modes.mkString("|")}> <dir> [args...]"

  private def envInt(k: String, d: Int): Int =
    sys.env.get(k).flatMap(_.trim.toIntOption).filter(_ >= 1).getOrElse(d)

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || !modes.contains(args(0))) {
      System.err.println(usage)
      sys.exit(2)
    }
    Scratch.sweepStale()
    // ×100 probes of build-side-heavy joins (ktruss's shuffle-hash
    // closure) need more shuffle partitions than cores so each build map
    // fits in task memory; AQE coalesces the small stages back
    val spark = GraftSession.build(
      shufflePartitions = envInt("SPARK_GRAFT_PROBE_PARTS", GraftSession.cpus))
    spark.sparkContext.setLogLevel("ERROR")
    val ok = try run(spark, args(0), args(1), args.drop(2).toSeq)
      finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Runs `mode` on `spark` and prints its rows. False when a named
    * query was unknown or any probe failed. Leaves the session running. */
  def run(spark: SparkSession, mode: String, dir: String, args: Seq[String]): Boolean = {
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up
    def queries = if (args.nonEmpty) args else SparkEntry.queries.keys.toSeq.sorted
    try mode match {
      case "plan" => eachQuery(mode, queries) { (n, q) =>
        println(s"=== $n ===")
        println(q(spark, dir).queryExecution.explainString(FormattedMode))
      }
      case "final" => eachQuery(mode, queries) { (n, q) =>
        println(s"=== $n ===")
        val df = q(spark, dir)
        df.collect()
        println(df.queryExecution.explainString(FormattedMode))
      }
      case "time" => eachQuery(mode, queries)(time(spark, dir))
      case "sem" => sem(spark, dir, if (args.isEmpty) Seq(8, 80) else args.map(_.toInt))
      case "inc" => inc(spark, dir +: args)
      case "stream" => stream(spark, dir, if (args.isEmpty) chains.map(_._1) else args)
      case "kernels" => kernels(spark, dir)
      case _ => println(errorRow(mode, dir, usage)); false
    } catch {
      case e: Throwable => println(errorRow(mode, dir, message(e))); false
    }
  }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)

  private def errorRow(mode: String, name: String, err: String): String =
    s"""{"mode":"$mode","name":${JsonUtil.jstr(name)},"error":${JsonUtil.jstr(err.take(300))}}"""

  /** `probe` over each named registered query. An unknown name or a
    * probe that throws prints an error row and the run goes on; true
    * when every probe succeeded. */
  private def eachQuery(mode: String, names: Seq[String])(
      probe: (String, Query.Build) => Unit): Boolean =
    names.map { n =>
      val err = SparkEntry.queries.get(n) match {
        case None => Some("unknown query")
        case Some(q) =>
          try { probe(n, q); None } catch { case e: Throwable => Some(message(e)) }
      }
      err.foreach(e => println(errorRow(mode, n, e)))
      err.isEmpty
    }.forall(identity)

  /** Listener totals for one run, plus one `(tasks, name)` line per stage
    * and one line per streaming progress event. Streaming events reach
    * the context's bus from every session, the st_* clones included. */
  private class Counters(query: String) extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    val shuffleRead, shuffleWrite, spill = new AtomicLong
    val stageLines, progress = new ConcurrentLinkedQueue[String]()
    /** Seconds and jobs of building the frame, before its action. */
    var builderSec = 0.0
    var builderJobs = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      stages.incrementAndGet()
      tasks.addAndGet(i.numTasks)
      stageLines.add(s"${i.numTasks}\t${i.name.take(120)}")
      Option(i.taskMetrics).foreach { m =>
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    // tagged with the registered query, the stream's name and its run
    // id, so lines from concurrent streams stay apart
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => progress.add(
        s"""{"query":${JsonUtil.jstr(query)},"stream":${JsonUtil.jstr(String.valueOf(p.progress.name))},"run_id":"${p.progress.runId}","progress":${p.progress.json}}""")
      case _ =>
    }
  }

  private val runs = envInt("SPARK_GRAFT_PROBE_RUNS", 2)

  /** The `time` row of one query; the first failed run ends it. Counters
    * come from the fastest run: a shared-frame build lands in run 1, so
    * run 2 shows the steady-state shape. */
  private def time(spark: SparkSession, dir: String)(n: String, q: Query.Build): Unit = {
    val sc = spark.sparkContext
    def attempts(left: Int): List[(Double, Option[String], Counters)] = {
      val c = new Counters(n)
      sc.addSparkListener(c)
      val t0 = System.nanoTime()
      val (t, err) = Bench.timed {
        val df = q(spark, dir)
        ListenerBus.drain(sc)
        c.builderSec = (System.nanoTime() - t0) / 1e9
        c.builderJobs = c.jobs.get
        df
      }
      ListenerBus.drain(sc)
      sc.removeSparkListener(c)
      (t, err, c) :: (if (left > 1 && err.isEmpty) attempts(left - 1) else Nil)
    }
    val all = attempts(runs)
    all.flatMap(_._2).headOption.foreach(e => throw new RuntimeException(e))
    val (t, _, c) = all.minBy(_._1)
    def mb(bytes: AtomicLong) = Bench.sec(bytes.get / 1e6)
    println(s"""{"mode":"time","name":${JsonUtil.jstr(n)},"sec":${Bench.sec(t)},"sec_worst":${Bench.sec(all.map(_._1).max)},"builder_s":${Bench.sec(c.builderSec)},"builder_jobs":${c.builderJobs},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"shuf_read_mb":${mb(c.shuffleRead)},"shuf_write_mb":${mb(c.shuffleWrite)},"spill_mb":${mb(c.spill)},"n_progress":${c.progress.size}}""")
    c.stageLines.forEach(l => println(s"[stage] $l"))
    c.progress.forEach(l => println(l))
  }

  /** `n` timed runs of `df` to the noop sink; a failed run throws. */
  private def secs(n: Int)(df: => DataFrame): Seq[Double] = (1 to n).map { _ =>
    val (t, err) = Bench.timed(df)
    err.foreach(e => throw new RuntimeException(e))
    t
  }

  /** How `DedupOps.semanticDedup` cost responds to the cluster count at a
    * fixed corpus: the within-cluster pair stage is O(Σ cᵢ²), so k must
    * scale with the corpus (SCALE.md). Best of 2 per k. */
  private def sem(spark: SparkSession, dir: String, ks: Seq[Int]): Boolean = {
    val emb = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .localCheckpoint()
    val js = ks.map(k => s""""k$k":""" + secs(2)(
      DedupOps.semanticDedup(emb, k = k, iters = 2, threshold = 0.99)).min)
    println(s"""{"sem_probe":${js.mkString("{", ",", "}")},"dir":${JsonUtil.jstr(dir)}}""")
    true
  }

  /** The incremental leg of connected-component maintenance alone: the
    * claim is that folding a new edge batch into an existing labeling
    * costs O(old nodes + new edges), independent of the old edge set.
    * `graph_cc_incremental` must time warm labeling and fold together to
    * replay its oracle; here the warm labels and the pairs are built and
    * checkpointed untimed, and only `incrementalComponents` is timed
    * (best of 2) per dir. */
  private def inc(spark: SparkSession, dirs: Seq[String]): Boolean = {
    val js = dirs.map { dir =>
      // the registered query's 2/3-warm / 1/3-fresh split
      val pairs = DedupOps.jaccardPairs(
        Tables.table(spark, dir, "documents"), "doc_id", "text",
        threshold = 0.5).localCheckpoint(eager = true)
      val warm = pairs.filter(pmod(col("id_a") + col("id_b"), lit(3)) =!= 0)
      val fresh = pairs.filter(pmod(col("id_a") + col("id_b"), lit(3)) === 0)
        .localCheckpoint(eager = true)
      val labels = DedupOps.connectedComponents(warm).localCheckpoint(eager = true)
      JsonUtil.jstr(dir) + ":" + secs(2)(DedupOps.incrementalComponents(labels, fresh)).min
    }
    println(s"""{"inc_probe":${js.mkString("{", ",", "}")}}""")
    true
  }

  /** The streaming tier's operator chains, as the golden traces pin them. */
  private val chains: Seq[(String, DataFrame => DataFrame)] = Seq(
    "st_neardup" -> (df =>
      EventStreamOps.neardupWithinWatermark(df, "text", "ts", "1 minute")),
    // the batch tier's production parameters (dedup_substring_approx:
    // w=16/stride=8/k=4), not the disjoint-window trace fixture
    "st_substring" -> (df =>
      EventStreamOps.substringNovelWindows(df, "text", "ts", "1 minute",
        w = 16, stride = 8, shingleK = 4)),
    "st_curate" -> (df =>
      EventStreamOps.curateStream(df, "text", "ts", "1 minute", minChars = 20)))
  private val streamBatch = 5000 // docs per micro-batch
  private val streamTickMs = 10 // event-time spacing of consecutive docs

  /** Throughput and state size of the stateful streaming tier. Replays
    * the corpus documents as a timestamped DocEvent stream (doc i at
    * T0 + i·tick ms, so the 1-minute watermark horizon holds 60000/tick
    * docs whatever the corpus size: state must stay O(horizon), never
    * O(corpus)) through the chains the golden traces pin, in micro-batches
    * against the noop sink. One row per query: input docs, wall seconds,
    * docs/s, data micro-batches and the most state rows any batch held. */
  private def stream(spark: SparkSession, dir: String, names: Seq[String]): Boolean = {
    // streaming runs with AQE off, on a clone so the caller's conf stays
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // MemoryStream feeds from the driver, so the collect is the harness,
    // not the operator under test
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").orderBy("doc_id").collect()
      .zipWithIndex.map { case (r, i) =>
        EventStreamOps.DocEvent(r.getLong(0), r.getString(1),
          StreamTrace.at(i.toLong * streamTickMs))
      }
    names.map { name =>
      val r: Either[String, String] = try {
        val src = StreamTrace.source[EventStreamOps.DocEvent](s)
        val chain = chains.toMap.getOrElse(name,
          sys.error(s"unknown streaming probe query: $name"))
        // the clock starts at the first feed, after the query has started
        var t0 = 0L
        StreamTrace.drive(chain(src.toDF()), "noop", s"probe_$name", "append")(
            docs.grouped(streamBatch).map { chunk => () =>
              if (t0 == 0L) t0 = System.nanoTime()
              src.addData(chunk.toSeq)
            }) { q =>
          val wall = (System.nanoTime() - t0) / 1e9
          val progress = q.recentProgress.toSeq
          val maxState = progress
            .map(p => Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L))
            .foldLeft(0L)(math.max)
          val nBatches = progress.count(_.numInputRows > 0)
          Right(
            s"""{"rows":${docs.length},"wall_sec":${f"$wall%.2f"},""" +
            s""""docs_per_sec":${f"${docs.length / wall}%.0f"},""" +
            s""""micro_batches":$nBatches,"max_state_rows":$maxState,""" +
            s""""batch_size":$streamBatch,"tick_ms":$streamTickMs}""")
        }
      } catch { case e: Throwable => Left(message(e)) }
      r match {
        case Right(j) => println(s"""{"stream_probe_row":{"$name":$j}}""")
        case Left(e) => println(errorRow("stream", name, e))
      }
      r.isRight
    }.forall(identity)
  }

  /** Sequential microbenchmark of the native text-kernel tier over the
    * `documents` table, so a kernel change has a measured before/after at
    * data scale (the fixture queries are 1-3 rows, too small to time).
    * Markup is synthesized around the document text so the link,
    * template and ref scanners do real work. Median of 3 per kernel. */
  private def kernels(spark: SparkSession, dir: String): Boolean = {
    // documents at sf0.1 is 5k rows: replicate (SPARK_GRAFT_KB_REPL,
    // default 16) so each kernel runs for seconds, not milliseconds;
    // copies differ by a suffix so no cross-row memoization could flatter
    // a run. The diff and hashing kernels read the first 200 tokens;
    // `rev_diff_long` builds revision-sized arrays from them.
    val repl = envInt("SPARK_GRAFT_KB_REPL", 16)
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), explode(sequence(lit(0), lit(repl - 1))).as("copy"),
        col("text"))
      .withColumn("text", concat(col("text"), lit(" c"), col("copy")))
      .repartition(GraftSession.cpus * 4)
      .select(col("doc_id"),
        concat(lit("See [[Target page|anchor]] and {{Infobox x|y}} "),
          col("text"),
          lit(" more [[Other]] {{cite web|u}} <ref>r</ref> http://x.io/a end"))
          .as("text"))
      .withColumn("toks", slice(TermOps.tokens(col("text")), 1, 200))
      .withColumn("toks2",
        concat(slice(col("toks"), 1, 150), array(lit("zz"), lit("yy"))))
      .persist()
    docs.count() // materialize the input once so runs time the kernel only
    val g = GraftFunctions
    val kernels: Seq[(String, () => DataFrame)] = Seq(
      "extract_links" -> (() =>
        docs.select(explode(g.extractLinks(col("text"))).as("l"))
          .select(col("l.anchor"), col("l.target"))),
      "extract_links_ctx" -> (() =>
        docs.select(explode(g.extractLinksCtx(col("text"))).as("l"))
          .select(col("l.anchor"), col("l.offset"))),
      "extract_refs" -> (() => docs.select(size(g.extractRefs(col("text"))).as("n"))),
      "extract_templates" -> (() =>
        docs.select(explode(g.extractTemplates(col("text"))).as("t"))),
      "plain_text" -> (() => docs.select(length(g.plainText(col("text"))).as("n"))),
      "rev_diff" -> (() =>
        docs.select(explode(g.revDiff(col("toks"), col("toks2"))).as("d"))
          .select(col("d.op"))),
      // 4000 tokens a side (the 200-token window repeated) with three
      // local edits: a CHANGE, a DELETE and an INSERT; the time includes
      // building the two arrays, `a` once per row in its own projection
      "rev_diff_long" -> (() => {
        val a = col("a")
        docs.select(slice(flatten(array_repeat(col("toks"),
            ceil(lit(4000) / size(col("toks"))).cast("int"))), 1, 4000).as("a"))
          .select(explode(g.revDiff(a, concat(slice(a, 1, 999), array(lit("zz")),
            slice(a, 1001, 1000), slice(a, 2002, 999), array(lit("yy")),
            slice(a, 3001, 1000)))).as("d"))
          .select(col("d.op"))
      }),
      "added_words" -> (() =>
        docs.select(explode(g.addedWords(col("toks"), col("toks2"))).as("w"))),
      "minhash_sig" -> (() =>
        docs.select(g.minhashSig(col("toks"), lit(3), lit(32)).as("mh"))
          .select(element_at(col("mh"), 1))),
      "simhash64" -> (() => docs.select(g.simhash64(col("toks")).as("sh"))),
      "band_buckets" -> (() =>
        docs.select(explode(g.bandBuckets(
          g.minhashSig(col("toks"), lit(3), lit(32)), lit(8), lit(4))).as("b"))),
      "lang_id" -> (() => docs.select(g.langId(col("text")).as("l"))),
      "normalize_title" -> (() => docs.select(g.normalizeTitle(col("text")).as("n"))),
      "rolling_fingerprint" -> (() =>
        docs.select(g.rollingFingerprint(col("text")).as("f"))),
      // a native function inside a higher-order lambda never enters
      // codegen: this times its interpreted eval, once per token, as
      // DedupOps.suffixDupSpans runs it
      "fnv64_transform" -> (() =>
        docs.select(transform(col("toks"), t => g.fnv64(t)).as("h"))))
    try {
      kernels.foreach { case (_, mk) => secs(1)(mk()) } // warm codegen paths
      val js = kernels.map { case (n, mk) =>
        s""""$n":${secs(3)(mk()).sorted.apply(1)}"""
      }
      println(s"""{"kernel_bench":${js.mkString("{", ",", "}")},"sf":${JsonUtil.jstr(dir)}}""")
      true
    } finally docs.unpersist()
  }
}
