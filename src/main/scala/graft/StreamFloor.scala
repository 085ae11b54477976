package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev probe (VERDICT r18 item 6): per-batch duration breakdown of the
  * streaming golden-trace rows, from StreamingQueryProgress — is the
  * st_* floor micro-batch scheduling (triggerExecution dominated by
  * queryPlanning/walCommit/stateStore glue) or data work (addBatch)?
  * The listener registers via the streamingQueryListeners conf so the
  * st_* session CLONE (streamSession inherits parent conf) picks it up.
  * `runMain graft.StreamFloor <dir> [names…]`. Not driver contract. */
object StreamFloor {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  class Recorder extends StreamingQueryListener {
    override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit =
      progress.add(s"""{"started":"${e.name}","ts":"${e.timestamp}"}""")
    override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.json)
    override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    Scratch.sweepStale()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("st_curate")
    // a static conf: it must be set before the session starts, and the
    // st_* session clones inherit it
    System.setProperty("spark.sql.streaming.streamingQueryListeners",
      "graft.StreamFloor$Recorder")
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      progress.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"stream_floor":{"name":"$n","sec":$sec%.3f,"n_progress":${progress.size}}}""")
      progress.forEach(p => println(p))
    }
    spark.stop()
  }
}
