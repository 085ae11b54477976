package graft

/** Dev tool: capture the AQE FINAL plan of registered queries. A static
  * `.explain` shows the initial plan (`isFinalPlan=false`) with the
  * pre-runtime join strategies; this tool executes the frame's own
  * QueryExecution (collect(), so the AdaptiveSparkPlanExec finalizes)
  * and THEN prints the formatted plan — runtime broadcast conversions
  * and AQEShuffleRead (coalesced) nodes included. Not part of the
  * driver contract. `runMain graft.FinalPlan <sfDir> <query>…`. */
object FinalPlan {
  def main(args: Array[String]): Unit = {
    Scratch.sweepStale()
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { q =>
      println(s"=== $q ===")
      val df = SparkEntry.queries(q)(spark, args(0))
      df.collect()
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
