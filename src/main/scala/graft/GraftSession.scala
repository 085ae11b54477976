package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one place a SparkSession is built: every main, the perfbench
  * harness and the test session go through [[build]].
  *
  * The engine's native expressions and [[graft.plans.NanosFilterRule]]
  * arrive through `spark.sql.extensions`, so they hold for the session
  * and for every `newSession()` clone of it; callers never install
  * them on touch. UTC, UI off, and Spark scratch plus warehouse under
  * the per-process [[Scratch]] root. AQE (with partition coalescing
  * and skew-join handling) is Spark's default and is not restated.
  */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else the JVM's processor count. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .filter(_ >= 1).getOrElse(Runtime.getRuntime.availableProcessors)

  def build(master: String = s"local[$cpus]",
            shufflePartitions: Int = cpus,
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Scratch.sparkLocalDir)
      .config("spark.sql.warehouse.dir", Scratch.dir("wh").toString)
      .config("spark.sql.extensions", classOf[graft.plans.GraftSparkExtensions].getName)
      .getOrCreate()
    // getOrCreate hands back a pre-existing session unchanged (static
    // confs such as the extensions list are ignored for it)
    if (!spark.sessionState.functionRegistry.functionExists(FunctionIdentifier("fnv64")))
      graft.plans.GraftSparkExtensions.install(spark)
    spark
  }
}
