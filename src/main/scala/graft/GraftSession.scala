package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one place a SparkSession is built: every main, the perfbench
  * harness and the test session go through [[build]].
  *
  * The engine's native expressions and [[graft.plans.NanosFilterRule]]
  * arrive through `spark.sql.extensions`, so they hold for the session
  * and for every `newSession()` clone of it; callers never install
  * them on touch. UTC, UI off, Spark scratch plus warehouse under the
  * per-process [[Scratch]] root, and the two parquet layout confs
  * [[Tables.table]] relies on: `nanosAsLong` surfaces legacy
  * TIMESTAMP(NANOS) files as int64 instead of erroring, and
  * `inferTimestampNTZ=false` reads µs timestamps written with
  * isAdjustedToUTC=false as TimestampType (session tz is UTC, so
  * values are identical) — keeping filter pushdown and the engine's
  * timestamp semantics whichever table a session reads first. AQE
  * (with partition coalescing and skew-join handling) is Spark's
  * default and is not restated.
  */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else the JVM's processor count. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .filter(_ >= 1).getOrElse(Runtime.getRuntime.availableProcessors)

  private val extensions = classOf[graft.plans.GraftSparkExtensions].getName

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
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", extensions)
      .getOrCreate()
    // getOrCreate hands back a pre-existing session unchanged: static
    // confs such as the extensions list are ignored for it, and a
    // session without them would plan every query differently
    require(spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("fnv64")),
      s"the SparkSession returned by getOrCreate was started without " +
        s"spark.sql.extensions=$extensions " +
        "(a session already running in this JVM); build the session " +
        "through GraftSession.build before anything else starts one")
    spark
  }
}
