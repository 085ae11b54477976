package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all Spark-backed specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("local[4]", 4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The whole-suite build-only sweep, shared by PlanSpec's plan sweep,
  * Round12Spec's conf sweep and Round15Spec's libm sweep: every query
  * not in [[excluded]] is built once per test JVM at sf0.001 and read by
  * all three. */
object Sweep {
  /** The queries the sweep skips: sink round-trip writes and temp dirs,
    * the one deliberately-imperative seam (the per-file split-offset
    * scan), and 11 of the 20 st_* rows. Every st_* builder runs its
    * streaming trace when built (on the `StreamTrace.session` clone);
    * the other 9 are swept, trace and all. */
  val excluded: Set[String] = Set("st_windowed_counts", "st_sessions",
    "st_sessions_event", "st_dedup", "st_neardup", "st_stream_join",
    "st_static_join", "k1_tsv_roundtrip", "k2_parquet_roundtrip",
    "k5_json_roundtrip", "k6_compressed_sink", "k7_dict_roundtrip",
    "k8_orc_roundtrip", "k9_upsert", "k10_seqfile_roundtrip",
    "k12_partitioned_scan", "k13_compaction", "k14_bucketed_join",
    "k15_manifest_skip", "k32_partition_evolution", "st_cms",
    "st_expectations", "st_hll", "st_throttle", "k19_inverted_index",
    "s19_split_index")

  /** One swept query: its frame, its executed plan (taken right after
    * the build) and the session conf keys its builder changed. */
  final case class Built(df: DataFrame, plan: String,
                         confChanged: Set[String])

  /** Every swept query by name, in name order. The conf baseline is
    * re-taken after every builder: against a fixed initial snapshot,
    * one leaking builder would misattribute every later query as an
    * offender (and a builder restoring the original value would read
    * clean) — the per-builder baseline names exactly the leaker. */
  lazy val built: Seq[(String, Built)] = {
    val spark = TestSpark.spark
    var before = spark.conf.getAll
    SparkEntry.queries.keys.toSeq.sorted.filterNot(excluded).map { name =>
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val after = spark.conf.getAll
      val changed = (after.keySet ++ before.keySet)
        .filter(k => before.get(k) != after.get(k))
      before = after
      name -> Built(df, df.queryExecution.executedPlan.toString, changed)
    }
  }
}
