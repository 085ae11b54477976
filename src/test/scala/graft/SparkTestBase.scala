package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("local[4]", 4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The queries the whole-suite build-only sweeps skip (PlanSpec's plan
  * sweep, Round12Spec's conf sweep, Round15Spec's libm sweep): building
  * them executes side effects that don't belong in a build-only sweep —
  * full streaming traces, sink round-trip writes and temp dirs — plus
  * the one deliberately-imperative seam (the per-file split-offset
  * scan). Every other st_* row is swept, trace and all. */
object Sweep {
  val excluded: Set[String] = Set("st_windowed_counts", "st_sessions",
    "st_sessions_event", "st_dedup", "st_neardup", "st_stream_join",
    "st_static_join", "k1_tsv_roundtrip", "k2_parquet_roundtrip",
    "k5_json_roundtrip", "k6_compressed_sink", "k7_dict_roundtrip",
    "k8_orc_roundtrip", "k9_upsert", "k10_seqfile_roundtrip",
    "k12_partitioned_scan", "k13_compaction", "k14_bucketed_join",
    "k15_manifest_skip", "k32_partition_evolution", "st_cms",
    "st_expectations", "st_hll", "st_throttle", "k19_inverted_index",
    "s19_split_index")
}
