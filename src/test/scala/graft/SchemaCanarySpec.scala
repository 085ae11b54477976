package graft

import org.scalatest.funsuite.AnyFunSuite

/** Testdata-schema canary (round-10, VERDICT.md item 2): the round-9
  * driver-side regeneration of events.parquet (INT64-nanos → µs
  * timestamp) broke 60 queries at once because no single test owned the
  * contract "this is what the testdata looks like". This spec asserts
  * the post-[[Tables.table]] schema of every table in [[Tables.All]], so
  * the next regeneration fails ONE named test with a readable diff
  * instead of scattering DATATYPE_MISMATCH across the whole suite.
  *
  * Deliberately checks the NORMALIZED schema (what queries consume),
  * not the raw parquet layout — `ts` must come out TimestampType
  * whether the file stores legacy nanos or standard µs.
  */
class SchemaCanarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private val expected: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq(
      "n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
    "customer" -> Seq(
      "c_custkey" -> "bigint", "c_name" -> "string", "c_nationkey" -> "int",
      "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Seq(
      "s_suppkey" -> "bigint", "s_name" -> "string", "s_nationkey" -> "int",
      "s_acctbal" -> "double"),
    "part" -> Seq(
      "p_partkey" -> "bigint", "p_name" -> "string", "p_brand" -> "string",
      "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"),
    "orders" -> Seq(
      "o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq(
      "l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq(
      "event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "bigint",
      "event_type" -> "string", "value" -> "double", "props" -> "string"),
    "documents" -> Seq(
      "doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq(
      "vec_id" -> "bigint", "embedding" -> "array<float>", "label" -> "int"))

  test("every testdata table loads with the schema the suite assumes") {
    val diffs = Tables.All.flatMap { name =>
      val got = Tables.table(spark, sf, name).schema
        .map(f => f.name -> f.dataType.simpleString)
      val want = expected(name)
      if (got == want) None
      else Some(s"$name:\n  want ${want.mkString(", ")}\n  got  ${got.mkString(", ")}")
    }
    assert(diffs.isEmpty, "\nTESTDATA SCHEMA DRIFT — fix Tables/queries " +
      "before anything else; every consumer of these tables assumes the " +
      "'want' layout.\n" + diffs.mkString("\n"))
  }

  test("Tables reads the schema Spark would infer, field metadata " +
    "included, from one footer and without a Spark job") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    // a flat directory as a builder writes it: several part files,
    // _SUCCESS and .crc side files, a Spark schema with field metadata
    val flat = Scratch.dir("canary").toString + "/flat"
    val meta = new MetadataBuilder().putString("comment", "doc key").build()
    Tables.table(spark, sf, "documents")
      .select(col("doc_id").as("doc_id", meta), col("lang"))
      .repartition(3).write.parquet(flat)
    val tables = for (d <- Seq(sf, "/root/testdata/sf0.01"); n <- Tables.All)
      yield s"$d/$n.parquet" -> JobCount(Tables.table(spark, d, n))
    val files = Seq(s"${LegacyLayout.nanosDir}/events.parquet",
      s"${LegacyLayout.microsDir}/events.parquet", flat)
      .map(p => p -> JobCount(Tables.parquet(spark, p)))
    val bad = (tables ++ files).flatMap { case (p, (df, jobs)) =>
      val want = spark.read.parquet(p).schema
      if (jobs == 0 && df.schema == want) None
      else Some(s"$p: $jobs jobs\n  got  ${df.schema.json}\n  want ${want.json}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(Tables.parquet(spark, flat).schema("doc_id").metadata == meta)
    assert(JobCount(Tables.table(spark, LegacyLayout.nanosDir, "events"))._2 == 0)
  }
}
