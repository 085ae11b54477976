package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{GraftSparkExtensions, NativeArg, NativeFunction, NativeFunctions, NullRule}

/** Every entry of the native-function table, driven the same way: once
  * through generated code and once through interpreted eval, on one
  * sample row and one all-null row. */
class NativeFunctionSpec extends AnyFunSuite {
  import NativeArg._

  private lazy val spark = TestSpark.spark

  // generated code only: a compile error fails instead of falling back
  private lazy val generated: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  // interpreted eval only: no whole-stage codegen, no generated projections
  private lazy val interpreted: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  // The rows come from parquet: a LocalRelation would be folded by
  // interpreted eval at optimization, and the codegen side would never
  // run generated code.
  private lazy val input: String = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType), StructField("url", StringType),
      StructField("i", IntegerType), StructField("bin", BinaryType),
      StructField("toks", ArrayType(StringType)),
      StructField("toks2", ArrayType(StringType)),
      StructField("longs", ArrayType(LongType, containsNull = false)),
      StructField("longs2", ArrayType(LongType, containsNull = false)),
      StructField("floats", ArrayType(FloatType)),
      StructField("vec", ArrayType(DoubleType)),
      StructField("vec2", ArrayType(DoubleType))))
    val sample = Row(1L,
      "A [[Spark|the engine]] and [[Scala]] {{Infobox x|y}} {{cite web|u}} " +
        "<ref>r</ref> http://x.io/a the cat is on the mat#sec",
      "http://www.bbc.co.uk/news", 3, Array.tabulate[Byte](40)(b => (b * 7).toByte),
      Seq("the", "quick", "brown", "fox", "jumps", "日本語"),
      Seq("a", "quick", "fox", "dup", "dup"),
      Seq(1L, 3L, 5L, 7L, 9L, 11L, 13L), Seq(3L, 4L, 5L, 13L),
      Seq(0.5f, -0.25f, 0.125f, -1.0f),
      Seq(1.0, -2.5, 3.25, 0.125), Seq(-0.5, 4.0, 1e-3, 7.75))
    val nulls = Row.fromSeq(2L +: Seq.fill(schema.length - 1)(null))
    val path = Scratch.dir("native-fns").resolve("rows.parquet").toString
    spark.createDataFrame(java.util.Arrays.asList(sample, nulls), schema)
      .coalesce(1).write.parquet(path)
    path
  }

  /** The input column (or literal) fed to argument `n` of kind `a`. */
  private def argument(f: NativeFunction, a: NativeArg, n: Int): String = a match {
    case Of(StringType) if f.name == "extract_domain" => "url"
    case Of(StringType) => "s"
    case Of(BinaryType) => "bin"
    case Of(IntegerType) => "i"
    case ArrayOf(StringType) => if (n == 0) "toks" else "toks2"
    case ArrayOf(LongType) => if (n == 0) "longs" else "longs2"
    case ArrayOf(DoubleType) => if (n == 0) "vec" else "vec2"
    case ArrayOf(FloatType, DoubleType) => "floats"
    case IntLit => "3"
    case other => fail(s"${f.name}: no sample input for argument kind $other")
  }

  private def query(f: NativeFunction): String = {
    val args = f.args.zipWithIndex.map { case (a, n) => argument(f, a, n) }
    s"SELECT id, ${f.name}(${args.mkString(", ")}) AS r FROM parquet.`$input`"
  }

  private def rows(s: SparkSession, f: NativeFunction): Seq[Row] =
    s.sql(query(f)).collect().toSeq.sortBy(_.getLong(0))

  for (f <- NativeFunctions.all) {
    test(s"${f.name}: codegen and interpreted eval agree, null row follows ${f.nulls}") {
      val df = generated.sql(query(f))
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains(s"*(1) Project [id#"), plan.toString)
      assert(plan.toString.contains(s"${f.name}("), plan.toString)
      // the generated code calls the kernel directly
      assert(codegenString(plan).contains(s"${f.kernel}.${f.method}("))
      val interpretedDf = interpreted.sql(query(f))
      assert(!interpretedDf.queryExecution.executedPlan.toString.contains("*("))

      val out = rows(generated, f)
      assert(out == rows(interpreted, f))
      assert(out.map(_.getLong(0)) == Seq(1L, 2L))
      val Seq(sample, nulls) = out
      assert(!sample.isNullAt(1), s"${f.name} of the sample row is null")
      f.nulls match {
        case NullRule.ToKernel => assert(!nulls.isNullAt(1))
        case NullRule.Propagate | NullRule.PropagateOrKernel => assert(nulls.isNullAt(1))
      }
    }
  }

  test("vbyte_encode takes a stored array<bigint> column; a null element encodes to null") {
    val path = Scratch.dir("native-vbyte").resolve("ids.parquet").toString
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("ids", ArrayType(LongType))))
    spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Seq(3L, 900L, 70000L)), Row(2L, Seq[java.lang.Long](5L, null))), schema)
      .coalesce(1).write.parquet(path)
    for (s <- Seq(generated, interpreted)) {
      val out = s.sql(s"SELECT id, vbyte_decode(vbyte_encode(ids)) AS r " +
        s"FROM parquet.`$path` ORDER BY id").collect()
      assert(out(0).getSeq[Long](1) == Seq(3L, 900L, 70000L))
      assert(out(1).isNullAt(1))
    }
  }

  test("the SQL registry is the table plus hamming64, and every name resolves") {
    val names = GraftSparkExtensions.functions.map(_._1)
    assert(names.distinct.size == names.size)
    assert(names.toSet == NativeFunctions.all.map(_.name).toSet + "hamming64")
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
  }

  test("no class under graft/plans but the generic expression generates code") {
    val dir = Paths.get("src/main/scala/graft/plans")
    val files = Files.list(dir).iterator()
    var found = Seq.empty[String]
    while (files.hasNext) {
      val p = files.next()
      val n = "def doGenCode".r.findAllIn(Files.readString(p)).size
      found ++= Seq.fill(n)(p.getFileName.toString)
    }
    assert(found == Seq("NativeFunctions.scala"), found)
  }
}
