package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{DiffFunctions, TextFunctions}

/** Static kernels backing the native text functions — the codegen tier
  * of the scan-path extractors (SURVEY §2.7 F1-F4, F11, F16). Each method
  * takes Catalyst runtime values (`UTF8String`/`ArrayData`) and returns
  * Catalyst runtime values, so generated Java calls them directly: no
  * ScalaUDF row boxing, no catalyst↔scala converters, and the enclosing
  * `WholeStageCodegen` span stays intact (the downstream `explode` of the
  * returned array is itself codegen'd, which is why these are array
  * expressions rather than custom `Generator`s — a non-codegen Generator
  * would break the span).
  *
  * Null contract (mirrors the former UDF tier, where the kernels mapped
  * null to empty): null input ⇒ empty array / empty string, never null.
  * The string-level logic stays single-sourced in
  * [[graft.functions.TextFunctions]] / [[graft.functions.DiffFunctions]]
  * (reference behavior specs cited there).
  */
object TextKernels {

  val linkStructType: StructType = StructType(Seq(
    StructField("anchor", StringType), StructField("target", StringType)))
  val linkArrayType: ArrayType = ArrayType(linkStructType)

  val linkCtxStructType: StructType = StructType(Seq(
    StructField("anchor", StringType), StructField("target", StringType),
    StructField("offset", IntegerType),
    StructField("pre", StringType), StructField("post", StringType)))
  val linkCtxArrayType: ArrayType = ArrayType(linkCtxStructType)

  val deltaStructType: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("origPos", IntegerType), StructField("revPos", IntegerType),
    StructField("origLines", ArrayType(StringType)),
    StructField("revLines", ArrayType(StringType))))
  val deltaArrayType: ArrayType = ArrayType(deltaStructType)

  private def emptyArray: ArrayData = new GenericArrayData(Array.empty[Any])

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def stringArray(xs: Seq[String]): ArrayData =
    new GenericArrayData(xs.map(utf8(_): Any).toArray)

  private def toStringSeq(a: ArrayData): IndexedSeq[String] =
    if (a == null) IndexedSeq.empty
    else {
      val n = a.numElements()
      val out = new Array[String](n)
      var i = 0
      while (i < n) {
        out(i) = if (a.isNullAt(i)) null else a.getUTF8String(i).toString
        i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }

  def extractLinksData(s: UTF8String): ArrayData =
    if (s == null) emptyArray
    else new GenericArrayData(TextFunctions.extractLinks(s.toString)
      .map(l => InternalRow(utf8(l.anchor), utf8(l.target)): Any).toArray)

  def extractLinksCtxData(s: UTF8String): ArrayData =
    if (s == null) emptyArray
    else new GenericArrayData(TextFunctions.extractLinksWithContext(s.toString)
      .map(l => InternalRow(utf8(l.anchor), utf8(l.target), l.offset,
        utf8(l.pre), utf8(l.post)): Any).toArray)

  def extractRefsData(s: UTF8String): ArrayData =
    if (s == null) emptyArray
    else stringArray(TextFunctions.extractReferences(s.toString))

  def extractTemplatesData(s: UTF8String): ArrayData =
    if (s == null) emptyArray
    else stringArray(TextFunctions.extractTemplates(s.toString))

  def plainTextData(s: UTF8String): UTF8String =
    if (s == null) UTF8String.EMPTY_UTF8
    else UTF8String.fromString(TextFunctions.plainText(s.toString))

  def revDiffData(a: ArrayData, b: ArrayData): ArrayData =
    new GenericArrayData(DiffFunctions.diff(toStringSeq(a), toStringSeq(b))
      .map(d => InternalRow(utf8(d.op), d.origPos, d.revPos,
        stringArray(d.origLines), stringArray(d.revLines)): Any).toArray)

  def addedWordsData(a: ArrayData, b: ArrayData): ArrayData =
    stringArray(DiffFunctions.addedWords(toStringSeq(a), toStringSeq(b)))
}
