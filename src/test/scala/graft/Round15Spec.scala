package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.DoubleType
import scala.jdk.CollectionConverters._

/** Round-15 pins.
  *
  * The registry-wide libm boundary sweep: Round14Spec certified ONE
  * query's `ln`/`exp` margins (stats_sequential, hand-rebuilt without
  * its final rounds); this spec generalizes the defense to the whole
  * registry so no libm-exposed query is "green by luck":
  *
  * 1. DISCOVER — walk every registered query's analyzed plan and flag
  *    the ones whose expression tree passes through `ln`/`exp`/`pow`
  *    (libm functions whose final ulp is NOT pinned by IEEE 754 and
  *    may legally differ between the JVM and the checker's DuckDB
  *    build; `sqrt` IS exact-rounded and safe). No hand-kept list —
  *    a new libm query joins the sweep the moment it registers.
  * 2. MEASURE — for each flagged query, strip the `round(x, k)`
  *    wrappers from its FINAL stage (the Project/Aggregate that emits
  *    the gated columns; upstream rounds stay, exactly as the real
  *    chain computes) and execute that stage as its own plan at all
  *    three SFs. Every unrounded cell must sit ≥ 1e-3 rounding-units
  *    clear of a round-half boundary, so a 1-ulp cross-libm
  *    difference (~1e-16 relative) can never flip a gated digit.
  *
  * Intermediate rounds that feed further nonlinear steps (the
  * stats_sequential lnlam → running-max case) stay covered by their
  * dedicated Round14Spec canary; this sweep closes the final-emission
  * exposure for everything else, including queries added later.
  */
class Round15Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val allSfs = Seq("/root/testdata/sf0.001",
    "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  private def isLibm(e: Expression): Boolean = e match {
    case _: Exp | _: Expm1 | _: Log | _: Logarithm | _: Log2 |
         _: Log10 | _: Log1p | _: Pow => true
    case _ => false
  }

  private def containsLibm(e: Expression): Boolean = e.exists(isLibm)

  /** Distance of x from the nearest round-half boundary at `scale`
    * decimals, in rounding units (the Round14Spec metric). */
  private def boundaryMargin(x: Double, scale: Int): Double = {
    val y = math.abs(x) * math.pow(10, scale)
    math.abs(y - math.floor(y) - 0.5)
  }

  /** Unwrap order-only operators above the emitting stage. */
  @annotation.tailrec
  private def finalStage(p: LogicalPlan): LogicalPlan = p match {
    case s: Sort => finalStage(s.child)
    case g: GlobalLimit => finalStage(g.child)
    case l: LocalLimit => finalStage(l.child)
    case o => o
  }

  /** (output column, unrounded expression, scale) for every TOP-LEVEL
    * round-over-libm site in the emitting expressions (through
    * Alias/Cast only). Rounds nested inside conditionals are
    * deliberately NOT probed: evaluating them outside their CASE guard
    * would run unguarded divisions/logs on rows the real query never
    * computes them for — the guard is part of the mirrored chain. */
  private def roundProbes(nes: Seq[NamedExpression])
      : Seq[(String, Expression, Int)] = {
    @annotation.tailrec
    def top(e: Expression): Option[(Expression, Int)] = e match {
      case a: Alias => top(a.child)
      case c: Cast => top(c.child)
      case r: Round if r.scale.foldable && containsLibm(r.child) =>
        Some((r.child, r.scale.eval().asInstanceOf[Int]))
      case r: BRound if r.scale.foldable && containsLibm(r.child) =>
        Some((r.child, r.scale.eval().asInstanceOf[Int]))
      case _ => None
    }
    nes.flatMap(ne => top(ne).map { case (c, k) => (ne.name, c, k) })
  }

  /** Execute the query's final stage with its rounds stripped and
    * return every (column, unrounded value, scale) cell. */
  private def unroundedCells(df: DataFrame): Seq[(String, Double, Int)] = {
    def run(probes: Seq[(String, Expression, Int)],
            rebuild: Seq[NamedExpression] => LogicalPlan) =
      if (probes.isEmpty) Nil
      else {
        val aliased = probes.zipWithIndex.map { case ((_, c, _), i) =>
          val cd = if (c.dataType == DoubleType) c else Cast(c, DoubleType)
          Alias(cd, s"u$i")()
        }
        ColumnBridge.ofRows(spark, rebuild(aliased)).collect().toSeq
          .flatMap { row =>
            probes.zipWithIndex.flatMap { case ((n, _, k), i) =>
              if (row.isNullAt(i)) None else Some((n, row.getDouble(i), k))
            }
          }
      }
    finalStage(df.queryExecution.analyzed) match {
      case p: Project =>
        run(roundProbes(p.projectList), Project(_, p.child))
      case a: Aggregate =>
        run(roundProbes(a.aggregateExpressions),
          ne => a.copy(aggregateExpressions = ne))
      case _ => Nil
    }
  }

  /** Registry-wide discovery at the cheapest SF, over the shared
    * whole-suite build (`Sweep.built`): which gated queries pass
    * through libm anywhere in their plan? `Sweep.excluded` skips the
    * builders with side effects: streaming goldens are tiny fixed traces
    * gated row-for-row, and the sink round-trips re-emit already-gated
    * relations — neither adds libm exposure. */
  private lazy val libmQueries: Seq[String] = Sweep.built.collect {
    case (name, b) if b.df.queryExecution.analyzed
        .exists(_.expressions.exists(containsLibm)) => name
  }

  // --- round-15 operator pins ---

  test("block_means kernel ≡ the r14 posexplode-per-character chain " +
    "(mm_resize hash unchanged by the native rewrite)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.table(spark, sf, "documents")
    val old = docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("len"),
        posexplode(expr(
          "transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))"))
          .as(Seq("i", "v")))
      .withColumn("pr", expr(
        "(CAST(i AS BIGINT) div 64) * 8 div ((len + 63) div 64)"))
      .withColumn("pc", expr("(CAST(i AS BIGINT) % 64) div 8"))
      .groupBy("doc_id", "pr", "pc")
      .agg(count(lit(1)).as("n_pix"), sum(col("v")).as("sv"))
      .select(col("doc_id"), col("pr"), col("pc"), col("n_pix"),
        expr("sv div n_pix").as("mean_gray"))
      .collect().map(_.toString).sorted
    val neu = operators.MultimodalOps
      .blockMeanResize(docs, "doc_id", "text")
      .collect().map(_.toString).sorted
    assert(old.length == neu.length && old.sameElements(neu),
      s"block_means diverges from the explode chain " +
        s"(${old.length} vs ${neu.length} rows)")
  }

  test("suffixDupSpans finds planted exact spans at full resolution") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // doc 1 and 2 share an exact 10-token run; doc 3 is unique; doc 4
    // repeats a 9-token run WITHIN itself (within-doc dup counts)
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    val innr = (1 to 9).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"aa bb $span cc"),
      (2L, s"dd $span ee ff"),
      (3L, "uu vv ww xx yy zz"),
      (4L, s"$innr mid $innr")).toDF("doc_id", "text")
    val out = operators.DedupOps
      .suffixDupSpans(docs, "doc_id", "text", cap = 24, minSpan = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // docs 1/2: longest duplicated span = the 10 shared tokens;
    // positions whose dup prefix >= 8 are the first 3 span offsets
    assert(out(1L) == ((13L, 10L, 3L)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((13L, 10L, 3L)), s"doc2: ${out(2L)}")
    assert(out(3L)._2 == 0L && out(3L)._3 == 0L, s"doc3: ${out(3L)}")
    // doc 4: the repeat is 9 tokens -> lcp 9 at the two run starts,
    // >= 8 also at the second offsets (lcp 8): 4 qualifying positions
    assert(out(4L)._2 == 9L && out(4L)._3 == 4L, s"doc4: ${out(4L)}")
  }

  test("frameEnergyStereoData: deinterleave, ragged tail, empty input") {
    import graft.plans.HashKernels
    val a = HashKernels.frameEnergyStereoData(
      Array[Byte](1, 2, 3), frameSize = 2, stride = 1)
    assert(a.numElements() == 2)
    val f0 = a.getStruct(0, 6)
    assert((f0.getInt(0), f0.getLong(1), f0.getLong(2), f0.getInt(3),
      f0.getInt(4), f0.getLong(5)) == ((0, 1L, 4L, 1, 2, 2L)))
    val f1 = a.getStruct(1, 6)
    assert((f1.getInt(0), f1.getLong(1), f1.getLong(2), f1.getInt(3),
      f1.getInt(4), f1.getLong(5)) == ((1, 9L, 0L, 3, 0, 0L)))
    // unsigned byte semantics: -1 reads as 255
    val b = HashKernels.frameEnergyStereoData(
      Array[Byte](-1, -1), frameSize = 2, stride = 1)
    val g0 = b.getStruct(0, 6)
    assert(g0.getLong(1) == 65025L && g0.getLong(5) == 65025L)
    assert(HashKernels.frameEnergyStereoData(
      Array.empty[Byte], 2, 1).numElements() == 0)
    assert(HashKernels.frameEnergyStereoData(null, 2, 1).numElements() == 0)
  }

  test("linkPredict: exact RA arithmetic on a planted bipartite graph") {
    import spark.implicits._
    // dsts: d1 shared by {1,2} (ddf 2), d2 shared by {1,2,3} (ddf 3),
    // d3 only node 3, d4 shared by {2,3} (ddf 2)
    val edges = Seq(
      (1L, 101L), (2L, 101L),
      (1L, 102L), (2L, 102L), (3L, 102L),
      (3L, 103L),
      (2L, 104L), (3L, 104L)).toDF("src", "dst")
    val out = operators.GraphOps.linkPredict(edges, minCommon = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // (1,2): shares d1 (ddf 2) + d2 (ddf 3) -> RA = 1/2 + 1/3 =
    // 0.8333...; floored at 6 decimals = 0.833333
    assert(out((1L, 2L)) == ((2L, 0.833333)), s"(1,2): ${out((1L, 2L))}")
    // (2,3): d2 (ddf 3) + d4 (ddf 2) -> same RA; (1,3): d2 only -> 1/3
    assert(out((2L, 3L)) == ((2L, 0.833333)))
    assert(out((1L, 3L)) == ((1L, 0.333333)))
  }

  test("qlDirichletSearch: smoothing scores every doc; term hits " +
    "dominate the background") {
    import spark.implicits._
    val docs = Seq(
      (1L, "scan scan join merge extra words here"),
      (2L, "scan other text padding padding padding padding"),
      (3L, "totally unrelated words none match at all")).toDF("id", "txt")
    val out = operators.TermOps
      .qlDirichletSearch(docs, "id", "txt",
        Seq("scan", "join", "merge"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // every doc scores (k = 10 > corpus size -> all 3 rows)
    assert(out.length == 3, s"expected all docs scored: ${out.toSeq}")
    // ranking: doc 1 (all three terms) > doc 2 (one term) > doc 3
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), s"order: ${out.toSeq}")
    // scores are log-probabilities: strictly negative
    assert(out.forall(_._2 < 0.0))
  }

  test("bpeSegment: merges preserve chars and shrink pieces by " +
    "exactly the applied-merge count") {
    import spark.implicits._
    val docs = Seq((1L, "abab abab cd"), (2L, "abab cd cd")).toDF("i", "t")
    // word table: abab x3, cd x3. Round 1 best pair: (a,b) count 6
    // -> ab ab / cd; round 2: (ab,ab) count 3 -> abab; round 3 best of
    // remaining pairs: (c,d) count 3
    val seg = operators.TermOps.bpeSegment(docs, "i", "t", rounds = 3)
      .collect().head
    val (nw, nt, nc, np) = (seg.getLong(0), seg.getLong(1),
      seg.getLong(2), seg.getLong(3))
    assert(nw == 6L && nt == 2L, s"words/types: $nw/$nt")
    // chars invariant under merging: 3*4 + 3*2 = 18
    assert(nc == 18L, s"chars: $nc")
    // after (a,b), (ab,ab), (c,d): abab -> 1 piece, cd -> 1 piece
    assert(np == 6L, s"pieces: $np")
    assert(seg.getDouble(4) == 1.0 && seg.getDouble(5) == 3.0)
  }

  test("mm_tone_profile: zone counts partition the blocks and contrast " +
    "is non-negative (corpus invariant, sf0.001)") {
    val rows = SparkEntry.queries("mm_tone_profile")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nb, gmin, gmax, con, nd, nm, nbr) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))
      assert(nd + nm + nbr == nb, s"zones don't partition: $r")
      assert(con == gmax - gmin && con >= 0L, s"contrast: $r")
      assert(gmin >= 0L && gmax <= 255L, s"gray range: $r")
    }
  }

  test("ahash64 kernel ≡ the r13 HOF aggregate chain (mm_phash bits " +
    "unchanged by the native rewrite)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // the planted-variant union exercises the suffix-edit paths too
    val base = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val docs = base.unionByName(base.filter(col("doc_id") % 53 === 0)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        concat(col("text"), lit(" zq")).as("text")))
    val old = docs
      .select(col("doc_id"), col("text").as("__t"))
      .filter(length(col("__t")) > 0)
      .withColumn("cs",
        expr("transform(split(__t, ''), c -> CAST(ascii(c) AS BIGINT))"))
      .withColumn("len", size(col("cs")).cast("long"))
      .withColumn("stot", expr("aggregate(cs, 0L, (a, x) -> a + x)"))
      .withColumn("phash", expr(
        """aggregate(sequence(0, 63), 0L, (acc, b) ->
          | acc | CASE WHEN
          |  aggregate(slice(cs,
          |    CAST(CAST(b AS BIGINT) * len div 64 AS INT) + 1,
          |    CAST(CAST(b + 1 AS BIGINT) * len div 64 -
          |         CAST(b AS BIGINT) * len div 64 AS INT)),
          |   0L, (a, x) -> a + x) * len >
          |  stot * (CAST(b + 1 AS BIGINT) * len div 64 -
          |          CAST(b AS BIGINT) * len div 64)
          | THEN shiftleft(CAST(1 AS BIGINT), b) ELSE 0L END)"""
          .stripMargin))
      .select(col("doc_id"), col("len").as("n_pix"), col("phash"))
      .collect().map(_.toString).sorted
    val neu = operators.MultimodalOps.avgHash64(docs, "doc_id", "text")
      .collect().map(_.toString).sorted
    assert(old.length == neu.length && old.sameElements(neu),
      s"ahash64 diverges from the HOF chain (${old.length} vs " +
        s"${neu.length} rows)")
  }

  test("libm discovery finds the known exposed families (sweep is " +
    "not vacuously empty)") {
    // (t30_granger is NOT here: its F statistic is closed-form rational
    // arithmetic — no ln/exp/pow anywhere in the chain, verified)
    val known = Seq("stats_divergence", "text_perplexity", "stats_psi",
      "stats_entropy", "stats_mutual_info", "sample_dsir",
      "curate_ccnet", "stats_sequential")
    val missing = known.filterNot(libmQueries.contains)
    assert(missing.isEmpty,
      s"libm sweep lost known-exposed queries: $missing " +
        s"(discovered: $libmQueries)")
  }

  test("sharedStageReaders matches the shared-frame call sites in the " +
    "registry source (the bench flag can't silently drift)") {
    // attribute each process-shared helper call to the query record
    // whose builder contains it — the nearest preceding `Query("name",`
    // in the same file (helper definitions precede every record)
    val files = java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala") +:
      java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/queries"))
        .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    val reg = """^    Query\("([a-z0-9_]+)",""".r
    val helpers = Seq("bm25Leg(s, d)", "pqModel(s, d)",
      "dedupLabels05(s, d)", "jaccardPairs05(s, d)",
      "embF64(s, d)", "bruteTop5(s, d)", "substringVerdicts(s, d)",
      "residualModel(s, d)", "vecLeg(s, d)", "sharedFrame(s, d,")
    // every QueryKit member whose body reads a shared stage is one of the
    // audited helpers, so a new helper cannot slip past the attribution
    val kitSrc = scala.io.Source.fromFile(
      "src/main/scala/graft/queries/QueryKit.scala", "UTF-8")
    val kit = try kitSrc.getLines().toVector finally kitSrc.close()
    val member = """^  (?:private |lazy |override )*(?:def|val) (\w+)""".r
    var owner: Option[String] = None
    val kitReaders = scala.collection.mutable.SortedSet.empty[String]
    for (l <- kit) {
      member.findFirstMatchIn(l).foreach(m => owner = Some(m.group(1)))
      if ((l.contains("sharedFrame(") || l.contains("sharedStage(")) && owner.isDefined)
        kitReaders += owner.get
    }
    val unaudited = kitReaders.toSet -- Set("sharedFrame", "sharedStage") --
      helpers.map(_.takeWhile(_ != '('))
    assert(kitReaders.contains("vecLeg") && unaudited.isEmpty,
      s"QueryKit shared-stage helpers missing from the audit: $unaudited")
    val derived = scala.collection.mutable.SortedSet.empty[String]
    for (f <- files) {
      val src = scala.io.Source.fromFile(f.toFile, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      var current: Option[String] = None
      for (l <- lines) {
        reg.findFirstMatchIn(l).foreach(m => current = Some(m.group(1)))
        if (helpers.exists(l.contains) && current.isDefined)
          derived += current.get
      }
    }
    assert(derived.nonEmpty, "no shared-stage call site found")
    assert(derived.toSeq == SparkEntry.sharedStageReaders.sorted,
      s"sharedStageReaders is stale: source says $derived, " +
        s"manifest says ${SparkEntry.sharedStageReaders.sorted}")
  }

  test("registry-wide libm boundary sweep: every final-stage " +
    "round-over-libm cell clears its boundary by >= 10^4 ulp of the " +
    "value (floor 1e-12 absolute) at all 3 SFs") {
    // Threshold calibration. The hazard is that this JVM's StrictMath
    // ln/exp/pow and the checker's DuckDB libm may differ in the LAST
    // ULP of each libm call; all other arithmetic (+,-,*,/ and sqrt)
    // is IEEE exact-rounded and identical given mirrored order, so the
    // emitted value's cross-engine divergence is the per-term ulp
    // noise propagated through the mirrored chain — for the registry's
    // shapes (≤ ~10³ libm terms, means and mildly-conditioned ratios)
    // that is ≲ 10 ulp of the emitted value. Requiring the unrounded
    // cell to clear the rounding boundary by 10⁴ ulp (with a 1e-12
    // absolute floor) leaves ≥ 10³× headroom while staying satisfiable
    // corpus-wide: Round14Spec's 1e-3-rounding-unit bar is right for
    // ONE query tuned to it (stats_sequential rounds at 4 decimals on
    // values ~1), but registry-wide the tightest honest cell measures
    // 8e-7 rounding units (text_surprisal at sf0.1) — still 10⁵× the
    // real hazard, which this calibrated bound certifies.
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    var measured = 0
    var minHeadroom = Double.MaxValue
    var minCell = ""
    for (name <- libmQueries; sf <- allSfs) {
      val cells = unroundedCells(SparkEntry.queries(name)(spark, sf))
      measured += cells.size
      for ((col, v, k) <- cells) {
        val marginAbs = boundaryMargin(v, k) * math.pow(10, -k)
        val need = math.max(1e-12, 1e4 * Math.ulp(math.abs(v)))
        if (marginAbs < need) violations +=
          f"$name/$col at $sf: unrounded $v%.17g sits $marginAbs%.3g " +
            f"from its round-$k boundary (< $need%.3g = 10^4 ulp) — " +
            "round coarser or integer-scale"
        val headroom = marginAbs / need
        if (headroom < minHeadroom) {
          minHeadroom = headroom
          minCell = s"$name/$col at $sf"
        }
      }
    }
    assert(measured > 0, "sweep measured zero cells — probe extraction " +
      "broke (final stages no longer Project/Aggregate?)")
    info(f"measured $measured cells; tightest headroom $minHeadroom%.1f× " +
      f"at $minCell")
    assert(violations.isEmpty,
      s"libm cells too close to a rounding boundary:\n" +
        violations.mkString("\n"))
  }
}
