package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, explode, array, lit, countDistinct}
import org.apache.spark.sql.types.StructType

/** Zone-map / bloom file skipping wired into PLANNING: the one reader
  * that prunes on the layout artifacts (`k15_manifest_skip` and the
  * other skipping rows read through it). This `FileIndex` wraps Spark's
  * own `InMemoryFileIndex` and consults the table-maintenance artifacts
  * the layout jobs (`LayoutOps.writeManifestTable` and siblings) already
  * write beside the data:
  *
  *  - `_manifest` (file, min_k, max_k): per-FILE zone maps → range
  *    predicates on `keyCol` drop files whose [min,max] misses the
  *    query range (Iceberg/Delta data-skipping semantics);
  *  - `_bloom` (<partition col>, p): per-PARTITION-DIRECTORY bloom
  *    position sets → point predicates (`=` / `IN`) on `keyCol` drop
  *    whole partition directories none of whose keys can hash there
  *    (no false negatives, so pruning never drops rows);
  *  - `_manifest_multi` (file, col, min_k, max_k): LONG-format
  *    multi-column zone maps (the Delta/Iceberg column-stats shape) →
  *    range predicates on ANY tracked column prune, which is what lets
  *    a Z-ordered layout skip files on either interleaved dimension.
  *
  * Because the pruning happens in `listFiles`, it composes with
  * everything downstream of a plain read: Catalyst still sees an
  * ordinary `HadoopFsRelation` scan, so column pruning, parquet filter
  * pushdown, AQE, and joins all apply unchanged — the query author
  * writes `indexedRead(...).filter(...)` and never names a file.
  *
  * Scale discipline (the Iceberg planning shape): the index
  * intersections run as DISTRIBUTED filters over the `_manifest` /
  * `_bloom` tables — a planning-time Spark job, exactly like
  * `InMemoryFileIndex`'s own parallel listing — and only the MATCHED
  * file names / qualified partition values are collected, so driver
  * memory stays O(files actually read), the floor every
  * `HadoopFsRelation` pays anyway. Index tables are `_`-prefixed, so
  * data listings never see them.
  *
  * `mBits`/`nHashes` must match the `_bloom` writer's sizing (the
  * shared kernel is [[graft.operators.PruneOps.bloomPos]]).
  *
  * STALE-INDEX SAFETY: pruning applies only to files/partitions the
  * index KNOWS. Data appended after an index artifact was written has
  * no stats row — those files are always read, so an out-of-date index
  * costs skipping, never rows. */
class IndexedFileIndex(spark: SparkSession, path: String, keyCol: String,
                       mBits: Int = 4096, nHashes: Int = 2)
    extends FileIndex {

  private val inner =
    new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)

  private def indexDir(name: String): Option[String] = {
    // Hadoop FS existence, not java.io.File — index dirs must resolve
    // on s3://-style table locations too
    val p = new Path(s"$path/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(p.toString) else None
  }
  // resolved PER listFiles CALL (a cheap FS existence probe), not once
  // at construction: an index table written — or a column added to
  // `_manifest_multi` — after this reader is built must start pruning
  // on the next plan, consistent with listFiles re-reading manifest
  // CONTENTS on every call (r11 advisor finding)
  private def manifestDir: Option[String] = indexDir("_manifest")
  private def bloomDir: Option[String] = indexDir("_bloom")
  private def multiDir: Option[String] = indexDir("_manifest_multi")

  /** Columns the long-format multi manifest tracks (tiny, re-read per
    * planning call — same freshness discipline as the dirs above). */
  private def multiCols: Seq[String] = multiDir match {
    case Some(dir) =>
      import spark.implicits._
      spark.read.parquet(dir).select("col").distinct().as[String]
        .collect().toSeq.sorted
    case None => Seq.empty
  }

  override def rootPaths: Seq[Path] = inner.rootPaths
  override def inputFiles: Array[String] = inner.inputFiles
  override def refresh(): Unit = inner.refresh()
  override def sizeInBytes: Long = inner.sizeInBytes
  override def partitionSchema: StructType = inner.partitionSchema

  /** Conjunct-split predicates on `forCol`: the [lo, hi] range implied
    * by comparisons with long/int literals, and the point-probe set
    * from `=` / `IN`. Unrelated or unextractable predicates contribute
    * nothing (no pruning — never wrong results). */
  private def boundsOf(filters: Seq[Expression], forCol: String)
      : (Option[Long], Option[Long], Set[Long]) = {
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    var probes = Set.empty[Long]
    def longOf(l: Literal): Option[Long] = l.value match {
      case i: java.lang.Integer => Some(i.longValue)
      case j: java.lang.Long => Some(j)
      case s: java.lang.Short => Some(s.longValue)
      case _ => None
    }
    def tighten(newLo: Option[Long] = None, newHi: Option[Long] = None)
        : Unit = {
      newLo.foreach(v => lo = Some(lo.fold(v)(math.max(_, v))))
      newHi.foreach(v => hi = Some(hi.fold(v)(math.min(_, v))))
    }
    def isKey(e: Expression): Boolean = e match {
      case a: Attribute => a.name == forCol
      case _ => false
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case GreaterThanOrEqual(a, l: Literal) if isKey(a) =>
        tighten(newLo = longOf(l))
      case GreaterThan(a, l: Literal) if isKey(a) =>
        tighten(newLo = longOf(l).map(_ + 1L))
      case LessThanOrEqual(a, l: Literal) if isKey(a) =>
        tighten(newHi = longOf(l))
      case LessThan(a, l: Literal) if isKey(a) =>
        tighten(newHi = longOf(l).map(_ - 1L))
      case GreaterThanOrEqual(l: Literal, a) if isKey(a) =>
        tighten(newHi = longOf(l))
      case GreaterThan(l: Literal, a) if isKey(a) =>
        tighten(newHi = longOf(l).map(_ - 1L))
      case LessThanOrEqual(l: Literal, a) if isKey(a) =>
        tighten(newLo = longOf(l))
      case LessThan(l: Literal, a) if isKey(a) =>
        tighten(newLo = longOf(l).map(_ + 1L))
      case EqualTo(a, l: Literal) if isKey(a) =>
        longOf(l).foreach { v => tighten(Some(v), Some(v)); probes += v }
      case EqualTo(l: Literal, a) if isKey(a) =>
        longOf(l).foreach { v => tighten(Some(v), Some(v)); probes += v }
      case In(a, vs) if isKey(a) && vs.forall(_.isInstanceOf[Literal]) =>
        val longs = vs.flatMap(v => longOf(v.asInstanceOf[Literal]))
        if (longs.nonEmpty && longs.length == vs.length) {
          probes ++= longs
          tighten(Some(longs.min), Some(longs.max))
        }
      case _ => ()
    }
    filters.foreach(walk)
    (lo, hi, probes)
  }

  private def fileName(uri: String): String =
    uri.substring(uri.lastIndexOf('/') + 1)

  /** (files the index KNOWS, files whose zone intersects [lo, hi]) —
    * distributed manifest filters. A listed data file the index does
    * NOT know (appended after the manifest was written) must be KEPT,
    * or a stale index silently drops rows — hence both sets. The known
    * set is O(manifest rows) on the driver, the same floor the file
    * listing itself pays. */
  private def manifestSurvivors(dir: String, lo: Option[Long],
                                hi: Option[Long])
      : (Set[String], Set[String]) = {
    val known = spark.read.parquet(dir).select(col("file")).collect()
      .map(r => fileName(r.getString(0))).toSet
    var mf = spark.read.parquet(dir)
    lo.foreach(v => mf = mf.filter(col("max_k").cast("long") >= v))
    hi.foreach(v => mf = mf.filter(col("min_k").cast("long") <= v))
    val matched = mf.select(col("file")).collect()
      .map(r => fileName(r.getString(0))).toSet
    (known, matched)
  }

  /** Partition values whose bloom may contain ANY probe: a probe
    * qualifies a partition iff ALL its nHashes positions are present;
    * a partition survives iff some probe qualifies it. Runs as one
    * distributed join probes×positions ⋈ bloom — no driver-side
    * hashing, the position kernel is the same native fnv64 expression
    * the writer used. */
  /** (partition values the bloom KNOWS, values some probe qualifies).
    * A partition directory the index does not know is KEPT — same
    * stale-index conservatism as the manifest path. */
  private def bloomSurvivors(dir: String, probes: Set[Long])
      : (Set[Long], Set[Long]) = {
    import spark.implicits._
    val bloom = spark.read.parquet(dir)
    val pcol = bloom.columns.filterNot(_ == "p").head
    val known = bloom.select(col(pcol).cast("long")).distinct()
      .as[Long].collect().toSet
    val pos = probes.toSeq.toDF("probe").select(col("probe"),
      explode(array((0 until nHashes).map(i =>
        graft.operators.PruneOps.bloomPos(col("probe"), i, mBits)): _*))
        .as("p"))
    val qualified = pos.join(bloom, Seq("p"))
      .groupBy(col("probe"), col(pcol).as("pv"))
      .agg(countDistinct(col("p")).as("npos"))
      // a probe whose positions collide hashes < nHashes DISTINCT cells;
      // compare against its own distinct-position count, not nHashes
      .join(pos.groupBy("probe").agg(countDistinct(col("p")).as("need")),
        Seq("probe"))
      .filter(col("npos") === col("need"))
      .select(col("pv").cast("long")).distinct()
      .as[Long].collect().toSet
    (known, qualified)
  }

  /** File names surviving the LONG-format multi-column manifest: for
    * every tracked column a predicate binds, the file's [min, max] must
    * intersect the bound — per-column distributed filters, matched
    * names intersected. None = no bounded tracked column (no pruning). */
  /** Per-file keep decision against the LONG-format multi manifest: for
    * every tracked column a predicate binds, a KNOWN file must
    * intersect the bound; a file with no stats row for that column
    * (appended after the stats were written) is kept. None = no bounded
    * tracked column (no pruning). */
  private def multiKeep(dir: String, dataFilters: Seq[Expression])
      : Option[String => Boolean] = {
    val perCol = multiCols.flatMap { c =>
      val (lo, hi, _) = boundsOf(dataFilters, c)
      if (lo.isEmpty && hi.isEmpty) None
      else {
        val known = spark.read.parquet(dir).filter(col("col") === c)
          .select(col("file")).collect()
          .map(r => fileName(r.getString(0))).toSet
        var mf = spark.read.parquet(dir).filter(col("col") === c)
        lo.foreach(v => mf = mf.filter(col("max_k") >= v))
        hi.foreach(v => mf = mf.filter(col("min_k") <= v))
        val matched = mf.select(col("file")).collect()
          .map(r => fileName(r.getString(0))).toSet
        Some((known, matched))
      }
    }
    if (perCol.isEmpty) None
    else Some(name => perCol.forall { case (known, matched) =>
      !known.contains(name) || matched.contains(name)
    })
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val base = inner.listFiles(partitionFilters, dataFilters)
    val (lo, hi, probes) = boundsOf(dataFilters, keyCol)
    val afterBloom = (bloomDir, probes.nonEmpty) match {
      case (Some(dir), true) =>
        val (known, qualified) = bloomSurvivors(dir, probes)
        val pIdx = 0 // single inferred partition column (writer contract)
        base.filter { pd =>
          partitionSchema.isEmpty || {
            val v = pd.values.get(pIdx, partitionSchema.fields(pIdx).dataType)
            v match {
              // prune only values the index KNOWS; unknown (post-index)
              // partitions and non-numeric values stay — never a crash,
              // never a dropped row
              case n: Number =>
                !known.contains(n.longValue) ||
                  qualified.contains(n.longValue)
              case _ => true
            }
          }
        }
      case _ => base
    }
    val afterManifest = (manifestDir, lo.isDefined || hi.isDefined) match {
      case (Some(dir), true) =>
        val (known, matched) = manifestSurvivors(dir, lo, hi)
        afterBloom.map(pd => pd.copy(files = pd.files.filter { f =>
          val n = f.getPath.getName
          !known.contains(n) || matched.contains(n)
        }))
      case _ => afterBloom
    }
    multiDir.flatMap(multiKeep(_, dataFilters)) match {
      case Some(keep) =>
        afterManifest.map(pd =>
          pd.copy(files = pd.files.filter(f => keep(f.getPath.getName))))
      case None => afterManifest
    }
  }
}

object IndexedFileIndex {

  /** A DataFrame over `path` whose scan consults the `_manifest` /
    * `_bloom` index tables at planning time: compose `.filter` /
    * `.select` / joins as with any read — skipping rides the pushed
    * data filters. The relation is the ordinary parquet
    * `HadoopFsRelation`, just with this index as its file listing. */
  def read(spark: SparkSession, path: String, keyCol: String,
           mBits: Int = 4096, nHashes: Int = 2): DataFrame = {
    val index = new IndexedFileIndex(spark, path, keyCol, mBits, nHashes)
    val fullSchema = spark.read.parquet(path).schema
    val dataSchema = StructType(fullSchema.fields.filterNot(f =>
      index.partitionSchema.fieldNames.contains(f.name)))
    val relation = HadoopFsRelation(index, index.partitionSchema,
      dataSchema, None, new ParquetFileFormat(), Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }
}
