package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (driver brief): media payloads are opaque
  * `binary` columns + typed metadata structs; decode/feature-extraction
  * runs as a partition-wise batch transform.
  *
  * PNG payloads get a REAL decode: magic-number sniff, then a JDK
  * `javax.imageio` header-only read (no pixel decode) for width/height.
  * Every other format is STUBBED (no further image/audio libraries in
  * this environment): `stubDecode` derives deterministic fake metadata
  * from the bytes. The Spark-side contract — schema, batched
  * per-partition execution, binary hygiene (never shuffle decoded
  * frames, only compact features) — is real and tested either way.
  */
object MultimodalOps {

  val mediaMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** Deterministic fake decode: in production this calls the real codec
    * (??? behind this seam); dimensions are derived from a stable byte
    * hash so tests are reproducible. The hash is the base-31 rolling hash
    * mod 2^64 over the first 1024 *unsigned* bytes with unsigned
    * extraction of the w/h/format fields, so the DuckDB oracle can
    * replicate it with HUGEINT arithmetic (same trick as the
    * `text_fingerprint` oracle). */
  def stubDecode(bytes: Array[Byte]): (Int, Int, String, Long) = {
    if (bytes == null || bytes.isEmpty) return (0, 0, "empty", 0L)
    var h = 0L
    var i = 0
    while (i < math.min(bytes.length, 1024)) { h = 31 * h + (bytes(i) & 0xff); i += 1 }
    val w = 64 + (h & 1023L).toInt
    val ht = 64 + ((h >>> 16) & 1023L).toInt
    val fmt = Seq("png", "jpeg", "webp")(((h >>> 32) % 3L).toInt)
    (w, ht, fmt, bytes.length.toLong)
  }

  private val PngMagic: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  private def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= PngMagic.length &&
      PngMagic.indices.forall(i => bytes(i) == PngMagic(i))

  /** The decode seam: PNG → real `javax.imageio` header read (width and
    * height come from the IHDR chunk; `getWidth(0)` never decodes
    * pixels); anything else (or a corrupt PNG) → the deterministic stub.
    * Executor-side only: one call per row inside `mapPartitions`. */
  def decodeMeta(bytes: Array[Byte]): (Int, Int, String, Long) = {
    if (bytes == null || bytes.isEmpty) return (0, 0, "empty", 0L)
    if (!isPng(bytes)) return stubDecode(bytes)
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) stubDecode(bytes)
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            (r.getWidth(0), r.getHeight(0), "png", bytes.length.toLong)
          } finally r.dispose()
        }
      } finally iis.close()
    } catch {
      // truncated/corrupt payload behind a valid signature: degrade to
      // the stub rather than failing the partition
      case _: Exception => stubDecode(bytes)
    }
  }

  /** Attach a decoded-metadata struct to a binary column, batch-wise per
    * partition (the mapInPandas-equivalent seam in Scala: mapPartitions,
    * one codec init per partition, streamed rows). */
  def withMediaMeta(df: DataFrame, binCol: String): DataFrame = {
    val schema = df.schema.add(StructField("media_meta", mediaMetaType))
    val binIdx = df.schema.fieldIndex(binCol)
    implicit val enc = Encoders.row(schema)
    df.mapPartitions { it =>
      // codec/session init would happen once per partition here
      it.map { r =>
        val (w, h, fmt, n) = decodeMeta(r.getAs[Array[Byte]](binIdx))
        Row.fromSeq(r.toSeq :+ Row(w, h, fmt, n))
      }
    }
  }

  /** Frame-sampling plumbing: explode a binary "video" into every `stride`th
    * fixed-size chunk (stand-in for frame extraction), keeping only compact
    * per-frame features downstream. The chunk hasher is the native
    * `frame_sigs` expression (plans/HashExpressions.scala) — a per-row
    * hot path on video corpora, so it runs inside whole-stage codegen,
    * not as a UDF. It folds *unsigned* bytes (same convention as
    * `stubDecode`); the mm_frame_sample oracle replicates it via
    * codepoints, which coincide with bytes only for ASCII payloads —
    * binary/non-ASCII payloads would need a byte-level SQL oracle (blob
    * indexing), not a different kernel. */
  def sampleFrames(df: DataFrame, binCol: String, frameSize: Int,
                   stride: Int): DataFrame = {
    df.withColumn("frame",
        explode(expr(s"frame_sigs(`$binCol`, $frameSize, $stride)")))
      .withColumn("frame_idx", col("frame.idx"))
      .withColumn("frame_sig", col("frame.sig"))
      .drop("frame")
  }

  /** Audio-style frame level metering: the frame-sampling chunk
    * geometry with level stats instead of content signatures — exact
    * integer energy (Σ byte², never floats) and peak byte per sampled
    * frame, via the native `frame_energy` expression (per-byte work
    * stays in whole-stage codegen). The VAD / silence-trim plumbing: a
    * real pipeline thresholds energy to drop dead frames BEFORE the
    * expensive decode step ever runs. */
  def frameEnergy(df: DataFrame, binCol: String, frameSize: Int,
                  stride: Int): DataFrame = {
    df.withColumn("fr",
        explode(expr(s"frame_energy(`$binCol`, $frameSize, $stride)")))
      .withColumn("frame_idx", col("fr.idx"))
      .withColumn("energy", col("fr.energy"))
      .withColumn("peak", col("fr.peak"))
      .drop("fr")
  }

  /** ViT-style 2D patch extraction plumbing: the payload read as a
    * row-major `width`-column byte matrix explodes into its
    * `patch`×`patch` grid blocks, each reduced to a compact signature
    * (native `patch_sigs` expression — the per-byte fold stays in
    * whole-stage codegen). The real pipeline swaps the signature for a
    * patch-embedding UDF batch; the Spark-side contract — grid
    * indexing, ragged-edge handling, explode shape, binary hygiene
    * (signatures shuffle, pixels don't) — is what this operator pins. */
  def samplePatches(df: DataFrame, binCol: String, width: Int,
                    patch: Int): DataFrame = {
    df.withColumn("p", explode(expr(s"patch_sigs(`$binCol`, $width, $patch)")))
      .withColumn("pr", col("p.pr"))
      .withColumn("pc", col("p.pc"))
      .withColumn("patch_sig", col("p.sig"))
      .drop("p")
  }

  /** Stereo frame metering over an interleaved 2-channel payload: per
    * sampled frame, exact integer per-channel energy/peak plus the
    * inter-channel cross-sum Σ l·r — the stereo-width /
    * mono-compatibility signal a media pipeline gates on before
    * downmixing (xsum ≈ √(energy_l·energy_r) ⇒ channels correlated ⇒
    * mono-safe; ≈ 0 ⇒ wide/decorrelated). Same frame geometry as
    * [[frameEnergy]]; deinterleave happens inside the codegen kernel
    * ([[graft.plans.FrameEnergyStereo]]), so pixels/samples never
    * materialize as rows. */
  def frameEnergyStereo(df: DataFrame, binCol: String, frameSize: Int,
                        stride: Int): DataFrame = {
    df.withColumn("fr",
        explode(expr(s"frame_energy_stereo(`$binCol`, $frameSize, $stride)")))
      .withColumn("frame_idx", col("fr.idx"))
      .withColumn("energy_l", col("fr.energy_l"))
      .withColumn("energy_r", col("fr.energy_r"))
      .withColumn("peak_l", col("fr.peak_l"))
      .withColumn("peak_r", col("fr.peak_r"))
      .withColumn("xsum", col("fr.xsum"))
      .drop("fr")
  }

  /** Block-mean RESIZE of the string-as-grayscale payload (width-64
    * codepoint matrix → `grid`×`grid` thumbnail): the downsample verb
    * of the multimodal family as ONE codegen fold per document
    * ([[graft.plans.BlockMeans]]) — pixels never materialize as rows;
    * what leaves the kernel is ≤ grid² (pr, pc, n_pix, mean_gray)
    * cells per doc (the r14 posexplode-per-character shape cost
    * corpus-length rows pre-combine for identical output). Exact
    * integer means (sum div count) over the integer-boundary block
    * grid — the avgHash64 conventions, same BMP parity contract. */
  def blockMeanResize(docs: DataFrame, idCol: String, textCol: String,
                      width: Int = 64, grid: Int = 8): DataFrame = {
    docs
      .select(col(idCol),
        explode(expr(s"block_means(`$textCol`, $width, $grid)")).as("c"))
      .select(col(idCol), col("c.pr").as("pr"), col("c.pc").as("pc"),
        col("c.n_pix").as("n_pix"), col("c.mean_gray").as("mean_gray"))
  }

  /** Perceptual near-duplicate detection over binary payloads — the
    * image-side member of the dedup family: two payloads are near-dups
    * when ≥ `minFracNum`/`minFracDen` of their aligned patch signatures
    * ([[samplePatches]]) coincide. Tolerant of localized edits (a
    * changed region kills only its own patches — the property pixel
    * hashes lack) while exact on position: the candidate key is
    * (pr, pc, sig), so a shifted copy is NOT matched (that's the
    * embedding path's job).
    *
    * Same 100 TB discipline as DedupOps' shingle index: pairs generate
    * only through a shared (position, signature) posting with hub
    * postings (> `maxDf` payloads — letterbox bars, flat color blocks)
    * excluded first, so candidate work is bounded by posting-list
    * sizes, never payloads². The accept test multiplies integers
    * (`den·shared ≥ num·max(n_a, n_b)`) — no float boundary; the
    * reported fraction is display-only. Patch universes are the
    * sub-maxDf postings on BOTH sides of the ratio (numerator and
    * denominator count the same thing). */
  def nearDupImages(images: DataFrame, idCol: String, payloadCol: String,
                    width: Int, patch: Int, maxDf: Int = 20,
                    minFracNum: Int = 4, minFracDen: Int = 5): DataFrame = {
    val sigs = samplePatches(
        images.select(col(idCol).as("doc_id"), col(payloadCol)),
        payloadCol, width, patch)
      .select(col("doc_id"), col("pr"), col("pc"), col("patch_sig"))
    val keyed = sigs.join(
      sigs.groupBy("pr", "pc", "patch_sig").agg(count(lit(1)).as("sdf"))
        .filter(col("sdf") <= maxDf).select("pr", "pc", "patch_sig"),
      Seq("pr", "pc", "patch_sig"))
    val counts = keyed.groupBy("doc_id").agg(count(lit(1)).as("n_patches"))
    val pairs = keyed.as("a").join(keyed.as("b"),
        col("a.pr") === col("b.pr") && col("a.pc") === col("b.pc") &&
          col("a.patch_sig") === col("b.patch_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(counts.select(col("doc_id").as("doc_a"),
        col("n_patches").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"),
        col("n_patches").as("n_b")), "doc_b")
      .filter(col("n_shared") * minFracDen >=
        greatest(col("n_a"), col("n_b")) * minFracNum)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        round(col("n_shared").cast("double") /
          greatest(col("n_a"), col("n_b")).cast("double"), 6)
          .as("overlap_frac"))
  }

  /** Landmark audio fingerprint (the Shazam constellation recipe over
    * the [[frameEnergy]] series): LOCAL MAXIMA of the frame-energy
    * curve are the robust anchor points, consecutive peak PAIRS within
    * `maxGap` frames become landmarks, and each landmark hashes its
    * (gap, quantized-energy, quantized-energy) triple — translation-
    * invariant (offsets enter only as gaps) and level-tolerant (the
    * `quantBits` right-shift). Per medium: peak/landmark counts and an
    * order-independent XOR fold of the landmark hashes as the compact
    * fingerprint — equal fingerprints are the near-dup candidate
    * signal; the landmark multiset is what a retrieval index would
    * post. All arithmetic exact integer; one partitioned window pass
    * over frame STATS (the pixels/samples never shuffle). Emits only
    * media with ≥ 1 landmark. */
  /** 64-bit average-hash (aHash) perceptual signature: the pixel
    * sequence splits into 64 integer-boundary blocks
    * (start_b = b·len div 64) and bit b is set iff the block's mean
    * gray exceeds the global mean — compared as the EXACT integer
    * cross-multiply s_b·len > S·c_b, so the signature never touches a
    * float (sound up to ~10⁷-pixel docs: s_b·len ≤ 65535·len²). Pure
    * map, zero exchanges. Returns (id, n_pix, phash); empty payloads
    * are dropped. Gates `mm_phash`; `mm_phash_neardup` buckets these
    * signatures by 16-bit bands for the hamming near-dup join.
    *
    * Parity contract (BMP-only, the rollingFingerprint caveat): the
    * "pixel" stream is Spark `split('') + ascii` — UTF-16 code units
    * with `ascii`'s first-code-point value — while the oracle reads
    * DuckDB `unicode()` codepoints, with `length()` (codepoints, NOT
    * `strlen` bytes) as the pixel count so `len` agrees too. The two
    * agree exactly on Basic Multilingual Plane text (every fixture
    * column here); a supplementary-plane character would split into
    * two surrogate units on the Spark side only. Real image bytes
    * (the production input) are unaffected — they enter as unsigned
    * byte values. */
  def avgHash64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one codegen fold per doc (graft.plans.AHash64) — bit-identical to
    // the r13 HOF aggregate chain (Round15Spec pins it) at ~1/17 the
    // per-byte cost: no per-char array ever materializes
    docs
      .select(col(idCol), col(textCol).as("__t"))
      .filter(length(col("__t")) > 0)
      .withColumn("h", expr("ahash64(__t)"))
      .select(col(idCol), col("h.n_pix").as("n_pix"),
        col("h.phash").as("phash"))
  }

  /** Banded hamming near-dup join over [[avgHash64]] signatures: the
    * 64-bit hash splits into four 16-bit bands; a pair is a candidate
    * iff SOME band matches exactly (the pigeonhole guarantee: hamming
    * ≤ 12 over 4 bands forces at least one untouched band... strictly,
    * distance < 4 forces it — wider thresholds trade recall, the
    * standard banded-hamming deal, stated), then candidates verify by
    * exact popcount. Pairs only ever form inside a (band, value)
    * bucket — never all-pairs. Returns (id_a, id_b, hamming) with
    * id_a < id_b. */
  def phashNearDup(hashes: DataFrame, idCol: String,
                   maxHamming: Int): DataFrame = {
    // BOTH sides of the band self-join read the signature relation —
    // materialize it once (three 8-byte columns per doc) instead of
    // re-running the per-char hash fold for each side (measured 17.8 s
    // vs 3.6 s at sf0.01 when the upstream is the raw aHash chain);
    // lazy: the broadcast build job materializes it before the stream
    // side reads (sequential consumers, the r13 checkpoint law)
    val h = hashes.localCheckpoint(false)
    val banded = h.select(col(idCol).as("id"), col("phash"),
        explode(expr(
          """transform(sequence(0, 3), b -> named_struct(
            | 'band', b,
            | 'bv', shiftright(phash, b * 16) & 65535L))""".stripMargin))
          .as("bb"))
      .select(col("id"), col("phash"), col("bb.band").as("band"),
        col("bb.bv").as("bv"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.phash").as("pa"), col("y.phash").as("pb"))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(pa ^ pb)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The constellation chain shared by [[audioFingerprint]] and
    * [[audioSimhash]]: energy-curve local maxima → (gap, q-energy,
    * q-energy) landmark hashes. Returns (peaks, landmarks-with-h). */
  private def landmarkHashes(docs: DataFrame, idCol: String,
                             binCol: String, frameSize: Int, stride: Int,
                             quantBits: Int, maxGap: Int)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("frame_idx")
    val peaks = frameEnergy(docs.select(col(idCol), col(binCol)),
        binCol, frameSize, stride)
      .withColumn("pe", lag(col("energy"), 1).over(w))
      .withColumn("ne", lead(col("energy"), 1).over(w))
      .filter(col("pe").isNotNull && col("ne").isNotNull &&
        col("energy") > col("pe") && col("energy") > col("ne"))
      .select(col(idCol), col("frame_idx"), col("energy"))
    val lm = peaks
      .withColumn("nf", lead(col("frame_idx"), 1).over(w))
      .withColumn("nen", lead(col("energy"), 1).over(w))
      .filter(col("nf").isNotNull &&
        col("nf") - col("frame_idx") <= maxGap)
      .withColumn("h", call_function("fnv64", concat(
        (col("nf") - col("frame_idx")).cast("string"), lit("|"),
        expr(s"energy div ${1L << quantBits}").cast("string"), lit("|"),
        expr(s"nen div ${1L << quantBits}").cast("string"))))
    (peaks, lm)
  }

  def audioFingerprint(docs: DataFrame, idCol: String, binCol: String,
                       frameSize: Int, stride: Int,
                       quantBits: Int = 10, maxGap: Int = 8): DataFrame = {
    val (peaks, lm) = landmarkHashes(docs, idCol, binCol, frameSize,
      stride, quantBits, maxGap)
    lm.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_landmarks"), expr("bit_xor(h)").as("fp"))
      .join(peaks.groupBy(col(idCol)).agg(count(lit(1)).as("n_peaks")),
        Seq(idCol))
      .select(col(idCol), col("n_peaks"), col("n_landmarks"), col("fp"))
  }

  /** Hamming-ROBUST constellation signature: SimHash over the landmark
    * hash set — bit b of the 64-bit signature is the majority vote of
    * the landmarks' bit b (strict: ties fall to 0). Two clips sharing
    * most landmarks (an overlapping region aligned to the frame
    * stride — translation cancels because landmark keys carry only
    * gaps and quantized energies, never absolute offsets) land within
    * a few hamming bits of each other, which is what a banded-hamming
    * join can bucket; [[audioFingerprint]]'s XOR fold is an exact-set
    * check only (one differing landmark re-randomizes half the bits).
    * Output is (id, n_landmarks, phash) — the signature column is
    * named `phash` so [[phashNearDup]]'s banded join consumes it
    * unchanged (the deliberate modality symmetry).
    *
    * Scale shape: one groupBy on the medium id with 64 bit-count
    * partial aggregates (map-side combine, no explode, no vector
    * state); the vote compare and bit fold are pure projections. */
  def audioSimhash(docs: DataFrame, idCol: String, binCol: String,
                   frameSize: Int, stride: Int,
                   quantBits: Int = 10, maxGap: Int = 8): DataFrame = {
    val (_, lm) = landmarkHashes(docs, idCol, binCol, frameSize,
      stride, quantBits, maxGap)
    val bitSums = (0 until 64).map(b =>
      sum(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L))).as(s"c$b"))
    val aggs = count(lit(1)).as("n_landmarks") +: bitSums
    val counted = lm.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val sig = (0 until 64).map(b =>
        when(col(s"c$b") * 2 > col("n_landmarks"), lit(1L << b))
          .otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    counted.select(col(idCol), col("n_landmarks"), sig.as("phash"))
  }
}
