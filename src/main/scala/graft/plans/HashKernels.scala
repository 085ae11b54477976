package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Hashing

/** Static kernels for the signature tier of the dedup/similarity family
  * (MinHash, SimHash, hyperplane sign-bits, seeded/rolling hashes) and
  * the pageview decode. These sit on the
  * per-document scan paths that dominate a corpus pass, so like the text
  * kernels they run as generated-Java calls on `UTF8String`/`ArrayData` —
  * no UDF boxing, whole-stage codegen intact.
  *
  * All hashes stay byte-identical to [[graft.functions.Hashing]] (the
  * oracle-replicable definitions); where profitable the kernels fold
  * UTF-8 bytes directly (FNV over token bytes + separator) instead of
  * materializing shingle Strings — same value as
  * `Hashing.fnv1a(tokens.mkString(" "))` by construction.
  */
object HashKernels {

  /** FNV-1a over the raw UTF-8 bytes of a UTF8String — same result as
    * `Hashing.fnv1a` on the equivalent String, without materializing it.
    * The `fnv64` kernel: the seed hash of the dedup/LSH family. */
  def fnv1aUtf8(s: UTF8String): Long = {
    var h = graft.functions.Hashing.FnvOffset
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= graft.functions.Hashing.FnvPrime
      i += 1
    }
    h
  }

  /** FNV-1a folded over `toks[start .. start+k)` joined by a single
    * space — equals `Hashing.fnv1a(mkString(" "))` without building the
    * String (separator byte 0x20 folded between tokens). */
  private def fnvShingle(toks: Array[UTF8String], start: Int, k: Int): Long = {
    var h = Hashing.FnvOffset
    var t = start
    while (t < start + k) {
      val bytes = toks(t).getBytes
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xffL); h *= Hashing.FnvPrime; i += 1
      }
      if (t < start + k - 1) { h ^= 0x20L; h *= Hashing.FnvPrime }
      t += 1
    }
    h
  }

  private def utf8Tokens(a: ArrayData): Array[UTF8String] = {
    val n = a.numElements()
    val out = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      out(i) = if (a.isNullAt(i)) UTF8String.EMPTY_UTF8 else a.getUTF8String(i)
      i += 1
    }
    out
  }

  /** FNV-1a hash of every k-token shingle — value-identical to
    * `transform(shingleStrings(toks, k), x -> fnv64(x))` (the separator
    * byte 0x20 folds between tokens, so each hash equals
    * `Hashing.fnv1a(window.mkString(" "))`) WITHOUT materializing the
    * shingle Strings: the interpreted HOF chain (slice + array_join per
    * window) measured ~2 s over sf0.1's documents, this kernel is a
    * tight byte fold in generated Java. Fewer than k tokens → empty
    * array (every caller pre-filters `size(toks) >= k`; note
    * shingleStrings itself must NOT be called unguarded there because
    * Spark's `sequence(0, n-k)` DESCENDS for n < k). */
  def shingleHashesData(a: ArrayData, k: Int): ArrayData = {
    if (a == null) return new GenericArrayData(Array.emptyLongArray)
    val toks = utf8Tokens(a)
    val n = toks.length
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var s = 0
    while (s <= n - k) { out(s) = fnvShingle(toks, s, k); s += 1 }
    new GenericArrayData(out)
  }

  /** MinHash signature over word k-shingles — same shingle semantics as
    * `Hashing.shingles` (empty → all-MaxValue signature; shorter than k
    * → one whole-list shingle) and same seeded family as
    * `Hashing.minHash`. */
  def minHashData(a: ArrayData, k: Int, num: Int): ArrayData = {
    val sig = Array.fill(num)(Long.MaxValue)
    if (a != null && a.numElements() > 0) {
      val toks = utf8Tokens(a)
      val n = toks.length
      val (shingleCount, width) =
        if (n < k) (1, n) else (n - k + 1, k)
      var s = 0
      while (s < shingleCount) {
        val base = fnvShingle(toks, s, width)
        var i = 0
        while (i < num) {
          val h = Hashing.mix(base ^ Hashing.mix(i.toLong))
          if (h < sig(i)) sig(i) = h
          i += 1
        }
        s += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash over the token multiset — bit-identical to
    * `Hashing.simHash`. */
  def simHashData(a: ArrayData): Long = {
    val acc = new Array[Int](64)
    if (a != null) {
      val n = a.numElements()
      var i = 0
      while (i < n) {
        val h =
          if (a.isNullAt(i)) Hashing.fnv1a("")
          else fnv1aUtf8(a.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
        i += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Hyperplane sign-bit signature of an embedding (float or double
    * array) — mirrors `SimilarityOps.signBits` including the null → 0L
    * convention of its UDF wrapper. */
  def signBitsData(a: ArrayData, planes: Int, isFloat: Boolean): Long = {
    if (a == null) return 0L
    val dims = a.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var d = 0
      while (d < dims) {
        val x = if (isFloat) a.getFloat(d).toDouble else a.getDouble(d)
        dot += x * graft.operators.SimilarityOps.planeWeight(p, d, dims)
        d += 1
      }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Per-band FNV fold of a MinHash signature — bit-identical to the
    * former band UDF: h ^= sig(i); h *= FnvPrime over each band's rows,
    * band id folded into the top byte. */
  def bandBucketsData(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val out = new Array[Long](bands)
    val n = if (sig == null) 0 else sig.numElements()
    var b = 0
    while (b < bands) {
      var h = Hashing.FnvOffset
      var i = b * rows
      while (i < (b + 1) * rows && i < n) {
        h ^= sig.getLong(i); h *= Hashing.FnvPrime; i += 1
      }
      out(b) = (b.toLong << 56) ^ (h >>> 8)
      b += 1
    }
    new GenericArrayData(out)
  }

  def seededData(s: UTF8String, seed: Int): Long =
    Hashing.mix(fnv1aUtf8(s) ^ Hashing.mix(seed.toLong))

  /** |A ∩ B| of two ASCENDING-sorted long arrays by a two-pointer merge
    * (equal runs count once, so the result is SET intersection size even
    * if a side carries duplicates). Allocation-free — `array_intersect`
    * builds a hash set per invocation, which dominated the prefix-join
    * verification at ~13 µs/pair; the merge reads the UnsafeArrayData
    * words in place. Precondition: sorted ascending, no null elements
    * (both guaranteed by the sort_array(collect_list(fnv64)) producers). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        c += 1
        while (i < n && a.getLong(i) == x) i += 1
        while (j < m && b.getLong(j) == x) j += 1
      }
    }
    c
  }

  /** Base-31 rolling hash over UTF-16 code units — identical to
    * `Hashing.rollingHash` on the equivalent String. */
  def rollingData(s: UTF8String): Long = Hashing.rollingHash(s.toString)

  def langIdData(s: UTF8String): UTF8String =
    UTF8String.fromString(
      graft.functions.TextFunctions.langId(if (s == null) null else s.toString))

  /** pagecounts-ez decode (F18) — null/absent input decodes to a zeroed
    * day vector, matching `EzFunctions.decodeEz`. */
  def decodeEzData(s: UTF8String, days: Int): ArrayData =
    new GenericArrayData(
      graft.EzFunctions.decodeEz(if (s == null) null else s.toString, days))

  def normalizeTitleData(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.functions.TextFunctions.normalizeTitle(s.toString))

  def freebaseEncodeData(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.functions.TextFunctions.freebaseEncode(s.toString))

  def cutLastData(s: UTF8String, n: Int): UTF8String =
    UTF8String.fromString(
      graft.functions.TextFunctions.cutLast(if (s == null) null else s.toString, n))

  def extractDomainData(s: UTF8String): UTF8String = {
    val r = graft.functions.TextFunctions.extractDomain(s.toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  private val EmptyFrames = new GenericArrayData(Array.empty[Any])

  /** 2D patch-grid signatures of a binary payload interpreted as a
    * row-major byte matrix of `width` columns — the ViT-style patch
    * extraction kernel: patch (pr, pc) folds its `patch`×`patch` byte
    * block (base-31 over unsigned bytes, the frame/stub convention) in
    * row-major order. The final image row may be ragged (len % width);
    * missing bytes simply don't fold, and a corner patch with ZERO bytes
    * is not emitted (so the output matches "patches that contain data",
    * which the SQL replay can express as patch <> ''). */
  def patchSigsData(bytes: Array[Byte], width: Int, patch: Int): ArrayData = {
    if (bytes == null || bytes.length == 0) return EmptyFrames
    val w = math.max(1, width)
    val p = math.max(1, patch)
    val rows = (bytes.length + w - 1) / w
    val prN = (rows + p - 1) / p
    val pcN = (w + p - 1) / p
    val out = new Array[Any](prN * pcN)
    var k = 0
    var pr = 0
    while (pr < prN) {
      var pc = 0
      while (pc < pcN) {
        var h = 1125899906842597L
        var folded = false
        var r = pr * p
        val rEnd = math.min(rows, pr * p + p)
        while (r < rEnd) {
          var c = pc * p
          val cEnd = math.min(w, pc * p + p)
          while (c < cEnd) {
            val idx = r * w + c
            if (idx < bytes.length) { h = 31 * h + (bytes(idx) & 0xff); folded = true }
            c += 1
          }
          r += 1
        }
        if (folded) { out(k) = InternalRow(pr, pc, h); k += 1 }
        pc += 1
      }
      pr += 1
    }
    if (k == out.length) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], k))
  }

  /** 64-bit average-hash (aHash) of a string-as-grayscale payload —
    * the `mm_phash` chain as ONE codegen fold: the codepoint stream
    * splits into 64 integer-boundary linear blocks (block b spans
    * codepoints ⌊b·len/64⌋ until ⌊(b+1)·len/64⌋), bit b sets iff the
    * block's mean exceeds the global mean via the exact integer
    * cross-multiply `blocksum·len > total·blocksize` — bit-identical
    * to the HOF aggregate chain it replaces (Round15Spec pins it),
    * ~17× cheaper per byte (no per-char array materialization).
    * Returns (n_pix, phash); empty/null input → (0, 0) (callers
    * filter empties, matching the HOF chain's length>0 guard).
    * Same BMP parity contract as [[blockMeansData]]. */
  def aHash64Data(s: UTF8String): InternalRow = {
    if (s == null) return InternalRow(0L, 0L)
    val bytes = s.getBytes
    if (bytes.length == 0) return InternalRow(0L, 0L)
    val len = s.numChars().toLong
    val bsum = new Array[Long](64)
    var stot = 0L
    var bi = 0
    var i = 0L
    while (bi < bytes.length) {
      val b0 = bytes(bi) & 0xff
      var cp = 0
      // malformed-input guards (defensive, matching the other kernels):
      // an unexpected continuation lead (0x80-0xBF) or a sequence
      // truncated at the buffer end decodes as a single byte instead of
      // reading past `bytes` — unreachable from a valid UTF8String, but
      // the kernel must not be one bad cast away from a task-killing
      // ArrayIndexOutOfBoundsException (r15 advice)
      if (b0 < 0x80 || (b0 & 0xc0) == 0x80) { cp = b0; bi += 1 }
      else if ((b0 & 0xe0) == 0xc0) {
        if (bi + 2 > bytes.length) { cp = b0; bi += 1 }
        else { cp = ((b0 & 0x1f) << 6) | (bytes(bi + 1) & 0x3f); bi += 2 }
      } else if ((b0 & 0xf0) == 0xe0) {
        if (bi + 3 > bytes.length) { cp = b0; bi += 1 }
        else {
          cp = ((b0 & 0x0f) << 12) | ((bytes(bi + 1) & 0x3f) << 6) |
            (bytes(bi + 2) & 0x3f)
          bi += 3
        }
      } else {
        if (bi + 4 > bytes.length) { cp = b0; bi += 1 }
        else {
          cp = ((b0 & 0x07) << 18) | ((bytes(bi + 1) & 0x3f) << 12) |
            ((bytes(bi + 2) & 0x3f) << 6) | (bytes(bi + 3) & 0x3f)
          bi += 4
        }
      }
      // block of codepoint i under boundaries ⌊b·len/64⌋:
      // b = ((i+1)·64 − 1) div len (the standard partition inverse).
      // Clamped: on malformed input the single-byte fallback can decode
      // MORE codepoints than numChars() predicted, so i may pass len
      val blk = math.min(63, (((i + 1L) * 64L - 1L) / len).toInt)
      bsum(blk) += cp
      stot += cp
      i += 1L
    }
    var phash = 0L
    var b = 0
    while (b < 64) {
      val sz = ((b + 1L) * len / 64L) - (b.toLong * len / 64L)
      if (bsum(b) * len > stot * sz) phash |= (1L << b)
      b += 1
    }
    InternalRow(len, phash)
  }

  /** Block-mean RESIZE of a string-as-grayscale payload (the
    * `mm_resize` kernel): the codepoint stream reads as a row-major
    * `width`-column matrix, every pixel lands in the integer-boundary
    * `grid`×`grid` cell (pr = row·grid div rows — the avgHash64 block
    * convention; pc = (i mod width) div (width/grid)), and each
    * non-empty cell emits (pr, pc, n_pix, mean_gray) with the exact
    * integer mean (sum div count). One fold per document inside
    * whole-stage codegen — the pixels never leave the kernel, so what
    * reaches the downstream plan is ≤ grid² rows/doc instead of one
    * row per character (the r14 posexplode shape this replaces).
    * Same BMP parity contract as [[graft.operators.MultimodalOps
    * .avgHash64]]: codepoints here = Spark `split('')+ascii` = DuckDB
    * `unicode()` on BMP text; real image bytes are unaffected. */
  def blockMeansData(s: UTF8String, width: Int, grid: Int): ArrayData = {
    if (s == null) return EmptyFrames
    val bytes = s.getBytes
    if (bytes.length == 0) return EmptyFrames
    val w = math.max(1, width)
    val g = math.max(1, grid)
    val colDiv = math.max(1, w / g)
    val len = s.numChars().toLong
    val rowsImg = (len + w - 1) / w
    val cells = g * g
    val cnt = new Array[Long](cells)
    val sum = new Array[Long](cells)
    var bi = 0
    var i = 0L
    while (bi < bytes.length) {
      val b0 = bytes(bi) & 0xff
      var cp = 0
      // malformed-input guards (defensive, matching the other kernels):
      // an unexpected continuation lead (0x80-0xBF) or a sequence
      // truncated at the buffer end decodes as a single byte instead of
      // reading past `bytes` — unreachable from a valid UTF8String, but
      // the kernel must not be one bad cast away from a task-killing
      // ArrayIndexOutOfBoundsException (r15 advice)
      if (b0 < 0x80 || (b0 & 0xc0) == 0x80) { cp = b0; bi += 1 }
      else if ((b0 & 0xe0) == 0xc0) {
        if (bi + 2 > bytes.length) { cp = b0; bi += 1 }
        else { cp = ((b0 & 0x1f) << 6) | (bytes(bi + 1) & 0x3f); bi += 2 }
      } else if ((b0 & 0xf0) == 0xe0) {
        if (bi + 3 > bytes.length) { cp = b0; bi += 1 }
        else {
          cp = ((b0 & 0x0f) << 12) | ((bytes(bi + 1) & 0x3f) << 6) |
            (bytes(bi + 2) & 0x3f)
          bi += 3
        }
      } else {
        if (bi + 4 > bytes.length) { cp = b0; bi += 1 }
        else {
          cp = ((b0 & 0x07) << 18) | ((bytes(bi + 1) & 0x3f) << 12) |
            ((bytes(bi + 2) & 0x3f) << 6) | (bytes(bi + 3) & 0x3f)
          bi += 4
        }
      }
      // pr clamped like pc: on malformed input the single-byte fallback
      // can decode more codepoints than numChars() predicted (i > len)
      val pr = math.min(g - 1, ((i / w) * g / rowsImg).toInt)
      val pc = math.min(g - 1, ((i % w) / colDiv).toInt)
      val k = pr * g + pc
      cnt(k) += 1L
      sum(k) += cp
      i += 1L
    }
    val out = new Array[Any](cells)
    var k = 0
    var c = 0
    while (c < cells) {
      if (cnt(c) > 0L) {
        out(k) = InternalRow((c / g).toLong, (c % g).toLong, cnt(c),
          sum(c) / cnt(c))
        k += 1
      }
      c += 1
    }
    if (k == out.length) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], k))
  }

  /** Per-frame energy stats of a binary payload — the audio
    * feature-extraction / silence-detection (VAD) plumbing: the same
    * chunk geometry as [[frameSigsData]], but each sampled frame emits
    * its exact integer energy (sum of squared unsigned bytes) and peak
    * byte value instead of a content signature. Energy of a 2^31-byte
    * frame still fits a long (255² · 2^31 < 2^48). */
  def frameEnergyData(bytes: Array[Byte], frameSize: Int,
                      stride: Int): ArrayData = {
    if (bytes == null || bytes.length == 0) return EmptyFrames
    val n = math.max(1, frameSize * stride)
    val frames = new Array[Any]((bytes.length + n - 1) / n)
    var f = 0
    var off = 0
    while (off < bytes.length) {
      var e = 0L
      var p = 0
      var i = off
      val end = math.min(bytes.length, off + frameSize)
      while (i < end) {
        val b = bytes(i) & 0xff
        e += b.toLong * b
        if (b > p) p = b
        i += 1
      }
      frames(f) = InternalRow(off / n, e, p)
      f += 1
      off += n
    }
    new GenericArrayData(frames)
  }

  /** Stereo (interleaved 2-channel) sibling of [[frameEnergyData]]:
    * the same frame geometry (frames start at off = k·frameSize·stride
    * and read `frameSize` bytes), but bytes deinterleave inside the
    * frame — even in-frame positions are channel L, odd are channel R
    * (the PCM interleave convention). Each sampled frame emits exact
    * integer per-channel energy (Σ b²) and peak plus the inter-channel
    * cross-sum Σ l·r over complete pairs — the correlation numerator a
    * stereo-width / mono-compatibility gate thresholds (all addends
    * non-negative: 255²·2³¹ < 2⁴⁸ holds per channel and for the
    * cross-sum alike). null/empty payload → empty array. */
  def frameEnergyStereoData(bytes: Array[Byte], frameSize: Int,
                            stride: Int): ArrayData = {
    if (bytes == null || bytes.length == 0) return EmptyFrames
    val n = math.max(1, frameSize * stride)
    val frames = new Array[Any]((bytes.length + n - 1) / n)
    var f = 0
    var off = 0
    while (off < bytes.length) {
      var el = 0L
      var er = 0L
      var pl = 0
      var pr = 0
      var xs = 0L
      var i = off
      val end = math.min(bytes.length, off + frameSize)
      while (i < end) {
        val l = bytes(i) & 0xff
        el += l.toLong * l
        if (l > pl) pl = l
        if (i + 1 < end) {
          val r = bytes(i + 1) & 0xff
          er += r.toLong * r
          if (r > pr) pr = r
          xs += l.toLong * r
        }
        i += 2
      }
      frames(f) = InternalRow(off / n, el, er, pl, pr, xs)
      f += 1
      off += n
    }
    new GenericArrayData(frames)
  }

  /** Per-chunk signatures of a binary payload — the frame-sampling
    * kernel: every `stride`th `frameSize`-byte chunk gets a base-31
    * fold over *unsigned* bytes (same convention as the media stub
    * decode). null/empty input → empty array (no frames). */
  def frameSigsData(bytes: Array[Byte], frameSize: Int, stride: Int): ArrayData = {
    if (bytes == null || bytes.length == 0) return EmptyFrames
    val n = math.max(1, frameSize * stride)
    val frames = new Array[Any]((bytes.length + n - 1) / n)
    var f = 0
    var off = 0
    while (off < bytes.length) {
      var h = 1125899906842597L
      var i = off
      val end = math.min(bytes.length, off + frameSize)
      while (i < end) { h = 31 * h + (bytes(i) & 0xff); i += 1 }
      frames(f) = InternalRow(off / n, h)
      f += 1
      off += n
    }
    new GenericArrayData(frames)
  }
}
