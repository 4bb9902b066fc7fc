package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

/** Static numeric kernels called from both interpreted (`nullSafeEval`)
  * and generated (`doGenCode`) paths of the custom expressions. Keeping
  * the loop in one JIT-friendly static method means the generated code
  * is a single call — it stays inside WholeStageCodegen and the JVM
  * inlines/vectorizes the loop.
  */
object VectorOps {

  /** Cosine similarity of two float vectors, accumulated in double.
    * Returns 0.0 when either norm is zero (stable for padded/zero
    * embeddings rather than NaN). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine over double arrays (Lloyd centroids are means, hence
    * doubles — [[cosine]] reads floats). Each accumulator sums
    * left-to-right like the oracle's `list_dot_product`, and
    * dot/(sqrt(na)*sqrt(nb)) matches its formula term-for-term, so
    * k-means assignments are bit-identical cross-engine.
    *
    * Zero-norm guard matches [[cosine]] (0.0, not NaN) so the two
    * kernels agree on degenerate input. The oracle SQL deliberately
    * omits the guard: the corpus holds no zero vectors (and a Lloyd
    * centroid — a mean of unit-scale vectors — can't be all-zero),
    * so the branch never fires on oracle-checked data. */
  def cosineD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Dot product in double precision (left-to-right accumulation —
    * the same order the oracle's list_dot_product uses, so results
    * are bit-identical). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** [[dot]] over double arrays — the sign-random-projection hot loop
    * (embedding · hyperplane). Accumulates left-to-right like the
    * `aggregate(zip_with(...))` HOF formulation it replaces (and the
    * oracle's `list_sum(list_transform(...))`), so bucket signatures
    * are bit-identical while running as one codegen'd call instead of
    * ~3 interpreted lambdas per element. */
  def dotD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Deterministic pseudo-random hyperplane coefficient for
    * (plane, dim): in [-0.5, 0.5), pure integer arithmetic so the
    * bucketing is reproducible on any node (nothing ships from the
    * driver) and the DuckDB oracle can re-derive it as a SQL literal
    * formula (SparkEntry.annBitSql). */
  def planeCoef(p: Int, d: Int): Double =
    (((p * 73856093L + d * 19349663L) % 1009L).toDouble / 1009.0) - 0.5

  /** ALL sign-random-projection band signatures of a float vector in
    * ONE pass — the array-local replacement for 48 separate
    * `dot_d(cast(embedding), <64-literal plane array>)` projections
    * (each of which re-cast the vector and walked a materialized
    * plane array; the fan-out dominated the embedding near-dup bench).
    * Band `g` of `bands` concatenates the sign bits of `planes`
    * projections onto planes with global index g*planes+j.
    *
    * Bit-identical to the declarative formulation (and the DuckDB
    * oracle's `list_sum(list_transform(...))` mirror): each dot
    * accumulates emb[d]*coef(p,d) left-to-right in double over the
    * float-widened vector, and [[planeCoef]] is exact integer
    * arithmetic, so every sign — hence every bucket string — matches.
    */
  def srpBandSigs(emb: ArrayData, bands: Int, planes: Int): ArrayData = {
    val n = emb.numElements()
    val out = new Array[Any](bands)
    var g = 0
    while (g < bands) {
      val chars = new Array[Char](planes)
      var j = 0
      while (j < planes) {
        val p = g * planes + j
        var s = 0.0
        var d = 0
        while (d < n) { s += emb.getFloat(d).toDouble * planeCoef(p, d); d += 1 }
        chars(j) = if (s >= 0.0) '1' else '0'
        j += 1
      }
      out(g) = UTF8String.fromString(new String(chars))
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexDigits = "0123456789abcdef".toCharArray
  private val lshSalts: Array[Array[Byte]] =
    Array("0|", "1|", "2|", "3|").map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** All four MinHash-LSH band signatures of a document in ONE pass —
    * the array-local replacement for the explode-shingles →
    * md5-project → groupBy-min pipeline (which shuffled ~len(text)
    * rows per doc into a partial aggregation; this keeps 16 ints of
    * state per doc and shuffles nothing).
    *
    * Bit-identical to the declarative formulation (and therefore to
    * the DuckDB oracle): for each 8-char shingle (character-based,
    * like Spark's `substring`/DuckDB's `substr`), the four salted
    * md5s "0|"+sh … "3|"+sh are taken; each 128-bit digest is split
    * into four 32-bit chunks (= 8-hex substrings, where unsigned int
    * order == lexicographic hex order); the 16 running minima are the
    * MinHash signature; band b's signature is
    * md5(mh[4b] || "|" || … || mh[4b+3]) in lowercase hex. Duplicate
    * shingles can't change a minimum, so the explicit distinct is
    * unnecessary. Constants mirror graft.operators.Dedup:
    * ShingleK=8, NumHashes=16, NumBands=4, NumSalts=4.
    *
    * The salted shingle digests run on [[Md5Lanes]] (RFC 1321): a
    * salt plus at most 32 bytes (8 chars of at most 4 UTF-8 bytes) is
    * one MD5 block, so 64 shingles at a time become 256 independent
    * lanes. Each MD5 step is one loop over the lanes, which the JIT
    * compiles to SIMD code, instead of one serial `MessageDigest` chain
    * per digest. The steps are split into one method per MD5 round so
    * that no method nears HotSpot's 8,000-byte `HugeMethodLimit`, past
    * which a method is never JIT-compiled (KernelShapeSpec pins it).
    * The four band digests stay on `MessageDigest`. */
  def lshBandSigs(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val nChars = text.numChars()
    val offs = charOffsets(bytes, nChars)
    val numSh = math.max(1, nChars - 7)
    val lanes = new Md5Lanes(lshSalts, math.min(numSh, Md5Lanes.MaxBatch))
    val minima = new Array[Int](16)
    java.util.Arrays.fill(minima, -1) // unsigned max
    var sh = 0
    while (sh < numSh) {
      val from = offs(sh)
      lanes.add(bytes, from, offs(math.min(sh + 8, nChars)) - from)
      sh += 1
      if (lanes.isFull || sh == numSh) {
        lanes.run()
        // Lane 4m + a holds salt a's digest of the batch's m-th shingle.
        var l = 0
        while (l < lanes.queued) {
          val j = (l & 3) << 2
          var ci = 0
          while (ci < 4) {
            val v = lanes.word(l, ci)
            if (java.lang.Integer.compareUnsigned(v, minima(j + ci)) < 0) minima(j + ci) = v
            ci += 1
          }
          l += 1
        }
        lanes.clear()
      }
    }
    val md = md5Local.get()
    val out = new Array[Any](4)
    val sb = new java.lang.StringBuilder(35)
    var b = 0
    while (b < 4) {
      sb.setLength(0)
      var r = 0
      while (r < 4) {
        if (r > 0) sb.append('|')
        val v = minima(b * 4 + r)
        var k = 28
        while (k >= 0) { sb.append(hexDigits((v >>> k) & 0xf)); k -= 4 }
        r += 1
      }
      md.reset()
      val sig = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out(b) = UTF8String.fromString(toHex(sig))
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-character UTF-8 byte offsets (offs(i) = byte start of char
    * i, offs(nChars) = total bytes) — the shared walk that keeps the
    * shingle kernels' character semantics identical to Spark's
    * `substring` / DuckDB's `substr`. */
  private def charOffsets(bytes: Array[Byte], nChars: Int): Array[Int] = {
    val offs = new Array[Int](nChars + 1)
    var i = 0
    var c = 0
    while (i < bytes.length) {
      offs(c) = i; c += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs(nChars) = bytes.length
    offs
  }

  /** Trigram repetition stats of an (already lowercased) document in
    * one array-local pass: (total trigram count, count of the most
    * repeated trigram). Replaces explode + two keyed aggregations —
    * per-doc state is one hash map of trigram counts, never a
    * shuffled row per trigram. Mirrors the declarative
    * count-per-(doc, trigram) → sum/max formulation exactly. */
  def repetitionStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val nChars = text.numChars()
    val offs = charOffsets(bytes, nChars)
    val numTri = math.max(1, nChars - 2)
    val counts = new java.util.HashMap[UTF8String, Int](numTri * 2)
    var i = 0
    var maxC = 0
    while (i < numTri) {
      val from = offs(i)
      val to = offs(math.min(i + 3, nChars))
      val tri = UTF8String.fromBytes(bytes, from, to - from)
      val c = counts.merge(tri, 1, (a, b) => a + b)
      if (c > maxC) maxC = c
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](numTri.toLong, maxC.toLong))
  }

  /** Min and max md5 over the rolling 8-shingle window of an
    * (already lowercased) document, one pass: replaces two
    * `transform(..., md5)` arrays that CollapseProject would compute
    * independently for fp_min and fp_max. Digest byte order ==
    * lexicographic hex order, so comparisons run on raw digests and
    * only the two winners are hex-formatted. */
  def fpMinMax(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val nChars = text.numChars()
    val offs = charOffsets(bytes, nChars)
    val numSh = math.max(1, nChars - 7)
    val md = md5Local.get()
    var minD: Array[Byte] = null
    var maxD: Array[Byte] = null
    var i = 0
    while (i < numSh) {
      md.reset()
      md.update(bytes, offs(i), offs(math.min(i + 8, nChars)) - offs(i))
      val d = md.digest()
      if (minD == null || unsignedCompare(d, minD) < 0) minD = d
      if (maxD == null || unsignedCompare(d, maxD) > 0) maxD = d
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(toHex(minD)), UTF8String.fromString(toHex(maxD))))
  }

  private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  private def toHex(d: Array[Byte]): String = {
    val hex = new Array[Char](32)
    var t = 0
    while (t < 16) {
      hex(t * 2) = hexDigits((d(t) >> 4) & 0xf)
      hex(t * 2 + 1) = hexDigits(d(t) & 0xf)
      t += 1
    }
    new String(hex)
  }

  /** 60-bit SimHash over a token array: each token's hash is the
    * first 15 hex digits of its md5 (= first 60 bits of the digest),
    * each bit votes +1/-1, the sign of each vote becomes the
    * signature bit. Single pass per document — and because the token
    * hash is md5-derived, the signature is bit-identical to the
    * portable SQL formulation (`CAST(concat('0x',
    * substr(md5(tok),1,15)) AS BIGINT)` bit votes), so the operator
    * stays oracle-checkable while running as one codegen'd call.
    *
    * Reference semantics: near-dup fingerprinting à la Charikar
    * (STOC'02 simhash), applied per document. */
  def simhash60(tokens: ArrayData): Long = {
    val votes = new Array[Int](60)
    val md = md5Local.get()
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      val s = tokens.get(t, org.apache.spark.sql.types.StringType)
        .asInstanceOf[UTF8String]
      md.reset()
      val d = md.digest(s.getBytes)
      // first 15 hex digits == first 8 bytes (big-endian) >>> 4
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      h = h >>> 4
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Apply BPE merges to one token, in rank order, one left-to-right
    * pass per merge (replace every adjacent (l, r) with l+r). This
    * reproduces the TRAINING segmentation state exactly: the state
    * after round k IS the state after k−1 with merge k applied, so
    * sequential application in rank order is the training evolution
    * by induction — no iterative lowest-rank re-scan needed.
    *
    * Initial symbols are Unicode CODEPOINTS (house rule: codepoint
    * indexing, matching Spark substring semantics) plus a terminal
    * "</w>" marker so merges can capture word endings (Sennrich et
    * al. 2016). `merges` is rank-ordered and flattened:
    * [l0, r0, l1, r1, …]. */
  def bpeSegment(token: UTF8String, merges: Array[String]): ArrayData = {
    val s = token.toString
    var syms = new java.util.ArrayList[String](s.length + 1)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val w = Character.charCount(cp)
      syms.add(s.substring(i, i + w))
      i += w
    }
    syms.add("</w>")
    var k = 0
    while (k * 2 + 1 < merges.length) {
      val l = merges(k * 2)
      val r = merges(k * 2 + 1)
      val out = new java.util.ArrayList[String](syms.size())
      var j = 0
      while (j < syms.size()) {
        if (j + 1 < syms.size() && syms.get(j) == l && syms.get(j + 1) == r) {
          out.add(l + r); j += 2
        } else { out.add(syms.get(j)); j += 1 }
      }
      syms = out
      k += 1
    }
    val arr = new Array[Any](syms.size())
    var t = 0
    while (t < syms.size()) { arr(t) = UTF8String.fromString(syms.get(t)); t += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** 10^i for the [[unscaledDecimal]] fast path: exact doubles up to
    * 10^22, exact longs up to 10^18. */
  private val pow10D: Array[Double] = Array.iterate(1.0, 19)(_ * 10.0)
  private val pow10L: Array[Long] = Array.iterate(1L, 19)(_ * 10L)
  private val TwoPow52 = 4503599627370496.0

  /** [[unscaledDecimal]]'s "no fast answer" marker. No DECIMAL(p≤18, s)
    * value has it as its unscaled long (those are below 10^18). */
  final val NoFastPath: Long = Long.MinValue

  /** The unscaled long of `CAST(x AS DECIMAL(precision, scale))`
    * (precision ≤ 18), or [[NoFastPath]] when the answer must come from
    * Spark's own cast. See [[UnscaledDecimal]] for why the fast answer is
    * exact. */
  def unscaledDecimal(x: Double, precision: Int, scale: Int): Long = {
    val y = Math.abs(x) * pow10D(scale)
    if (!(y < TwoPow52)) NoFastPath // also NaN and ±Inf
    else {
      val f = Math.floor(y)
      val frac = y - f // exact: y and floor(y) share y's ulp grid
      if (Math.abs(frac - 0.5) <= 2 * Math.ulp(y)) NoFastPath
      else {
        val r = if (frac > 0.5) f.toLong + 1 else f.toLong
        if (r >= pow10L(precision)) NoFastPath
        else if (x < 0) -r else r
      }
    }
  }

  /** Base of the [[DecimalSum]] buffer: the sum is hi·10^18 + lo with
    * |lo| < 10^18, so lo plus one DECIMAL(p≤18) value never overflows. */
  final val HiLoBase: Long = 1000000000000000000L
  private val hiLoBaseBig = java.math.BigInteger.valueOf(HiLoBase)

  /** The hi half of (hi, lo) + x: hi plus the carry out of lo + x. */
  def hiLoHi(hi: Long, lo: Long, x: Long): Long = {
    val t = lo + x
    if (t >= HiLoBase) hi + 1 else if (t <= -HiLoBase) hi - 1 else hi
  }

  /** The lo half of (hi, lo) + x: lo + x less its carry, so |lo| < 10^18. */
  def hiLoLo(lo: Long, x: Long): Long = {
    val t = lo + x
    if (t >= HiLoBase) t - HiLoBase else if (t <= -HiLoBase) t + HiLoBase else t
  }

  /** hi·10^18 + lo as a Decimal of `scale`, or null when the value
    * needs more than `precision` digits. */
  def hiLoDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal = {
    val v = java.math.BigInteger.valueOf(hi).multiply(hiLoBaseBig)
      .add(java.math.BigInteger.valueOf(lo))
    if (v.abs.compareTo(java.math.BigInteger.TEN.pow(precision)) >= 0) null
    else Decimal(new java.math.BigDecimal(v, scale), precision, scale)
  }
}
