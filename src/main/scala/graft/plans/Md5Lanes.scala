package graft.plans

/** MD5 (RFC 1321) of many one-block messages at once, as independent
  * lanes. [[add]] queues a message body and hashes it under four
  * salts: message m fills lanes 4m .. 4m+3, and lane 4m+k hashes
  * `salts(k) ++ body`. [[run]] hashes every queued lane.
  *
  * The steps are written as RFC 1321 writes them: `FF`/`GG`/`HH`/`II`
  * helpers with a literal shift and constant, one method per MD5
  * round. Each helper takes lane arrays where the RFC takes words and
  * applies its step to every lane in one loop. The lanes share no
  * data, so HotSpot's C2 compiles each loop to SIMD code (SuperWord)
  * and runs the steps of many messages side by side. `MessageDigest`
  * instead runs each digest as one serial chain of 64 dependent steps.
  * A batch holds `capacity` messages, at most [[Md5Lanes.MaxBatch]];
  * KernelShapeSpec keeps every method under HotSpot's 8,000-byte
  * `HugeMethodLimit`.
  *
  * Not thread-safe. */
final class Md5Lanes(salts: Array[Array[Byte]], capacity: Int) {
  import Md5Lanes._

  private val saltLen = salts(0).length
  require(salts.length == 4 && salts.forall(_.length == saltLen) && saltLen <= 4,
    "four salts of one length, at most 4 bytes")
  require(capacity >= 1 && capacity <= MaxBatch, s"1 to $MaxBatch messages per batch")
  /** Salt k's bytes as the low bytes of a little-endian word 0. */
  private val saltWord = new Array[Int](4)
  for (k <- 0 until 4; i <- 0 until saltLen) saltWord(k) |= (salts(k)(i) & 0xff) << (i << 3)

  private val size = 4 * capacity
  /** Chaining state A, B, C, D of every lane. */
  private val a, b, c, d = new Array[Int](size)
  /** Message word j of every lane: the padded block, little-endian. */
  private val x = Array.fill(16)(new Array[Int](size))
  private val block = new Array[Int](16)
  private var n = 0

  /** Number of queued lanes: four per [[add]] since the last [[clear]]. */
  def queued: Int = n

  def isFull: Boolean = n == size

  def clear(): Unit = n = 0

  /** Queues `body[from, from + len)` under the four salts. The salted
    * message must fit one MD5 block (at most 55 bytes). */
  def add(body: Array[Byte], from: Int, len: Int): Unit = {
    val m = saltLen + len
    if (m > 55)
      throw new IllegalArgumentException(s"salted message of $m bytes needs more than one MD5 block")
    if (isFull) throw new IllegalStateException(s"all $capacity messages are queued")
    java.util.Arrays.fill(block, 0)
    var j = 0
    while (j < len) {
      val p = saltLen + j
      block(p >> 2) |= (body(from + j) & 0xff) << ((p & 3) << 3)
      j += 1
    }
    block(m >> 2) |= 0x80 << ((m & 3) << 3)
    block(14) = m << 3
    j = 0
    while (j < 16) {
      java.util.Arrays.fill(x(j), n, n + 4, block(j))
      j += 1
    }
    var k = 0
    while (k < 4) { x(0)(n + k) |= saltWord(k); k += 1 }
    n += 4
  }

  /** Hashes every queued lane; [[word]] then reads the digests. */
  def run(): Unit = {
    java.util.Arrays.fill(a, 0, n, Iv(0))
    java.util.Arrays.fill(b, 0, n, Iv(1))
    java.util.Arrays.fill(c, 0, n, Iv(2))
    java.util.Arrays.fill(d, 0, n, Iv(3))
    round1(); round2(); round3(); round4()
  }

  /** Bytes 4i .. 4i+3 of `lane`'s digest as a big-endian int, so
    * unsigned int order is the order of the digest's hex text. */
  def word(lane: Int, i: Int): Int = {
    val s = i match { case 0 => a; case 1 => b; case 2 => c; case _ => d }
    Integer.reverseBytes(s(lane) + Iv(i))
  }

  private def FF(a: Array[Int], b: Array[Int], c: Array[Int], d: Array[Int],
      x: Array[Int], s: Int, ac: Int): Unit = {
    val n = this.n
    var i = 0
    while (i < n) {
      a(i) = Integer.rotateLeft(a(i) + ((b(i) & c(i)) | (~b(i) & d(i))) + x(i) + ac, s) + b(i)
      i += 1
    }
  }

  private def GG(a: Array[Int], b: Array[Int], c: Array[Int], d: Array[Int],
      x: Array[Int], s: Int, ac: Int): Unit = {
    val n = this.n
    var i = 0
    while (i < n) {
      a(i) = Integer.rotateLeft(a(i) + ((b(i) & d(i)) | (c(i) & ~d(i))) + x(i) + ac, s) + b(i)
      i += 1
    }
  }

  private def HH(a: Array[Int], b: Array[Int], c: Array[Int], d: Array[Int],
      x: Array[Int], s: Int, ac: Int): Unit = {
    val n = this.n
    var i = 0
    while (i < n) {
      a(i) = Integer.rotateLeft(a(i) + (b(i) ^ c(i) ^ d(i)) + x(i) + ac, s) + b(i)
      i += 1
    }
  }

  private def II(a: Array[Int], b: Array[Int], c: Array[Int], d: Array[Int],
      x: Array[Int], s: Int, ac: Int): Unit = {
    val n = this.n
    var i = 0
    while (i < n) {
      a(i) = Integer.rotateLeft(a(i) + (c(i) ^ (b(i) | ~d(i))) + x(i) + ac, s) + b(i)
      i += 1
    }
  }

  /** Round 1: F(b, c, d) = (b & c) | (~b & d), message words in order. */
  private def round1(): Unit = {
    FF(a, b, c, d, x(0), 7, 0xd76aa478)
    FF(d, a, b, c, x(1), 12, 0xe8c7b756)
    FF(c, d, a, b, x(2), 17, 0x242070db)
    FF(b, c, d, a, x(3), 22, 0xc1bdceee)
    FF(a, b, c, d, x(4), 7, 0xf57c0faf)
    FF(d, a, b, c, x(5), 12, 0x4787c62a)
    FF(c, d, a, b, x(6), 17, 0xa8304613)
    FF(b, c, d, a, x(7), 22, 0xfd469501)
    FF(a, b, c, d, x(8), 7, 0x698098d8)
    FF(d, a, b, c, x(9), 12, 0x8b44f7af)
    FF(c, d, a, b, x(10), 17, 0xffff5bb1)
    FF(b, c, d, a, x(11), 22, 0x895cd7be)
    FF(a, b, c, d, x(12), 7, 0x6b901122)
    FF(d, a, b, c, x(13), 12, 0xfd987193)
    FF(c, d, a, b, x(14), 17, 0xa679438e)
    FF(b, c, d, a, x(15), 22, 0x49b40821)
  }

  /** Round 2: G(b, c, d) = (b & d) | (c & ~d), words (1 + 5i) mod 16. */
  private def round2(): Unit = {
    GG(a, b, c, d, x(1), 5, 0xf61e2562)
    GG(d, a, b, c, x(6), 9, 0xc040b340)
    GG(c, d, a, b, x(11), 14, 0x265e5a51)
    GG(b, c, d, a, x(0), 20, 0xe9b6c7aa)
    GG(a, b, c, d, x(5), 5, 0xd62f105d)
    GG(d, a, b, c, x(10), 9, 0x02441453)
    GG(c, d, a, b, x(15), 14, 0xd8a1e681)
    GG(b, c, d, a, x(4), 20, 0xe7d3fbc8)
    GG(a, b, c, d, x(9), 5, 0x21e1cde6)
    GG(d, a, b, c, x(14), 9, 0xc33707d6)
    GG(c, d, a, b, x(3), 14, 0xf4d50d87)
    GG(b, c, d, a, x(8), 20, 0x455a14ed)
    GG(a, b, c, d, x(13), 5, 0xa9e3e905)
    GG(d, a, b, c, x(2), 9, 0xfcefa3f8)
    GG(c, d, a, b, x(7), 14, 0x676f02d9)
    GG(b, c, d, a, x(12), 20, 0x8d2a4c8a)
  }

  /** Round 3: H(b, c, d) = b ^ c ^ d, words (5 + 3i) mod 16. */
  private def round3(): Unit = {
    HH(a, b, c, d, x(5), 4, 0xfffa3942)
    HH(d, a, b, c, x(8), 11, 0x8771f681)
    HH(c, d, a, b, x(11), 16, 0x6d9d6122)
    HH(b, c, d, a, x(14), 23, 0xfde5380c)
    HH(a, b, c, d, x(1), 4, 0xa4beea44)
    HH(d, a, b, c, x(4), 11, 0x4bdecfa9)
    HH(c, d, a, b, x(7), 16, 0xf6bb4b60)
    HH(b, c, d, a, x(10), 23, 0xbebfbc70)
    HH(a, b, c, d, x(13), 4, 0x289b7ec6)
    HH(d, a, b, c, x(0), 11, 0xeaa127fa)
    HH(c, d, a, b, x(3), 16, 0xd4ef3085)
    HH(b, c, d, a, x(6), 23, 0x04881d05)
    HH(a, b, c, d, x(9), 4, 0xd9d4d039)
    HH(d, a, b, c, x(12), 11, 0xe6db99e5)
    HH(c, d, a, b, x(15), 16, 0x1fa27cf8)
    HH(b, c, d, a, x(2), 23, 0xc4ac5665)
  }

  /** Round 4: I(b, c, d) = c ^ (b | ~d), words 7i mod 16. */
  private def round4(): Unit = {
    II(a, b, c, d, x(0), 6, 0xf4292244)
    II(d, a, b, c, x(7), 10, 0x432aff97)
    II(c, d, a, b, x(14), 15, 0xab9423a7)
    II(b, c, d, a, x(5), 21, 0xfc93a039)
    II(a, b, c, d, x(12), 6, 0x655b59c3)
    II(d, a, b, c, x(3), 10, 0x8f0ccc92)
    II(c, d, a, b, x(10), 15, 0xffeff47d)
    II(b, c, d, a, x(1), 21, 0x85845dd1)
    II(a, b, c, d, x(8), 6, 0x6fa87e4f)
    II(d, a, b, c, x(15), 10, 0xfe2ce6e0)
    II(c, d, a, b, x(6), 15, 0xa3014314)
    II(b, c, d, a, x(13), 21, 0x4e0811a1)
    II(a, b, c, d, x(4), 6, 0xf7537e82)
    II(d, a, b, c, x(11), 10, 0xbd3af235)
    II(c, d, a, b, x(2), 15, 0x2ad7d2bb)
    II(b, c, d, a, x(9), 21, 0xeb86d391)
  }
}

object Md5Lanes {
  /** Messages per batch at most: 64 messages are 256 lanes, and the 20
    * lane arrays then take 20 KB, which stays in a core's L1 data cache. */
  val MaxBatch = 64

  /** RFC 1321's initial A, B, C, D. */
  private val Iv = Array(0x67452301, 0xefcdab89, 0x98badcfe, 0x10325476)
}
