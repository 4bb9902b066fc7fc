package graft

import graft.functions.KmvSketch
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks for the pure kernels — they exercise the
  * same code paths the Catalyst expressions and typed aggregator
  * call. */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  private val hexGen: Gen[String] =
    Gen.listOfN(32, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString)

  test("KMV: merge is commutative, bounded, and equals bulk reduce") {
    val k = new KmvSketch(16)
    check(Prop.forAll(Gen.listOf(hexGen), Gen.listOf(hexGen)) { (xs, ys) =>
      val a = xs.foldLeft(k.zero)(k.reduce)
      val b = ys.foldLeft(k.zero)(k.reduce)
      k.merge(a, b) == k.merge(b, a) &&
        k.merge(a, b).size <= 16 &&
        k.merge(a, b) == (xs ++ ys).foldLeft(k.zero)(k.reduce)
    })
  }

  test("KMV: bottom-k is the sorted distinct prefix") {
    val k = new KmvSketch(8)
    check(Prop.forAll(Gen.listOf(hexGen)) { xs =>
      xs.foldLeft(k.zero)(k.reduce) == xs.distinct.sorted.take(8)
    })
  }

  test("VectorOps.dotD equals the left-to-right fold reference") {
    val doubles = Gen.listOfN(8, Gen.chooseNum(-100.0, 100.0))
    check(Prop.forAll(doubles, doubles) { (a, b) =>
      val aa = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray)
      val bb = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b.toArray)
      // Exact equality: the kernel must reproduce the sequential fold
      // (the oracle's list_dot_product accumulation) bit-for-bit.
      graft.plans.VectorOps.dotD(aa, bb) ==
        a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    })
  }

  test("VectorOps.srpBandSigs equals the per-plane fold reference") {
    // The reference is the retired per-plane formulation: for plane
    // p, sign of the left-to-right double fold of
    // float-widened emb[d] * planeCoef(p, d) — the order the DuckDB
    // oracle's list_sum(list_transform(...)) mirror also uses.
    val floats = Gen.listOfN(16, Gen.chooseNum(-100f, 100f))
    check(Prop.forAll(floats) { a =>
      val aa = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray)
      val sigs = graft.plans.VectorOps.srpBandSigs(aa, 8, 6)
      (0 until 8).forall { g =>
        val expect = (0 until 6).map { j =>
          val p = g * 6 + j
          val dot = a.indices.foldLeft(0.0) { (acc, d) =>
            acc + a(d).toDouble * graft.plans.VectorOps.planeCoef(p, d)
          }
          if (dot >= 0.0) '1' else '0'
        }.mkString
        sigs.getUTF8String(g).toString == expect
      }
    })
  }

  test("VectorOps.cosine is symmetric and bounded") {
    val floats = Gen.listOfN(8, Gen.chooseNum(-100f, 100f))
    check(Prop.forAll(floats, floats) { (a, b) =>
      val aa = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray)
      val bb = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b.toArray)
      val c1 = graft.plans.VectorOps.cosine(aa, bb)
      val c2 = graft.plans.VectorOps.cosine(bb, aa)
      c1 == c2 && c1 >= -1.0 - 1e-9 && c1 <= 1.0 + 1e-9
    })
  }

  private val md = java.security.MessageDigest.getInstance("MD5")
  private def md5hex(s: String): String = {
    md.reset()
    md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** Character-based k-substrings, the shingles/trigram reference
    * semantics (codepoint-indexed like Spark substring). */
  private def charShingles(text: String, k: Int): Seq[String] = {
    val cps = text.codePoints().toArray
    val n = math.max(1, cps.length - (k - 1))
    (0 until n).map(i => new String(cps, i, math.min(k, cps.length - i).max(0)))
  }

  /** Characters of 2, 2, 3, 3 and 4 UTF-8 bytes (U+1F600 is a
    * surrogate pair in UTF-16): an 8-char shingle of them reaches the
    * 32 bytes that fill MD5 message words 7 and 8 after a 2-byte salt. */
  private val wideChars = Seq("é", "ß", "中", "€", "\uD83D\uDE00")

  private val textGen: Gen[String] = Gen.frequency(
    8 -> Gen.listOf(Gen.frequency(
      10 -> Gen.alphaNumChar.map(_.toString), 3 -> Gen.const(" "), 1 -> Gen.oneOf(wideChars))
    ).map(_.mkString),
    2 -> Gen.listOf(Gen.oneOf(wideChars)).map(_.mkString),
    1 -> Gen.const(""))

  test("repetitionStats kernel equals the naive count-map formulation") {
    check(Prop.forAll(textGen) { t =>
      val row = graft.plans.VectorOps.repetitionStats(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      val tris = charShingles(t, 3)
      val counts = tris.groupBy(identity).view.mapValues(_.size)
      row.getLong(0) == tris.size.toLong &&
        row.getLong(1) == counts.values.max.toLong
    })
  }

  test("fpMinMax kernel equals min/max over per-shingle md5 hex") {
    check(Prop.forAll(textGen) { t =>
      val row = graft.plans.VectorOps.fpMinMax(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      val hashes = charShingles(t, 8).map(md5hex)
      row.getUTF8String(0).toString == hashes.min &&
        row.getUTF8String(1).toString == hashes.max
    })
  }

  private val lshSalts = (0 until 4).map(a => s"$a|".getBytes("UTF-8")).toArray

  /** Lane `lane`'s digest as lowercase hex, after `lanes.run()`. */
  private def laneHex(lanes: graft.plans.Md5Lanes, lane: Int): String =
    (0 until 4).map(i => f"${lanes.word(lane, i)}%08x").mkString

  test("Md5Lanes: every lane equals MessageDigest MD5 at every one-block body length") {
    // 8 chars of at most 4 UTF-8 bytes: shingles are 0..32 bytes; the
    // kernel takes any body that fits one block with the 2-byte salt.
    // One batch holds a body of each length 0..53 (54 of the 64
    // messages), in random order and at random offsets.
    val lanes = new graft.plans.Md5Lanes(lshSalts, graft.plans.Md5Lanes.MaxBatch)
    def message(n: Int) = for {
      pad <- Gen.choose(0, 5)
      bs <- Gen.listOfN(n, org.scalacheck.Arbitrary.arbitrary[Byte])
    } yield (pad, Array.fill[Byte](pad)(7) ++ bs)
    val batch = for {
      msgs <- Gen.sequence[Seq[(Int, Array[Byte])], (Int, Array[Byte])]((0 to 53).map(message))
      seed <- Gen.long
    } yield new scala.util.Random(seed).shuffle(msgs)
    check(Prop.forAll(batch) { msgs =>
      lanes.clear()
      msgs.foreach { case (pad, buf) => lanes.add(buf, pad, buf.length - pad) }
      lanes.run()
      msgs.zipWithIndex.forall { case ((pad, buf), m) =>
        (0 until 4).forall { k =>
          md.reset()
          md.update(lshSalts(k))
          md.update(buf, pad, buf.length - pad)
          laneHex(lanes, 4 * m + k) == md.digest().map(b => f"$b%02x").mkString
        }
      }
    })
    intercept[IllegalArgumentException](lanes.add(new Array[Byte](54), 0, 54))
  }

  test("Md5Lanes: unsalted lanes give the RFC 1321 A.5 digests that fit one block") {
    val lanes = new graft.plans.Md5Lanes(Array.fill(4)(Array.emptyByteArray), 5)
    val vectors = Seq(
      "" -> "d41d8cd98f00b204e9800998ecf8427e",
      "a" -> "0cc175b9c0f1b6a831c399e269772661",
      "abc" -> "900150983cd24fb0d6963f7d28e17f72",
      "message digest" -> "f96b697d7cb7938d525a2f31aaf161d0",
      "abcdefghijklmnopqrstuvwxyz" -> "c3fcd3d76192e4007dfb496cca67e13b")
    vectors.foreach { case (msg, _) =>
      lanes.add(msg.getBytes("US-ASCII"), 0, msg.length)
    }
    lanes.run()
    for (((msg, want), m) <- vectors.zipWithIndex; k <- 0 until 4)
      assert(laneHex(lanes, 4 * m + k) == want, s"lane $k of md5(\"$msg\")")
  }

  test("lshBandSigs kernel equals the salted-chunk-minima + band-md5 formula") {
    // Joined texts run past one 64-shingle lane batch.
    val texts = Gen.frequency(3 -> textGen, 1 -> Gen.listOfN(3, textGen).map(_.mkString))
    check(Prop.forAll(texts) { t =>
      val sigs = graft.plans.VectorOps.lshBandSigs(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      val sh = charShingles(t, 8)
      val mh = (0 until 16).map { j =>
        val salt = j / 4
        val off = (j % 4) * 8
        sh.map(x => md5hex(s"$salt|$x").substring(off, off + 8)).min
      }
      (0 until 4).forall { b =>
        sigs.getUTF8String(b).toString ==
          md5hex((0 until 4).map(r => mh(b * 4 + r)).mkString("|"))
      }
    })
  }

  test("cosineD matches cosine on float-representable doubles") {
    val floats = Gen.listOfN(8, Gen.chooseNum(-100f, 100f).suchThat(_ != 0f))
    check(Prop.forAll(floats) { a =>
      val fa = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a.toArray)
      val da = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        a.map(_.toDouble).toArray)
      math.abs(graft.plans.VectorOps.cosineD(da, da) - 1.0) < 1e-12 &&
        math.abs(graft.plans.VectorOps.cosine(fa, fa) -
          graft.plans.VectorOps.cosineD(da, da)) < 1e-12
    })
  }

  test("simhash60: order-insensitive, only low 60 bits set") {
    def sig(xs: Seq[String]): Long =
      graft.plans.VectorOps.simhash60(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          xs.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray))
    val toks = Gen.listOfN(6, Gen.alphaLowerStr.suchThat(_.nonEmpty))
    check(Prop.forAll(toks) { ts =>
      sig(ts) == sig(ts.reverse) && (sig(ts) & ~((1L << 60) - 1)) == 0L
    })
  }
}
