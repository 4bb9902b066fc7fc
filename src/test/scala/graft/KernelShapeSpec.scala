package graft

import org.apache.xbean.asm9.ClassReader
import org.scalatest.funsuite.AnyFunSuite

/** HotSpot never JIT-compiles a method of more than 8,000 bytecode
  * bytes (`-XX:HugeMethodLimit`, enforced by default): it runs
  * interpreted, with no error or warning. The hand-written hash
  * kernels are long straight-line code, so a merged or over-unrolled
  * kernel method would silently run about 10× slower. This spec reads
  * the kernels' class files and pins every method under the limit. */
class KernelShapeSpec extends AnyFunSuite {

  private val HugeMethodLimit = 8000

  /** Bytecode length of each method with a body, keyed by name plus
    * descriptor: a walk of the class file's `method_info` entries
    * (JVMS 4.6) down to each `Code` attribute's `code_length`. */
  private def codeLengths(cls: Class[_]): Map[String, Int] = {
    val in = cls.getResourceAsStream(s"/${cls.getName.replace('.', '/')}.class")
    val r = try new ClassReader(in) finally in.close()
    val buf = new Array[Char](r.getMaxStringLength)
    val out = Map.newBuilder[String, Int]
    var p = r.header + 6
    p += 2 + 2 * r.readUnsignedShort(p) // interfaces
    // field_info and method_info share one layout; only methods carry Code.
    def members(): Unit = {
      val n = r.readUnsignedShort(p)
      p += 2
      for (_ <- 0 until n) {
        val name = r.readUTF8(p + 2, buf) + r.readUTF8(p + 4, buf)
        val attrs = r.readUnsignedShort(p + 6)
        p += 8
        for (_ <- 0 until attrs) {
          if (r.readUTF8(p, buf) == "Code") out += name -> r.readInt(p + 10)
          p += 6 + r.readInt(p + 2)
        }
      }
    }
    members() // fields
    members() // methods
    out.result()
  }

  test("hash kernel methods stay under HotSpot's HugeMethodLimit") {
    val lanes = codeLengths(classOf[graft.plans.Md5Lanes])
    val all = lanes ++ codeLengths(graft.plans.VectorOps.getClass)
    val huge = all.filter(_._2 > HugeMethodLimit)
    assert(huge.isEmpty, s"methods over $HugeMethodLimit bytecode bytes run interpreted: $huge")
    // The walk must see the kernel: one method per MD5 round.
    val rounds = lanes.filter(_._1.startsWith("round"))
    assert(rounds.size == 4 && rounds.values.forall(_ > 100), s"round methods: $rounds")
  }
}
