package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bcj

/** Wiring pin for the BCJ adapters: every transform must agree
  * BYTE-EXACTLY (and on the processed-prefix length) with a direct
  * org.tukaani.xz.simple filter over the whole buffer, in both
  * directions (so the encoder flag and start address reach the right
  * constructor arguments), across random buffers, branch-opcode-dense
  * adversarial buffers (the x86 prevMask heuristic only activates on
  * consecutive E8/E9 sightings), varied lengths including the
  * sub-window sizes, and non-zero start addresses. Round-trip
  * (encode then decode) must be the identity on the processed prefix.
  */
class BcjSpec extends AnyFunSuite {

  import org.tukaani.xz.simple.{SimpleFilter, X86, ARM, ARMThumb, PowerPC, SPARC, IA64}

  private case class F(name: String,
      ref: (Boolean, Int) => SimpleFilter,
      mine: (Array[Byte], Int, Boolean) => Int)

  private val filters = Seq(
    F("x86", new X86(_, _), Bcj.x86),
    F("arm", new ARM(_, _), Bcj.arm),
    F("armthumb", new ARMThumb(_, _), Bcj.armThumb),
    F("ppc", new PowerPC(_, _), Bcj.ppc),
    F("sparc", new SPARC(_, _), Bcj.sparc),
    F("ia64", new IA64(_, _), Bcj.ia64))

  private def check(f: F, data: Array[Byte], ip: Int, enc: Boolean): Unit = {
    val a = data.clone()
    val b = data.clone()
    val nRef = f.ref(enc, ip).code(a, 0, a.length)
    val nMine = f.mine(b, ip, enc)
    assert(nRef == nMine,
      s"${f.name} ip=$ip enc=$enc len=${data.length}: processed $nMine vs $nRef")
    assert(java.util.Arrays.equals(a, b),
      s"${f.name} ip=$ip enc=$enc len=${data.length}: bytes diverge at " +
        a.indices.find(i => a(i) != b(i)).getOrElse(-1))
  }

  test("random buffers agree with xz-java, both directions") {
    val rnd = new scala.util.Random(1234)
    for (f <- filters; len <- Seq(0, 1, 3, 4, 5, 16, 17, 64, 1031, 4096);
        ip <- Seq(0, 16, 1 << 20); enc <- Seq(false, true)) {
      val data = Array.fill(len)(rnd.nextInt(256).toByte)
      check(f, data, ip, enc)
    }
  }

  test("branch-opcode-dense buffers agree (heuristic paths)") {
    val rnd = new scala.util.Random(77)
    val hot = Map(
      "x86" -> Seq(0xE8, 0xE9, 0x00, 0xFF),
      "arm" -> Seq(0xEB, 0x00, 0xFF),
      "armthumb" -> Seq(0xF0, 0xF7, 0xF8, 0xFF, 0x00),
      "ppc" -> Seq(0x48, 0x4B, 0x01, 0xFD),
      "sparc" -> Seq(0x40, 0x7F, 0xC0, 0x00, 0xFF),
      "ia64" -> Seq(0x10, 0x12, 0x16, 0x18, 0x1C, 0xA0, 0x00, 0xFF))
    for (f <- filters; trial <- 0 until 40; enc <- Seq(false, true)) {
      val pool = hot(f.name)
      val len = 24 + rnd.nextInt(200)
      val data = Array.fill(len)(
        (if (rnd.nextInt(3) == 0) rnd.nextInt(256)
         else pool(rnd.nextInt(pool.length))).toByte)
      check(f, data, trial * 7, enc)
    }
  }

  test("encode then decode round-trips the processed prefix") {
    val rnd = new scala.util.Random(5)
    for (f <- filters; trial <- 0 until 20) {
      val data = Array.fill(64 + rnd.nextInt(512))(rnd.nextInt(256).toByte)
      val work = data.clone()
      val n1 = f.mine(work, 4096, true)
      val n2 = f.mine(work, 4096, false)
      val n = math.min(n1, n2)
      assert(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(work, 0, n),
        java.util.Arrays.copyOfRange(data, 0, n)), f.name)
    }
  }
}
