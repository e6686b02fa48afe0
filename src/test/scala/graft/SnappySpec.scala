package graft

import graft.codec.Malformed
import graft.operators.Snappy
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Snappy raw-block decode: differential against snappy-java (the
  * reference implementation Spark links), self-overlap semantics,
  * declared-length strictness, malformed fuzz. */
class SnappySpec extends AnyFunSuite with Matchers {

  private def roundTrip(data: Array[Byte]): Unit = {
    val c = org.xerial.snappy.Snappy.compress(data)
    Snappy.decompress(c, 0, c.length) shouldBe data
    Snappy.decompress(c, 0, c.length, data.length) shouldBe data
  }

  test("differential vs snappy-java across data shapes") {
    roundTrip(Array.emptyByteArray)
    roundTrip("a".getBytes)
    roundTrip(("ab" * 40000).getBytes)            // long self-overlap runs
    roundTrip(Array.fill[Byte](100000)(7))        // pure RLE
    val rnd = new scala.util.Random(11)
    roundTrip(Array.fill[Byte](65536)(rnd.nextInt().toByte)) // incompressible
    // mixed: repetitive head, random tail (literal escape lengths)
    val mixed = ("x" * 1000).getBytes ++
      Array.fill[Byte](5000)(rnd.nextInt().toByte) ++ ("y" * 3000).getBytes
    roundTrip(mixed)
    // many sizes to sweep tag kinds and offsets
    for (n <- Seq(1, 59, 60, 61, 255, 256, 4096, 10007)) {
      roundTrip(Array.tabulate[Byte](n)(i => (i % 31).toByte))
    }
  }

  test("r12 COMPRESSOR: our bytes decode through snappy-java AND our " +
      "own decompressor across data shapes, and repetition compresses") {
    def both(data: Array[Byte]): Unit = {
      val c = Snappy.compress(data)
      Snappy.decompress(c, 0, c.length, data.length) shouldBe data
      org.xerial.snappy.Snappy.uncompress(c) shouldBe data
    }
    both(Array.emptyByteArray)
    both("a".getBytes)
    both(("ab" * 40000).getBytes) // self-overlap copies, >64 KiB
    both(Array.fill[Byte](100000)(7)) // pure RLE
    val rnd = new scala.util.Random(13)
    both(Array.fill[Byte](70000)(rnd.nextInt().toByte)) // incompressible
    val mixed = ("x" * 1000).getBytes ++
      Array.fill[Byte](5000)(rnd.nextInt().toByte) ++ ("y" * 3000).getBytes
    both(mixed)
    for (n <- Seq(1, 3, 4, 59, 60, 61, 255, 256, 4096, 10007, 65536,
        65537, 131073))
      both(Array.tabulate[Byte](n)(i => (i % 31).toByte))
    // it actually COMPRESSES repetitive data (not a literal-only shim)
    val rep = ("spark" * 10000).getBytes
    Snappy.compress(rep).length should be < rep.length / 10
  }

  test("declared-length mismatch rejects") {
    val c = org.xerial.snappy.Snappy.compress("hello world hello".getBytes)
    intercept[Malformed.type] {
      Snappy.decompress(c, 0, c.length, 5)
    }
  }

  test("malformed input never loops or overruns: truncations and bit flips") {
    val c = org.xerial.snappy.Snappy.compress(("spark" * 500).getBytes)
    for (keep <- 0 until c.length) {
      val t = java.util.Arrays.copyOf(c, keep)
      try { Snappy.decompress(t, 0, t.length): Unit }
      catch { case Malformed => () }
    }
    val rnd = new scala.util.Random(3)
    for (_ <- 0 until 500) {
      val m = c.clone()
      val i = rnd.nextInt(m.length)
      m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      try { Snappy.decompress(m, 0, m.length): Unit }
      catch { case Malformed => () }
    }
    // zero offset copy is malformed
    intercept[Malformed.type] {
      // preamble: 4; literal of 1 byte; copy kind 1 with offset 0
      Snappy.decompress(Array[Byte](4, 0, 'a', 0x05, 0), 0, 5)
    }
  }
}
