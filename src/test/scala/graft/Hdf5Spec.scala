package graft

import graft.codec.Malformed
import graft.sources.Hdf5
import graft.sources.Hdf5._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[graft.sources.Hdf5]] — round-trip laws for the dependency-free
  * HDF5 subset (the NetCDF-4 container family): both superblock
  * generations, both group mechanisms, contiguous + chunked(+deflate)
  * layouts, banded reads, malformed-input totality, and the lookup3
  * known-answer vectors from the public lookup3.c. */
class Hdf5Spec extends AnyFunSuite with Matchers {

  private def grid(h: Int, w: Int)(f: (Int, Int) => Double): Array[Double] =
    Array.tabulate(h * w)(i => f(i / w, i % w))

  private def mkVars(chunk: Option[(Int, Int)], deflate: Int): Seq[H5Var] = Seq(
    H5Var("sar_primary", TFloat64, 12, 7,
      grid(12, 7)((l, s) => math.sin(l * 0.7) * math.cos(s * 0.3) + 2.0),
      chunk, deflate),
    H5Var("polygon_id", TInt32, 12, 7,
      grid(12, 7)((l, s) => ((l / 4) * 10 + (s / 4) % 10 + 1).toDouble),
      chunk, deflate),
    H5Var("mask", TInt8, 12, 7, grid(12, 7)((l, s) => ((l + s) % 2).toDouble),
      chunk, deflate))

  private def roundTrip(sb: Int, chunk: Option[(Int, Int)], deflate: Int): Unit = {
    val vars = mkVars(chunk, deflate)
    val bytes = Hdf5.writeBytes(vars, sb)
    val src = new ArraySource(bytes)
    val f = Hdf5.parse(src).getOrElse(fail(s"parse failed (sb=$sb chunk=$chunk)"))
    f.superblockVersion shouldBe sb
    f.datasets.map(_.name).sorted shouldBe vars.map(_.name).sorted
    vars.foreach { v =>
      val ds = f.datasets.find(_.name == v.name).get
      ds.dims.toSeq shouldBe Seq(12L, 7L)
      ds.elemSize shouldBe v.dtype.elemSize
      ds.layoutClass shouldBe (if (chunk.isEmpty) 1 else 2)
      ds.deflated shouldBe (deflate > 0)
      // whole read reproduces the written grid exactly
      Hdf5.readRows(src, ds, 0, 12).toSeq shouldBe v.data.toSeq
      // banded read == the matching slice of the whole read
      Hdf5.readRows(src, ds, 5, 4).toSeq shouldBe
        v.data.slice(5 * 7, 9 * 7).toSeq
      Hdf5.readRows(src, ds, 11, 1).toSeq shouldBe v.data.takeRight(7).toSeq
    }
  }

  test("v0 superblock (symbol-table group), contiguous: round-trip + bands") {
    roundTrip(0, None, 0)
  }

  test("v2 superblock (link messages), contiguous: round-trip + bands") {
    roundTrip(2, None, 0)
  }

  test("chunked layout, chunk-divisible and EDGE chunks, both superblocks") {
    roundTrip(0, Some((4, 7)), 0)  // rows divide, cols exact
    roundTrip(0, Some((5, 3)), 0)  // neither divides: edge chunks padded
    roundTrip(2, Some((5, 3)), 0)
  }

  test("chunked + deflate: stored chunks are smaller, content identical") {
    val vars = mkVars(Some((6, 4)), 6)
    val bytes = Hdf5.writeBytes(vars, 0)
    val plain = Hdf5.writeBytes(mkVars(Some((6, 4)), 0), 0)
    val src = new ArraySource(bytes)
    val f = Hdf5.parse(src).get
    f.datasets.foreach(_.deflated shouldBe true)
    vars.foreach { v =>
      val ds = f.datasets.find(_.name == v.name).get
      Hdf5.readRows(src, ds, 0, 12).toSeq shouldBe v.data.toSeq
    }
    // the repetitive int grids must actually compress
    val dsInt = f.datasets.find(_.name == "polygon_id").get
    val plainInt = Hdf5.parse(new ArraySource(plain)).get
      .datasets.find(_.name == "polygon_id").get
    dsInt.chunks.map(_.size).sum should be < plainInt.chunks.map(_.size).sum
    roundTrip(2, Some((6, 4)), 6)
  }

  test("float32 grid: round-trips through the float path at float precision") {
    val data = grid(5, 5)((l, s) => (l * 0.25 + s * 1.5).toFloat.toDouble)
    val bytes = Hdf5.writeBytes(
      Seq(H5Var("f32", TFloat32, 5, 5, data)), 0)
    val src = new ArraySource(bytes)
    val ds = Hdf5.parse(src).get.datasets.head
    ds.isFloat shouldBe true
    ds.elemSize shouldBe 4
    Hdf5.readRows(src, ds, 0, 5).toSeq shouldBe data.toSeq
  }

  test("malformed inputs: truncations and byte flips yield None, never a throw") {
    val bytes = Hdf5.writeBytes(mkVars(Some((5, 3)), 6), 2)
    // signature damage
    Hdf5.parse(new ArraySource(bytes.updated(0, 0x00.toByte))) shouldBe None
    // every truncation of the header region parses to None or Some
    (0 until math.min(bytes.length, 400)).foreach { n =>
      noException should be thrownBy
        Hdf5.parse(new ArraySource(bytes.take(n)))
    }
    // deterministic byte-flip fuzz across the whole image
    val rnd = new scala.util.Random(42)
    (1 to 300).foreach { _ =>
      val mutated = bytes.clone()
      val i = rnd.nextInt(bytes.length)
      mutated(i) = (mutated(i) ^ (1 << rnd.nextInt(8))).toByte
      noException should be thrownBy {
        Hdf5.parse(new ArraySource(mutated)).foreach { f =>
          // if structure still parses, data access must also be total
          f.datasets.foreach { ds =>
            try Hdf5.readRows(new ArraySource(mutated), ds, 0, ds.dims(0).toInt)
            catch { case Malformed | _: IllegalArgumentException => () }
          }
        }
      }
    }
  }

  test("big-endian datatypes: byte-order bit honored, values identical to LE") {
    val data = grid(6, 4)((l, s) => (l * 31 + s * 7 - 64).toDouble)
    val fdata = grid(6, 4)((l, s) => l * 0.5 - s * 2.25)
    Seq(0, 2).foreach { sb =>
      val bytes = Hdf5.writeBytes(Seq(
        H5Var("ibe", TInt32, 6, 4, data, bigEndian = true),
        H5Var("fbe", TFloat64, 6, 4, fdata, Some((4, 4)), 6, bigEndian = true),
        H5Var("ile", TInt32, 6, 4, data)), sb)
      val src = new ArraySource(bytes)
      val f = Hdf5.parse(src).get
      f.datasets.find(_.name == "ibe").get.littleEndian shouldBe false
      f.datasets.find(_.name == "ile").get.littleEndian shouldBe true
      Seq("ibe", "ile").foreach { n =>
        Hdf5.readRows(src, f.datasets.find(_.name == n).get, 0, 6)
          .toSeq shouldBe data.toSeq
      }
      Hdf5.readRows(src, f.datasets.find(_.name == "fbe").get, 0, 6)
        .toSeq shouldBe fdata.toSeq
    }
  }

  test("lookup3 known-answer vectors (public lookup3.c)") {
    Hdf5.lookup3(Array.emptyByteArray, 0, 0) shouldBe 0xdeadbeef
    val four = "Four score and seven years ago".getBytes("US-ASCII")
    Hdf5.lookup3(four, 0, four.length) shouldBe 0x17770551
  }

  test("v0 group machinery: names resolve through B-tree + heap + SNOD in sorted order") {
    // names deliberately unsorted on input
    val vars = Seq(
      H5Var("zz", TInt8, 2, 3, grid(2, 3)((l, s) => l + s)),
      H5Var("aa", TInt8, 2, 3, grid(2, 3)((l, s) => l * s)),
      H5Var("mm", TInt8, 2, 3, grid(2, 3)((_, _) => 1.0)))
    val src = new ArraySource(Hdf5.writeBytes(vars, 0))
    val f = Hdf5.parse(src).get
    f.datasets.map(_.name) shouldBe Seq("aa", "mm", "zz") // SNOD order
    vars.foreach { v =>
      Hdf5.readRows(src, f.datasets.find(_.name == v.name).get, 0, 2)
        .toSeq shouldBe v.data.toSeq
    }
  }
}
