package graft

import graft.streaming.RowMaterializer.{CellV, Never, RowCells, StateCodec}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the row materializer's binary state format (no
  * SparkSession; raw ScalaCheck Gen sampling, as in [[PropertySpec]]). */
class StateCodecSpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  // two-byte, three-byte and four-byte (surrogate pair) UTF-8 pieces
  private val nonAscii = Gen.listOf(Gen.oneOf("é", "ß", "中", "文", "𝄞", "😀", "a", " "))
    .map(_.mkString)
  /** Over 65,535 UTF-8 bytes, past `DataOutputStream.writeUTF`'s limit. */
  private val huge = Gen.choose(65536, 70000).map(n => "é" * (n / 2 + 1))
  private val key = Gen.frequency(4 -> Gen.alphaNumStr, 1 -> Gen.const(""), 2 -> nonAscii)
  private val value = Gen.frequency(6 -> Gen.alphaNumStr, 2 -> Gen.const(null: String),
    1 -> Gen.const(""), 2 -> nonAscii, 1 -> huge)
  private val mark = Gen.frequency(2 -> Gen.const(Never), 1 -> Gen.const(Long.MaxValue),
    3 -> Gen.choose(-1000L, 1000L), 3 -> Gen.long)
  private val cells = Gen.mapOf(Gen.zip(key, Gen.zip(value, mark, mark).map(CellV.tupled)))
  private val seen = Gen.frequency(3 -> Gen.const(Map.empty[Long, Long]),
    6 -> Gen.mapOf(Gen.zip(Gen.long, Gen.long)),
    1 -> Gen.listOfN(1000, Gen.zip(Gen.long, Gen.long)).map(_.toMap))
  private val rowCells = for {
    c <- cells; v <- mark; d <- Gen.oneOf(true, false); s <- seen
    pt <- mark; ps <- mark; tt <- mark; tsq <- mark
  } yield RowCells(c, v, d, s, pt, ps, tt, tsq)

  test("decode(encode(x)) == x for generated row states") {
    val xs = samples(rowCells, 1000)
    xs.foreach { x => assert(StateCodec.decode(StateCodec.encode(x)) == x) }
    // the sample covers every case the generator is there for
    val values = xs.flatMap(_.cells.values.map(_.value))
    val strings = values ++ xs.flatMap(_.cells.keys)
    assert(values.contains(null))
    assert(strings.contains(""))
    assert(strings.exists(s => s != null && s.exists(_ > 127)))
    assert(values.exists(s => s != null && s.getBytes("UTF-8").length > 65535))
    assert(xs.exists(x => Seq(x.putTs, x.putSeq, x.tombTs, x.tombSeq).contains(Never)))
    assert(xs.exists(_.seen.isEmpty) && xs.exists(_.seen.size == 1000))
  }

  test("a buffer with an unknown format version is refused with that version") {
    val bytes = StateCodec.encode(RowCells(Map("f:a" -> CellV("v", 1L, 2L)), 1L, deleted = false))
    assert(bytes(0) == StateCodec.Version)
    bytes(0) = 7
    val e = intercept[IllegalStateException](StateCodec.decode(bytes))
    assert(e.getMessage.contains("version 7"), e.getMessage)
  }
}
