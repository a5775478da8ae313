package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The partial-aggregate wire format of [[ColumnStats]]: exactly the
  * header plus one long per distinct key, and every field survives the
  * round trip. */
class ColumnStatsBufferSpec extends AnyFunSuite {

  private def keySet(b: ColumnStatsBuffer): Set[Long] = b.keys.filter(_ != 0L).toSet

  test("toBytes is exactly header + 8 bytes per key and round-trips every field") {
    val buf = new ColumnStatsBuffer(1 << 10)
    Seq(3.5, -2.0, 0.0, -0.0, 3.5, Double.NaN, 1e300, -7.25).foreach(buf.addValue)
    buf.nNull = 4L
    val bytes = buf.toBytes
    assert(buf.size === 5) // 3.5, -2.0, NaN, 1e300, -7.25; ±0.0 is hasZero
    assert(bytes.length === ColumnStatsBuffer.HeaderBytes + 8 * buf.size)
    val back = ColumnStatsBuffer.fromBytes(bytes, 1 << 10)
    assert(back.n === 8L)
    assert(back.nNull === 4L)
    assert(back.hasVal)
    assert(back.mn === -7.25)
    assert(back.mx.isNaN, "NaN compares greatest")
    assert(back.hasZero)
    assert(back.distinctCount === 6L)
    assert(keySet(back) === keySet(buf))
  }

  test("an empty buffer serializes to the bare header") {
    val empty = new ColumnStatsBuffer(16)
    val bytes = empty.toBytes
    assert(bytes.length === ColumnStatsBuffer.HeaderBytes)
    val back = ColumnStatsBuffer.fromBytes(bytes, 16)
    assert(back.n === 0L && back.nNull === 0L && !back.hasVal && !back.hasZero)
    assert(back.distinctCount === 0L)
  }
}
