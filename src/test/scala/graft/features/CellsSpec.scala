package graft.features

import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite

/** The partial-aggregate buffer's byte form: what AggregatorStrategy's
  * aggregate writes at the shuffle boundary and on the sort-based
  * fallback's spill path.
  */
class CellsSpec extends AnyFunSuite {

  private val spec = FeatureSpec(
    keyCol = "k", valueCol = "v", timeCol = "t",
    windows = Seq(7, 30),
    groupings = Seq(GroupingFamily(Seq("g"), Seq(Seq("a"), Seq("b"), Seq("c")))))

  private def bits(a: Array[Double]): Seq[Long] = a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  test("a cell grid survives serialize/deserialize bit for bit, in the pinned field order") {
    val agg = AggregatorStrategy.FeatureCells(Nil, spec)
    val cells = agg.createAggregationBuffer()
    val n = cells.cnt.length
    assert(n == 6)
    cells.addValue(0, Double.NaN)
    cells.addValue(0, 1.5)
    cells.addValue(1, -0.0)
    cells.addValue(2, Double.PositiveInfinity)
    cells.addValue(2, Double.NegativeInfinity)
    cells.addRow(3)
    cells.addValue(4, 2.25)
    cells.addRow(4)
    // cell 5 is never touched
    val bytes = agg.serialize(cells)
    val back = agg.deserialize(bytes)

    assert(back.cnt.toSeq == cells.cnt.toSeq)
    assert(back.nnz.toSeq == cells.nnz.toSeq)
    assert(bits(back.sum) == bits(cells.sum))
    assert(bits(back.mn) == bits(cells.mn))
    assert(bits(back.mx) == bits(cells.mx))
    assert(back.value(0, 0, AggKind.Max).isNaN && back.value(0, 0, AggKind.Min) == 1.5)
    assert(java.lang.Double.doubleToRawLongBits(back.mn(1)) == java.lang.Double.doubleToRawLongBits(-0.0))
    assert(back.value(2, 0, AggKind.Min) == Double.NegativeInfinity)
    assert(back.value(2, 0, AggKind.Max) == Double.PositiveInfinity)
    assert(back.rows(3, 0) == 1L && back.value(3, 0, AggKind.Avg) == null)
    assert(back.rows(4, 0) == 2L && back.value(4, 0, AggKind.Avg) == 2.25)
    assert(back.rows(5, 0) == 0L && back.value(5, 0, AggKind.Sum) == 0.0)
    assert(back.value(5, 0, AggKind.Min) == null)

    // the byte form: five fixed-width little-endian arrays, in field order
    assert(bytes.length == 40 * n)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    for (c <- 0 until n) {
      assert(bb.getLong(8 * c) == cells.cnt(c), s"cnt($c)")
      assert(bb.getLong(8 * (n + c)) == cells.nnz(c), s"nnz($c)")
      assert(bb.getLong(8 * (2 * n + c)) == java.lang.Double.doubleToRawLongBits(cells.sum(c)), s"sum($c)")
      assert(bb.getLong(8 * (3 * n + c)) == java.lang.Double.doubleToRawLongBits(cells.mn(c)), s"mn($c)")
      assert(bb.getLong(8 * (4 * n + c)) == java.lang.Double.doubleToRawLongBits(cells.mx(c)), s"mx($c)")
    }
  }

  test("a deserialized grid merges like the original") {
    val agg = AggregatorStrategy.FeatureCells(Nil, spec)
    val a = agg.createAggregationBuffer()
    a.addValue(0, 5.0); a.addRow(1)
    val b = agg.createAggregationBuffer()
    b.addValue(0, Double.NaN); b.addValue(1, -3.0)
    val merged = agg.merge(agg.deserialize(agg.serialize(a)), agg.deserialize(agg.serialize(b)))
    assert(merged.rows(0, 1) == 4L)
    assert(merged.value(0, 1, AggKind.Max).isNaN)
    assert(merged.value(0, 1, AggKind.Min) == -3.0)
    assert(merged.value(0, 1, AggKind.Sum).isNaN)
    assert(merged.value(1, 0, AggKind.Avg) == -3.0)
  }
}
