package graft.features

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

/** Per-key cell grid of the two imperative strategies ([[AggregatorStrategy]]
  * and [[MapGroupsStrategy]]): one cell per (family tuple, smallest enclosing
  * window bucket) holding the row count, the non-NULL value count, and the
  * sum, min and max of the non-NULL values.
  *
  * A cell's min/max mean something only when its `nnz > 0`. NaN is an
  * ordinary value that orders above every other double, as in Spark's own
  * `min`/`max` (so `max({NaN, 5.0})` is NaN and `min({NaN})` is NaN). This
  * class is the one place that rule lives, and [[Cells.cellIds]] the one
  * place a row is mapped to its cells.
  */
final case class Cells(
    cnt: Array[Long], nnz: Array[Long],
    sum: Array[Double], mn: Array[Double], mx: Array[Double]) {

  /** Counts one matching row whose value is NULL. */
  def addRow(c: Int): Unit = cnt(c) += 1L

  /** Counts one matching row with non-NULL value `v`. */
  def addValue(c: Int, v: Double): Unit = {
    if (nnz(c) == 0L) { mn(c) = v; mx(c) = v }
    else {
      if (Cells.lt(v, mn(c))) mn(c) = v
      if (Cells.lt(mx(c), v)) mx(c) = v
    }
    cnt(c) += 1L; nnz(c) += 1L; sum(c) += v
  }

  /** Adds `o` into this grid cell by cell. */
  def merge(o: Cells): Cells = {
    var i = 0
    while (i < cnt.length) {
      if (o.nnz(i) > 0L) {
        if (nnz(i) == 0L) { mn(i) = o.mn(i); mx(i) = o.mx(i) }
        else {
          if (Cells.lt(o.mn(i), mn(i))) mn(i) = o.mn(i)
          if (Cells.lt(mx(i), o.mx(i))) mx(i) = o.mx(i)
        }
      }
      cnt(i) += o.cnt(i); nnz(i) += o.nnz(i); sum(i) += o.sum(i)
      i += 1
    }
    this
  }

  /** The five arrays as fixed-width little-endian bytes, in field order:
    * `cnt`, `nnz`, `sum`, `mn`, `mx`. Doubles keep their exact bits.
    */
  def toBytes: Array[Byte] = {
    val n = cnt.length
    val bb = ByteBuffer.allocate(40 * n).order(ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(cnt).put(nnz)
    bb.position(16 * n)
    bb.asDoubleBuffer().put(sum).put(mn).put(mx)
    bb.array()
  }

  /** The Count feature over the cumulative window made of buckets
    * `base .. base + bMax`.
    */
  def rows(base: Int, bMax: Int): Long = {
    var c = 0L
    var b = 0
    while (b <= bMax) { c += cnt(base + b); b += 1 }
    c
  }

  /** The Avg, Sum, Min or Max feature over the cumulative window made of
    * buckets `base .. base + bMax`, with the same algebra as
    * [[PivotRollupStrategy]]: avg is the exact sum/nnz. Sum of no values is
    * 0.0; avg, min and max of no values are NULL.
    */
  def value(base: Int, bMax: Int, agg: AggKind): java.lang.Double = {
    var z = 0L; var s = 0.0; var lo = 0.0; var hi = 0.0
    var b = 0
    while (b <= bMax) {
      val c = base + b
      if (nnz(c) > 0L) {
        if (z == 0L) { lo = mn(c); hi = mx(c) }
        else {
          if (Cells.lt(mn(c), lo)) lo = mn(c)
          if (Cells.lt(hi, mx(c))) hi = mx(c)
        }
        z += nnz(c); s += sum(c)
      }
      b += 1
    }
    agg match {
      case AggKind.Sum   => s
      case _ if z == 0L  => null
      case AggKind.Avg   => s / z
      case AggKind.Min   => lo
      case AggKind.Max   => hi
      case AggKind.Count =>
        throw new IllegalArgumentException("count is a row count; use rows()")
    }
  }
}

object Cells {

  def empty(nCells: Int): Cells =
    Cells(new Array[Long](nCells), new Array[Long](nCells),
      new Array[Double](nCells), new Array[Double](nCells), new Array[Double](nCells))

  /** The inverse of [[Cells.toBytes]]. */
  def fromBytes(bytes: Array[Byte]): Cells = {
    val c = empty(bytes.length / 40)
    val n = c.cnt.length
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().get(c.cnt).get(c.nnz)
    bb.position(16 * n)
    bb.asDoubleBuffer().get(c.sum).get(c.mn).get(c.mx)
    c
  }

  /** Spark's double ordering: NaN above every other value. */
  private def lt(a: Double, b: Double): Boolean = java.lang.Double.compare(a, b) < 0

  /** First cell of each grouping family, plus the total cell count as the
    * last element: tuple `ti` of family `fi` has its bucket `b` at cell
    * `offsets(fi) + ti * windows + b`.
    */
  def familyOffsets(spec: FeatureSpec): Array[Int] =
    spec.groupings.scanLeft(0)(_ + _.valueTuples.length * spec.windows.length).toArray

  /** For each feature in spec order: its first cell and its highest bucket.
    * A tuple listed twice maps to its last position, as in [[cellIds]].
    */
  def featureCells(spec: FeatureSpec): Array[(Int, Int)] = {
    val offsets = familyOffsets(spec)
    spec.features.map { f =>
      val ti = spec.groupings(f.familyIdx).valueTuples.lastIndexOf(f.tuple)
      (offsets(f.familyIdx) + ti * spec.windows.length, spec.windows.indexOf(f.window))
    }.toArray
  }

  /** Each row's cell in each grouping family: one `IntegerType` column per
    * family, `__graft_cell_<fi>`, equal to
    * `familyOffsets(fi) + tupleIdx * windows + bucket`, where `bucket` is
    * the smallest window holding the time value. It is NULL when a grouping
    * value is NULL, when the values form no listed tuple, and beyond the
    * largest window.
    *
    * Only built-in expressions, so the mapping compiles into the scan's
    * whole-stage-codegen'd stage: per grouping column a CASE ordinal of its
    * value cast to string (the form the tuples are written in), with one
    * extra ordinal for NULL and unlisted values; the mixed-radix number of
    * those ordinals; a literal table from that number to the tuple's first
    * cell (NULL for combinations no tuple lists; a tuple listed twice keeps
    * its last position, as in [[featureCells]]); and a CASE bucket on the
    * time column. The index into the table is never NULL: Spark 4.1's
    * generated code for an array item at a NULL index reads a stale index.
    */
  def cellIds(spec: FeatureSpec): Seq[Column] = {
    val nWin = spec.windows.length
    val t = col(spec.timeCol)
    val bucket = spec.windows.zipWithIndex.tail.foldLeft(
      when(t <= lit(spec.windows.head), lit(0))) {
      case (acc, (w, b)) => acc.when(t <= lit(w), lit(b))
    }
    val offsets = familyOffsets(spec)
    spec.groupings.zipWithIndex.map { case (fam, fi) =>
      val id =
        if (fam.valueTuples.isEmpty) lit(null).cast(IntegerType)
        else tupleCell(fam, offsets(fi), nWin) + bucket
      id.as(s"__graft_cell_$fi")
    }
  }

  /** The first cell of the row's tuple in family `fam`, NULL if none. */
  private def tupleCell(fam: GroupingFamily, offset: Int, nWin: Int): Column = {
    // column j's values, plus one more ordinal for NULL and unlisted values
    val values = fam.cols.indices.map(j => fam.valueTuples.map(_(j)).distinct)
    val size = values.map(_.length + 1L).product
    require(size <= MaxTupleTable,
      s"grouping family ${fam.cols.mkString("x")} spans $size value combinations " +
        s"(the cell lookup table holds at most $MaxTupleTable)")
    val table = Array.fill[Option[Int]](size.toInt)(None)
    fam.valueTuples.zipWithIndex.foreach { case (tuple, ti) =>
      val pos = tuple.zip(values).foldLeft(0) {
        case (acc, (v, vs)) => acc * (vs.length + 1) + vs.indexOf(v)
      }
      table(pos) = Some(offset + ti * nWin)
    }
    val ordinals = fam.cols.zip(values).map { case (c, vs) =>
      val s = col(c).cast(StringType)
      vs.zipWithIndex.tail.foldLeft(when(s === lit(vs.head), lit(0))) {
        case (acc, (v, i)) => acc.when(s === lit(v), lit(i))
      }.otherwise(lit(vs.length))
    }
    val index =
      if (ordinals.isEmpty) lit(0)
      else ordinals.zip(values).tail.foldLeft(ordinals.head) {
        case (acc, (o, vs)) => acc * lit(vs.length + 1) + o
      }
    typedLit(table.toSeq).getItem(index)
  }

  /** Largest value-combination table [[cellIds]] builds for one family. */
  private val MaxTupleTable = 1 << 20
}
