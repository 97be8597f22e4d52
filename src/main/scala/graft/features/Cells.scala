package graft.features

/** Per-key cell grid of the two imperative strategies ([[AggregatorStrategy]]
  * and [[MapGroupsStrategy]]): one cell per (family tuple, smallest enclosing
  * window bucket) holding the row count, the non-NULL value count, and the
  * sum, min and max of the non-NULL values.
  *
  * A cell's min/max mean something only when its `nnz > 0`. NaN is an
  * ordinary value that orders above every other double, as in Spark's own
  * `min`/`max` (so `max({NaN, 5.0})` is NaN and `min({NaN})` is NaN). This
  * class is the one place that rule lives.
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

  /** Spark's double ordering: NaN above every other value. */
  private def lt(a: Double, b: Double): Boolean = java.lang.Double.compare(a, b) < 0

  /** First cell of each grouping family, plus the total cell count as the
    * last element: tuple `ti` of family `fi` has its bucket `b` at cell
    * `offsets(fi) + ti * windows + b`.
    */
  def familyOffsets(spec: FeatureSpec): Array[Int] =
    spec.groupings.scanLeft(0)(_ + _.valueTuples.length * spec.windows.length).toArray

  /** For each feature in spec order: its first cell and its highest bucket.
    * A tuple listed twice maps to its last position, as the strategies'
    * tuple lookup maps do.
    */
  def featureCells(spec: FeatureSpec): Array[(Int, Int)] = {
    val offsets = familyOffsets(spec)
    spec.features.map { f =>
      val ti = spec.groupings(f.familyIdx).valueTuples.lastIndexOf(f.tuple)
      (offsets(f.familyIdx) + ti * spec.windows.length, spec.windows.indexOf(f.window))
    }.toArray
  }
}
