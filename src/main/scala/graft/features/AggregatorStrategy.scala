package graft.features

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine-native strategy: a typed [[Aggregator]] (SURVEY.md §2's
  * "custom TypedColumn/Aggregator" extension point) that keeps ONE flat
  * cell array per key — (family-tuple x smallest-enclosing-window bucket)
  * x (rows, nnz, sum, min, max) — updated imperatively per row.
  *
  * Why it beats both declarative strategies at scale:
  *
  *   - per-row work is two hash lookups + one bucket scan, not 2,080 CASE
  *     predicates (case-when) and not a row explode + 416-value pivot;
  *   - it is ONE shuffle of compact partial state (Spark's multi-agg pivot
  *     needs two exchanges; mapGroups shuffles raw rows and concentrates
  *     hot keys on single tasks);
  *   - partial merge is an array add, so it stays skew-immune.
  *
  * Runs as ObjectHashAggregate: the cell array lives as a JVM object in
  * the agg hash map and is Kryo-serialized only at the shuffle boundary.
  * GraftSession raises the sort-based fallback threshold (default 128
  * distinct keys) so the hash path is actually used; beyond it Spark
  * falls back to sort-based aggregation gracefully. The buffer is
  * ~40 bytes x cells (16.6 KB for the reference's 416-cell spec), so
  * ~100k in-flight keys per task ≈ 1.7 GB — size executor memory or the
  * fallback threshold accordingly.
  *
  * ==Why the result is two arrays==
  * `finish` returns [[FeatureArrays]], a bigint array of the Count
  * features and a double array of the others, and each output column is
  * one item of them. A 2,080-field struct result (the earlier form) made
  * the final stage pay twice per key and per task: Spark ran the
  * `Encoders.row` serializer of the 2,080-field struct once per key, and
  * the projection building that struct is wider than
  * `spark.sql.codegen.maxFields`, so whole-stage codegen was off and each
  * task generated its own `UnsafeProjection` for it. Measured with
  * `perfbench` on `feature_tiny` (the reference spec over DataGen.Tiny,
  * 17.4M rows, 1,000 keys) on a 4-core host, ten alternating pairs:
  * median `job_s` 3.64 s with the struct, 2.45 s with the arrays. Traced
  * runs put the saving in the final stage: `exec.task_s` 11.2 and 10.5 s
  * fell to 8.0 and 8.1 s and `exec.gc_s` 1.17 and 1.22 s to 0.35 and
  * 0.34 s, while `agg.partial_s` stayed at 5.5-5.8 s.
  */
object AggregatorStrategy extends FeatureStrategy {

  /** Per-key output: `counts` holds the Count features in spec order,
    * `values` the other features in spec order, null where a feature has
    * no value.
    */
  final case class FeatureArrays(counts: Array[Long], values: Array[java.lang.Double])

  private final class FeatureAgg(
      windows: Array[Int],
      famTupleIdx: Array[java.util.HashMap[String, Integer]],
      famCellOffset: Array[Int],
      famColPos: Array[Array[Int]],
      featPlan: Array[(Int, Int, AggKind)], // cellBase, bucketMax, agg
      nCounts: Int
  ) extends Aggregator[Row, Cells, FeatureArrays] {

    private val nWin = windows.length

    override def zero: Cells = Cells.empty(famCellOffset.last)

    override def reduce(b: Cells, row: Row): Cells = {
      // row: (value: Double?, time: Long, famCols: String...)
      val t = row.getLong(1)
      var bkt = 0
      while (bkt < nWin && windows(bkt) < t) bkt += 1
      if (bkt < nWin) {
        var fi = 0
        while (fi < famColPos.length) {
          // single '\u0000'-joined key: one allocation, one hash lookup
          // per (row, family); a NULL grouping value matches no tuple.
          val pos = famColPos(fi)
          var key: String = null
          if (pos.length == 1) {
            val v = row.get(pos(0))
            if (v != null) key = v.toString
          } else {
            val sb = new java.lang.StringBuilder(32)
            var ok = true
            var i = 0
            while (ok && i < pos.length) {
              val v = row.get(pos(i))
              if (v == null) ok = false
              else {
                if (i > 0) sb.append('\u0000')
                sb.append(v)
              }
              i += 1
            }
            if (ok) key = sb.toString
          }
          val ti = if (key == null) null else famTupleIdx(fi).get(key)
          if (ti != null) {
            val c = famCellOffset(fi) + ti.intValue() * nWin + bkt
            if (row.isNullAt(0)) b.addRow(c) else b.addValue(c, row.getDouble(0))
          }
          fi += 1
        }
      }
      b
    }

    override def merge(a: Cells, b: Cells): Cells = a.merge(b)

    override def finish(b: Cells): FeatureArrays = {
      val counts = new Array[Long](nCounts)
      val values = new Array[java.lang.Double](featPlan.length - nCounts)
      var ci = 0; var vi = 0
      var i = 0
      while (i < featPlan.length) {
        val (base, bMax, agg) = featPlan(i)
        if (agg == AggKind.Count) { counts(ci) = b.rows(base, bMax); ci += 1 }
        else { values(vi) = b.value(base, bMax, agg); vi += 1 }
        i += 1
      }
      FeatureArrays(counts, values)
    }

    override def bufferEncoder = Encoders.kryo[Cells]
    override def outputEncoder = Encoders.product[FeatureArrays]
  }

  def apply(df: DataFrame, spec: FeatureSpec): DataFrame = {
    val windows = spec.windows.toArray
    val famColNames = spec.groupings.map(_.cols.toArray).toArray
    val dataCols = famColNames.flatten.distinct
    // input struct: value, time, then the distinct grouping columns
    val colPos = dataCols.zipWithIndex.map { case (c, i) => (c, i + 2) }.toMap
    val famColPos = famColNames.map(_.map(colPos))
    val famTupleIdx: Array[java.util.HashMap[String, Integer]] =
      spec.groupings.map { fam =>
        val m = new java.util.HashMap[String, Integer]()
        fam.valueTuples.zipWithIndex.foreach { case (t, i) =>
          m.put(t.mkString("\u0000"), Integer.valueOf(i))
        }
        m
      }.toArray
    val famCellOffset = Cells.familyOffsets(spec)
    val featPlan = Cells.featureCells(spec).zip(spec.features).map {
      case ((base, bMax), f) => (base, bMax, f.agg)
    }
    val isCount = spec.features.map(_.agg == AggKind.Count)

    val inSchema = StructType(
      StructField("v", DoubleType, nullable = true) +:
        StructField("t", LongType, nullable = false) +:
        dataCols.map(c => StructField(c, StringType, nullable = true)).toSeq)

    val agg = new FeatureAgg(windows, famTupleIdx, famCellOffset, famColPos,
      featPlan, isCount.count(identity))
    val u = udaf(agg, Encoders.row(inSchema))

    val inputs = (col(spec.valueCol).cast(DoubleType) +:
      col(spec.timeCol).cast(LongType) +: dataCols.map(col).toSeq)
    val wide = df
      .filter(col(spec.timeCol) <= lit(windows.max))
      .groupBy(col(spec.keyCol))
      .agg(u(inputs: _*).as("__f"))
    // finish fills each array in spec order, so a feature's item is the
    // number of earlier features in the same array
    val before = isCount.scanLeft((0, 0)) {
      case ((c, v), cnt) => if (cnt) (c + 1, v) else (c, v + 1)
    }
    val featCols = spec.features.lazyZip(isCount).lazyZip(before).map {
      case (f, cnt, (c, v)) =>
        (if (cnt) col("__f.counts").getItem(c) else col("__f.values").getItem(v)).as(f.name)
    }
    wide.select(col(spec.keyCol) +: featCols: _*)
  }
}
