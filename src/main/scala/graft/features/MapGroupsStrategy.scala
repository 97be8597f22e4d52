package graft.features

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A7 — the grouped-UDF escape hatch: ship each key's rows to one task and
  * compute the whole feature row imperatively, like the reference's
  * `groupBy(customer_id).applyInPandas(...)` / `applyInArrow(...)`
  * (reference impl/pyspark-pandas-udf.py:64-81,
  * impl/pyspark4-polars-udf.py:80-107) — except the closure stays in the
  * JVM (`KeyValueGroupedDataset.mapGroups`), so there is no Arrow/IPC hop
  * to a worker process, the reference strategy's dominant cost.
  *
  * Physical plan: Scan -> Exchange(key) -> Sort(key) -> MapGroups. All of a
  * key's rows land on one task, so — unlike the agg strategies — hot keys
  * are NOT skew-immune (SURVEY.md 2.7.6). This is deliberately the
  * *escape hatch* for per-group logic Catalyst can't express, not the
  * default: CaseWhenStrategy / PivotRollupStrategy are the production
  * paths. Semantics match them exactly (same null/zero rules).
  */
object MapGroupsStrategy extends FeatureStrategy {

  def apply(df: DataFrame, spec: FeatureSpec): DataFrame = {
    val famOffset = Cells.familyOffsets(spec)
    val featCells = Cells.featureCells(spec)
    val featAggs = spec.features.map(_.agg).toArray

    val keyField = df.schema(spec.keyCol)
    val outSchema = StructType(
      keyField +: spec.features.map { f =>
        StructField(f.name,
          if (f.agg == AggKind.Count) LongType else DoubleType, nullable = true)
      })

    // Narrow projection: key, value (double), then each family's cell id
    // (Cells.cellIds) — column pruning reaches the scan exactly like the
    // declarative strategies.
    val narrowed = df
      .filter(col(spec.timeCol) <= lit(spec.windows.max))
      .select(col(spec.keyCol) +: col(spec.valueCol).cast(DoubleType) +:
        Cells.cellIds(spec): _*)

    val nCols = 2 + spec.groupings.length
    // Shuffle key: prefix distinguishes a NULL key from the literal string
    // "null" (String.valueOf maps both to "null" — they must not share a
    // group). The output key is recovered from the group's rows, so the
    // prefix never leaks.
    val grouped = narrowed.groupByKey { row =>
      if (row.isNullAt(0)) "n" else "v" + String.valueOf(row.get(0))
    }(Encoders.STRING)
    val result = grouped.mapGroups { (_, rows) =>
      val cells = Cells.empty(famOffset.last)
      var key: Any = null
      while (rows.hasNext) {
        val row = rows.next()
        if (key == null) key = row.get(0)
        var i = 2
        while (i < nCols) {
          if (!row.isNullAt(i)) {
            if (row.isNullAt(1)) cells.addRow(row.getInt(i))
            else cells.addValue(row.getInt(i), row.getDouble(1))
          }
          i += 1
        }
      }
      // Roll buckets up into cumulative windows (the same roll-up as
      // AggregatorStrategy's eval).
      val out = new Array[Any](1 + featCells.length)
      out(0) = key
      var i = 0
      while (i < featCells.length) {
        val (base, bMax) = featCells(i)
        out(i + 1) =
          if (featAggs(i) == AggKind.Count) cells.rows(base, bMax)
          else cells.value(base, bMax, featAggs(i))
        i += 1
      }
      Row.fromSeq(out.toIndexedSeq)
    }(Encoders.row(outSchema))
    result.toDF()
  }
}
