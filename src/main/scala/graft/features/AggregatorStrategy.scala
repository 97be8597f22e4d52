package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumn
import org.apache.spark.sql.types._

/** The engine-native strategy: a Catalyst aggregate function
  * ([[AggregatorStrategy.FeatureCells]]) that keeps ONE flat [[Cells]]
  * grid per key — (family-tuple x smallest-enclosing-window bucket)
  * x (rows, nnz, sum, min, max) — updated imperatively per row.
  *
  * Why it beats both declarative strategies at scale:
  *
  *   - per-row work is one cell update per family, not 2,080 CASE
  *     predicates (case-when) and not a row explode + 416-value pivot;
  *   - it is ONE shuffle of compact partial state (Spark's multi-agg pivot
  *     needs two exchanges; mapGroups shuffles raw rows and concentrates
  *     hot keys on single tasks);
  *   - partial merge is an array add, so it stays skew-immune.
  *
  * Runs as ObjectHashAggregate: the cell grid lives as a JVM object in
  * the agg hash map and is written as its five primitive arrays only at
  * the shuffle boundary. GraftSession raises the sort-based fallback
  * threshold (default 128 distinct keys) so the hash path is actually
  * used; beyond it Spark falls back to sort-based aggregation gracefully.
  * The buffer is 40 bytes x cells (16.6 KB for the reference's 416-cell
  * spec), so ~100k in-flight keys per task ≈ 1.7 GB — size executor
  * memory or the fallback threshold accordingly.
  *
  * ==Why the cell lookup sits in the Project==
  * Each row's cell in each family is an int column computed by
  * [[Cells.cellIds]] from built-in expressions, so it compiles into the
  * whole-stage-codegen'd Scan→Filter→Project stage, and the aggregate
  * reads only a double and the int cell ids. The earlier form, a typed
  * `Aggregator[Row, Cells, _]`, paid per row for an input projection, an
  * `Encoders.row` deserialisation (a string copy per grouping column,
  * boxing), a string key per family and a hash-map lookup per family.
  * Measured with `perfbench` on `feature_tiny` (the reference spec over
  * DataGen.Tiny, 17.4M rows, 1,000 keys) on a 4-core host, ten
  * alternating pairs: median `job_s` 2.30 s with the typed Aggregator,
  * 1.44 s with the cell ids. Traced runs put the saving in the partial
  * aggregate: `agg.partial_s` 5.60 and 5.19 s fell to 2.29 s, and
  * `exec.task_s` 8.15 and 7.51 s to 4.14 and 3.96 s.
  *
  * ==Why the result is two arrays==
  * `eval` returns a struct of a bigint array of the Count features and a
  * double array of the others, and each output column is one item of
  * them. A 2,080-field struct result (the earlier form) made the final
  * stage pay twice per key and per task: Spark ran the `Encoders.row`
  * serializer of the 2,080-field struct once per key, and the projection
  * building that struct is wider than `spark.sql.codegen.maxFields`, so
  * whole-stage codegen was off and each task generated its own
  * `UnsafeProjection` for it. Measured with `perfbench` on
  * `feature_tiny` on a 4-core host, ten alternating pairs: median
  * `job_s` 3.64 s with the struct, 2.45 s with the arrays. Traced runs
  * put the saving in the final stage: `exec.task_s` 11.2 and 10.5 s fell
  * to 8.0 and 8.1 s and `exec.gc_s` 1.17 and 1.22 s to 0.35 and 0.34 s,
  * while `agg.partial_s` stayed at 5.5-5.8 s.
  */
object AggregatorStrategy extends FeatureStrategy {

  /** The per-key cell grid of `spec` as an aggregate function. Children:
    * the value as a double, then one int cell id per grouping family
    * ([[Cells.cellIds]]). Result: `counts`, the Count features in spec
    * order, and `values`, the other features in spec order, NULL where a
    * feature has no value.
    */
  final case class FeatureCells(
      children: Seq[Expression],
      spec: FeatureSpec,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0) extends TypedImperativeAggregate[Cells] {

    @transient private lazy val nCells = Cells.familyOffsets(spec).last
    @transient private lazy val featCells = Cells.featureCells(spec)
    @transient private lazy val aggs = spec.features.map(_.agg).toArray
    @transient private lazy val nCounts = aggs.count(_ == AggKind.Count)

    // Bound children are columns of the input row and are read in place,
    // unboxed. Anything else (a constant the optimizer folded in) goes
    // through one projection first.
    @transient private lazy val bound: Seq[Int] =
      children.collect { case BoundReference(o, _, _) => o }
    @transient private lazy val project: InternalRow => InternalRow =
      if (bound.length == children.length) identity
      else UnsafeProjection.create(children)
    @transient private lazy val ordinals: Array[Int] =
      if (bound.length == children.length) bound.toArray else children.indices.toArray

    override def prettyName: String = "graft_feature_cells"
    override protected def stringArgs: Iterator[Any] = children.iterator ++
      Iterator(s"$nCells cells", s"$nCounts counts", s"${aggs.length - nCounts} values")
    override def nullable: Boolean = false
    override def dataType: DataType = StructType(Seq(
      StructField("counts", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("values", ArrayType(DoubleType, containsNull = true), nullable = false)))

    override def createAggregationBuffer(): Cells = Cells.empty(nCells)

    override def update(b: Cells, input: InternalRow): Cells = {
      val row = project(input)
      val noValue = row.isNullAt(ordinals(0))
      val v = if (noValue) 0.0 else row.getDouble(ordinals(0))
      var i = 1
      while (i < ordinals.length) {
        val o = ordinals(i)
        if (!row.isNullAt(o)) {
          if (noValue) b.addRow(row.getInt(o)) else b.addValue(row.getInt(o), v)
        }
        i += 1
      }
      b
    }

    override def merge(b: Cells, o: Cells): Cells = b.merge(o)

    override def eval(b: Cells): Any = {
      val counts = new Array[Long](nCounts)
      val values = UnsafeArrayData.createFreshArray(aggs.length - nCounts, 8)
      var ci = 0; var vi = 0
      var i = 0
      while (i < aggs.length) {
        val (base, bMax) = featCells(i)
        if (aggs(i) == AggKind.Count) { counts(ci) = b.rows(base, bMax); ci += 1 }
        else {
          val x = b.value(base, bMax, aggs(i))
          if (x == null) values.setNullAt(vi) else values.setDouble(vi, x)
          vi += 1
        }
        i += 1
      }
      InternalRow(UnsafeArrayData.fromPrimitiveArray(counts), values)
    }

    override def serialize(b: Cells): Array[Byte] = b.toBytes
    override def deserialize(bytes: Array[Byte]): Cells = Cells.fromBytes(bytes)

    override def withNewMutableAggBufferOffset(o: Int): FeatureCells =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): FeatureCells =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): FeatureCells = copy(children = newChildren)
  }

  def apply(df: DataFrame, spec: FeatureSpec): DataFrame = {
    val inputs = df
      .filter(col(spec.timeCol) <= lit(spec.windows.max))
      .select(col(spec.keyCol) +: col(spec.valueCol).cast(DoubleType).as(spec.valueCol) +:
        Cells.cellIds(spec): _*)
    val cells = FeatureCells(inputs.columns.toSeq.tail.map(UnresolvedAttribute.quoted), spec)
    val wide = inputs
      .groupBy(col(spec.keyCol))
      .agg(ExpressionColumn(cells.toAggregateExpression()).as("__f"))
    // eval fills each array in spec order, so a feature's item is the
    // number of earlier features in the same array
    val isCount = spec.features.map(_.agg == AggKind.Count)
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
