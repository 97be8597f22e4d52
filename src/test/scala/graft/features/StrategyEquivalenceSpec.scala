package graft.features

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The core algebraic contract: all three strategy compilers produce the
  * SAME table for the same [[FeatureSpec]] — including on inputs with NULL
  * values, NULL grouping columns, and out-of-window rows (the divergences
  * VERDICT.md r1 flagged as latent). Values are dyadic (k/8) so sums are
  * order-independent and results compare EXACTLY, no float tolerance.
  */
class StrategyEquivalenceSpec extends AnyFunSuite with SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("g1", StringType, nullable = true),
    StructField("g2", StringType, nullable = true),
    StructField("t", LongType, nullable = false),
    StructField("v", DoubleType, nullable = true)
  ))

  private val spec = FeatureSpec(
    keyCol = "k", valueCol = "v", timeCol = "t",
    windows = Seq(7, 14, 30),
    groupings = Seq(
      GroupingFamily(Seq("g1"), Seq(Seq("a"), Seq("b"))),
      GroupingFamily.cross("g1" -> Seq("a", "b"), "g2" -> Seq("x", "y"))
    ))

  private def randomFrame(seed: Long, nRows: Int): DataFrame = {
    val rng = new java.util.SplittableRandom(seed)
    val g1s = Array("a", "b", "c", null)
    val g2s = Array("x", "y", "z", null)
    val rows = (0 until nRows).map { _ =>
      Row(
        rng.nextLong(15),
        g1s(rng.nextInt(g1s.length)),
        g2s(rng.nextInt(g2s.length)),
        rng.nextLong(45) - 5L, // includes t<0 and t>maxWindow
        if (rng.nextInt(5) == 0) null else rng.nextLong(160) / 8.0
      )
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def collectSorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])

  test("case-when ≡ pivot+rollup ≡ mapGroups ≡ aggregator on randomized inputs with NULLs") {
    for (seed <- Seq(1L, 2L, 3L, 4L, 5L)) {
      val df = randomFrame(seed, 400)
      val a = collectSorted(CaseWhenStrategy(df, spec))
      val b = collectSorted(PivotRollupStrategy(df, spec))
      val c = collectSorted(MapGroupsStrategy(df, spec))
      val d = collectSorted(AggregatorStrategy(df, spec))
      assert(a == b, s"case-when vs pivot diverged (seed=$seed)")
      assert(a == c, s"case-when vs mapGroups diverged (seed=$seed)")
      assert(a == d, s"case-when vs aggregator diverged (seed=$seed)")
    }
  }

  test("constant columns, which the optimizer folds into the aggregator's inputs, give the same answer") {
    // A constant value and time, and a constant g1, make the value and the
    // first family's cell id literals; the second family's stays a column.
    val df = randomFrame(6L, 200)
      .withColumn("g1", lit("a")).withColumn("t", lit(3L)).withColumn("v", lit(2.5))
    val expected = collectSorted(CaseWhenStrategy(df, spec))
    assert(collectSorted(AggregatorStrategy(df, spec)) == expected)
    assert(collectSorted(MapGroupsStrategy(df, spec)) == expected)
  }

  test("NULL grouping keys survive every strategy AND the chunked stitch (ADVICE r3)") {
    // Nullable key: groupBy emits a NULL-key group; the chunked case-when
    // stitch must keep it (a bare inner equi-join would drop it, making
    // output depend on spec width), and all four strategies must agree.
    val nullableSchema = StructType(schema.fields.map {
      case f if f.name == "k" => f.copy(nullable = true)
      case f                  => f
    })
    val rng = new java.util.SplittableRandom(42L)
    val g1s = Array("a", "b", "c", null)
    val g2s = Array("x", "y", "z", null)
    val rows = (0 until 400).map { _ =>
      Row(
        if (rng.nextInt(8) == 0) null else java.lang.Long.valueOf(rng.nextLong(10)),
        g1s(rng.nextInt(g1s.length)),
        g2s(rng.nextInt(g2s.length)),
        rng.nextLong(45) - 5L,
        if (rng.nextInt(5) == 0) null else rng.nextLong(160) / 8.0
      )
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), nullableSchema)
    def sorted(out: DataFrame): Seq[Seq[Any]] =
      out.collect().toSeq.map(_.toSeq)
        .sortBy(r => Option(r.head).map(_.asInstanceOf[Long]).getOrElse(Long.MinValue))
    val single = sorted(CaseWhenStrategy(df, spec))
    assert(single.exists(_.head == null), "expected a NULL-key output group")
    // chunkSize=16 forces the multi-chunk stitch path on this 90-feature spec
    val stitched = sorted(CaseWhenStrategy.chunked(
      df, spec, CaseWhenStrategy.aggExprs(spec), 16))
    assert(stitched == single, "chunked stitch diverged on NULL keys")
    assert(sorted(PivotRollupStrategy(df, spec)) == single, "pivot diverged on NULL keys")
    assert(sorted(MapGroupsStrategy(df, spec)) == single, "mapGroups diverged on NULL keys")
    assert(sorted(AggregatorStrategy(df, spec)) == single, "aggregator diverged on NULL keys")
  }

  test("NaN values order above every double in min/max, as Spark's do, in every strategy") {
    // Three slices of two rows, so the NaN and the 5.0 of key 1 meet only
    // in the merge of partial buffers; key 2 has a lone NaN; key 3 has a
    // NaN in the 14-day bucket only.
    val rows = Seq(
      Row(1L, "a", "x", 1L, Double.NaN),
      Row(2L, "a", "x", 1L, Double.NaN),
      Row(1L, "a", "x", 2L, 5.0),
      Row(3L, "a", "x", 10L, Double.NaN),
      Row(3L, "a", "y", 1L, -2.0),
      Row(1L, "b", "y", 1L, 1.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    // NaN != NaN, so compare NaN cells by name
    def table(s: FeatureStrategy): Seq[Seq[Any]] =
      collectSorted(s(df, spec)).map(_.map {
        case d: Double if d.isNaN => "NaN"
        case v                    => v
      })
    def cell(t: Seq[Seq[Any]], key: Long, feature: String): Any =
      t.find(_.head == key).get(spec.outputColumns.indexOf(feature))
    val expected = table(CaseWhenStrategy)
    for (s <- Seq(CaseWhenStrategy, PivotRollupStrategy, MapGroupsStrategy, AggregatorStrategy)) {
      val name = s.getClass.getSimpleName
      val t = table(s)
      assert(cell(t, 1L, "a_7d_max") == "NaN", s"$name: max({NaN, 5.0})")
      assert(cell(t, 1L, "a_7d_min") == 5.0, s"$name: min({NaN, 5.0})")
      assert(cell(t, 2L, "a_7d_min") == "NaN", s"$name: min({NaN})")
      assert(cell(t, 2L, "a_7d_max") == "NaN", s"$name: max({NaN})")
      assert(cell(t, 3L, "a_7d_max") == -2.0, s"$name: max before the NaN bucket")
      assert(cell(t, 3L, "a_14d_max") == "NaN", s"$name: max over the NaN bucket")
      assert(cell(t, 3L, "a_14d_min") == -2.0, s"$name: min over the NaN bucket")
      assert(t == expected, s"$name diverged from case-when")
    }
  }

  test("a literal \"null\" string key and a NULL key stay distinct groups in mapGroups") {
    val s2 = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("g1", StringType, nullable = true),
      StructField("g2", StringType, nullable = true),
      StructField("t", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    val rows = Seq(
      Row("null", "a", "x", 1L, 1.0),
      Row(null, "a", "x", 1L, 2.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), s2)
    val out = MapGroupsStrategy(df, spec).collect()
    assert(out.length == 2, "NULL key and the string \"null\" must not merge")
    assert(out.map(_.get(0)).toSet == Set("null", null))
  }

  test("AutoStrategy decision table: narrow → case-when; wide → aggregator small, pivot large") {
    assert(AutoStrategy.choose(spec) == CaseWhenStrategy,
      s"${spec.features.length}-feature spec should compile as the canonical case-when")
    assert(AutoStrategy.choose(FeatureSpec.reference) == AggregatorStrategy,
      "the 2,080-feature reference spec routes to the one-scan aggregator at small volume")
    assert(AutoStrategy.choose(FeatureSpec.reference,
        AutoStrategy.WideSpecPivotBytes + 1) == PivotRollupStrategy,
      "above the size threshold a wide spec routes to pivot-rollup " +
        "(the strategy measured par-to-4x better at medium, BENCH_medium_r06)")
    // narrow specs never route to pivot regardless of size
    assert(AutoStrategy.choose(spec,
      AutoStrategy.WideSpecPivotBytes * 1000) == CaseWhenStrategy)
    // and the routed plan produces the canonical answer
    val df = randomFrame(11L, 300)
    assert(collectSorted(AutoStrategy(df, spec)) == collectSorted(CaseWhenStrategy(df, spec)))
  }

  test("all strategies emit the canonical output schema") {
    val df = randomFrame(7L, 100)
    val expected = spec.outputColumns
    for (s <- Seq(CaseWhenStrategy, PivotRollupStrategy, MapGroupsStrategy, AggregatorStrategy))
      assert(s(df, spec).columns.toSeq == expected)
    // the imperative two also agree on types and nullability: bigint
    // counts, double values, every feature column nullable
    val agg = AggregatorStrategy(df, spec).schema
    assert(agg == MapGroupsStrategy(df, spec).schema, agg.treeString)
    assert(agg.tail.forall(_.nullable), agg.treeString)
  }

  test("Count features count rows, not non-NULL values (VERDICT r1 bug #1)") {
    // 3 rows match (g1=a, t<=7): two NULL values, one 4.0.
    val rows = Seq(
      Row(1L, "a", "x", 1L, null),
      Row(1L, "a", "y", 2L, null),
      Row(1L, "a", "x", 3L, 4.0),
      Row(1L, "b", "x", 1L, 2.0)
    )
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    for (s <- Seq(CaseWhenStrategy, PivotRollupStrategy, MapGroupsStrategy, AggregatorStrategy)) {
      val out = s(df, spec).collect().head
      val idx = spec.outputColumns.indexOf("a_7d_count")
      assert(out.get(idx) == 3L, s"${s.getClass.getSimpleName}: a_7d_count")
      val avgIdx = spec.outputColumns.indexOf("a_7d_avg")
      assert(out.get(avgIdx) == 4.0, s"${s.getClass.getSimpleName}: a_7d_avg over non-NULLs")
    }
  }
}
