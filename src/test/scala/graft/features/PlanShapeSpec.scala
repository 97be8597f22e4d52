package graft.features

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, CaseWhen}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

/** Plans, not just answers: the properties that make the strategies hold
  * at 100 TB — filter pushdown into the scan, column pruning, and exactly
  * one shuffle for the agg strategies — asserted on the physical plan
  * NODES (a 2,080-column plan's string form is truncated by Spark, so
  * string matching is unreliable) so a regression shows up as a test
  * failure, not a slow cluster.
  */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  private lazy val dataPath: String = {
    // Enough files that the scan has >1 partition — with a 1-partition
    // input EnsureRequirements legitimately elides the agg exchange and
    // the shuffle-count assertion would test nothing.
    val p = "/root/repo/target/test_planshape_trx"
    if (!new java.io.File(s"$p/_SUCCESS").exists())
      graft.datagen.DataGen.transactions(spark, graft.datagen.DataGen.Config(300L, 3, 5))
        .repartition(6)
        .write.mode("overwrite").partitionBy("part_col").parquet(p)
    p
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }

  // executedPlan, not sparkPlan: EnsureRequirements inserts exchanges in
  // the execution-prep phase (requires AQE off, else the root is opaque).
  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.length

  test("time-window filter is pushed into the parquet scan") {
    val df = PivotRollupStrategy(spark.read.parquet(dataPath), FeatureSpec.reference)
    val pushed = scans(df).head.metadata("PushedFilters")
    assert(pushed.contains("LessThanOrEqual(t_minus,720)"), pushed)
  }

  test("column pruning reaches the scan (unused columns never read)") {
    val needed = Set("customer_id", "card_type", "trx_type", "channel",
      "trx_amnt", "t_minus")
    for (strat <- Seq[FeatureStrategy](CaseWhenStrategy, PivotRollupStrategy,
        MapGroupsStrategy, AggregatorStrategy)) {
      val df = strat(spark.read.parquet(dataPath), FeatureSpec.reference)
      // Chunked case-when has one scan per chunk, and pruning is FINER
      // than the monolith: a chunk whose features never touch `channel`
      // doesn't read it. So pin subset-per-scan plus exact union.
      val reads = scans(df).map(_.requiredSchema.fieldNames.toSet)
      for (read <- reads)
        assert(read.subsetOf(needed), s"${strat.getClass.getSimpleName}: read $read")
      assert(reads.reduce(_ ++ _) == needed,
        s"${strat.getClass.getSimpleName}: union ${reads.reduce(_ ++ _)}")
    }
  }

  test("agg strategies shuffle exactly once (partial+final HashAggregate)") {
    // AQE wraps the plan in AdaptiveSparkPlanExec (opaque to collect);
    // turn it off while COUNTING exchanges — the shape is the same. Also
    // stop the scan from bin-packing the small fixture into ONE partition
    // (a 1-partition child satisfies any distribution and the exchange is
    // legitimately elided, which would make this assertion vacuous).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      // Chunked case-when: one exchange of AGGREGATED state per chunk
      // (never raw rows), and the key-equi-joins between chunks reuse the
      // aggregation's hash partitioning — so exchanges == chunk count
      // exactly; an extra one would mean a raw-row or re-partition shuffle
      // crept in.
      val nChunks = math.ceil(
        FeatureSpec.reference.features.size.toDouble /
          CaseWhenStrategy.MaxSingleAggFeatures).toInt
      val cw = CaseWhenStrategy(spark.read.parquet(dataPath), FeatureSpec.reference)
      assert(shuffles(cw) == nChunks,
        s"case-when: expected $nChunks chunk shuffles, found ${shuffles(cw)}")
      // Spark compiles pivot-with-multiple-aggs as TWO aggregates:
      // partial+final on (key, pivotKey), then PivotFirst on key — so two
      // exchanges, but BOTH move pre-aggregated state (≤ keys x 416 rows),
      // never raw rows. Pin it so an accidental third (raw-row) shuffle
      // fails the build.
      val pv = PivotRollupStrategy(spark.read.parquet(dataPath), FeatureSpec.reference)
      assert(shuffles(pv) == 2, s"pivot: expected 2 shuffles, found ${shuffles(pv)}")
      // The aggregator: one exchange of serialized partial cell grids,
      // with the object hash aggregate on both sides of it. A
      // SortAggregate would mean the planner lost the hash path.
      val ag = AggregatorStrategy(spark.read.parquet(dataPath), FeatureSpec.reference)
      val agPlan = ag.queryExecution.executedPlan
      assert(shuffles(ag) == 1, s"aggregator: expected 1 shuffle, found ${shuffles(ag)}")
      val exchange = agPlan.collect { case e: ShuffleExchangeExec => e }.head
      assert(exchange.child.isInstanceOf[ObjectHashAggregateExec],
        s"aggregator: partial side is ${exchange.child.nodeName}")
      assert(agPlan.collect { case a: ObjectHashAggregateExec => a }.exists(_.child eq exchange),
        "aggregator: no ObjectHashAggregate reads the exchange")
      assert(agPlan.collect { case a: SortAggregateExec => a }.isEmpty,
        "aggregator: planned a SortAggregate")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("aggregator's partial aggregate reads a double and int cell ids; the lookup stays in the codegen'd stage") {
    // The row→cell lookup (Cells.cellIds) is the per-row work; it must run
    // in the whole-stage-codegen'd Scan→Filter→Project, never inside the
    // ObjectHashAggregate, which evaluates its inputs row by row.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = AggregatorStrategy(spark.read.parquet(dataPath), FeatureSpec.reference)
        .queryExecution.executedPlan
      val aggs = plan.collect { case a: ObjectHashAggregateExec => a }
      val partial = aggs.filter(_.aggregateExpressions.forall(_.mode == Partial))
      assert(partial.length == 1, plan.treeString)
      val inputs = partial.head.aggregateExpressions.flatMap(_.aggregateFunction.children)
      assert(inputs.length == 1 + FeatureSpec.reference.groupings.length, inputs.mkString(", "))
      // columns of ints and a double only: no string reaches the aggregate
      for (e <- inputs) {
        assert(e.isInstanceOf[Attribute], s"aggregate input $e is not a column")
        assert(e.dataType == IntegerType || e.dataType == DoubleType, s"aggregate input $e: ${e.dataType}")
      }
      for (a <- aggs)
        assert(a.expressions.forall(_.find(_.isInstanceOf[CaseWhen]).isEmpty),
          s"CASE inside ${a.simpleString(200)}")
      partial.head.child match {
        case stage: WholeStageCodegenExec =>
          assert(stage.child.expressions.exists(_.find(_.isInstanceOf[CaseWhen]).nonEmpty),
            s"no cell lookup in the stage below the aggregate:\n${stage.treeString}")
        case other => fail(s"partial aggregate reads ${other.nodeName}, not a codegen'd stage")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("case-when chunking boundary: <=MaxSingleAggFeatures stays one shuffle") {
    // The chunk threshold is a CONTRACT (SCALE.md cites it); pin that a
    // spec at the boundary compiles to the single-agg plan and one past
    // it splits in two.
    def specOf(nFeatures: Int): FeatureSpec = {
      // windows x aggs = 5 aggs; tuples chosen so features == nFeatures
      val tuples = (0 until nFeatures / 5).map(i => Seq(s"v$i"))
      FeatureSpec("k", "v", "t", Seq(7),
        Seq(GroupingFamily(Seq("g1"), tuples)))
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val at = specOf(CaseWhenStrategy.MaxSingleAggFeatures)
      val over = specOf(CaseWhenStrategy.MaxSingleAggFeatures + 5)
      val df = spark.read.parquet(dataPath)
        .withColumnRenamed("customer_id", "k")
        .withColumnRenamed("trx_amnt", "v")
        .withColumnRenamed("t_minus", "t")
        .withColumnRenamed("card_type", "g1")
      assert(shuffles(CaseWhenStrategy(df, at)) == 1)
      assert(shuffles(CaseWhenStrategy(df, over)) == 2)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("rank-filter top-k plans as WindowGroupLimit (bounded per-group state, no full sort-all)") {
    // Catalyst's InferWindowGroupLimit rewrites `filter(row_number <= k)`
    // into partial+final WindowGroupLimitExec: each task keeps only k rows
    // per group BEFORE the shuffle — the optimization that makes the
    // window-based top-k formulations (q9, llm_emb_topk*) safe at scale.
    // Pin it so a formulation change that silently loses the rewrite
    // (e.g. rank filter hidden behind a non-deterministic expr) fails.
    import org.apache.spark.sql.expressions.Window
    val emb = graft.queries.QueryDef.table(spark, "/root/testdata/sf0.001", "embeddings")
    val w = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val topk = emb.withColumn("r", row_number().over(w)).filter(col("r") <= 3)
    // AQE's root is opaque to collect(), so assert on the plan string:
    // both the Partial (pre-shuffle, the part that bounds state) and the
    // Final mode must be present.
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      "expected partial WindowGroupLimit in:\n" + plan.take(2000))
  }

  test("relational q2 filter+projection push down to the scan") {
    val df = graft.queries.QueryDef.table(spark, "/root/testdata/sf0.001", "lineitem")
      .filter(col("l_quantity") > lit(45.0))
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = scans(df).head
    assert(scan.metadata("PushedFilters").contains("GreaterThan(l_quantity,45.0)"))
    assert(scan.requiredSchema.fieldNames.toSet == Set("l_orderkey", "l_quantity"))
  }
}
