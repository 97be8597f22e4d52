package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compiles a [[FeatureSpec]] into a Spark plan. Four interchangeable
  * strategies (same output schema and values — pinned by
  * StrategyEquivalenceSpec; this file holds the two declarative ones,
  * [[MapGroupsStrategy]] and [[AggregatorStrategy]] the imperative two):
  *
  *   - [[CaseWhenStrategy]]: one `groupBy(key).agg(N conditional aggs)` —
  *     spec-exact, a single shuffle, heavy codegen
  *     (reference impl/pyspark-case-when.py:102-130).
  *   - [[PivotRollupStrategy]]: bucket rows into their smallest enclosing
  *     window, pivot on (family-tuple, bucket) with known values, then roll
  *     buckets up into cumulative windows with plain column arithmetic
  *     (reference impl/pyspark-pivot.py:49-143). Unlike the reference, avg
  *     is rolled up exactly as sum/count (fixes SURVEY.md 2.7.2), and both
  *     grouping families are computed in ONE scan/shuffle by exploding each
  *     row into its per-family pivot keys (the reference scans the input
  *     twice and joins, impl/pyspark-pivot.py:185-189).
  *
  * Both produce `keyCol` + one column per [[Feature]] in canonical order.
  */
trait FeatureStrategy {
  def apply(df: DataFrame, spec: FeatureSpec): DataFrame
}

/** Picks the compilation strategy from the spec shape and the input size
  * estimate — the optimizer the engine owns (SURVEY.md §4): the reference
  * hand-picks an implementation per benchmark run; graft picks for the
  * user.
  *
  * Decision table (pinned by StrategyEquivalenceSpec):
  *   - `features ≤ CaseWhenStrategy.MaxSingleAggFeatures` →
  *     [[CaseWhenStrategy]]: the spec-canonical single conditional
  *     aggregate — one scan, one shuffle, codegen-eligible at this width.
  *   - wider, input below [[AutoStrategy.WideSpecPivotBytes]] →
  *     [[AggregatorStrategy]]: one scan + one shuffle of the
  *     ObjectHashAggregate's per-key cell grids — the shape chosen for
  *     small volume;
  *     its measured `perfbench` `feature_tiny` job time (the reference
  *     spec over DataGen.Tiny, 17.4M rows, on a 4-core host) is in the
  *     [[AggregatorStrategy]] scaladoc.
  *   - wider AND larger → [[PivotRollupStrategy]]. Evidence
  *     (BENCH_medium_r0{3,4,5,6}, 1.72B rows): under healthy storage
  *     the two are par (r3: 100 vs 97 s; r4: 140 vs 144 s), but under
  *     the degraded-I/O regime this host spends most rounds in, the
  *     aggregator's large per-key object buffers (~17 KB × keys of
  *     spill-eligible state per task) degrade 4-5× (r5: 481 vs 199 s;
  *     r6: 548 vs 136 s — with the r6 datagen I/O control at 1705 s vs
  *     r4's 348 s) while the pivot's fixed `tuples×windows×5` numeric
  *     cells barely move (136 s in r6 is BELOW r4's 144). Routing large
  *     inputs to pivot therefore loses nothing when I/O is healthy and
  *     wins ~4× when it isn't — the asymmetric-risk choice for a plan
  *     that must survive a 1000-executor cluster where SOME executor is
  *     always in the slow-I/O regime.
  *
  * Key cardinality deliberately does not enter the rule: both wide
  * branches shuffle only aggregated state, and AggregatorStrategy
  * degrades gracefully to sort-based aggregation past the
  * ObjectHashAggregate fallback threshold (sized in GraftSession).
  */
object AutoStrategy extends FeatureStrategy {

  /** Input-size estimate above which wide specs compile as pivot-rollup
    * (see decision table): between tiny's 113 MB (routed to the aggregator)
    * and medium's 11 GB (pivot par-to-4× better), set at the decade
    * boundary. Compared against Catalyst's `optimizedPlan.stats
    * .sizeInBytes` — file bytes for a parquet scan, no job launched.
    */
  val WideSpecPivotBytes: BigInt = BigInt(2L << 30)

  def choose(spec: FeatureSpec, inputBytes: BigInt = BigInt(0)): FeatureStrategy =
    if (spec.features.length <= CaseWhenStrategy.MaxSingleAggFeatures)
      CaseWhenStrategy
    else if (inputBytes > WideSpecPivotBytes) PivotRollupStrategy
    else AggregatorStrategy

  /** Size estimate for routing: 0 ("unknown, stay conservative") for
    * streaming inputs — `optimizedPlan` would throw the batch-only
    * check at plan-construction time — and for stat-less sources
    * (RDD-backed frames, some connectors), whose estimate is the
    * `defaultSizeInBytes` Long.MaxValue sentinel, not a measurement.
    * Unknown size routes like small: the aggregator, the previous
    * behavior of this optimizer.
    */
  private def inputEstimate(df: DataFrame): BigInt =
    if (df.isStreaming) BigInt(0)
    else {
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est >= BigInt(Long.MaxValue)) BigInt(0) else est
    }

  def apply(df: DataFrame, spec: FeatureSpec): DataFrame =
    choose(spec, inputEstimate(df))(df, spec)
}

/** Single-pass conditional aggregation: `agg_k(CASE WHEN cond THEN x END)`
  * for every (tuple, window, agg) combo inside one `agg()` call so
  * Catalyst plans Scan -> partial HashAggregate -> Exchange(key) -> final
  * HashAggregate: exactly one shuffle of pre-aggregated state regardless of
  * input size — the skew-immune, 100TB-safe shape.
  *
  * ==The wide-spec cliff and the chunked form==
  * A 2,080-expression aggregate cannot be whole-stage-codegen'd: it is
  * over `codegen.maxFields` (100), and raising the limit doesn't help —
  * the generated `doAggregateWithKeysOutput` blows Janino's 64 KB method
  * limit and falls back to interpreted with compile overhead on top
  * (measured: 98.6 s vs 87.8 s at tiny). Worse, interpreted evaluation
  * drags a ~17 KB aggregation buffer per key through every row. So specs
  * wider than [[CaseWhenStrategy.MaxSingleAggFeatures]] are compiled as
  * k sub-aggregates of ≤ that many features over the SAME grouping key,
  * stitched back with NULL-safe equi-joins on the key (exact: every
  * chunk aggregates every input row, so all chunks emit the identical
  * key set, including the NULL-key group — see [[chunked]]). Each
  * chunk's agg output is already hash-partitioned on the key, so the
  * join stage adds sorts but NO extra exchange, and no stage ever
  * shuffles raw rows.
  *
  * Why it wins (measured sweep at tiny, 17.3M rows, chunk sizes 32 →
  * 2,080): monolith 84 s; chunk 320 ≈ 40-45 s; chunk ≤ 64 (small enough
  * to re-enter whole-stage codegen) LOSES again at 72-94 s to per-chunk
  * scan/join overhead. The win is not codegen — it's 6.5× smaller
  * per-key aggregate state (cache-resident buffers) and k independent
  * stages saturating the cores. The trade is k scans of the pruned
  * ~6-column input; at petabyte scale re-scanning is the wrong trade,
  * which is why [[AutoStrategy]] routes wide specs to
  * [[AggregatorStrategy]] (one scan, one shuffle) and the chunked form
  * serves callers who explicitly want case-when semantics in the plan.
  */
object CaseWhenStrategy extends FeatureStrategy {

  /** Widest single `agg()` before chunking. 320 minimizes end-to-end
    * time in the measured sweep (see object doc): big enough that the
    * ~7-way join stitch stays cheap, small enough that per-key partial
    * state (~2.6 KB vs ~17 KB monolithic) stays cache-resident.
    */
  val MaxSingleAggFeatures = 320

  def apply(df: DataFrame, spec: FeatureSpec): DataFrame =
    chunked(df, spec, aggExprs(spec), MaxSingleAggFeatures)

  /** One aliased conditional-aggregate expression per feature. */
  private[graft] def aggExprs(spec: FeatureSpec): Seq[Column] =
    spec.features.map { f =>
      val fam = spec.groupings(f.familyIdx)
      val cond = fam.cols.zip(f.tuple).foldLeft(col(spec.timeCol) <= lit(f.window)) {
        case (acc, (c, v)) => acc && col(c) === lit(v)
      }
      val v = col(spec.valueCol)
      val e = f.agg match {
        // count -> 0 and sum -> 0.0 when no matching non-NULL values;
        // avg/min/max -> NULL (spec-canonical semantics, SURVEY.md 2.7.3).
        // coalesce instead of the reference's `.otherwise(0)` so the result
        // is total even when EVERY group row matches with a NULL value —
        // the one case where the reference's form leaks a NULL.
        case AggKind.Count => sum(when(cond, lit(1L)).otherwise(lit(0L)))
        case AggKind.Sum   => coalesce(sum(when(cond, v)), lit(0.0d))
        case AggKind.Avg   => avg(when(cond, v))
        case AggKind.Min   => min(when(cond, v))
        case AggKind.Max   => max(when(cond, v))
      }
      e.as(f.name)
    }

  /** [[apply]] with an explicit chunk size; [[apply]] passes
    * [[MaxSingleAggFeatures]], and StrategyEquivalenceSpec passes a small
    * one to force the multi-chunk stitch on a narrow spec.
    *
    * The stitch join must be NULL-safe: `groupBy` emits a NULL-key group,
    * and an inner equi-join on the bare key would silently drop it for
    * wide specs while narrow (single-agg) specs keep it — output would
    * depend on spec width. Each chunk therefore groups on `struct(key)`:
    * a struct is never NULL even when its field is, and struct equality
    * ranks NULL fields equal, so the plain equi-join keeps the NULL-key
    * group AND both sides stay hash-partitioned on the SAME struct key —
    * the stitch adds sorts but no exchange (a `<=>` join would instead
    * rewrite the keys to coalesce/isnull pairs and force a re-shuffle of
    * every chunk's aggregated output).
    */
  private[graft] def chunked(
      df: DataFrame, spec: FeatureSpec,
      exprs: Seq[Column], chunkSize: Int): DataFrame =
    if (exprs.length <= chunkSize)
      df.groupBy(col(spec.keyCol)).agg(exprs.head, exprs.tail: _*)
    else {
      val k = "__graft_stitch_key"
      val joined = exprs.grouped(chunkSize).toSeq
        .map(ch => df.groupBy(struct(col(spec.keyCol)).as(k)).agg(ch.head, ch.tail: _*))
        .reduce((l, r) => l.join(r, Seq(k)))
      val featCols = joined.columns.filter(_ != k).map(c => col(s"`$c`"))
      joined.select(col(k).getField(spec.keyCol).as(spec.keyCol) +: featCols.toSeq: _*)
    }
}

/** Bucket -> pivot(known values) -> exact algebraic roll-up, in one scan.
  *
  * Each row is aggregated once (into its smallest enclosing window bucket)
  * instead of once per enclosing window, so partial-aggregate state per key
  * is `tuples x windows x 4` cells instead of evaluating `features` CASE
  * predicates per row — the reason this family wins at scale
  * (BASELINE.md: 455s vs 17,653s at medium).
  *
  * Both grouping families ride one shuffle: each input row explodes into
  * one pivot key per family (`f{i}_{v1}_{v2}_{bucket}`), and partial
  * aggregation collapses the 2x row inflation to fixed-size state before
  * the exchange. Rows outside every window (t_minus > max) get a NULL
  * bucket, are dropped by the known-values pivot, and are filtered before
  * the shuffle anyway.
  */
object PivotRollupStrategy extends FeatureStrategy {

  private val winCol = "__graft_win"
  private val pivotCol = "__graft_pivot"

  def apply(df: DataFrame, spec: FeatureSpec): DataFrame = {
    val maxWin = spec.windows.max

    // Smallest enclosing window bucket for each row: ascending CASE WHEN
    // chain <=7 -> "7", <=14 -> "14", ... else NULL.
    val winExpr = spec.windows.tail.foldLeft(
      when(col(spec.timeCol) <= lit(spec.windows.head), lit(spec.windows.head.toString))
    ) { (acc, w) => acc.when(col(spec.timeCol) <= lit(w), lit(w.toString)) }

    // One pivot key per grouping family, exploded so a single group-by
    // covers every family without a second scan or a stitch join. Plain
    // `concat` (not concat_ws): a NULL grouping value or NULL bucket makes
    // the whole key NULL, which the known-values pivot drops — identical to
    // the case-when path where `col === lit(v)` is never true on NULL.
    val famKeys = spec.groupings.zipWithIndex.map { case (fam, fi) =>
      val parts = (lit(s"f$fi") +: fam.cols.map(col)) :+ col(winCol)
      concat(parts.flatMap(p => Seq(lit("_"), p)).tail: _*)
    }

    val exploded = df
      .filter(col(spec.timeCol) <= lit(maxWin)) // partition/row pruning at the scan
      .withColumn(winCol, winExpr)
      .select(col(spec.keyCol), col(spec.valueCol),
        explode(array(famKeys: _*)).as(pivotCol))

    val pivotValues: Seq[String] =
      for {
        (fam, fi) <- spec.groupings.zipWithIndex
        tuple <- fam.valueTuples
        w <- spec.windows
      } yield (s"f$fi" +: tuple :+ w.toString).mkString("_")

    // Five cells per bucket: `rows` counts matching ROWS (what the Count
    // feature means — NULL values included, same as the case-when path's
    // sum(when(cond,1).otherwise(0))), `nnz` counts non-NULL values (the
    // exact-avg denominator and the sum NULL-semantics guard).
    val v = col(spec.valueCol)
    val wide = exploded
      .groupBy(col(spec.keyCol))
      .pivot(pivotCol, pivotValues)
      .agg(count(lit(1L)).as("rows"), count(v).as("nnz"),
        sum(v).as("sum"), min(v).as("min"), max(v).as("max"))

    // Roll disjoint buckets up into cumulative windows. Exact for every
    // agg: counts/sums add (NULL cells = empty bucket = 0), min/max via
    // least/greatest (NULL-skipping), avg derived as sum/nnz — unlike
    // reference impl/pyspark-pivot.py:98's unweighted mean-of-means.
    def bucketCol(f: Feature, w: Int, agg: String): Column =
      col(s"`${(s"f${f.familyIdx}" +: f.tuple :+ w.toString).mkString("_")}_$agg`")

    val outCols = spec.features.map { f =>
      val bucketsUpTo = spec.windows.filter(_ <= f.window)
      def sumOf(agg: String, zero: Column): Column =
        bucketsUpTo.map(w => coalesce(bucketCol(f, w, agg), zero)).reduce(_ + _)
      lazy val nnz = sumOf("nnz", lit(0L))
      val e = f.agg match {
        case AggKind.Count => sumOf("rows", lit(0L))
        case AggKind.Sum   => sumOf("sum", lit(0.0d))
        case AggKind.Avg   => when(nnz > 0, sumOf("sum", lit(0.0d)) / nnz)
        case AggKind.Min =>
          val cs = bucketsUpTo.map(w => bucketCol(f, w, "min"))
          if (cs.length == 1) cs.head else least(cs: _*)
        case AggKind.Max =>
          val cs = bucketsUpTo.map(w => bucketCol(f, w, "max"))
          if (cs.length == 1) cs.head else greatest(cs: _*)
      }
      e.as(f.name)
    }
    wide.select(col(spec.keyCol) +: outCols: _*)
  }
}
