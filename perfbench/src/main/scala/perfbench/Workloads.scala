package perfbench

import graft.datagen.{DataGen, DocGen}
import graft.features.{AutoStrategy, FeatureSpec}
import graft.llm.Dedup
import graft.model.Model
import graft.sources.TableMaintenance
import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

final class CheckFailed(msg: String) extends Exception(msg)

/** What a job leaves for its output check: frames the check reads and
  * then releases.
  */
final case class JobOut(frames: Seq[DataFrame])

/** One benchmark workload. The benchmark times each call from outside;
  * `prepare` and `check` run outside every timed region.
  */
trait Workload {
  /** Run context recorded in the artifact. */
  def context: Seq[(String, Any)]
  /** Disk the run may fill: input, spill and output. */
  def diskNeedBytes: Long
  /** How often a run generates the input and builds the index, and how
    * many untimed jobs warm the JVM up before the timed ones. A short step
    * is repeated so that its median is steady; the warm-up counts are where
    * job times stop falling.
    */
  def datagenRuns: Int
  def indexRuns: Int
  def warmUpJobs: Int
  def inputDir: File
  def generate(spark: SparkSession): Unit
  /** Builds the read-side index the jobs use. */
  def index(spark: SparkSession, t: Tracer): Unit
  def indexFiles: Long
  /** Untimed work the output checks need, after the index is built. */
  def prepare(spark: SparkSession): Unit = ()
  def job(spark: SparkSession, t: Tracer, out: File): JobOut
  def check(spark: SparkSession, out: File, r: JobOut): Unit
  /** Layer facts of the last job that the trace cannot see from outside
    * Spark: AutoStrategy's route and size estimate.
    */
  def route(r: JobOut): Option[(String, Double)] = None
}

object Workload {
  val Names: Seq[String] = Seq("feature_tiny", "feature_sparse730", "dedup_ingest")

  def apply(name: String, seed: Long, toy: Boolean, work: File): Workload = name match {
    case "feature_tiny" =>
      new FeatureWorkload(
        if (toy) DataGen.Config(40L, 6, 10, seed) else DataGen.Tiny.copy(seed = seed), work,
        datagenRuns = 2, indexRuns = 25)
    case "feature_sparse730" =>
      // The reference's `big` geometry (730 one-day hive partitions) with
      // sparse customers: about 2 transactions per customer-day.
      // Its datagen (about 10 s) and file index (730 directories) are long
      // enough to need fewer repeats.
      new FeatureWorkload(
        DataGen.Config(if (toy) 40L else 1000L, if (toy) 30 else 730, 1, seed, binomialP = 0.03), work,
        datagenRuns = 1, indexRuns = 5)
    case "dedup_ingest" =>
      new DedupWorkload(if (toy) 2000L else 20000L, seed, work)
    case other =>
      throw new IllegalArgumentException(s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }
}

/** The paper's query: the 2,080-column `FeatureSpec.reference` build over a
  * `DataGen` transactions table. A job reads the table, compiles the spec
  * with `AutoStrategy` and writes the features as parquet.
  */
final class FeatureWorkload(cfg: DataGen.Config, work: File, val datagenRuns: Int, val indexRuns: Int)
    extends Workload {
  private val spec = FeatureSpec.reference
  val inputDir = new File(work, "input")
  private val input = inputDir.getPath
  val warmUpJobs = 1
  private val expectedRows = DataGen.expectedRowCount(cfg)
  // per customer, per window: (count, sum, min, max) of the input
  private var reference: Map[Long, Row] = Map.empty
  private var indexed: DataFrame = _

  def context: Seq[(String, Any)] = Seq(
    "customers" -> cfg.nCustomers, "partitions" -> cfg.nPartitions,
    "days_in_partition" -> cfg.daysInPartition, "binomial_p" -> cfg.binomialP,
    "expected_rows" -> expectedRows)

  def diskNeedBytes: Long = expectedRows * 40L + (256L << 20)

  def generate(spark: SparkSession): Unit = DataGen.write(spark, cfg, input)

  /** Spark's file index of the input: partition discovery over the hive
    * directories plus schema inference, the same step that opens every job.
    */
  def index(spark: SparkSession, t: Tracer): Unit =
    indexed = t.span("features.file_index")(spark.read.parquet(input))

  def indexFiles: Long = 0L

  override def prepare(spark: SparkSession): Unit = {
    val amnt = col("trx_amnt")
    val aggs = count(lit(1)) +: Model.Windows.flatMap { w =>
      val in = col("t_minus") <= w
      Seq(count(when(in, 1)), coalesce(sum(when(in, amnt)), lit(0.0)),
        min(when(in, amnt)), max(when(in, amnt)))
    }
    val rows = indexed.groupBy(col("customer_id"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val total = rows.map(_.getLong(1)).sum
    if (total != expectedRows)
      throw new CheckFailed(s"generated $total rows, DataGen.expectedRowCount says $expectedRows")
    reference = rows.map(r => r.getLong(0) -> r).toMap
  }

  def job(spark: SparkSession, t: Tracer, out: File): JobOut = {
    val (df, features) = t.span("features.plan") {
      val df = spark.read.parquet(input)
      val features = AutoStrategy(df, spec)
      features.queryExecution.executedPlan
      (df, features)
    }
    t.span("write")(features.write.mode(SaveMode.Overwrite).parquet(out.getPath))
    JobOut(Seq(df))
  }

  override def route(r: JobOut): Option[(String, Double)] = {
    val est = r.frames.head.queryExecution.optimizedPlan.stats.sizeInBytes
    val chosen = AutoStrategy.choose(spec, est)
    Some((chosen.getClass.getSimpleName.stripSuffix("$"), est.toDouble / 1e6))
  }

  /** Row count and schema, then an exact per-customer invariant: for each
    * grouping family and window, the family's tuples partition the input,
    * so their `_count` and `_sum` columns add up to the window's count and
    * sum, and their min and max give the window's min and max. Amounts are
    * dyadic, so every sum is exact in any order.
    */
  def check(spark: SparkSession, out: File, r: JobOut): Unit = {
    val got = spark.read.parquet(out.getPath)
    if (got.columns.toSeq != spec.outputColumns)
      throw new CheckFailed(s"schema: ${got.columns.length} columns, expected ${spec.outputColumns.length} in FeatureSpec order")
    val exprs = for {
      fam <- spec.groupings
      w <- spec.windows
    } yield {
      val cells = fam.valueTuples.map(tuple => s"${tuple.mkString("_")}_${w}d")
      Seq(cells.map(c => col(s"${c}_count")).reduce(_ + _),
        cells.map(c => col(s"${c}_sum")).reduce(_ + _),
        least(cells.map(c => col(s"${c}_min")): _*),
        greatest(cells.map(c => col(s"${c}_max")): _*))
    }
    val rows = got.select(col(spec.keyCol) +: exprs.flatten: _*).collect()
    if (rows.length != reference.size)
      throw new CheckFailed(s"${rows.length} feature rows for ${reference.size} customers")
    val nWin = spec.windows.length
    for (row <- rows) {
      val key = row.getLong(0)
      val ref = reference.getOrElse(key, throw new CheckFailed(s"unexpected customer $key"))
      for (f <- spec.groupings.indices; wi <- 0 until nWin) {
        val o = 1 + (f * nWin + wi) * 4
        val e = 2 + wi * 4
        val ok = row.getAs[Number](o).longValue == ref.getLong(e) &&
          row.getAs[Number](o + 1).doubleValue == ref.getDouble(e + 1) &&
          row.get(o + 2) == ref.get(e + 2) && row.get(o + 3) == ref.get(e + 3)
        if (!ok)
          throw new CheckFailed(s"customer $key family $f window ${spec.windows(wi)}: " +
            s"got ${(0 to 3).map(i => row.get(o + i)).mkString(",")}, " +
            s"input gives ${(0 to 3).map(i => ref.get(e + i)).mkString(",")}")
      }
    }
  }
}

/** Incremental near-duplicate dedup over a `DocGen` corpus: index the 90%
  * corpus once (signature index, bucketed band layout), then ingest the
  * 10% shard of planted near-duplicates against it. A job is one shard
  * ingest: the shard's pairs against the bucketed index and the shard with
  * its near-duplicates dropped, both written as parquet.
  */
final class DedupWorkload(nDocs: Long, seed: Long, work: File) extends Workload {
  val inputDir = new File(work, "docs")
  private val docsPath = inputDir.getPath
  val datagenRuns = 5
  val indexRuns = 1
  val warmUpJobs = 2
  private val indexPath = new File(work, "index").getPath
  private val table = "perfbench.sig_idx"
  private var nIndexFiles = 0L
  private var firstPairs: Option[Long] = None

  private def docs(spark: SparkSession) = spark.read.parquet(docsPath)
  private def shard(spark: SparkSession) = docs(spark).filter(col("doc_id") % 10 === 1)

  def context: Seq[(String, Any)] = Seq("docs" -> nDocs, "shard_docs" -> (nDocs + 8) / 10)

  def diskNeedBytes: Long = nDocs * 8192L + (256L << 20)

  def generate(spark: SparkSession): Unit =
    DocGen.docs(spark, nDocs, seed).write.mode(SaveMode.Overwrite).parquet(docsPath)

  def index(spark: SparkSession, t: Tracer): Unit = {
    val corpus = docs(spark).filter(col("doc_id") % 10 =!= 1)
    val sigs = t.span("dedup.signature_index")(Dedup.signatureIndex(corpus, "doc_id", "text"))
    t.span("dedup.write_banded_index")(Dedup.writeBandedIndex(sigs, table, indexPath))
    nIndexFiles = t.span("sources.file_count") {
      TableMaintenance.dataFileCount(spark, s"${table}_sigs") +
        TableMaintenance.dataFileCount(spark, s"${table}_bands")
    }
  }

  def indexFiles: Long = nIndexFiles

  def job(spark: SparkSession, t: Tracer, out: File): JobOut = {
    val pairs = t.span("dedup.pairs")(
      Dedup.incrementalPairsBucketed(spark, table, shard(spark), "doc_id", "text"))
    val kept = t.span("dedup.ingest")(
      Dedup.ingestFilter(spark.table(s"${table}_sigs"), shard(spark), "doc_id", "text"))
    t.span("write") {
      pairs.write.mode(SaveMode.Overwrite).parquet(new File(out, "pairs").getPath)
      kept.write.mode(SaveMode.Overwrite).parquet(new File(out, "kept").getPath)
    }
    JobOut(Seq(pairs, kept))
  }

  /** The pair count repeats across jobs; every pair's word-3-shingle
    * Jaccard, recomputed here from the text, is at least 0.5; the written
    * shard is exactly the shard minus the higher id of every pair.
    */
  def check(spark: SparkSession, out: File, r: JobOut): Unit = {
    val pairs = spark.read.parquet(new File(out, "pairs").getPath)
      .select("id_a", "id_b").collect().map(p => (p.getLong(0), p.getLong(1)))
    if (firstPairs.exists(_ != pairs.length))
      throw new CheckFailed(s"${pairs.length} pairs, the first job found ${firstPairs.get}")
    firstPairs = Some(pairs.length.toLong)
    if (pairs.isEmpty) throw new CheckFailed("no near-duplicate pairs found")
    import spark.implicits._
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.toSeq.toDF("doc_id")
    val text = docs(spark).join(ids, "doc_id").collect().map(d => d.getLong(0) -> d.getString(1)).toMap
    def shingles(s: String) = s.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet
    for ((a, b) <- pairs) {
      val (sa, sb) = (shingles(text(a)), shingles(text(b)))
      val j = (sa intersect sb).size.toDouble / (sa union sb).size
      if (j < 0.5) throw new CheckFailed(s"pair ($a, $b) has Jaccard $j < 0.5")
    }
    val shardIds = shard(spark).select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = shardIds -- pairs.map(_._2)
    val kept = spark.read.parquet(new File(out, "kept").getPath).select("doc_id").collect().map(_.getLong(0))
    if (kept.length != expected.size || kept.toSet != expected)
      throw new CheckFailed(s"ingest kept ${kept.length} docs, expected ${expected.size}")
  }
}
