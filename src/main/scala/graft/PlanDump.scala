package graft
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.execution.FormattedMode
import scala.jdk.CollectionConverters._

/** Regenerates docs/plans/<name>.txt: the formatted physical plan of each
  * named [[SparkEntry.queries]] gate over /root/testdata/sf0.001 (the
  * `ref_trx_*` gates ignore the directory and read the generated verify
  * slice), committed as reviewable evidence of the plan shapes
  * PlanShapeSpec / LlmPlanSpec pin.
  *
  * Usage: `PlanDump [query-name…]`. With no names it regenerates every
  * plan file that exists under docs/plans; an unknown name exits non-zero
  * before any plan is built. Paths are relative to the working directory,
  * so the same command run in a checkout of an older commit gives the
  * "before" plans of a change.
  */
object PlanDump {
  private val Dir: Path = Paths.get("docs/plans")

  def main(args: Array[String]): Unit = {
    val names =
      if (args.nonEmpty) args.toSeq
      else Files.list(Dir).iterator.asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".txt")).map(_.stripSuffix(".txt")).toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown query name(s): ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    // a fixed 8 (not the host's core count) keeps the exchange partition
    // counts in the committed plans host-independent
    val spark = GraftSession.build(8, "plandump")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")
    Files.createDirectories(Dir)
    for (name <- names) {
      val plan = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.explainString(FormattedMode)
      // the 2,080-column lists don't aid review — keep the operator tree
      val trimmed = plan.linesIterator.map(l =>
        if (l.length > 300) l.take(297) + "..." else l).mkString("\n")
      Files.writeString(Dir.resolve(s"$name.txt"), trimmed)
      println(s"wrote $name")
      spark.catalog.clearCache() // drop the gate's persisted frames
    }
    spark.stop()
  }
}
