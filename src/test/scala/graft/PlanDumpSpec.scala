package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `PlanDump` with no arguments regenerates docs/plans/<name>.txt by
  * looking each basename up in [[SparkEntry.queries]], so every committed
  * plan file must be named after a gate.
  */
class PlanDumpSpec extends AnyFunSuite {

  test("every committed docs/plans/*.txt is named after a SparkEntry query") {
    val names = Files.list(Paths.get("docs/plans")).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".txt"))
      .map(_.stripSuffix(".txt")).toSeq.sorted
    assert(names.nonEmpty, "no plan snapshots found under docs/plans")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"plan files that name no query: ${unknown.mkString(", ")}")
  }
}
