package perfbench

import java.io.File

/** File-tree helpers for the benchmark's own work directory. */
object Tree {
  /** Data files under `dir`, without Hadoop's hidden and marker files. */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    }

  def bytes(dir: File): Long = dataFiles(dir).map(_.length).sum
}
