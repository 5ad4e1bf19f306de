package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Filesystem accounting for a pipeline store, read from the disk itself
  * rather than from Spark's metrics. */
object Store {

  /** Every regular file under `root`, keyed by path, with (size, mtime).
    * A file rewritten in place (the snapshot `CURRENT` pointer) shows up
    * as changed because its mtime moves. */
  def files(root: Path): Map[Path, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  /** Files that are new or changed in `after` relative to `before`. */
  def written(before: Map[Path, (Long, Long)],
      after: Map[Path, (Long, Long)]): Map[Path, Long] =
    after.collect { case (p, v) if !before.get(p).contains(v) => p -> v._1 }

  def isData(p: Path): Boolean = p.getFileName.toString.endsWith(".parquet")

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}
