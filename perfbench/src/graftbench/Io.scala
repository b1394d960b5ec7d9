package graftbench

import java.nio.file.{Files, Path}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
      all.foreach(Files.deleteIfExists)
    }

  /** Number and total size of the data files under `p` (Spark's `_SUCCESS`
    * markers and `.crc` sidecars excluded). */
  def dataFiles(p: Path): (Int, Long) =
    if (!Files.exists(p)) (0, 0L)
    else {
      val fs = Files.walk(p).toArray.map(_.asInstanceOf[Path]).filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }
      (fs.length, fs.map(Files.size).sum)
    }
}
