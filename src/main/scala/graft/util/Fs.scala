package graft.util

import java.nio.file.{Files, Path}

/** Tiny filesystem helpers shared by the staging/compaction paths. */
object Fs {
  /** Recursive delete. Closes the walk stream (an unclosed `Files.walk`
    * leaks a directory handle per call — and these run inside `finally`
    * blocks where a masked IO error would hide the real failure). */
  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try {
        stream.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.delete(f))
      } finally stream.close()
    }

  /** Materialized directory listing. `Files.list` returns a stream backed
    * by an open directory handle — callers that never close it leak one fd
    * per scan, which adds up across repeated manifest walks. */
  def listDir(p: Path): Seq[Path] = {
    val stream = Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toVector
    } finally stream.close()
  }

  /** Each directory under `root` (itself included) that directly holds
    * `.parquet` files, with those files, depth first in name order. Enters
    * `k=v` directories only, skipping what Spark's reader skips (`.`-names,
    * `_`-names without `=`); `visit` sees each directory before listing. */
  def parquetLeaves(root: Path, visit: Path => Unit = _ => ()): Seq[(Path, Seq[Path])] = {
    visit(root)
    val (dirs, files) = listDir(root).filterNot { p =>
      val n = p.getFileName.toString
      n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    }.sortBy(_.getFileName.toString).partition(Files.isDirectory(_))
    Seq(root -> files.filter(_.getFileName.toString.endsWith(".parquet"))).filter(_._2.nonEmpty) ++
      dirs.filter(_.getFileName.toString.contains("=")).flatMap(parquetLeaves(_, visit))
  }
}
