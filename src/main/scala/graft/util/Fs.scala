package graft.util

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Closed-stream wrappers for the two `java.nio.file` listing calls,
  * and the one recursive delete built on them. `Files.list`/`Files.walk`
  * return streams backed by open directory handles that must be closed;
  * the `.iterator().asScala.toSeq` idiom used across the sink/source/
  * rollup maintenance paths leaked one fd per call in long-lived JVMs.
  */
object Fs {

  def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.toIndexedSeq finally s.close()
  }

  def walk(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.toIndexedSeq finally s.close()
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p).reverse.foreach(Files.deleteIfExists(_))
}
