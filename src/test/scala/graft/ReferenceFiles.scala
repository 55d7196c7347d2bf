package graft

import org.scalactic.source.Position
import org.scalatest.Assertions

import graft.ops.tb.ReferenceSnapshot

/** Reference snapshot paths for the parity specs. Each accessor fails
  * the calling test with one line naming the file when the snapshot is
  * absent, instead of a Spark PATH_NOT_FOUND stack. */
object ReferenceFiles {
  def need(path: String)(implicit pos: Position): String = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      Assertions.fail(s"reference snapshot file missing: $path")
    path
  }

  def tbCsv(implicit pos: Position): String = need(ReferenceSnapshot.TbCsv)
  def popCsv(implicit pos: Position): String = need(ReferenceSnapshot.PopCsv)
  def processed(name: String)(implicit pos: Position): String =
    need(ReferenceSnapshot.processed(name))
}
