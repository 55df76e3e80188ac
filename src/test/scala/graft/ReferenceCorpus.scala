package graft

import org.scalactic.source.Position
import org.scalatest.Assertions

/** The reference's five messy sample CSVs (FIXTURES.md §2): the golden
  * end-to-end corpus. The repo does not hold them, so a spec that pins
  * their frozen counts, or runs on the lake built from them, starts with
  * `assumePresent()` and is cancelled (not passed) where the directory is
  * absent; it runs unchanged wherever the corpus is present. */
object ReferenceCorpus {

  val dir = "/root/reference/sample_csv_files"

  def assumePresent()(implicit pos: Position): Unit =
    if (!new java.io.File(dir).isDirectory)
      Assertions.cancel(s"reference sample corpus $dir is absent")
}
