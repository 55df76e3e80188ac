package graft.lake

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** [[FileOps.createExclusive]], the exclusive claim under the snapshot
  * log's version publish and a table group's marker: of any number of
  * claims of one path exactly one wins, the file holds the winner's
  * bytes, and losers leave nothing behind. */
class FileOpsSpec extends AnyFunSuite {

  private val ops = new FileOps(new Configuration())

  private def leftovers(dir: File): Seq[String] =
    dir.listFiles().map(_.getName).toSeq
      .filter(n => n.contains(".tmp-") || n.endsWith(".crc"))

  test("createExclusive: one of two claims wins, its bytes stay, no tmp or .crc left") {
    val dir = Files.createTempDirectory("graft_claim_").toFile
    try {
      val path = s"${dir.getPath}/claim"
      assert(ops.createExclusive(path, "first"))
      assert(!ops.createExclusive(path, "second"))
      assert(ops.readString(path) == "first")
      assert(leftovers(dir).isEmpty, leftovers(dir).mkString(", "))
      // the same through a file://-qualified spelling of the path
      assert(!ops.createExclusive(s"file://$path", "third"))
      assert(ops.readString(path) == "first")
      assert(leftovers(dir).isEmpty, leftovers(dir).mkString(", "))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("createExclusive: concurrent claims of one path have exactly one winner") {
    val dir = Files.createTempDirectory("graft_claim_race_").toFile
    try {
      val path = s"${dir.getPath}/sub/claim"
      val start = new java.util.concurrent.CountDownLatch(1)
      val won = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (0 until 4).map { i =>
        new Thread(() => {
          start.await()
          if (ops.createExclusive(path, s"writer-$i")) won.add(s"writer-$i")
          ()
        })
      }
      threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
      assert(won.size == 1, won.toString)
      assert(ops.readString(path) == won.peek())
      val sub = new File(dir, "sub")
      assert(leftovers(sub).isEmpty, leftovers(sub).mkString(", "))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
