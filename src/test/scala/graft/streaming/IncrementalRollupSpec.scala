package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class IncrementalRollupSpec extends SparkTestBase {
  import spark.implicits._

  private def aggOf(df: DataFrame): DataFrame =
    df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_rollup_").toString + "/r"

  test("batches accumulate and a replayed batch cannot double-count") {
    val root = freshRoot()
    val r = new IncrementalRollup(root, Seq("k"), Seq("n", "s"))
    assert(r.read(spark).isEmpty && r.committedBatch.isEmpty)
    r(Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v"), 0L, aggOf)
    r(Seq(("a", 4L), ("c", 7L)).toDF("k", "v"), 1L, aggOf)
    def state() = r.read(spark).get.orderBy("k")
      .as[(String, Long, Long)].collect().toSeq
    val after = state()
    assert(after == Seq(("a", 3L, 7L), ("b", 1L, 10L), ("c", 1L, 7L)))
    assert(r.committedBatch.contains(1L))
    // at-least-once replay of batch 1 (same id): skipped, state unchanged
    r(Seq(("a", 4L), ("c", 7L)).toDF("k", "v"), 1L, aggOf)
    assert(state() == after)
    // ...and an old batch id replayed late is also skipped
    r(Seq(("a", 999L)).toDF("k", "v"), 0L, aggOf)
    assert(state() == after)
  }

  test("a crash between staging and the log publish stays invisible, then heals") {
    val root = freshRoot()
    val r = new IncrementalRollup(root, Seq("k"), Seq("n", "s"))
    r(Seq(("a", 1L)).toDF("k", "v"), 0L, aggOf)
    // simulate batch 1 crashing AFTER staging its data but BEFORE the
    // log publish: an unpublished (and corrupt-in-spirit) data dir
    // under the table's _snap/ that no log version references
    aggOf(Seq(("a", 100L)).toDF("k", "v"))
      .write.parquet(s"$root/_snap/c-crashed")
    // readers still see batch 0 — the staged dir was never published
    assert(r.committedBatch.contains(0L))
    assert(r.read(spark).get.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 1L, 1L)))
    // the retried batch 1 stages afresh and publishes
    r(Seq(("a", 4L)).toDF("k", "v"), 1L, aggOf)
    assert(r.committedBatch.contains(1L))
    assert(r.read(spark).get.as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 5L)))
  }

  test("a rollup committed through a file:// root is the same rollup at the plain path") {
    val root = freshRoot()
    val qualified = new IncrementalRollup(s"file://$root", Seq("k"), Seq("n", "s"))
    qualified(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), 0L, aggOf)
    qualified(Seq(("a", 3L)).toDF("k", "v"), 1L, aggOf)
    val plain = new IncrementalRollup(root, Seq("k"), Seq("n", "s"))
    assert(plain.committedBatch.contains(1L))
    assert(plain.committedBatch == qualified.committedBatch)
    def state(r: IncrementalRollup) = r.read(spark).get.orderBy("k")
      .as[(String, Long, Long)].collect().toSeq
    assert(state(plain) == Seq(("a", 2L, 4L), ("b", 1L, 2L)))
    assert(state(plain) == state(qualified))
    // the plain spelling sees the frontier too: a replay is skipped
    plain(Seq(("a", 999L)).toDF("k", "v"), 1L, aggOf)
    assert(state(qualified) == Seq(("a", 2L, 4L), ("b", 1L, 2L)))
  }
}
