package graft

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._

/** `GraftSqlBridge.withRowCache`: the held frame serves the source's rows
  * exactly, evaluates its upstream once for any number of actions, and is
  * released when its body returns or throws. */
class RowCacheSpec extends SparkTestBase {

  /** Strings, arrays and nulls over four partitions, each row made by a
    * generated projection that reuses one row object per partition. */
  private def mixed = spark.range(0, 400, 1, 4).select(
    col("id"),
    concat(lit("s"), col("id").cast("string")).as("s"),
    when(col("id") % 3 =!= 0, concat(lit("n"), col("id").cast("string"))).as("n"),
    array(col("id"), col("id") * 2).as("a"),
    when(col("id") % 5 =!= 0, array(lit("x"), col("id").cast("string"))).as("sa"))

  test("held rows read back equal to the source's collect") {
    val expected = mixed.collect().toSeq
    val got = GraftSqlBridge.withRowCache(mixed) { held =>
      assert(held.rdd.getNumPartitions == 4)
      held.collect().toSeq
    }
    assert(got.size == 400 && got.map(_.getLong(0)).distinct.size == 400)
    assert(got == expected)
  }

  test("two actions on the held frame evaluate the upstream once") {
    val calls = spark.sparkContext.longAccumulator("rowCacheUpstream")
    val touch = udf { (x: Long) => calls.add(1); x }
    val src = spark.range(0, 100, 1, 2).select(touch(col("id")).as("v"))
    val (n, total) = GraftSqlBridge.withRowCache(src) { held =>
      (held.count(), held.agg(sum("v")).head().getLong(0))
    }
    assert(n == 100L && total == 4950L)
    assert(calls.value == 100L)
  }

  test("the release returns the persistent RDDs to their earlier size") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    GraftSqlBridge.withRowCache(mixed) { held =>
      held.count()
      assert(sc.getPersistentRDDs.size == before + 1)
    }
    assert(sc.getPersistentRDDs.size == before)
    // a body that throws releases the rows too
    intercept[IllegalStateException] {
      GraftSqlBridge.withRowCache(mixed) { held =>
        held.count()
        throw new IllegalStateException("sink failed")
      }
    }
    assert(sc.getPersistentRDDs.size == before)
  }
}
