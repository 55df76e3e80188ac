package graft.lake

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The read shape of a version is decided from the log alone: one case
  * per evolution shape, each read through [[Snapshots.readLatest]] and
  * through SQL on [[SnapshotCatalog]], with the rows, schemas and
  * failure classes the single-scan / era-read split has always served. */
class ReadShapeSpec extends SparkTestBase {
  import spark.implicits._

  private def freshCatalog(tag: String): (String, String) = {
    val root = Files.createTempDirectory(s"graft_shape_$tag").toString
    val cat = s"rs_${tag}_${System.nanoTime().toHexString}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def base = Seq((1L, "a"), (2L, "b")).toDF("id", "x")

  /** One evolution shape: how to build it, and the schema (DDL) and
    * rows both read paths serve. */
  private case class Shape(name: String, schema: String,
      expected: Seq[String], build: String => Unit)

  private val shapes = Seq(
    Shape("uniform eras", "id BIGINT,x STRING", Seq("[1,a]", "[2,b]", "[3,c]"),
      { t =>
        Snapshots.append(spark, t, base)
        Snapshots.append(spark, t, Seq((3L, "c")).toDF("id", "x")) }),
    Shape("additive top-level column", "id BIGINT,x STRING,y INT",
      Seq("[1,a,null]", "[2,b,null]", "[3,c,7]"), { t =>
        Snapshots.append(spark, t, base)
        Snapshots.append(spark, t, Seq((3L, "c", 7)).toDF("id", "x", "y")) }),
    Shape("additive struct leaf", "id BIGINT,p STRUCT<a: INT, b: STRING>",
      Seq("[1,[1,null]]", "[2,[2,null]]", "[3,[3,z]]"), { t =>
        val a = col("id").cast("int").as("a")
        Snapshots.append(spark, t,
          Seq(1L, 2L).toDF("id").withColumn("p", struct(a)))
        Snapshots.append(spark, t,
          Seq(3L).toDF("id").withColumn("p", struct(a, lit("z").as("b")))) }),
    Shape("int→long across eras", "id BIGINT,v BIGINT",
      Seq("[1,10]", "[2,20]", "[3,30]"), { t =>
        Snapshots.append(spark, t, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
        Snapshots.append(spark, t, Seq((3L, 30L)).toDF("id", "v")) }),
    Shape("rename", "id BIGINT,y STRING", Seq("[1,a]", "[2,b]"), { t =>
        Snapshots.append(spark, t, base)
        Snapshots.renameColumn(spark, t, "x", "y") }),
    Shape("drop", "id BIGINT,x STRING", Seq("[1,a]", "[2,b]"), { t =>
        Snapshots.append(spark, t, base.withColumn("z", lit(5)))
        Snapshots.dropColumn(spark, t, "z") }),
    Shape("default", "id BIGINT,x STRING,w STRING",
      Seq("[1,a,dflt]", "[2,b,dflt]", "[3,c,w3]"), { t =>
        Snapshots.append(spark, t, base)
        Snapshots.append(spark, t, Seq((3L, "c", "w3")).toDF("id", "x", "w"))
        Snapshots.setColumnDefault(spark, t, "w", "'dflt'") }),
    Shape("added column", "id BIGINT,x STRING,n INT",
      Seq("[1,a,null]", "[2,b,null]"), { t =>
        Snapshots.append(spark, t, base)
        Snapshots.addColumn(spark, t, "n", "INT") }))

  shapes.foreach { c =>
    test(s"read shape, ${c.name}: readLatest and SQL serve the same rows") {
      val (cat, root) = freshCatalog(c.name.filter(_.isLetter).take(8))
      val t = s"$root/t"
      try {
        c.build(t)
        for ((path, df) <- Seq(
            "readLatest" -> Snapshots.readLatest(spark, t).get,
            "SQL" -> spark.sql(s"SELECT * FROM $cat.t"))) {
          assert(df.schema.toDDL == c.schema, s"$path schema")
          assert(df.collect().map(_.toString).toSeq.sorted == c.expected,
            s"$path rows")
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    }
  }

  test("read shape, incompatible types: both paths fail the same way") {
    val (cat, root) = freshCatalog("clash")
    val t = s"$root/t"
    try {
      Snapshots.append(spark, t, Seq((1L, 10)).toDF("id", "v"))
      Snapshots.append(spark, t, Seq((2L, "x")).toDF("id", "v"))
      intercept[IllegalArgumentException](
        Snapshots.readLatest(spark, t).get.collect())
      intercept[IllegalArgumentException](
        spark.sql(s"SELECT * FROM $cat.t").collect())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("a widened version's readLatest frame is built without a Spark job") {
    val root = Files.createTempDirectory("graft_shape_jobs").toString
    val t = s"$root/t"
    try {
      Snapshots.append(spark, t, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
      Snapshots.append(spark, t, Seq((3L, 30L)).toDF("id", "v"))
      val starts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.add(js.time): Unit
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val t0 = System.currentTimeMillis()
        val df = Snapshots.readLatest(spark, t).get
        val t1 = System.currentTimeMillis()
        Thread.sleep(500) // let job-start events drain to the listener
        import scala.jdk.CollectionConverters._
        val jobs = starts.asScala.count(ts => ts >= t0 && ts <= t1)
        assert(jobs == 0, s"building the widened read ran $jobs Spark job(s)")
        assert(df.schema("v").dataType == org.apache.spark.sql.types.LongType)
      } finally spark.sparkContext.removeSparkListener(l)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }

  test("a manifest that does not cover a file fails resolution, naming it") {
    val root = Files.createTempDirectory("graft_shape_cover").toString
    val t = s"$root/t"
    try {
      Snapshots.append(spark, t, base)
      val id = Snapshots.readLite(spark, t, 1).get.manifests.head
      val path = s"$t/_log/m-$id.json"
      val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
      val m = Json.parseObject(ops.readString(path))
      val sizes = m("sizes").asInstanceOf[Map[String, Any]]
      ops.writeString(path,
        Json.render(m.updated("sizes", sizes - sizes.keys.head)))
      Snapshots.invalidate(t)
      val e = intercept[IllegalStateException](Snapshots.snapshot(spark, t, 1))
      assert(e.getMessage.contains(s"m-$id.json"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
  }
}
