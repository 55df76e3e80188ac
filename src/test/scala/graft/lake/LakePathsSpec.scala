package graft.lake

import java.net.URI

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[LakePaths.relFileCol]]: the startsWith fast path covers the table
  * root's own qualified spelling on any scheme, and agrees with the
  * regex chain everywhere. */
class LakePathsSpec extends SparkTestBase {
  import spark.implicits._

  /** (relFileCol, the scheme-strip + root-strip regex chain) per path. */
  private def resolve(root: URI, paths: String*): Seq[(String, String)] = {
    val chain = regexp_replace(
      regexp_replace(
        regexp_replace(col("_metadata.file_path"),
          lit("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*"), lit("")),
        lit("^[a-zA-Z][a-zA-Z0-9+.-]*:"), lit("")),
      lit("^" + java.util.regex.Pattern.quote(root.getPath + "/")), lit(""))
    paths.toDF("file_path").select(struct(col("file_path")).as("_metadata"))
      .select(LakePaths.relFileCol(root), chain)
      .as[(String, String)].collect().toSeq
  }

  test("s3a and file: spellings resolve like the regex chain") {
    val s3 = new URI("s3a://b/t")
    // the table's own s3a spelling takes the startsWith branch
    assert(LakePaths.fastPrefixes(s3) == Seq("s3a://b/t/"))
    val s3Res = resolve(s3, "s3a://b/t/_snap/c-1/part-0.parquet",
      "s3a://b/t/x.parquet", "s3a://other/elsewhere/y.parquet")
    assert(s3Res.map(_._1) == Seq("_snap/c-1/part-0.parquet", "x.parquet",
      "/elsewhere/y.parquet"))
    assert(s3Res.forall { case (got, chain) => got == chain })

    val local = new URI("file:/tmp/t")
    assert(LakePaths.fastPrefixes(local) ==
      Seq("file:/tmp/t/", "file:///tmp/t/"))
    val localRes = resolve(local, "file:/tmp/t/_snap/c-1/part-0.parquet",
      "file:///tmp/t/_snap/c-1/part-0.parquet", "/tmp/t/z.parquet",
      "file:/elsewhere/q.parquet")
    assert(localRes.map(_._1) == Seq("_snap/c-1/part-0.parquet",
      "_snap/c-1/part-0.parquet", "z.parquet", "/elsewhere/q.parquet"))
    assert(localRes.forall { case (got, chain) => got == chain })
  }
}
