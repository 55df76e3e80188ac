package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.lake.LakeLayout
import graft.model.RejectRow

/** Row-by-row routing of two small inline files through
  * `BronzeToSilver.ingestFile`, covering the messy-corpus traits of
  * FIXTURES.md §2 without the reference corpus: a shuffled header with a
  * `storeid` synonym, an extra column, no `customer_id` and a re-embedded
  * header line; `;`-joined and short rows, an exact duplicate good line, a
  * duplicated rejected line, one transaction id on two distinct lines, `$`
  * and `(x)` prices, an `N/A` quantity, a revenue mismatch, unparseable and
  * empty timestamps; and a pipe-delimited file with a comma-joined row.
  * Every silver row and every reject row is pinned, not only the counts. */
class IngestRoutingSpec extends SparkTestBase {

  private val commaFile = Seq(
    "storeid,transaction_id,timestamp,discount_code,item_id,quantity,item_category,unit_price,revenue,payment_method",
    "S001,T1,2024-03-01 10:00:00,D1,I001,2,Grocery,3.00,6.00,Card",
    "S002,T2,2024-03-01 11:00:00,,I002,1,Home,$5.00,$5.00,Cash",
    "S003,T3,2024-03-01 12:30,D3,I003,2,Toys,(2.50),(5.00),Card",
    "S001,T1,2024-03-01 10:00:00,D1,I001,2,Grocery,3.00,6.00,Card",
    "S004,T1,2024-03-01 13:00:00,D4,I004,1,Apparel,7.00,7.00,Mobile",
    "storeid,transaction_id,timestamp,discount_code,item_id,quantity,item_category,unit_price,revenue,payment_method",
    "S005;T5;2024-03-01 10:00:00;D5;I005;1;Grocery;1.00;1.00;Card",
    "S006,T6,2024-03-01 10:00:00,D6,I006,N/A,Grocery,1.00,1.00,Card",
    "S007,T7,2024-03-01 10:00:00,D7,I007,2,Grocery,3.00,9.99,Card",
    "S008,T8,2024-03-01T10:00:00,D8,I008,1,Grocery,1.00,1.00,Card",
    "S009,T9,,D9,I009,1,Grocery,1.00,1.00,Card",
    "S008,T8,2024-03-01T10:00:00,D8,I008,1,Grocery,1.00,1.00,Card",
    "S010,T10,01-03-24 10:00,D10,I010,1,Grocery,1.00,1.00,Card",
    "S011,T11,2024-03-01 10:00:00,D11,I011,1,Grocery,1.00",
    "S012,T12,2024/02/29 23:59,,I012,3,Garden,1.10,3.30,Card")

  private val pipeFile = Seq(
    "transaction_id|store_id|timestamp|item_id|item_category|quantity|unit_price|revenue|payment_method|customer_id",
    "P1|S1|2024-03-02 09:00:00|I1|Cat|2|$3.00|$6.00|Card|c1",
    "P2|S2|03/02/2024 10:15|I2|Cat|1|5.00|5.00|Cash|c2",
    "P3|S3|not-a-date|I3|Cat|1|1.00|1.00|Card|c3",
    "P4|S4|2024-03-02 12:00:00|I4|Cat|2|2.00|9.99|Card|c4",
    "P5,S5,2024-03-02 12:00:00,I5,Cat,1,1.00,1.00,Card,c5",
    "P1|S1|2024-03-02 09:00:00|I1|Cat|2|$3.00|$6.00|Card|c1")

  private val silverCols = Seq("transaction_id", "store_id", "timestamp",
    "item_id", "item_category", "quantity", "unit_price", "revenue",
    "payment_method", "customer_id", "date")

  private final case class Ingested(result: BronzeToSilver.Result,
      silver: Seq[String], rejects: Seq[String])

  /** Rows as sorted `|`-joined strings, every value cast to a string. */
  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c => coalesce(col(c).cast("string"), lit("null"))): _*)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def ingest(lines: Seq[String], strictNullDq: Boolean = true): Ingested = {
    val root = Files.createTempDirectory("graft_routing_").toString
    try {
      val layout = LakeLayout(root)
      Files.createDirectories(Paths.get(layout.raw))
      val f = s"${layout.raw}/sales.csv"
      Files.writeString(Paths.get(f), lines.mkString("\n") + "\n")
      val Right(r) = BronzeToSilver.ingestFile(spark, f, layout, strictNullDq)
      val silver = rows(spark.read.parquet(layout.processed), silverCols)
      val rejects =
        if (r.rejectsByReason.values.sum == 0) Nil
        else rows(spark.read.schema(Encoders.product[RejectRow].schema)
          .json(layout.rejectedDqJson), RejectRow.columns)
      Ingested(r, silver, rejects)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("comma file: shuffled synonym header, every messy-row trait routed row by row") {
    val got = ingest(commaFile)
    // 14 data lines; the exact duplicate good line is one row, the
    // duplicated unparseable-timestamp line stays two rejects
    assert(got.result.totalRows == 13 && got.result.goodRows == 5)
    assert(got.result.rejectsByReason == Map(
      "MISSING_REQUIRED_COLUMN" -> 2L,
      "INVALID_TIMESTAMP_FORMAT" -> 4L,
      "BUSINESS_LOGIC_FAIL" -> 2L))
    assert(got.result.silverDates.sorted == Seq("2024-02-29", "2024-03-01"))
    assert(got.silver == Seq(
      "T12|S012|2024-02-29 23:59:00|I012|Garden|3|1.1|3.3|Card|null|2024-02-29",
      "T1|S001|2024-03-01 10:00:00|I001|Grocery|2|3.0|6.0|Card|null|2024-03-01",
      "T1|S004|2024-03-01 13:00:00|I004|Apparel|1|7.0|7.0|Mobile|null|2024-03-01",
      "T2|S002|2024-03-01 11:00:00|I002|Home|1|5.0|5.0|Cash|null|2024-03-01",
      "T3|S003|2024-03-01 12:30:00|I003|Toys|2|-2.5|-5.0|Card|null|2024-03-01").sorted)
    // raw_row, transaction_id, store_id, timestamp_raw, timestamp_parsed,
    // item_id, item_category, quantity, unit_price, revenue,
    // payment_method, customer_id, reject_reason
    assert(got.rejects == Seq(
      // a `;`-joined line is one field: the store position holds it whole
      "S005;T5;2024-03-01 10:00:00;D5;I005;1;Grocery;1.00;1.00;Card|null|" +
        "S005;T5;2024-03-01 10:00:00;D5;I005;1;Grocery;1.00;1.00;Card|" +
        "null|null|null|null|null|null|null|null|null|MISSING_REQUIRED_COLUMN",
      "S011,T11,2024-03-01 10:00:00,D11,I011,1,Grocery,1.00|T11|S011|" +
        "2024-03-01 10:00:00|null|I011|Grocery|1|1.00|null|null|null|MISSING_REQUIRED_COLUMN",
      "S008,T8,2024-03-01T10:00:00,D8,I008,1,Grocery,1.00,1.00,Card|T8|S008|" +
        "2024-03-01T10:00:00|null|I008|Grocery|1|1.00|1.00|Card|null|INVALID_TIMESTAMP_FORMAT",
      "S008,T8,2024-03-01T10:00:00,D8,I008,1,Grocery,1.00,1.00,Card|T8|S008|" +
        "2024-03-01T10:00:00|null|I008|Grocery|1|1.00|1.00|Card|null|INVALID_TIMESTAMP_FORMAT",
      "S009,T9,,D9,I009,1,Grocery,1.00,1.00,Card|T9|S009||null|I009|Grocery|" +
        "1|1.00|1.00|Card|null|INVALID_TIMESTAMP_FORMAT",
      "S010,T10,01-03-24 10:00,D10,I010,1,Grocery,1.00,1.00,Card|T10|S010|" +
        "01-03-24 10:00|null|I010|Grocery|1|1.00|1.00|Card|null|INVALID_TIMESTAMP_FORMAT",
      // business rejects carry cleaned numerics and no raw row
      "null|T6|S006|2024-03-01 10:00:00|2024-03-01 10:00:00|I006|Grocery|" +
        "null|1.0|1.0|Card|null|BUSINESS_LOGIC_FAIL",
      "null|T7|S007|2024-03-01 10:00:00|2024-03-01 10:00:00|I007|Grocery|" +
        "2|3.0|9.99|Card|null|BUSINESS_LOGIC_FAIL").sorted)
  }

  test("pipe file: comma-joined row is structural, duplicate line counted once") {
    val got = ingest(pipeFile)
    assert(got.result.totalRows == 5 && got.result.goodRows == 2)
    assert(got.result.rejectsByReason == Map(
      "MISSING_REQUIRED_COLUMN" -> 1L,
      "INVALID_TIMESTAMP_FORMAT" -> 1L,
      "BUSINESS_LOGIC_FAIL" -> 1L))
    assert(got.silver == Seq(
      "P1|S1|2024-03-02 09:00:00|I1|Cat|2|3.0|6.0|Card|c1|2024-03-02",
      "P2|S2|2024-03-02 10:15:00|I2|Cat|1|5.0|5.0|Cash|c2|2024-03-02"))
    assert(got.rejects == Seq(
      "P5,S5,2024-03-02 12:00:00,I5,Cat,1,1.00,1.00,Card,c5|" +
        "P5,S5,2024-03-02 12:00:00,I5,Cat,1,1.00,1.00,Card,c5|" +
        "null|null|null|null|null|null|null|null|null|null|MISSING_REQUIRED_COLUMN",
      "P3|S3|not-a-date|I3|Cat|1|1.00|1.00|Card|c3|P3|S3|not-a-date|null|I3|Cat|" +
        "1|1.00|1.00|Card|c3|INVALID_TIMESTAMP_FORMAT",
      "null|P4|S4|2024-03-02 12:00:00|2024-03-02 12:00:00|I4|Cat|2|2.0|9.99|Card|c4|" +
        "BUSINESS_LOGIC_FAIL").sorted)
  }

  test("reference null-DQ mode drops the N/A-quantity row and nothing else") {
    val got = ingest(commaFile, strictNullDq = false)
    assert(got.result.totalRows == 12 && got.result.goodRows == 5)
    assert(got.result.rejectsByReason == Map(
      "MISSING_REQUIRED_COLUMN" -> 2L,
      "INVALID_TIMESTAMP_FORMAT" -> 4L,
      "BUSINESS_LOGIC_FAIL" -> 1L))
    assert(got.rejects.count(_.endsWith("BUSINESS_LOGIC_FAIL")) == 1)
    assert(got.silver.size == 5)
  }
}
