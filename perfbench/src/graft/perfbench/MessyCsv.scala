package graft.perfbench

import java.nio.charset.StandardCharsets
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of messy retail sales CSVs: the traits of the
  * reference's adversarial sample corpus (FIXTURES.md §2) reproduced so the
  * file-drop workload needs no external files.
  *
  * Every data row carries at most one planted defect (its class), and the
  * generator records how many rows of each class it wrote, so the pipeline's
  * routing can be checked class by class: each class has exactly one
  * expected outcome ([[route]]).
  */
object MessyCsv {

  val Good = "GOOD"
  val MissingRequired = "MISSING_REQUIRED_COLUMN"
  val InvalidTimestamp = "INVALID_TIMESTAMP_FORMAT"
  val BusinessLogic = "BUSINESS_LOGIC_FAIL"

  /** Planted row class → the routing the pipeline must give it. */
  val route: Map[String, String] = Map(
    "clean" -> Good,
    "dollar_price" -> Good,
    "paren_price" -> Good,
    "late" -> Good,
    "dup_txn" -> Good,
    "resent_txn" -> Good,
    "semicolon_row" -> MissingRequired,
    "ts_dd_mm_yy" -> InvalidTimestamp,
    "ts_ampm" -> InvalidTimestamp,
    "ts_iso_t" -> InvalidTimestamp,
    "ts_empty" -> InvalidTimestamp,
    "revenue_mismatch" -> BusinessLogic,
    "na_quantity" -> BusinessLogic)

  /** Per-row class draw for accepted files (the rest is `clean`). Defect
    * rates are kept low enough that the delimiter sniffer's 20-line sample
    * always sees commas. */
  private val classWeights: Seq[(String, Double)] = Seq(
    "late" -> 0.05, "dup_txn" -> 0.02, "resent_txn" -> 0.01,
    "dollar_price" -> 0.08, "paren_price" -> 0.02,
    "semicolon_row" -> 0.02,
    "ts_dd_mm_yy" -> 0.03, "ts_ampm" -> 0.03, "ts_iso_t" -> 0.03,
    "ts_empty" -> 0.01,
    "revenue_mismatch" -> 0.01, "na_quantity" -> 0.01)

  private val canonical = Seq("transaction_id", "store_id", "timestamp",
    "item_id", "item_category", "quantity", "unit_price", "revenue",
    "payment_method", "customer_id")
  private val categories = Seq("Grocery", "Electronics", "Apparel", "Home",
    "Toys", "Beauty", "Sports", "Garden")
  private val payments = Seq("Card", "Cash", "Transfer", "Mobile")

  /** One generated file. `rows` counts data rows (a re-embedded header line
    * is not one: the pipeline drops it by design). `goodIds` holds, per
    * date, the transaction ids of the rows that must reach gold. */
  final case class File(
      name: String,
      bytes: Array[Byte],
      rows: Int,
      structural: Boolean,
      planted: Map[String, Int],
      goodIds: Map[LocalDate, Seq[String]]) {
    def expectedRouting: Map[String, Long] =
      planted.toSeq.groupMapReduce(kv => route(kv._1))(_._2.toLong)(_ + _)
  }

  private final case class Row(id: String, date: LocalDate, cells: Map[String, String])

  /** State carried across the files of one run: the previous file's clean
    * rows on its own day, which the next file may re-send. */
  final class Source(seed: Long) {
    private val idPrefix = java.lang.Long.toString(math.abs(seed % 46656L) + 46656L, 36)
    private var prevDayRows: IndexedSeq[Row] = IndexedSeq.empty
    private var fileNo = 0

    def next(day: LocalDate, rows: Int, structural: Boolean): File = {
      val rnd = new Random(seed * 1000003L + fileNo)
      val f =
        if (structural) structuralFile(rnd, day, rows)
        else acceptedFile(rnd, day, rows)
      fileNo += 1
      f
    }

    private def header(rnd: Random): Seq[String] = {
      var h = canonical
      if (rnd.nextDouble() < 0.2) h = h.filterNot(_ == "customer_id")
      if (rnd.nextDouble() < 0.5) h = rnd.shuffle(h)
      if (rnd.nextDouble() < 0.3) {
        val at = rnd.nextInt(h.size + 1)
        h = (h.take(at) :+ "discount_code") ++ h.drop(at)
      }
      h
    }

    private def headerLine(h: Seq[String], synonym: Boolean) =
      h.map(c => if (c == "store_id" && synonym) "storeid" else c).mkString(",")

    private def baseRow(rnd: Random, id: String, date: LocalDate): Row = {
      val qty = 1 + rnd.nextInt(20)
      val priceCents = 50L + rnd.nextInt(49950)
      Row(id, date, Map(
        "transaction_id" -> id,
        "store_id" -> f"S${1 + rnd.nextInt(60)}%03d",
        "timestamp" -> goodTimestamp(rnd, date),
        "item_id" -> f"I${rnd.nextInt(5000)}%05d",
        "item_category" -> categories(rnd.nextInt(categories.size)),
        "quantity" -> qty.toString,
        "unit_price" -> money(priceCents),
        "revenue" -> money(qty * priceCents),
        "payment_method" -> payments(rnd.nextInt(payments.size)),
        "customer_id" -> rnd.alphanumeric.take(8).mkString.toUpperCase,
        "discount_code" -> (if (rnd.nextBoolean()) "" else s"D${rnd.nextInt(100)}")))
    }

    private def acceptedFile(rnd: Random, day: LocalDate, n: Int): File = {
      val h = header(rnd)
      val hl = headerLine(h, synonym = rnd.nextDouble() < 0.4)
      val planted = mutable.Map.empty[String, Int].withDefaultValue(0)
      val good = mutable.Map.empty[LocalDate, mutable.ArrayBuffer[String]]
      val dayRows = mutable.ArrayBuffer.empty[Row]
      val sb = new java.lang.StringBuilder(n * 96)
      sb.append(hl).append('\n')
      val headerRepeatAt = if (rnd.nextDouble() < 0.3) 1 + rnd.nextInt(n) else -1
      val resendOrder = rnd.shuffle(prevDayRows.indices.toVector).iterator
      def cls(): String = {
        var u = rnd.nextDouble()
        classWeights.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse("clean")
      }
      for (i <- 0 until n) {
        if (i == headerRepeatAt) sb.append(hl).append('\n')
        val id = f"T$idPrefix-$fileNo%04d-$i%06d"
        var c = cls()
        // a re-send needs a previous file row not yet re-sent (two equal
        // lines in one file would be one row to the pipeline); a duplicate
        // id needs an earlier row
        if (c == "resent_txn" && !resendOrder.hasNext) c = "clean"
        if (c == "dup_txn" && dayRows.isEmpty) c = "clean"
        val row: Row = c match {
          case "late" =>
            baseRow(rnd, id, day.minusDays(1 + rnd.nextInt(3)))
          case "dup_txn" =>
            val orig = dayRows(rnd.nextInt(dayRows.size))
            baseRow(rnd, orig.id, orig.date)
          case "resent_txn" =>
            prevDayRows(resendOrder.next())
          case _ =>
            val r = baseRow(rnd, id, day)
            c match {
              case "dollar_price" =>
                r.copy(cells = r.cells ++ Seq(
                  "unit_price" -> ("$" + r.cells("unit_price")),
                  "revenue" -> ("$" + r.cells("revenue"))))
              case "paren_price" =>
                r.copy(cells = r.cells ++ Seq(
                  "unit_price" -> s"(${r.cells("unit_price")})",
                  "revenue" -> s"(${r.cells("revenue")})"))
              case "ts_dd_mm_yy" => withTs(r, fmt(day, "dd-MM-yy H:mm", rnd))
              case "ts_ampm" => withTs(r, fmt(day, "MM/dd/yyyy hh:mma", rnd))
              case "ts_iso_t" => withTs(r, fmt(day, "yyyy-MM-dd'T'HH:mm:ss", rnd))
              case "ts_empty" => withTs(r, "")
              case "revenue_mismatch" =>
                val cents = (BigDecimal(r.cells("revenue")) * 100).toLongExact
                r.copy(cells = r.cells + ("revenue" -> money(cents + 100 + rnd.nextInt(4900))))
              case "na_quantity" => r.copy(cells = r.cells + ("quantity" -> "N/A"))
              case _ => r
            }
        }
        planted(c) += 1
        if (route(c) == Good) good.getOrElseUpdate(row.date, mutable.ArrayBuffer.empty) += row.id
        if (c == "clean") dayRows += row
        val cells = h.map(row.cells)
        sb.append(cells.mkString(if (c == "semicolon_row") ";" else ",")).append('\n')
      }
      prevDayRows = dayRows.toIndexedSeq
      File(s"sales_$day.csv", sb.toString.getBytes(StandardCharsets.UTF_8),
        n, structural = false, planted.toMap,
        good.view.mapValues(_.toSeq).toMap)
    }

    /** A file the preflight gate must reject whole: its header lacks the
      * required `revenue` column. */
    private def structuralFile(rnd: Random, day: LocalDate, n: Int): File = {
      val h = canonical.filterNot(_ == "revenue")
      val sb = new java.lang.StringBuilder(n * 96)
      sb.append(h.mkString(",")).append('\n')
      for (i <- 0 until n) {
        val r = baseRow(rnd, f"X$idPrefix-$fileNo%04d-$i%06d", day)
        sb.append(h.map(r.cells).mkString(",")).append('\n')
      }
      File(s"sales_${day}_partial.csv", sb.toString.getBytes(StandardCharsets.UTF_8),
        n, structural = true, Map("structural_file_row" -> n), Map.empty)
    }
  }

  private def withTs(r: Row, ts: String): Row =
    r.copy(cells = r.cells + ("timestamp" -> ts))

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  private val goodFormats = Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd H:mm",
    "yyyy/MM/dd HH:mm:ss", "yyyy/MM/dd HH:mm", "MM/dd/yyyy H:mm",
    "MM/dd/yyyy H:mm:ss")

  private def goodTimestamp(rnd: Random, date: LocalDate): String =
    fmt(date, goodFormats(rnd.nextInt(goodFormats.size)), rnd)

  private val formatters = mutable.Map.empty[String, java.time.format.DateTimeFormatter]

  private def fmt(date: LocalDate, pattern: String, rnd: Random): String = {
    val f = formatters.getOrElseUpdate(pattern,
      java.time.format.DateTimeFormatter.ofPattern(pattern, java.util.Locale.ROOT))
    date.atTime(rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60)).format(f)
  }
}
