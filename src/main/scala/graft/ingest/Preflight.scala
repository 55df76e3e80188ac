package graft.ingest

import java.nio.charset.StandardCharsets

/** Pre-flight file validation — the reference's Lambda gatekeeper
  * (`scripts/lambda_validator.py:117-164`) as a pure function: sniff
  * delimiter + header from the head bytes, check required columns, decide
  * the route.
  *
  * Deviation (SURVEY §2.G Q5, adopted): the required-column check runs on
  * *normalized + synonym-mapped* headers against the 7-column required set,
  * matching the docs and the Glue job — the reference Lambda's raw 10-column
  * default would reject three of its own five sample files before Spark
  * ever saw them.
  */
object Preflight {

  sealed trait Route
  case object ToValidated extends Route
  case object ToStructuralReject extends Route

  final case class Decision(
      route: Route,
      delimiter: Option[Char],
      rawHeader: Seq[String],
      resolvedHeader: Seq[String],
      errors: Seq[String])

  def check(headBytes: Array[Byte]): Decision = {
    val text = new String(headBytes, StandardCharsets.UTF_8)
    Delimiters.detectFromHead(text) match {
      case None =>
        Decision(ToStructuralReject, None, Nil, Nil,
          Seq("delimiter_detection_failed"))
      case Some((delim, rawHeader)) =>
        val resolved = Headers.resolveHeader(rawHeader)
        val missing = Headers.missingRequired(resolved).toSeq.sorted
        val errors =
          if (missing.nonEmpty) Seq(s"missing_columns:${missing.mkString(",")}")
          else Nil
        val route = if (errors.isEmpty) ToValidated else ToStructuralReject
        Decision(route, Some(delim), rawHeader, resolved, errors)
    }
  }
}
