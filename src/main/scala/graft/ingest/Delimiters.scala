package graft.ingest

/** Delimiter detection heuristics.
  *
  * Two sites in the reference, with slightly different semantics — both are
  * mirrored as pure functions (their *intended* semantics; the literal code
  * has a NameError, SURVEY §2.G Q1):
  *
  *  - [[detectFromSample]] — the Glue-job file-level detector
  *    (`glue_job_raw_to_processed.py:110-131`): count each candidate in a
  *    bounded line sample, most frequent wins (ties break in candidate
  *    order), zero occurrences falls back to comma.
  *  - [[detectFromHead]] — the Lambda pre-flight detector's fallback
  *    (`lambda_validator.py:77-95`): split the first non-blank line by each
  *    candidate, the split with the most fields wins.
  */
object Delimiters {

  /** Glue-side candidate order (`glue_job:121`). */
  val sampleCandidates: Seq[Char] = Seq(',', ';', '|', '\t')

  /** Lambda-side preference order (`lambda_validator.py:38`). */
  val headCandidates: Seq[Char] = Seq(',', ';', '\t', '|')

  /** File-level detection over a bounded sample (default 20 lines). */
  def detectFromSample(sampleLines: Seq[String]): Char = {
    val text = sampleLines.mkString("\n")
    val counts = sampleCandidates.map(c => c -> text.count(_ == c))
    val (best, n) = counts.maxBy(_._2) // first max wins on ties
    if (n == 0) ',' else best
  }

  /** Pre-flight sniff: delimiter + raw header cells from the head bytes.
    * Returns None when no non-blank line exists. */
  def detectFromHead(headText: String): Option[(Char, Seq[String])] = {
    val lines = headText.linesIterator.filter(_.trim.nonEmpty).toSeq
    lines.headOption.map { first =>
      val scored = headCandidates.map(d => (d, splitKeepingEmpty(first, d)))
      val (delim, cells) = scored.maxBy(_._2.length)
      (delim, cells.map(_.trim))
    }
  }

  /** The split regex matching `delim` literally (Q3: a bare `|` would
    * split every character). A regex metacharacter is escaped with one
    * backslash and any other delimiter stays bare: both forms take
    * `String.split`'s single-character fast path, where
    * `Pattern.quote`'s `\Q…\E` compiles a `Pattern` on every call. */
  def regex(delim: Char): String =
    if (".$|()[{^?*+\\".indexOf(delim) >= 0) s"\\$delim" else delim.toString

  /** Literal split that keeps trailing empty fields (Python-split
    * semantics, which both reference sites rely on). */
  def splitKeepingEmpty(s: String, delim: Char): Seq[String] =
    s.split(regex(delim), -1).toSeq
}
