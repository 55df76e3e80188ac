package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}

/** File-lifecycle primitives over Hadoop FileSystem: move/archive/sidecar
  * (reference A10/A11: `lambda_validator.py:98-105`,
  * `glue_job_raw_to_processed.py:69-81`). Same-FS moves use rename (atomic
  * on HDFS/local); cross-FS falls back to copy+delete like the reference's
  * S3 copy_object+delete_object.
  */
final class FileOps(conf: Configuration) {

  private def fs(path: Path): FileSystem = path.getFileSystem(conf)

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fs(p).exists(p)
  }

  /** Move a file, creating target parents. */
  def move(src: String, dst: String): Unit = {
    val (s, d) = (new Path(src), new Path(dst))
    val sfs = fs(s)
    val dfs = fs(d)
    dfs.mkdirs(d.getParent)
    val renamed = (sfs.getUri == dfs.getUri) && sfs.rename(s, d)
    if (!renamed) {
      FileUtil.copy(sfs, s, dfs, d, true, true, conf)
      ()
    }
  }

  /** Recursively move a directory's children into an existing directory
    * (used to commit a staging dir into a partitioned table path). */
  def moveChildrenInto(srcDir: String, dstDir: String): Unit = {
    val s = new Path(srcDir)
    val sfs = fs(s)
    if (sfs.exists(s)) {
      sfs.listStatus(s).foreach { st =>
        move(st.getPath.toString, s"$dstDir/${st.getPath.getName}")
      }
      sfs.delete(s, true)
    }
  }

  def delete(path: String): Unit = {
    val p = new Path(path)
    fs(p).delete(p, true)
    ()
  }

  /** Read the first `maxBytes` of a file (pre-flight sniff window,
    * `lambda_validator.py:68-74`). */
  def readHead(path: String, maxBytes: Int = 65536): Array[Byte] = {
    val p = new Path(path)
    val in = fs(p).open(p)
    try {
      val buf = new Array[Byte](maxBytes)
      var off = 0
      var n = 0
      while (off < maxBytes && { n = in.read(buf, off, maxBytes - off); n >= 0 })
        off += n
      java.util.Arrays.copyOf(buf, off)
    } finally in.close()
  }

  /** Write a small string file (reason sidecars, audit metrics). */
  def writeString(path: String, content: String): Unit = {
    val p = new Path(path)
    val f = fs(p)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Create `path` holding `content` only if it does not exist yet: the
    * exclusive claim behind the snapshot log's version publish and a
    * table group's marker. The content goes to a run-unique tmp file in
    * the same directory, which is then linked or renamed into place
    * with fail-if-exists semantics (the primitive Delta's HDFSLogStore
    * builds on). Returns false, leaving no tmp behind, when the path
    * already exists — another writer won the claim. */
  def createExclusive(path: String, content: String): Boolean = {
    val dst = new Path(path)
    val f = fs(dst)
    if (f.exists(dst)) return false // cheap fast path; the claim still guards
    val tmp = s"$path.tmp-${Naming.newRunId()}"
    writeString(tmp, content)
    try {
      if (f.getScheme == "file") {
        // the local claim must be KERNEL-atomic: FileContext.rename with
        // Rename.NONE on RawLocalFs is exists-check-then-POSIX-rename,
        // and rename(2) silently overwrites — two racers in the TOCTOU
        // window would both "win" and one write would vanish. link(2)
        // fails with EEXIST atomically; HDFS rename (below) is atomic
        // server-side; an S3 deployment uses a conditional PUT.
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(new Path(tmp).toUri.getPath))
        // delete the tmp through the checksummed FS, not java.nio: the
        // LocalFileSystem write left a .<name>.tmp-*.crc sidecar that a
        // raw unlink would orphan
        delete(tmp)
      } else
        org.apache.hadoop.fs.FileContext.getFileContext(f.getUri, conf)
          .rename(new Path(tmp), dst)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.nio.file.FileAlreadyExistsException =>
        delete(tmp); false
      case _: java.io.IOException if f.exists(dst) =>
        delete(tmp); false
    }
  }

  def readString(path: String): String = {
    val p = new Path(path)
    val in = fs(p).open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString(StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** A8 with the reference's regex bug fixed (SURVEY §2.G Q2): list
    * `date=YYYY-MM-DD` partition directories under a table path. */
  def listPartitionDates(tablePath: String): Seq[String] = {
    val dateRe = "date=(\\d{4}-\\d{2}-\\d{2})".r
    val p = new Path(tablePath)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else
      f.listStatus(p).toSeq
        .filter(_.isDirectory)
        .flatMap(st => dateRe.findFirstMatchIn(st.getPath.getName).map(_.group(1)))
        .sorted
  }
}

object Naming {
  /** B4 — traceable rename `<base>__<tag>__<YYYYMMDDTHHMMSSZ>__<uuid8><ext>`
    * (`lambda_validator.py:44-65`). */
  def withTag(origName: String, tag: String,
      nowUtc: java.time.Instant = java.time.Instant.now(),
      uuid8: String = newRunId()): String = {
    val idx = origName.lastIndexOf('.')
    val (base, ext) =
      if (idx >= 0) (origName.substring(0, idx), origName.substring(idx))
      else (origName, "")
    val ts = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(nowUtc)
    s"${base}__${tag}__${ts}__$uuid8$ext"
  }

  /** 8-hex ingest run id (`lambda_validator.py:48-49`). */
  def newRunId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)
}

/** Minimal JSON writer + parser for sidecar documents (no extra deps;
  * values are primitives/maps/seqs). */
object Json {

  /** Recursive-descent parser for the log/manifest documents this module
    * writes. Objects → Map[String, Any] (insertion-ordered), arrays →
    * Seq[Any], numbers → Long when integral else Double. Strict: trailing
    * content or malformed input throws IllegalArgumentException — a
    * corrupt log object must fail loudly, not parse to a partial file
    * list (the failure mode of the regex field-scrape this replaces). */
  def parse(s: String): Any = {
    val c = new Cursor(s)
    val v = c.value()
    c.skipWs()
    require(c.eof, s"trailing JSON content at offset ${c.pos}")
    v
  }

  def parseObject(s: String): Map[String, Any] =
    parse(s).asInstanceOf[Map[String, Any]]

  private final class Cursor(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1
    private def ch: Char = { require(!eof, "unexpected end of JSON"); s.charAt(pos) }
    private def expect(c: Char): Unit = {
      skipWs()
      require(!eof && ch == c, s"expected '$c' at offset $pos")
      pos += 1
    }

    def value(): Any = {
      skipWs()
      ch match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => word("true", java.lang.Boolean.TRUE)
        case 'f' => word("false", java.lang.Boolean.FALSE)
        case 'n' => word("null", null)
        case _ => num()
      }
    }

    private def word(w: String, v: Any): Any = {
      require(s.regionMatches(pos, w, 0, w.length), s"bad literal at offset $pos")
      pos += w.length
      v
    }

    private def obj(): Map[String, Any] = {
      expect('{')
      val b = scala.collection.immutable.ListMap.newBuilder[String, Any]
      skipWs()
      if (ch == '}') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        skipWs()
        val k = str()
        expect(':')
        b += (k -> value())
        skipWs()
        if (ch == ',') pos += 1 else { expect('}'); done = true }
      }
      b.result()
    }

    private def arr(): Seq[Any] = {
      expect('[')
      val b = Seq.newBuilder[Any]
      skipWs()
      if (ch == ']') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        b += value()
        skipWs()
        if (ch == ',') pos += 1 else { expect(']'); done = true }
      }
      b.result()
    }

    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (ch != '"') {
        if (ch == '\\') {
          pos += 1
          ch match {
            case '"' => b += '"'; pos += 1
            case '\\' => b += '\\'; pos += 1
            case '/' => b += '/'; pos += 1
            case 'n' => b += '\n'; pos += 1
            case 'r' => b += '\r'; pos += 1
            case 't' => b += '\t'; pos += 1
            case 'b' => b += '\b'; pos += 1
            case 'f' => b += '\f'; pos += 1
            case 'u' =>
              pos += 1
              require(pos + 4 <= s.length, "truncated \\u escape")
              b += Integer.parseInt(s.substring(pos, pos + 4), 16).toChar
              pos += 4
            case other => throw new IllegalArgumentException(
              s"bad escape '\\$other' at offset $pos")
          }
        } else { b += ch; pos += 1 }
      }
      pos += 1
      b.result()
    }

    private def num(): Any = {
      val start = pos
      if (!eof && (ch == '-' || ch == '+')) pos += 1
      while (!eof && (ch.isDigit || ch == '.' || ch == 'e' || ch == 'E' ||
        ch == '-' || ch == '+')) pos += 1
      val t = s.substring(start, pos)
      require(t.nonEmpty, s"expected a JSON value at offset $start")
      if (t.exists(c => c == '.' || c == 'e' || c == 'E')) t.toDouble
      else t.toLong
    }
  }
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Double => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => "\"" + esc(k.toString) + "\":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }
}
