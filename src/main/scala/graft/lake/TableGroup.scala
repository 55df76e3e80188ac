package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-TABLE ATOMIC TRANSACTIONS over a group of snapshot tables —
  * the capability neither Delta nor single-catalog Iceberg gives a
  * pipeline that must keep a fact table and its derived tables in
  * lockstep (CDC apply + summary refresh, corpus + its ANN index,
  * facts + audit ledger).
  *
  * A group is a directory holding member tables as subdirectories plus
  * a `_txn/` marker log. The protocol is stage-mark-publish:
  *
  *  1. STAGE: each member's writes commit to a fresh per-transaction
  *     in-log BRANCH (`txn-<id>`) — regular branch commits, invisible
  *     to `main` readers, using the existing branch DML surface.
  *  2. MARK: one atomic marker object (`_txn/t<seq>.json`, claimed
  *     exclusively exactly like a log version) pins every member's
  *     staged head. The marker IS the commit point: it exists with all
  *     pins or not at all.
  *  3. PUBLISH: each member's `main` fast-forwards to its pin. This
  *     phase is pure roll-forward — idempotent, resumable by ANYONE
  *     ([[rollForward]]), because the marker already decided.
  *
  * Atomicity contract: [[readAll]] resolves the marker log and serves
  * every member at its transaction-consistent version — a reader
  * between MARK and PUBLISH sees the whole transaction (from the
  * staged branch versions); a reader before MARK sees none of it.
  * Plain single-table `main` readers converge at PUBLISH, which the
  * next group operation (or an explicit rollForward) completes after
  * any crash. Members must be written ONLY through [[commitAll]] —
  * out-of-band main commits to a member forfeit the group guarantee
  * (exactly the Iceberg REST-transaction constraint).
  *
  * Concurrency: OCC at the marker. Two racing transactions both stage;
  * the marker seq claim serializes them; the loser re-stages against
  * the winner's published state and re-claims. Writes are therefore
  * REPLAYED on retry and must be deterministic builders (same
  * discipline every OCC commit here already imposes).
  *
  * Scale shape: markers are KB objects, O(members) each; staging costs
  * exactly what the member writes cost (branch commits are ordinary
  * commits); roll-forward is O(members) metadata commits. Nothing here
  * scans data. */
object TableGroup {

  private def txnDir(group: String) = s"$group/_txn"
  private def markerPath(group: String, seq: Int) =
    f"${txnDir(group)}/t$seq%06d.json"

  /** One member's staged write inside a transaction: given (tablePath,
    * branchName), commit through the branch-addressed DML surface
    * ([[Snapshots.appendToBranch]], [[Snapshots.mergeWhen]] with
    * `branch=`, ...). Runs again on OCC retry — keep it deterministic. */
  type Write = (String, String) => Unit

  private final case class Marker(seq: Int,
      pins: Seq[(String, String, Int)], // (table name, branch, version)
      token: String)

  private def readMarker(ops: FileOps, group: String,
      seq: Int): Option[Marker] = {
    val p = markerPath(group, seq)
    if (!ops.exists(p)) return None
    val m = Json.parseObject(ops.readString(p))
    val pins = m("tables").asInstanceOf[Seq[Any]].map { t =>
      val row = t.asInstanceOf[Seq[Any]]
      (row(0).toString, row(1).toString, row(2).toString.toDouble.toInt)
    }
    Some(Marker(seq, pins, m.get("token").map(_.toString).getOrElse("")))
  }

  /** Markers are dense from 1, so the latest is found by forward probe
    * (O(new markers) HEADs, like the log's `_latest` discipline). */
  private def latestMarkerSeq(ops: FileOps, group: String): Int = {
    var s = 0
    while (ops.exists(markerPath(group, s + 1))) s += 1
    s
  }

  private def markers(ops: FileOps, group: String): Seq[Marker] =
    (1 to latestMarkerSeq(ops, group))
      .flatMap(readMarker(ops, group, _))

  /** Exclusive claim of marker `seq` through the log's own version
    * claim ([[FileOps.createExclusive]]): false means another
    * transaction won the slot. */
  private def claimMarker(spark: SparkSession, group: String, seq: Int,
      pins: Seq[(String, String, Int)], token: String): Boolean =
    new FileOps(spark.sparkContext.hadoopConfiguration).createExclusive(
      markerPath(group, seq),
      Json.render(Map(
        "seq" -> seq.toLong,
        "ts" -> System.currentTimeMillis(),
        "token" -> token,
        "tables" -> pins.map(p => Seq(p._1, p._2, p._3.toLong)))))

  /** Each published marker's pins as (member → version), in marker
    * order — the audit surface for replaying group consistency at
    * every commit point. */
  def markerPins(spark: SparkSession,
      group: String): Seq[Map[String, Int]] = {
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    markers(ops, group).map(_.pins.map(p => p._1 -> p._3).toMap)
  }

  /** Apply every marked-but-unpublished pin, in marker order — the
    * PUBLISH phase, callable by anyone, any number of times. A member
    * whose main already reached (or passed) its pin is skipped; the
    * transaction branch is dropped once published so vacuum can
    * reclaim its ref. */
  def rollForward(spark: SparkSession, group: String): Unit = {
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    markers(ops, group).foreach { m =>
      m.pins.foreach { case (name, branch, v) =>
        val table = s"$group/$name"
        val mainV = Snapshots.mainHeadVersion(spark, table).getOrElse(0)
        if (mainV < v) Snapshots.fastForwardMain(spark, table, branch)
        if (Snapshots.listBranches(spark, table).exists(_._1 == branch))
          Snapshots.dropBranch(spark, table, branch)
      }
    }
  }

  /** Commit `writes` to their member tables ATOMICALLY: stage each on
    * a fresh transaction branch, claim one marker pinning all heads,
    * roll forward. Returns the transaction's marker seq. `afterMark`
    * is the crash-injection seam between MARK and PUBLISH — after it,
    * the transaction is durable and [[readAll]] serves it even though
    * no member's main has moved. */
  def commitAll(spark: SparkSession, group: String,
      writes: Seq[(String, Write)],
      afterMark: () => Unit = () => (),
      // IDEMPOTENCY TOKEN (the Delta txn appId/version discipline):
      // a non-empty token that already rode a published marker makes
      // this call a pure no-op returning that marker's seq — what
      // lets a streaming micro-batch replay its group transaction
      // after a restart without double-applying
      token: String = ""): Int = {
    require(writes.nonEmpty, "commitAll needs at least one member write")
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (attempt < 20) {
      // heal any predecessor's unpublished marker first: staging must
      // base on the group's true committed state
      rollForward(spark, group)
      if (token.nonEmpty)
        markers(ops, group).find(_.token == token)
          .foreach(m => return m.seq)
      // reserve the slot BEFORE staging: members move only when a
      // marker publishes (the group write contract), so winning THIS
      // seq later proves no transaction intervened while we staged —
      // the claim doubles as the staleness check, and a marker can
      // never pin a branch whose base main has passed
      val seq = latestMarkerSeq(ops, group) + 1
      val id = Naming.newRunId()
      val branch = s"txn-$id"
      def dropStaged(): Unit = writes.foreach { case (name, _) =>
        val table = s"$group/$name"
        if (Snapshots.listBranches(spark, table).exists(_._1 == branch))
          Snapshots.dropBranch(spark, table, branch)
      }
      // a crash mid-stage must not LEAK the transaction branches: a
      // surviving branch ref pins its staged versions against vacuum
      // forever (nothing would ever publish or drop it)
      val pins = try writes.map { case (name, w) =>
        val table = s"$group/$name"
        val base = Snapshots.mainHeadVersion(spark, table).getOrElse(
          throw new IllegalArgumentException(
            s"group member $name has no versions — create it first"))
        Snapshots.createBranch(spark, table, branch, base)
        w(table, branch)
        (name, branch, Snapshots.branchHead(spark, table, branch).get)
      } catch { case e: Throwable => dropStaged(); throw e }
      if (claimMarker(spark, group, seq, pins, token)) {
        afterMark()
        rollForward(spark, group)
        return seq
      }
      // lost the marker race: unstage (drop the branches — their
      // commits become unreferenced and vacuum-reclaimable) and replay
      // against the winner's state
      dropStaged()
      attempt += 1
    }
    throw new IllegalStateException(
      s"group transaction on $group lost 20 marker races")
  }

  /** The transaction-consistent version of `member` AT marker `seq` —
    * the resolution behind SQL `VERSION AS OF 'txn:<seq>'` on group
    * members: the newest pin for the member across markers 1..seq.
    * The marker itself decides (a marked-but-unpublished transaction
    * serves in full; anything staged after it is invisible), so a SQL
    * dashboard reading facts AND summary at the same marker gets the
    * exact cut [[commitAll]] committed — never a half-applied state.
    * None when marker `seq` was never published or no marker ≤ seq
    * pins the member (its pre-governance state has no marker-addressed
    * identity — refusing beats guessing). O(markers) KB reads. */
  def versionAtMarker(spark: SparkSession, group: String, member: String,
      seq: Int): Option[Int] = {
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    if (!ops.exists(markerPath(group, seq))) return None
    markers(ops, group).filter(_.seq <= seq)
      .flatMap(_.pins.collect { case (n, _, v) if n == member => v })
      .maxOption
  }

  /** Transaction-consistent read of the named members: each is served
    * at max(its main head, its newest marker pin) — a marked-but-
    * unpublished transaction is visible IN FULL, an unmarked one not
    * at all. */
  def readAll(spark: SparkSession, group: String,
      tables: Seq[String]): Map[String, DataFrame] = {
    val ops = new FileOps(spark.sparkContext.hadoopConfiguration)
    val pinned = markers(ops, group).flatMap(_.pins)
      .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._3).max }
    tables.map { name =>
      val table = s"$group/$name"
      val mainV = Snapshots.mainHeadVersion(spark, table).getOrElse(0)
      val v = math.max(mainV, pinned.getOrElse(name, 0))
      name -> Snapshots.readAt(spark, table, v).getOrElse(
        throw new IllegalArgumentException(
          s"group member $name has no readable version $v"))
    }.toMap
  }
}
