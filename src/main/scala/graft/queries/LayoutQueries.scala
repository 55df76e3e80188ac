package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators: contiguous global row numbering without a
  * single-partition window, and order-invariant table fingerprints for
  * replica anti-entropy. Both are 100 TB primitives whose NAIVE
  * formulations (global `row_number()`, sorted full-table digest) collapse
  * to one task at scale — these are the shapes that don't.
  */
object LayoutQueries {

  /** q147 — contiguous global ids ordered by `doc_id`, the scalable
    * replacement for `row_number() OVER (ORDER BY ...)` — which Catalyst
    * plans as a SINGLE-partition window (every row through one task; the
    * canonical 100 TB deadlock). Shape here is the classic two-job
    * offset scheme (what `RDD.zipWithIndex` formalizes):
    *
    *   1. range-shuffle + per-partition sort on the key (`sortBy`) — the
    *      `RangePartitioner` samples ONCE at construction, so both
    *      downstream jobs see identical boundaries;
    *   2. an O(partitions) count job → per-partition start offsets on
    *      the driver (32 longs, not data);
    *   3. a narrow map assigns `offset(p) + local index`.
    *
    * Total cost: one shuffle + one tiny count job; no task ever holds
    * more than its partition. The RDD hop is deliberate — this is
    * genuine per-partition imperative logic (position within an
    * iterator), the one place the DataFrame API cannot express the
    * narrow form. Rows re-enter Catalyst immediately after. */
  def globalRowIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long].rdd
      .sortBy(identity, ascending = true,
        numPartitions = spark.sessionState.conf.numShufflePartitions)
    val offsets = ids.mapPartitionsWithIndex { (p, it) =>
      Iterator.single(p -> it.size.toLong)
    }.collect().sortBy(_._1).map(_._2).scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    // mapPartitionsWithIndex, NOT TaskContext.getPartitionId(): a
    // downstream coalesce packs many RDD partitions into one task, where
    // the task-level id would hand every partition the same base.
    ids.mapPartitionsWithIndex { (p, it) =>
      val base = bc.value(p)
      it.zipWithIndex.map { case (d, i) => (d, base + i + 1) }
    }.toDF("doc_id", "rid")
  }

  private val FingerprintBuckets = 16

  /** Modulus for the additive digest: 2^61 keeps the exported value a
    * BIGINT on both engines while the accumulator runs in DECIMAL(38,0)
    * (Spark) / HUGEINT (DuckDB). */
  private val DigestMod = 2305843009213693952L

  /** q148 — order-invariant bucket fingerprints of the orders table: the
    * anti-entropy primitive for comparing two replicas of a 100 TB table
    * WITHOUT sorting or co-shuffling them. Each row hashes to one of
    * [[FingerprintBuckets]] buckets by key; per bucket we export the row
    * count plus two commutative digests of a canonical row rendering —
    * XOR (set semantics) and SUM mod 2^61 (multiset semantics: catches
    * the duplicated-row corruption XOR cancels). Replicas compare 16
    * rows; a mismatched bucket localizes repair to 1/16 of the keyspace,
    * recursively.
    *
    * Scale shape: one full scan, hash-agg to a constant-size result, no
    * sort, no join; every expression (md5, conv, xor, long add) is
    * codegen'd. The row rendering pins integer/cents/strftime forms so
    * both engines hash identical bytes (doubles never stringified). */
  def tableFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val rowStr = concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      Num.cents(col("o_totalprice")),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
      col("o_orderpriority"))
    // 60-bit hash: 15 hex digits of md5, engine-portable (DuckDB lacks
    // xxhash64) and always positive, so % == pmod
    val h = conv(substring(md5(rowStr), 1, 15), 16, 10).cast("long")
    val bucket = conv(substring(md5(col("o_orderkey").cast("string")), 1, 15),
      16, 10).cast("long") % FingerprintBuckets
    Tables(spark, dir, "orders")
      .select(bucket.as("bucket"), h.as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        bit_xor(col("h")).as("xor_digest"),
        (Num.sumBig(col("h")) % DigestMod).cast("long").as("sum_digest"))
  }

  private val fpRowStr =
    """concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
       CAST(round(o_totalprice * 100) AS BIGINT),
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
       o_orderpriority)"""

  /** q153 — merge-on-read DELETE via deletion vectors
    * ([[graft.lake.DeletionVectors]]): a 4-file copy of orders takes two
    * OVERLAPPING sparse deletes recorded purely as (file, row-position)
    * sidecars — the data files stay byte-immutable (spec-asserted) — and
    * the scan subtracts the tombstones with a broadcast left-anti join on
    * the parquet reader's hidden `_metadata.file_path`/`row_index`
    * columns. The gate aggregates the merge-on-read view against a plain
    * predicate oracle: a position off-by-one, a file-path mismatch, or a
    * lost vector in the union shifts the counts.
    *
    * Scale shape: deletes cost O(deleted rows), never a rewrite; the DV
    * relation for sparse deletes is MBs at 100 TB, so the anti join
    * broadcasts and the data side stays a shuffle-free narrow scan.
    * [[graft.lake.DeletionVectors.compact]] is the amortized fold-back,
    * staged write-then-swap (spec-pinned). */
  def deletionVectorRead(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.util.Scratch.dir("dv_table", dir)
    Tables(spark, dir, "orders")
      .repartition(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(table) // also clears prior _dv
    graft.lake.DeletionVectors.delete(spark, table,
      col("o_orderstatus") === "O" && col("o_totalprice") < 50000)
    graft.lake.DeletionVectors.delete(spark, table,
      col("o_totalprice") < 20000)
    graft.lake.DeletionVectors.read(spark, table)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
  }

  /** q154 — TIME TRAVEL over a versioned snapshot log
    * ([[graft.lake.Snapshots]]): three commits build version history on a
    * scratch table — append (v1), append (v2: carries v1's files by
    * reference, writes only its delta), overwrite (v3: replaces the list;
    * old files stay for travel) — then one query reads ALL THREE versions
    * concurrently and aggregates each. The oracle replays the cumulative
    * membership per version; a log that loses carried files, an append
    * that rewrites, or an overwrite that leaks prior files all shift a
    * version's row. This is the reproducible-training-run primitive: pin
    * a data version, get identical bytes forever after.
    *
    * Scale shape: version resolution is one KB-sized log object — no data
    * directory listing; snapshots share unchanged files so history costs
    * deltas, not copies. */
  def timeTravelRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("tt_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 3 === 0))
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 3 === 1))
    Snapshots.overwrite(spark, table, orders.filter(col("o_orderkey") % 3 === 2))
    (1 to 3).map { v =>
      Snapshots.readAt(spark, table, v).get
        .agg(count(lit(1)).as("n_rows"),
          Num.sumMoney(col("o_totalprice")).as("sum_price"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_price"))
    }.reduce(_.unionAll(_))
  }

  /** q155 — merge-on-read MERGE (upsert) over the snapshot log
    * ([[graft.lake.Snapshots.merge]]): a base commit takes two
    * OVERLAPPING upsert batches — batch 1 updates keys ≡0 (mod 4) and
    * inserts keys ≡1 (mod 4); batch 2 re-updates keys ≡0,1 (mod 8),
    * which must tombstone rows batch 1 itself wrote (delete files
    * pointing into delta files, not just base files) — then reads the
    * latest snapshot and aggregates. No data file is ever rewritten; the
    * latest-wins state is assembled at read time from base + deltas −
    * positional deletes. The oracle replays the closed-form final state;
    * a tombstone that misses a prior delta copy double-counts a key and
    * shifts `n_rows`, a lost insert drops one. */
  def mergeOnRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("merge_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val batch1 = orders.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .unionAll(orders.filter(col("o_orderkey") % 4 === 1))
    Snapshots.merge(spark, table, batch1, Seq("o_orderkey"))
    val batch2 = orders.filter(col("o_orderkey") % 8 <= 1)
      .withColumn("o_totalprice", col("o_totalprice") + 2.0)
    Snapshots.merge(spark, table, batch2, Seq("o_orderkey"))
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
  }

  /** q157 — additive SCHEMA EVOLUTION across snapshot versions: v1
    * commits orders WITHOUT a channel column; v2 appends rows that carry
    * one. The same log mechanics serve both eras — v2's file list mixes
    * two schemas and [[graft.lake.Snapshots.readAt]] merges them from
    * file footers (pre-evolution rows surface the new column as null,
    * bucketed here as 'legacy'). Proves a reader never needs a table
    * rewrite to pick up a widened schema — the evolution cost is zero
    * data movement. The oracle replays the era/channel assignment from
    * the key closed form. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("evolve_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_channel",
          when(col("o_orderkey") % 3 === 0, lit("web")).otherwise(lit("store"))))
    Snapshots.readLatest(spark, table).get
      .groupBy(coalesce(col("o_channel"), lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
  }

  /** q163 — ROW-level CHANGE FEED between snapshot versions (the CDF a
    * downstream incremental consumer applies): over the q155 merge
    * history, the window (v2, v3) covers batch 2's upsert — its rows
    * surface as inserts and the PRIOR images of the re-updated keys
    * (batch 1's values, read straight out of the immutable earlier
    * files the tombstones point into) surface as deletes. The oracle
    * replays both sides from the key closed forms; a delete image
    * carrying the wrong era's value, or an insert row leaking a
    * same-window tombstone, shifts a group. O(changed files +
    * tombstones) — no table diff. */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("cdf_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val batch1 = orders.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .unionAll(orders.filter(col("o_orderkey") % 4 === 1))
    val v2 = Snapshots.merge(spark, table, batch1, Seq("o_orderkey"))
    val batch2 = orders.filter(col("o_orderkey") % 8 <= 1)
      .withColumn("o_totalprice", col("o_totalprice") + 2.0)
    val v3 = Snapshots.merge(spark, table, batch2, Seq("o_orderkey"))
    Snapshots.changesBetween(spark, table, v2, v3).get
      .groupBy(col("_change_type"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
  }

  /** q164 — TYPE-WIDENING schema evolution (the other half of q157's
    * additive contract — the Iceberg `int→long` promotion): v1 commits an
    * `o_units` metric as INT; v2 appends the same column as BIGINT with
    * values beyond int range, so the widening is semantically forced,
    * not cosmetic. Time travel to v1 surfaces the era's own narrow type
    * (pinned in the `units_type` marker column); the widened read
    * ([[graft.lake.Snapshots.readAtWidened]]) resolves the target schema
    * from ONE footer per commit directory, casts each era up, and
    * unions — parquet `mergeSchema` refuses an int/long mix outright.
    * The oracle replays both eras from the key closed form; a read that
    * clipped the bigint era to int, or widened v1's travel view, shifts
    * a row. */
  def typeWidening(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("widen_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_units", (col("o_orderkey") % 100).cast("int")))
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_units", col("o_orderkey") % 100 + 10000000000L))
    val v1 = Snapshots.readAt(spark, table, 1).get
    val era1 = v1
      .agg(count(lit(1)).as("n_rows"), sum(col("o_units")).as("sum_units"))
      .select(lit(1L).as("version"),
        lit(v1.schema("o_units").dataType.simpleString).as("units_type"),
        col("n_rows"), col("sum_units"))
    val wide = Snapshots.readAtWidened(spark, table, 2).get
    val era2 = wide
      .agg(count(lit(1)).as("n_rows"), sum(col("o_units")).as("sum_units"))
      .select(lit(2L).as("version"),
        lit(wide.schema("o_units").dataType.simpleString).as("units_type"),
        col("n_rows"), col("sum_units"))
    era1.unionAll(era2)
  }

  /** q165 — log-level DATA SKIPPING (per-file min/max stats stored IN
    * the snapshot log at commit time, the Iceberg-manifest shape): a
    * range-clustered commit records each file's `o_totalprice` interval
    * in the log object; a range scan then prunes its file list from the
    * log ALONE — zero directory listings, zero footer probes (at 100 TB
    * / O(100k) files, the difference between one KB-sized log read and
    * 100k object-store round-trips) — and re-applies the predicate to
    * surviving rows for exactness. Composes with time travel: the stats
    * live in the same versioned log object the travel read resolves
    * (q99's zone maps and q154's log were previously disjoint
    * mechanisms). The `files_pruned` marker pins that a strict subset of
    * files was actually opened; SnapshotsSpec additionally pins
    * `inputFiles` equality with the pruned list. */
  def logStatsPruning(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("logstats_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table,
      orders.repartitionByRange(8, col("o_totalprice")),
      statsCols = Seq("o_totalprice"))
    val nAll = Snapshots.snapshot(spark, table, 1).get.files.size
    val nPruned = Snapshots.prunedFilesAt(spark, table, 1,
      "o_totalprice", 50000.0, 150000.0).get.size
    Snapshots.readAtPruned(spark, table, 1,
        "o_totalprice", 50000.0, 150000.0).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("files_pruned", lit(nPruned > 0 && nPruned < nAll))
  }

  /** q169 — predicate DELETE through the snapshot log
    * ([[graft.lake.Snapshots.deleteWhere]], the `DELETE FROM … WHERE`
    * DML leg): every live row matching the predicate is tombstoned as a
    * positional delete in a NEW VERSION — no data file touched, the
    * pre-delete state stays time-travelable — and a subsequent MERGE
    * resurrects deleted keys it upserts (latest-wins over tombstones,
    * the composition a real lakehouse must get right). The gate reads
    * BOTH the post-delete and post-merge versions; a tombstone that
    * leaked into the wrong version, or a merge that failed to re-insert
    * a previously-deleted key, shifts a row. Cost: one scan to locate
    * matches + O(deleted rows); scale shape identical to q155. */
  def predicateDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("pdel_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val v2 = Snapshots.deleteWhere(spark, table, col("o_totalprice") < 50000)
    val v3 = Snapshots.merge(spark, table,
      orders.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0),
      Seq("o_orderkey"))
    def aggAt(v: Int) = Snapshots.readAt(spark, table, v).get
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_price"))
    aggAt(v2).unionAll(aggAt(v3))
  }

  /** q171 — metadata-only column RENAME across snapshot eras
    * ([[graft.lake.Snapshots.renameColumn]], the rename-by-id half of
    * the Iceberg evolution contract, via a versioned name chain): v1
    * commits under `o_chan`; a rename commit maps it to `o_channel`
    * touching ZERO data files; v3 appends under the new name. The
    * latest read unifies both eras under the current name (the v1 files
    * still physically store `o_chan` — gate-pinned by the closed-form
    * channel assignment spanning both eras), while time travel to v1
    * surfaces the era's own name, attested in the marker column.
    * SnapshotsSpec additionally pins the no-recycling tombstone and
    * stats-key follow-through. */
  def columnRename(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("rename_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    def channelOf(c: org.apache.spark.sql.Column) =
      when(c % 3 === 0, lit("web")).otherwise(lit("store"))
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_chan", channelOf(col("o_orderkey"))))
    Snapshots.renameColumn(spark, table, "o_chan", "o_channel")
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_channel", channelOf(col("o_orderkey"))))
    val v1KeepsOldName = Snapshots.readAt(spark, table, 1).get
      .columns.contains("o_chan")
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_channel"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("v1_keeps_old_name", lit(v1KeepsOldName))
  }

  /** q173 — TARGETED small-file compaction
    * ([[graft.lake.Snapshots.optimizeSmallFiles]], the incremental
    * OPTIMIZE a streaming-ingest table actually runs): a bulk commit
    * takes a predicate delete, then accretes three small commits; the
    * compaction rewrites ONLY the live rows of the sub-threshold files
    * (packed by target size) while the bulk file is carried by
    * reference, bytes and tombstones untouched — cost scales with the
    * small-file debt, not the table. The gate aggregates the
    * post-compaction state against the closed form (a lost tombstone on
    * the carried file, a dropped small-file row, or a double-compacted
    * row all shift a group) and pins the layout marker: fewer files,
    * largest file carried. */
  def smallFileOptimize(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("smallopt_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0).coalesce(1))
    Snapshots.deleteWhere(spark, table, col("o_totalprice") < 30000)
    for (r <- Seq(1, 3, 5))
      Snapshots.append(spark, table,
        orders.filter(col("o_orderkey") % 8 === r).coalesce(1))
    def files = Snapshots.snapshot(spark, table,
      Snapshots.latestVersion(spark, table).get).get.files
    def len(f: String) = new java.io.File(table, f).length()
    val before = files
    val bulk = before.maxBy(len)
    val vOpt = Snapshots.optimizeSmallFiles(spark, table,
      minBytes = len(bulk)).get
    val after = Snapshots.snapshot(spark, table, vOpt).get.files
    val layoutOk = after.size < before.size && after.contains(bulk)
    Snapshots.readAt(spark, table, vOpt).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("layout_ok", lit(layoutOk))
  }

  /** q175 — log-level BLOOM file skipping for POINT LOOKUPS
    * ([[graft.lake.Snapshots.readAtKey]]): per-file bloom filters over
    * the key column are recorded in the commit's manifest; a key lookup
    * prunes its file list from the log alone — min/max stats cannot
    * prune a point predicate on a hash-distributed key (every file's
    * interval spans the domain), the bloom can. The superset guarantee
    * means a matching file is never dropped (~fpp of non-matching files
    * leak and the residual equality keeps exactness). The gate replays
    * three closed-form lookups and pins the pruning marker; the spec
    * pins inputFiles ⊆ pruned list and the superset property over a key
    * sample. */
  def bloomPointLookup(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("bloom_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table,
      orders.repartition(8, col("o_orderkey")),
      bloomCols = Seq("o_orderkey"))
    val all = Snapshots.snapshot(spark, table, 1).get.files.size
    val keys = Seq(1L, 2L, 3L)
    val prunedOk = keys.forall(k =>
      Snapshots.prunedFilesForKey(spark, table, 1, "o_orderkey", k)
        .get.size < all)
    keys.map(k => Snapshots.readAtKey(spark, table, 1, "o_orderkey", k).get)
      .reduce(_ unionAll _)
      .select(col("o_orderkey"),
        Num.cents(col("o_totalprice")).as("price_cents"))
      .withColumn("files_pruned", lit(prunedOk))
  }

  /** q176 — predicate UPDATE through the snapshot log
    * ([[graft.lake.Snapshots.updateWhere]], the `UPDATE … SET … WHERE`
    * DML leg completing the quartet with q154 append / q155 merge /
    * q169 delete): every live row matching the predicate is tombstoned
    * AND re-staged with the SET expressions applied — both in ONE
    * version; no existing file is rewritten. The gate pins all three
    * visibility contracts at once: the post-update state (SET applied,
    * row count unchanged, the multi-column SET attested by the
    * `n_upd` marker), the PRE-update state still time-travelable at v1,
    * and the change feed surfacing the update as its delete (old image)
    * + insert (new image) pair. A tombstone that misses a copy
    * double-counts a key; an update that leaks into v1 shifts the v1
    * row; a feed that loses either half shifts a cdf row. */
  def predicateUpdate(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("pupd_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val v2 = Snapshots.updateWhere(spark, table,
      col("o_totalprice") < 50000,
      Map("o_totalprice" -> (col("o_totalprice") + 100000.0),
        "o_orderpriority" -> lit("9-UPDATED")))
    def aggOf(df: DataFrame) = df
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("o_orderpriority") === "9-UPDATED", 1)).as("n_upd"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
    def aggAt(v: Int, label: String) =
      aggOf(Snapshots.readAt(spark, table, v).get)
        .select(lit(label).as("part"), col("n_rows"), col("n_upd"),
          col("sum_price"))
    val cdf = Snapshots.changesBetween(spark, table, 1, v2).get
    val cdfAgg = cdf.groupBy(concat(lit("cdf_"), col("_change_type")).as("part"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("o_orderpriority") === "9-UPDATED", 1)).as("n_upd"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
    aggAt(1, "v1").unionAll(aggAt(v2, "v2"))
      .unionAll(cdfAgg.select("part", "n_rows", "n_upd", "sum_price"))
  }

  /** q178 — Z-ORDER-aware OPTIMIZE
    * ([[graft.lake.Snapshots.optimizeSmallFiles]] with `zorderBy`, the
    * `OPTIMIZE … ZORDER BY (c1, c2)` shape): ten small unclustered
    * commits accrete, then compaction rewrites them along the Morton
    * curve of (o_custkey, o_totalprice) and records BOTH columns'
    * tightened min/max in the fresh manifest. The gate then prunes the
    * file list from the log alone on EACH dimension independently — the
    * whole point of Z-order over single-column range clustering, where
    * the second column's intervals span the domain and prune nothing —
    * and pins both markers plus the compacted layout (fewer files).
    * Result rows re-apply the residual predicate, so pruning errors
    * shift counts, not just markers. */
  def zorderOptimize(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("zopt_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    // ten small commits keyed on NEITHER stats column: every file spans
    // both domains, so pre-optimize stats prune nothing
    for (r <- 0 until 10)
      Snapshots.append(spark, table,
        orders.filter(col("o_orderkey") % 10 === r).coalesce(1))
    def files = Snapshots.snapshot(spark, table,
      Snapshots.latestVersion(spark, table).get).get.files
    def len(f: String) = new java.io.File(table, f).length()
    val before = files
    val total = before.map(len).sum
    val vOpt = Snapshots.optimizeSmallFiles(spark, table,
      minBytes = total / 8 + 1,
      statsCols = Seq("o_custkey", "o_totalprice"),
      zorderBy = Seq("o_custkey", "o_totalprice")).get
    val after = Snapshots.snapshot(spark, table, vOpt).get.files
    val maxCust = orders.agg(max(col("o_custkey"))).head().getLong(0)
    val custHi = (maxCust / 4).toDouble
    val prunedCust = Snapshots.prunedFilesAt(spark, table, vOpt,
      "o_custkey", 1.0, custHi).get
    val prunedPrice = Snapshots.prunedFilesAt(spark, table, vOpt,
      "o_totalprice", 0.0, 100000.0).get
    val layoutOk = after.size < before.size &&
      prunedCust.size < after.size && prunedPrice.size < after.size
    Snapshots.readAtPruned(spark, table, vOpt, "o_custkey", 1.0, custHi).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("zorder_prunes_both", lit(layoutOk))
  }

  /** q246 — MULTI-COLUMN Z-ORDER (q178's curve generalized to arity N,
    * [[graft.lake.ZOrder.clusteredN]]): `OPTIMIZE … ZORDER BY (k, c,
    * p)` interleaves THREE 16-bit ranks, so each fresh file covers a
    * small BOX of the 3-D domain and a predicate on ANY single axis
    * prunes from the log — the layout a wide-filter workload (key
    * lookups + customer scans + price bands on one table) needs, where
    * two-column Z-order leaves the third axis spanning every file.
    * The gate pins per-axis pruning on ALL THREE columns independently
    * (`prunes_all_axes`) plus the compacted layout, and the result
    * re-applies the residual predicate so a pruning error shifts
    * counts, not just markers. Bit budget: N·16 ≤ 62 keeps the key a
    * non-negative Long (4+ columns drop to 62/N bits per axis).
    *
    * The marker is probed at BOTH value-quarters of each axis and
    * requires pruning on EITHER side — the form that is DETERMINISTIC
    * under the curve's sampled range boundaries (which seed from RDD
    * ids, i.e. from how many jobs ran before this one): with ≥10
    * output files, pigeonhole puts two consecutive boundaries inside
    * one of the ≤8 constant-MSB curve windows of every axis, and the
    * file enclosed between them has a constant axis MSB — disjoint
    * from one of the two quarter probes whatever the sampling did. A
    * single-sided probe at 7 files (the original form) held or failed
    * with the sampling accident of the day. */
  def zorderMulti(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("zmulti_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    for (r <- 0 until 20)
      Snapshots.append(spark, table,
        orders.filter(col("o_orderkey") % 20 === r).coalesce(1))
    def files = Snapshots.snapshot(spark, table,
      Snapshots.latestVersion(spark, table).get).get.files
    def len(f: String) = new java.io.File(table, f).length()
    val before = files
    val total = before.map(len).sum
    val zCols = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val vOpt = Snapshots.optimizeSmallFiles(spark, table,
      minBytes = total / 16 + 1, statsCols = zCols, zorderBy = zCols).get
    val after = Snapshots.snapshot(spark, table, vOpt).get.files
    val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    // per-axis [min, max] in the same linear scale the curve ranks by
    val ext = orders.agg(
      min(col("o_orderkey")).cast("double"), max(col("o_orderkey")).cast("double"),
      min(col("o_custkey")).cast("double"), max(col("o_custkey")).cast("double"),
      min(col("o_totalprice")), max(col("o_totalprice"))).head()
    def prunesEitherQuarter(c: String, mn: Double, mx: Double): Boolean = {
      val q1 = mn + (mx - mn) * 0.25
      val q3 = mn + (mx - mn) * 0.75
      val bottom = Snapshots.prunedFilesAt(spark, table, vOpt, c, mn, q1).get
      val top = Snapshots.prunedFilesAt(spark, table, vOpt, c, q3, mx).get
      bottom.size < after.size || top.size < after.size
    }
    val prunesAllAxes = after.size < before.size && after.size >= 10 &&
      prunesEitherQuarter("o_orderkey", ext.getDouble(0), ext.getDouble(1)) &&
      prunesEitherQuarter("o_custkey", ext.getDouble(2), ext.getDouble(3)) &&
      prunesEitherQuarter("o_totalprice", ext.getDouble(4), ext.getDouble(5))
    val keyHi = (maxKey / 4).toDouble
    Snapshots.readAtPruned(spark, table, vOpt, "o_orderkey", 1.0, keyHi).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("prunes_all_axes", lit(prunesAllAxes))
  }

  /** q179 — the snapshot log served through the SESSION CATALOG
    * ([[graft.lake.SnapshotCatalog]], a DataSourceV2 TableCatalog): the
    * table is queried BY NAME in plain SQL with native `VERSION AS OF`
    * time travel — Spark's own `loadTable(ident, version)` hook, the
    * same contract Delta/Iceberg catalogs implement — completing the F1
    * catalog story for the lake family (q02/q03 cover the parquet
    * external-table half). Version resolution reads one KB-sized log
    * object, never lists a directory, and the scan plans through
    * Spark's native V2 parquet path (pushdown + pruning; spec-pinned).
    * The latest read spans two additively-evolved commits, so the
    * catalog's merged-log-schema surface is exercised too. */
  def snapshotSqlCatalog(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("snapcat", dir)
    val table = s"$root/orders_snap"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_channel",
          when(col("o_orderkey") % 3 === 0, lit("web")).otherwise(lit("store"))))
    // catalog instances are cached per session by name: a dir-unique
    // name keeps a shared session (bench) from pinning another sf's root
    val cat = s"snap_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"""
      SELECT 'v1' AS part, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM $cat.orders_snap VERSION AS OF 1
      UNION ALL
      SELECT concat('latest_', coalesce(o_channel, 'legacy')) AS part,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM $cat.orders_snap
      GROUP BY 1""")
  }

  /** q181 — RESTORE to a prior version ([[graft.lake.Snapshots.restore]],
    * the Delta/Iceberg rollback): after a delete (v2) and an update (v3),
    * the table is restored to v1 as a NEW version (v4) — manifests,
    * delete files, and rename chain carried by reference, zero data
    * movement — and the gate pins all three contracts: the restored
    * state equals v1 exactly, the rolled-over v3 stays time-travelable,
    * and the change feed across the restore emits the HEALING pairs
    * (delete images of the updated rows, resurrection inserts of the
    * deleted rows — the tombstone-removal feed source a restore
    * uniquely exercises), so an incremental consumer applying the feed
    * lands back on v1 without a reset. */
  def restoreVersion(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("restore_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.deleteWhere(spark, table, col("o_totalprice") < 50000)
    val v3 = Snapshots.updateWhere(spark, table,
      col("o_totalprice") >= 200000,
      Map("o_totalprice" -> (col("o_totalprice") + 1.0)))
    val v4 = Snapshots.restore(spark, table, 1)
    def aggAt(v: Int, label: String) = Snapshots.readAt(spark, table, v).get
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .select(lit(label).as("part"), col("n_rows"), col("sum_price"))
    val cdf = Snapshots.changesBetween(spark, table, v3, v4).get
      .groupBy(concat(lit("cdf_"), col("_change_type")).as("part"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
    aggAt(v4, "restored").unionAll(aggAt(v3, "pre_restore"))
      .unionAll(cdf.select("part", "n_rows", "sum_price"))
  }

  /** q182 — TIMESTAMP AS OF time travel
    * ([[graft.lake.Snapshots.versionAtTimestamp]]): every commit records
    * a strictly-increasing wall-clock timestamp in its log object (the
    * Delta in-commit-timestamp discipline — monotonicity is FORCED at
    * publish, so same-millisecond commits and clock skew cannot make
    * resolution ambiguous), and a timestamp resolves to the latest
    * version at-or-before it. The gate replays the contract
    * deterministically from the table's own recorded timestamps: each
    * version's commitTs resolves to exactly that version (strictness
    * makes this exact, no sleeps needed), one millisecond before the
    * first commit resolves to nothing, and the far future resolves to
    * latest. The same resolution serves SQL `TIMESTAMP AS OF` through
    * [[graft.lake.SnapshotCatalog]] (spec-pinned). */
  def timestampAsOf(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("tsasof_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    for (r <- 0 to 2)
      Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 3 === r))
    val ts = (1 to 3).map(v => Snapshots.snapshot(spark, table, v).get.commitTs)
    val edgesOk =
      Snapshots.versionAtTimestamp(spark, table, ts.head - 1).isEmpty &&
        Snapshots.versionAtTimestamp(spark, table, Long.MaxValue / 2).contains(3)
    (1 to 3).map { v =>
      val resolved = Snapshots.versionAtTimestamp(spark, table, ts(v - 1)).get
      Snapshots.readAt(spark, table, resolved).get
        .agg(count(lit(1)).as("n_rows"),
          Num.sumMoney(col("o_totalprice")).as("sum_price"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_price"),
          lit(resolved == v && edgesOk).as("resolution_ok"))
    }.reduce(_.unionAll(_))
  }

  /** q189 — CDC REPLICATION end-to-end
    * ([[graft.lake.Snapshots.applyChanges]], the downstream half the
    * change feed exists for): a replica is seeded with a full sync of
    * v1, then each feed window (covering a MERGE and a predicate
    * DELETE) is applied as one atomic commit — delete-image keys
    * tombstoned, insert rows appended — and the gate attests exact
    * MULTISET equality of the final live views (`exceptAll` both ways,
    * not just aggregate equality: a row replicated with a perturbed
    * value would survive count/sum checks). This closes the CDF loop:
    * q163 produces the feed, q167 streams it, q189 proves a consumer
    * applying it converges to the source. O(feed) per window; neither
    * table's files are ever rewritten. */
  def cdcReplication(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val src = graft.util.Scratch.dir("cdcrep_src", dir)
    val rep = graft.util.Scratch.dir("cdcrep_rep", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(rep))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, src, orders.filter(col("o_orderkey") % 2 === 0))
    val batch1 = orders.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .unionAll(orders.filter(col("o_orderkey") % 4 === 1))
    val v2 = Snapshots.merge(spark, src, batch1, Seq("o_orderkey"))
    val v3 = Snapshots.deleteWhere(spark, src, col("o_totalprice") < 30000)
    Snapshots.append(spark, rep, Snapshots.readAt(spark, src, 1).get)
    Snapshots.applyChanges(spark, rep,
      Snapshots.changesBetween(spark, src, 1, v2).get, Seq("o_orderkey"))
    Snapshots.applyChanges(spark, rep,
      Snapshots.changesBetween(spark, src, v2, v3).get, Seq("o_orderkey"))
    val s = Snapshots.readLatest(spark, src).get
    val r = Snapshots.readLatest(spark, rep).get
    val inSync = s.exceptAll(r).isEmpty && r.exceptAll(s).isEmpty
    r.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("in_sync", lit(inSync))
  }

  /** q190 — the SQL catalog serving a table with FULL DML + RENAME
    * history ([[graft.plans.SnapshotRelationRewrite]], closing VERDICT
    * r11 gap 1): after a MERGE (positional deletes), a predicate DELETE
    * and a column RENAME, `spark.sql` over the catalog name still
    * answers — the catalog hands out a no-capability marker table and
    * the injected analyzer rule lowers its relation to the era-aware
    * read (parquet scans + broadcast tombstone anti-join + rename
    * projection), so Catalyst plans real leaves with pushdown/pruning
    * intact (spec-pinned). The gate reads BOTH the latest version
    * (deletes + renames, current names) and `VERSION AS OF` the
    * mid-history MoR version (old names) in one SQL statement and
    * hash-matches the closed form. */
  def snapshotSqlMor(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("snapmor", dir)
    val table = s"$root/orders_mor"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.merge(spark, table,
      orders.filter(col("o_orderkey") % 4 <= 1)
        .withColumn("o_totalprice", col("o_totalprice") + 2.0),
      Seq("o_orderkey"))
    Snapshots.deleteWhere(spark, table, col("o_totalprice") < 30000)
    Snapshots.renameColumn(spark, table, "o_totalprice", "o_price")
    val cat = s"snapmor_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"""
      SELECT 'latest' AS part, o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_price")} AS sum_price
      FROM $cat.orders_mor
      GROUP BY 2
      UNION ALL
      SELECT 'v2', o_orderpriority, COUNT(*),
             ${Num.sqlSumMoney("o_totalprice")}
      FROM $cat.orders_mor VERSION AS OF 2
      GROUP BY 2""")
  }

  /** q191 — SQL DML routed to the snapshot log
    * ([[graft.plans.SnapshotDmlRewrite]]): the q176 scenario driven
    * purely through `spark.sql` — `UPDATE … SET … WHERE` (multi-SET,
    * right-hand sides over pre-update values), `DELETE FROM … WHERE`,
    * and `MERGE INTO … USING` (latest-wins upsert over a temp-view
    * source) — each statement an eagerly-executed command delegating to
    * [[graft.lake.Snapshots]]' merge-on-read commits: no data file is
    * ever rewritten, every statement publishes one log version, and the
    * final state is read back through the same catalog. The
    * `four_versions` marker attests each statement landed as exactly
    * one commit. */
  def sqlDml(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("sqldml", dir)
    val table = s"$root/orders_dml"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val cat = s"sqldml_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"UPDATE $cat.orders_dml SET " +
      "o_totalprice = o_totalprice + 100000 WHERE o_totalprice < 50000")
    spark.sql(s"DELETE FROM $cat.orders_dml WHERE o_totalprice > 250000")
    orders.filter(col("o_orderkey") % 4 === 1 || col("o_orderkey") % 8 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 7.0)
      .createOrReplaceTempView("sqldml_src")
    spark.sql(s"""MERGE INTO $cat.orders_dml AS tgt USING sqldml_src AS src
      ON tgt.o_orderkey = src.o_orderkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val fourVersions = Snapshots.latestVersion(spark, table).contains(4)
    spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM $cat.orders_dml GROUP BY 1""")
      .withColumn("four_versions", lit(fourVersions))
  }

  /** q192 — column DROP evolution ([[graft.lake.Snapshots.dropColumn]],
    * the third schema-evolution leg beside add/widen/rename): dropping
    * is a metadata-only commit recording (name, chain position, affected
    * commit dirs) in the log's drop ledger — zero files touched. The
    * gate pins all three contracts in one result: time travel BELOW the
    * drop still shows the column (v1), the drop version no longer
    * surfaces it at all (v2, `has_units` marker false), and re-adding
    * the SAME name later yields a semantically NEW column — v3 rows from
    * pre-drop files read NULL (their bytes never resurface) while
    * post-re-add rows carry the new values, with a different (wider)
    * type than the dropped era, which composes because dead era fields
    * are excluded from the widening union. */
  def columnDrop(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("cdrop_table", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("units", (col("o_orderkey") % 100).cast("int")))
    Snapshots.dropColumn(spark, table, "units")
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("units", col("o_orderkey") % 7))
    def part(v: Int, label: String) = {
      val df = Snapshots.readAt(spark, table, v).get
      val hasUnits = df.columns.contains("units")
      val withU =
        if (hasUnits) df else df.withColumn("units", lit(null).cast("long"))
      withU.agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("units").cast("long")), lit(0L)).as("sum_units"))
        .select(lit(label).as("part"), col("n_rows"), col("sum_units"),
          lit(hasUnits).as("has_units"))
    }
    part(1, "v1_below_drop").unionAll(part(2, "v2_dropped"))
      .unionAll(part(3, "v3_readded"))
  }

  /** q196 — SQL INSERT routed to the snapshot log
    * ([[graft.plans.SnapshotDmlRewrite]]'s write half, completing the
    * q191 DML surface): `INSERT INTO` appends one log version,
    * `INSERT OVERWRITE` publishes a full-table replace (history intact —
    * the pre-overwrite state stays time-travelable), both as
    * eagerly-executed commands over the analyzer-aligned query plan. The
    * `three_versions` marker attests one commit per statement; partial
    * (filtered) OVERWRITE is refused with the reason (spec). */
  def sqlInsert(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("sqlins", dir)
    val table = s"$root/orders_ins"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val cat = s"sqlins_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    orders.createOrReplaceTempView("sqlins_src")
    spark.sql(s"INSERT INTO $cat.orders_ins " +
      "SELECT * FROM sqlins_src WHERE o_orderkey % 2 = 1")
    val afterInsert = spark
      .sql(s"SELECT count(*) FROM $cat.orders_ins").head().getLong(0)
    spark.sql(s"INSERT OVERWRITE $cat.orders_ins " +
      "SELECT * FROM sqlins_src WHERE o_totalprice >= 50000")
    val ok = afterInsert == orders.count() &&
      Snapshots.latestVersion(spark, table).contains(3)
    spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM $cat.orders_ins GROUP BY 1""")
      .withColumn("three_versions", lit(ok))
  }

  /** q197 — SQL `CREATE TABLE AS SELECT` on the snapshot catalog
    * ([[graft.plans.SnapshotCtasCommand]], completing the SQL DDL story
    * beside q196's INSERT legs): CTAS publishes the table's first append
    * commit (data defines the schema, as for the DataFrame path),
    * `IF NOT EXISTS` over an existing table is a version-free no-op that
    * never evaluates its query, and `CREATE OR REPLACE` publishes an
    * overwrite commit with the pre-replace version still travelable —
    * attested by reading v1 back beside the replaced live view. */
  def sqlCtas(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("sqlctas", dir)
    val table = s"$root/orders_ctas"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val cat = s"sqlctas_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    orders.createOrReplaceTempView("sqlctas_src")
    spark.sql(s"CREATE TABLE $cat.orders_ctas AS " +
      "SELECT o_orderkey, o_orderpriority, o_totalprice FROM sqlctas_src " +
      "WHERE o_totalprice < 100000")
    // no-op: must add no version and must not evaluate its query
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.orders_ctas AS " +
      "SELECT * FROM sqlctas_src")
    spark.sql(s"CREATE OR REPLACE TABLE $cat.orders_ctas AS " +
      "SELECT o_orderkey, o_orderpriority, o_totalprice FROM sqlctas_src " +
      "WHERE o_totalprice >= 100000")
    val ok = Snapshots.latestVersion(spark, table).contains(2)
    def slice(part: String, asOf: String) = spark.sql(s"""
      SELECT '$part' AS part, o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM $cat.orders_ctas $asOf GROUP BY 2""")
    slice("replaced", "").unionAll(slice("v1_created", "VERSION AS OF 1"))
      .withColumn("two_versions", lit(ok))
  }

  /** q199 — `count(*)` answered from LOG METADATA, no table scan
    * ([[graft.plans.SnapshotMetadataCount]] + the per-file row counts
    * every manifest now records): the most common sanity query over a
    * 100 TB table collapses to O(log objects) — the Delta
    * optimized-metadata-query shape. The gate attests BOTH halves: the
    * bare counts (live and every `VERSION AS OF`) are served by a
    * LocalTableScan with no file scan in the executed plan
    * (`metadata_only`), while a filtered count keeps the scan plan and
    * its exact value — the rule declines rather than approximates. */
  def metadataCount(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("metacnt", dir)
    val table = s"$root/orders_cnt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    (0 to 2).foreach(i =>
      Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 3 === i)))
    val cat = s"metacnt_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    def cnt(label: String, asOf: String) = spark.sql(
      s"SELECT '$label' AS part, count(*) AS n_rows FROM $cat.orders_cnt $asOf")
    val live = cnt("v3_live", "")
    val plan = live.queryExecution.executedPlan.toString
    val metaOnly = plan.contains("LocalTableScan") &&
      !plan.contains("BatchScan") && !plan.contains("FileScan")
    val filtered = spark.sql(s"SELECT 'filtered_scan' AS part, " +
      s"count(*) AS n_rows FROM $cat.orders_cnt WHERE o_orderkey % 2 = 0")
    val filteredScans = filtered.queryExecution.executedPlan.toString
      .contains("BatchScan")
    live.unionAll(cnt("v1", "VERSION AS OF 1"))
      .unionAll(cnt("v2", "VERSION AS OF 2"))
      .unionAll(filtered)
      .withColumn("metadata_only", lit(metaOnly))
      .withColumn("filtered_scans", lit(filteredScans))
  }

  /** q200 — `DESCRIBE HISTORY`-class METADATA TABLES over SQL
    * (`<table>.history` / `<table>.files`, the Iceberg metadata-table
    * surface; [[graft.lake.SnapshotCatalog]] serves a marker the
    * relation rewrite lowers to the driver-built O(log) relation): every
    * commit now records its OPERATION in the log, so the history table
    * shows the full audit trail — op, per-version metadata shape, and
    * the log-derived row count where the log can answer it (−1 on MoR
    * versions, the q199 decline surfaced as data) — while the files
    * table exposes each version's file list with manifest-exact row
    * counts, time-travelable via the standard VERSION AS OF hook. The
    * gate drives append/append/delete/restore/overwrite and checks the
    * whole trail plus the files-table row-count sum, all from metadata:
    * no query here ever scans the table's data. */
  def metadataTables(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("metatbl", dir)
    val table = s"$root/orders_hist"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 1))
    Snapshots.deleteWhere(spark, table, col("o_orderkey") % 5 === 0)
    Snapshots.restore(spark, table, 2)
    Snapshots.overwrite(spark, table,
      orders.filter(col("o_totalprice") >= 100000))
    val cat = s"metatbl_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"""
      SELECT version, op, n_deletes > 0 AS has_deletes, row_count
      FROM $cat.orders_hist.history""")
      .unionAll(spark.sql(s"""
        SELECT 0 AS version, 'files' AS op, false AS has_deletes,
               CAST(SUM(rows) AS BIGINT) AS row_count
        FROM $cat.orders_hist.files"""))
  }

  /** q203 — VACUUM closes the lake lifecycle (the retention half every
    * q153–q200 feature implies: time travel is only free until someone
    * reclaims the space): `Snapshots.vacuum(keepFrom)` deletes log
    * objects below the horizon, commit dirs no kept version references,
    * and orphaned manifests. The gate drives append → overwrite (dead
    * files below the horizon) → append, vacuums at keepFrom=2, and
    * attests all four contracts AT ONCE: (a) the vacuumed version is
    * GONE (readAt None — refusal, never resurrection), (b) the oldest
    * kept version still reads exactly, (c) physical commit dirs
    * actually shrank (fs-counted before/after), (d) the live view is
    * bit-exact. Everything from metadata + one live aggregate. */
  def vacuumLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("vaclife", dir)
    val table = s"$root/orders_vac"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders) // v1 — becomes garbage
    Snapshots.overwrite(spark, table,
      orders.filter(col("o_totalprice") >= 100000)) // v2 — v1 files dead
    Snapshots.append(spark, table, orders.filter(
      col("o_totalprice") < 100000 && col("o_orderkey") % 7 === 0)) // v3
    def snapDirs: Int = {
      val p = new org.apache.hadoop.fs.Path(s"$table/_snap")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0 else fs.listStatus(p).length
    }
    val dirsBefore = snapDirs
    Snapshots.vacuum(spark, table, keepFrom = 2)
    val dirsAfter = snapDirs
    val v1Gone = Snapshots.readAt(spark, table, 1).isEmpty &&
      Snapshots.latestVersion(spark, table).contains(3)
    val v2Intact = Snapshots.readAt(spark, table, 2).exists(df =>
      df.count() == orders.filter(col("o_totalprice") >= 100000).count())
    Snapshots.readLatest(spark, table).get
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("v1_gone", lit(v1Gone))
      .withColumn("v2_intact", lit(v2Intact))
      .withColumn("files_shrunk", lit(dirsBefore > dirsAfter))
  }

  /** q209 — SHALLOW CLONE ([[graft.lake.Snapshots.shallowClone]], the
    * Delta `CREATE TABLE … SHALLOW CLONE` zero-copy branch): the clone
    * is born referencing the SOURCE's data files by absolute path — no
    * byte copied — then the two tables diverge independently. The gate
    * drives the full hazard surface at once: the source carries live
    * TOMBSTONES at clone time (the sidecar-content rewrite is what
    * makes 'clone_v1' honor them — a broken rewrite resurrects every
    * fifth order), the clone then UPDATEs (DML over foreign-referenced
    * files: tombstones + restaged rows land under the CLONE only),
    * the source appends after the clone (no leak into the clone), and
    * the clone VACUUMs (must never reap the source's files — the
    * `zero_copy` marker pins that v1 referenced only foreign absolute
    * paths, `vacuum_safe` that both tables still read exactly after
    * the clone's vacuum). At 100 TB a clone is O(metadata): the test
    * table's semantics are byte-identical. */
  def shallowCloneLake(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("sclone", dir)
    val src = s"$root/orders_src"
    val dst = s"$root/orders_cl"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, src, orders) // src v1
    Snapshots.deleteWhere(spark, src, col("o_orderkey") % 5 === 0) // src v2
    Snapshots.shallowClone(spark, src, dst) // clone of src@v2, tombstones live
    val cl1 = Snapshots.snapshot(spark, dst, 1).get
    val zeroCopy = cl1.files.nonEmpty &&
      cl1.files.forall(f => f.startsWith("/") && f.contains("orders_src"))
    def aggOf(df: DataFrame, label: String) = df
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("o_orderpriority") === "9-CLONED", 1)).as("n_upd"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .select(lit(label).as("part"), col("n_rows"), col("n_upd"),
        col("sum_price"))
    val cloneV1 = aggOf(Snapshots.readAt(spark, dst, 1).get, "clone_v1")
    // diverge: DML on the clone, then append on the source — neither
    // may observe the other
    Snapshots.updateWhere(spark, dst, col("o_totalprice") < 50000,
      Map("o_orderpriority" -> lit("9-CLONED")))
    Snapshots.append(spark, src, orders.filter(col("o_orderkey") % 5 === 0))
    val cloneV2 = aggOf(Snapshots.readLatest(spark, dst).get, "clone_v2")
    val srcLatest = aggOf(Snapshots.readLatest(spark, src).get, "src_latest")
    Snapshots.vacuum(spark, dst, keepFrom = 2)
    val expectClone = orders.filter(col("o_orderkey") % 5 =!= 0).count()
    val vacuumSafe =
      Snapshots.readAt(spark, src, 2).get.count() == expectClone &&
        Snapshots.readLatest(spark, dst).get.count() == expectClone
    cloneV1.unionAll(cloneV2).unionAll(srcLatest)
      .withColumn("zero_copy", lit(zeroCopy))
      .withColumn("vacuum_safe", lit(vacuumSafe))
  }

  /** q224 — TIME-typed log stats + SQL time-range pruning (the single
    * most common data-skipping predicate a time-clustered 100 TB table
    * sees: "last month's data" should open last month's files):
    * temporal stats columns record per-file min/max in the manifest in
    * their Catalyst-native scale — DATE as EPOCH DAYS, TIMESTAMP as
    * epoch seconds ([[graft.lake.Snapshots]] collectStats) — and the
    * scan-pruning rule converts DateType (Int days) / TimestampType
    * (Long micros) literals to the same unit, so a
    * `WHERE o_orderdate >= DATE '…'` over the timestamp-typed orders
    * table prunes year-clustered commits from the log alone. Pinned
    * three ways: the SQL plan shows the pruned relation
    * (`scan_pruned`), the DataFrame-side `prunedFilesAt` drops exactly
    * the pre-1997 year files for the same interval (`api_pruned`), and
    * a predicate on a stats-less column leaves the plan untouched
    * (`unpruned_ok`); result rows re-apply the full predicate, so
    * over-pruning shifts counts, not just markers. */
  def dateStatsPruning(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("dateprune", dir)
    val table = s"$root/orders_dt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    // one commit (= one file) per calendar year actually present — the
    // years are data-derived (O(years) driver rows), not assumed
    val years = orders.select(year(col("o_orderdate")).as("y"))
      .distinct().collect().map(_.getInt(0)).sorted
    for (y <- years)
      Snapshots.append(spark, table,
        orders.filter(year(col("o_orderdate")) === y).coalesce(1),
        statsCols = Seq("o_orderdate"))
    val v = Snapshots.latestVersion(spark, table).get
    val all = Snapshots.snapshot(spark, table, v).get.files.size
    // TimestampType stats are epoch SECONDS; the cutoff is midnight
    // 1997-01-01 in the session zone (UTC here), matching the SQL
    // literal's post-coercion timestamp value
    val cutoffSec =
      java.time.LocalDate.parse("1997-01-01").toEpochDay * 86400d
    val apiPruned = Snapshots.prunedFilesAt(spark, table, v, "o_orderdate",
      cutoffSec, Double.PositiveInfinity).get
    val cat = s"dateprune_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val q = spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_dt WHERE o_orderdate >= DATE '1997-01-01'
      GROUP BY 1""")
    val scanPruned = q.queryExecution.executedPlan.toString
      .contains("#pruned")
    val unpruned = spark.sql(s"SELECT count(*) AS n FROM $cat.orders_dt " +
      "WHERE o_totalprice >= 100000")
    val unprunedOk = !unpruned.queryExecution.executedPlan.toString
      .contains("#pruned")
    val expectKept = years.count(_ >= 1997)
    q.withColumn("scan_pruned", lit(scanPruned))
      .withColumn("api_pruned",
        lit(apiPruned.size == expectKept && expectKept < all))
      .withColumn("unpruned_ok", lit(unprunedOk))
  }

  /** q225 — HIDDEN PARTITIONING via transform-encoded manifest stats
    * (the Iceberg partition-transform discipline: users query SOURCE
    * columns, the table prunes through transforms they never see).
    * [[graft.lake.Snapshots.appendPartitioned]] range-clusters each
    * commit by `(bucket(8,o_custkey), days(o_orderdate))` and records
    * per-file min/max OF THE TRANSFORM VALUES — no partition column in
    * the data files, no directory layout, the spec lives entirely in
    * the stats NAMES. Reads prune three ways, all pinned: a point
    * lookup hashes the key literal with the writer's exact expression
    * and skips non-matching buckets ([[graft.lake.Snapshots.readAtBucketPoint]]
    * + the SQL `o_custkey = k` path through SnapshotScanPruning's
    * bucket check), and a date-range SQL predicate converts to a
    * `days(·)` interval (floor is monotone, so the closed interval
    * stays conservative). Two commits prove transform stats accumulate
    * across manifests; the point-lookup row count is the cross-engine
    * value (DuckDB replays it as a scalar subquery), so a hash-broken
    * bucket would under-count rows, not just flip a marker. At 100 TB
    * this is the write-once shuffle that turns every key lookup into
    * O(files/buckets) opens and every time window into O(window)
    * opens, from the log alone. */
  def hiddenPartitioning(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("hiddenpart", dir)
    val table = s"$root/orders_hp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val spec = Seq("bucket(8,o_custkey)", "days(o_orderdate)")
    Snapshots.appendPartitioned(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0), spec, numFiles = 16)
    Snapshots.appendPartitioned(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1), spec, numFiles = 16)
    val v = Snapshots.latestVersion(spark, table).get
    val all = Snapshots.snapshot(spark, table, v).get.files.size
    val key = orders.agg(min(col("o_custkey"))).head.getLong(0)
    val pointRows =
      Snapshots.readAtBucketPoint(spark, table, v, "bucket(8,o_custkey)",
        key).get.count()
    val b = Snapshots.bucketValueOf(8, key)
    val pointFiles = Snapshots.prunedFilesAt(spark, table, v,
      "bucket(8,o_custkey)", b, b).get
    // the cutoff must land INSIDE each bucket's day subranges for the
    // secondary transform to prune (16 files / 8 buckets = 2 day
    // subranges per bucket, split near the median day ~1998) — 2000
    // sits robustly above every lower subrange
    val cutDays =
      java.time.LocalDate.parse("2000-01-01").toEpochDay.toDouble
    val daysFiles = Snapshots.prunedFilesAt(spark, table, v,
      "days(o_orderdate)", cutDays, Double.PositiveInfinity).get
    val apiPruned = pointFiles.size < all && daysFiles.size < all
    val cat = s"hiddenpart_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val q = spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_hp WHERE o_orderdate >= DATE '2000-01-01'
      GROUP BY 1""")
    val scanPruned = q.queryExecution.executedPlan.toString
      .contains("#pruned")
    val eqq = spark.sql(
      s"SELECT count(*) AS n FROM $cat.orders_hp WHERE o_custkey = $key")
    val eqPruned = eqq.queryExecution.executedPlan.toString
      .contains("#pruned")
    val sqlPointRows = eqq.head().getLong(0)
    q.withColumn("point_rows", lit(pointRows))
      .withColumn("sql_point_rows", lit(sqlPointRows))
      .withColumn("scan_pruned", lit(scanPruned))
      .withColumn("eq_pruned", lit(eqPruned))
      .withColumn("api_pruned", lit(apiPruned))
  }

  /** q226 — HIDDEN PARTITIONING end-to-end in SQL (the Iceberg DDL
    * surface over q225's transform-stats machinery): `CREATE TABLE ...
    * PARTITIONED BY (bucket(8, o_custkey), days(o_orderdate)) AS
    * SELECT` persists the transform spec IN THE LOG, and a later plain
    * `INSERT INTO` — which names no partitioning at all — is
    * range-clustered by the persisted spec automatically, its files
    * carrying the same transform stats (the Iceberg write contract:
    * the table's spec shapes every write, whatever path produced it).
    * Markers pin each leg: `spec_persisted` (the log records the DDL's
    * spec verbatim), `insert_clustered` (every INSERT-staged file
    * carries BOTH transforms' stats — auto-clustering worked),
    * `scan_pruned`/`eq_pruned` (a date range and a key equality each
    * shrink the SQL scan's file list from the log alone), and
    * `sql_point_rows` is the cross-engine row count through the pruned
    * path — a broken writer-side hash or a wrong prune under-counts
    * rows, not just flips a marker. At 100 TB this is the full UX:
    * declare the spec once in DDL, never mention it again, every
    * write clusters and every read skips. */
  def hiddenPartitioningSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("hiddenpartsql", dir)
    val table = s"$root/orders_hps"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val cat = s"hiddenpartsql_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_src_q226")
    // gate-scale writes pin the clustered width (see [[pinnedWriteWidth]]):
    // AQE would right-size a ~1.5k-row insert to one file — correct
    // production sizing, vacuous for the pruning markers below
    pinnedWriteWidth(spark) {
      spark.sql(s"""
        CREATE TABLE $cat.orders_hps
        PARTITIONED BY (bucket(8, o_custkey), days(o_orderdate))
        AS SELECT * FROM orders_src_q226 WHERE o_orderkey % 2 = 0""")
      spark.sql(s"""
        INSERT INTO $cat.orders_hps
        SELECT * FROM orders_src_q226 WHERE o_orderkey % 2 = 1""")
    }
    val spec = Seq("bucket(8,o_custkey)", "days(o_orderdate)")
    val specPersisted = Snapshots.currentPartitionSpec(spark, table) == spec
    val v = Snapshots.latestVersion(spark, table).get
    val s2 = Snapshots.snapshot(spark, table, v).get
    val prior = Snapshots.snapshot(spark, table, v - 1).get.files.toSet
    val inserted = s2.files.filterNot(prior)
    val insertClustered = inserted.nonEmpty && inserted.forall(f =>
      s2.stats.get(f).exists(m => spec.forall(m.contains)))
    val key = Tables(spark, dir, "orders")
      .agg(min(col("o_custkey"))).head.getLong(0)
    val q = spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_hps WHERE o_orderdate >= DATE '2000-01-01'
      GROUP BY 1""")
    val scanPruned = q.queryExecution.executedPlan.toString
      .contains("#pruned")
    val eqq = spark.sql(
      s"SELECT count(*) AS n FROM $cat.orders_hps WHERE o_custkey = $key")
    val eqPruned = eqq.queryExecution.executedPlan.toString
      .contains("#pruned")
    val sqlPointRows = eqq.head().getLong(0)
    q.withColumn("sql_point_rows", lit(sqlPointRows))
      .withColumn("spec_persisted", lit(specPersisted))
      .withColumn("insert_clustered", lit(insertClustered))
      .withColumn("scan_pruned", lit(scanPruned))
      .withColumn("eq_pruned", lit(eqPruned))
  }

  /** Pin the clustered-write width while `body` writes: a table-spec'd
    * write clusters via a width-0 `repartitionByRange`, whose partition
    * count AQE right-sizes to the data volume — the correct PRODUCTION
    * sizing, which at gate scale (a ~1.5k-row insert) collapses to ONE
    * file and makes any file-pruning demonstration vacuous. Disabling
    * AQE partition coalescing for the write's duration restores the
    * many-files-per-write reality of a large table without touching
    * product code; explicit-width writes ([[Snapshots.appendPartitioned]]
    * with `numFiles > 0`) are unaffected either way. */
  private def pinnedWriteWidth[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  /** q237 — EQUALITY DELETES ([[graft.lake.Snapshots.deleteByKeys]] —
    * Iceberg v2's second delete kind): delete by KEY with ZERO scan at
    * write time — the key set IS the delete file, so a streaming CDC
    * consumer can land thousands of key-deletes per minute where a
    * positional delete would pay a locate-scan each. The gate walks the
    * full lifecycle: `no_scan_commit` pins the delete commit touched no
    * data file and staged no positional tombstone (structural proof of
    * the zero-scan write), `mid_suppressed` pins the keys gone from the
    * live view, the UPSERT half re-appends the same keys with changed
    * prices and `reinsert_survives` pins them back (the delete's
    * manifest-id SCOPE — the Iceberg sequence-number rule — protects
    * rows appended after it, which is what makes delete+insert upserts
    * compose), `clone_under_debt` pins that a shallow clone taken with
    * eq deletes outstanding works: the deletes materialize into the
    * CLONE's own positional tombstones (source untouched, live view
    * bit-identical, no eq debt carried), `materialize_lossless` +
    * `eq_cleared` pin the one-scan conversion to positional tombstones
    * leaving the live view bit-identical, and `clone_after_ok` clones
    * again once materialized. The final aggregate is the cross-engine
    * witness that exactly the upserted state survived. */
  def equalityDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("eqdel", dir)
    val table = s"$root/orders_eq"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/clone1"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/clone2"))
    val orders = Tables(spark, dir, "orders")
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    Snapshots.append(spark, table, evens)
    val v1 = Snapshots.latestVersion(spark, table).get
    val s1 = Snapshots.snapshot(spark, table, v1).get
    val keys = orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"))
    val nKeys = keys.count()
    val v2 = Snapshots.deleteByKeys(spark, table, keys)
    val s2 = Snapshots.snapshot(spark, table, v2).get
    val newDel = s2.deletes.filterNot(s1.deletes.toSet)
    val noScanCommit = s2.files == s1.files &&
      newDel.nonEmpty && newDel.forall(Snapshots.isEqDelete)
    val midSuppressed = Snapshots.readAt(spark, table, v2).get
      .count() == evens.count() - nKeys
    val v3 = Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)))
    val after = Snapshots.readAt(spark, table, v3).get
    val reinsertSurvives = after.count() == evens.count() &&
      after.filter(col("o_orderkey") % 10 === 0).count() == nKeys
    // clone UNDER eq debt: works — the outstanding equality deletes
    // materialize into the CLONE's own positional tombstones (one scan
    // of scoped files; the source is untouched), so the cloned live
    // view is bit-identical and the clone carries no eq debt
    val cloneUnderDebt = {
      Snapshots.shallowClone(spark, table, s"$root/clone1")
      val cs = Snapshots
        .snapshot(spark, s"$root/clone1", 1).get
      Snapshots.readLatest(spark, s"$root/clone1").get
        .count() == evens.count() &&
        cs.deletes.nonEmpty && cs.deletes.forall(f => !Snapshots.isEqDelete(f))
    }
    def fp(): (Long, Long) = {
      val r = Snapshots.readLatest(spark, table).get.agg(
        sum(pmod(xxhash64(col("o_orderkey"),
          Num.cents(col("o_totalprice"))), lit(2147483647L))).as("_f"),
        count(lit(1)).as("_n")).head
      (r.getLong(0), r.getLong(1))
    }
    val before = fp()
    Snapshots.materializeEqDeletes(spark, table).get
    val materializeLossless = fp() == before
    val eqCleared = Snapshots
      .snapshot(spark, table, Snapshots.latestVersion(spark, table).get)
      .get.deletes.forall(f => !Snapshots.isEqDelete(f))
    val cloneAfterOk = {
      Snapshots.shallowClone(spark, table, s"$root/clone2")
      Snapshots.readLatest(spark, s"$root/clone2").get
        .count() == evens.count()
    }
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("no_scan_commit", lit(noScanCommit))
      .withColumn("mid_suppressed", lit(midSuppressed))
      .withColumn("reinsert_survives", lit(reinsertSurvives))
      .withColumn("clone_under_debt", lit(cloneUnderDebt))
      .withColumn("materialize_lossless", lit(materializeLossless))
      .withColumn("eq_cleared", lit(eqCleared))
      .withColumn("clone_after_ok", lit(cloneAfterOk))
  }

  /** q242 — EQUALITY DELETES ACROSS COLUMN RENAMES (Iceberg identifier
    * fields survive schema evolution by field id; our name-chain
    * equivalent resolves a delete's stored key columns through every
    * rename committed after it): a CDC writer lands key-deletes, a
    * schema migration renames the key column TWICE (`o_orderkey` →
    * `order_id` → `oid`), and the deletes keep applying — the read
    * path serves the stored `o_orderkey` keys under `oid`
    * ([[graft.lake.Snapshots]] `eqDeleteParts` rename mapping), the
    * change feed crossing both the delete and the renames emits its
    * delete images under the CURRENT name (`chain_resolved` /
    * `feed_under_current_name`), and `materializeEqDeletes` converts
    * the old-name keys to positional tombstones losslessly
    * (`materialize_lossless`). Without the chain mapping every one of
    * these would either miss all rows or throw on the unresolvable
    * column — the exact failure a production table hits the first time
    * a migration renames a CDC key. */
  def eqDeleteRename(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("eqren", dir)
    val table = s"$root/orders_eqren"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    val v1 = Snapshots.append(spark, table, evens)
    val keys = orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"))
    val nKeys = keys.count()
    Snapshots.deleteByKeys(spark, table, keys)
    // two renames AFTER the delete: stored keys must resolve through
    // the whole chain, not just one hop
    Snapshots.renameColumn(spark, table, "o_orderkey", "order_id")
    val vRen2 = Snapshots.renameColumn(spark, table, "order_id", "oid")
    val live = Snapshots.readLatest(spark, table).get
    val chainResolved = live.columns.contains("oid") &&
      live.filter(col("oid") % 10 === 0).count() == 0 &&
      live.count() == evens.count() - nKeys
    // feed across (append .. rename2]: the eq delete's images surface
    // under the CURRENT name with _change_type=delete, nothing else
    val feed = Snapshots.changesBetween(spark, table, v1, vRen2).get
    val feedUnderCurrentName = feed.columns.contains("oid") &&
      feed.filter(col("_change_type") === "delete").count() == nKeys &&
      feed.filter(col("_change_type") =!= "delete").count() == 0
    def fp(): (Long, Long) = {
      val r = Snapshots.readLatest(spark, table).get.agg(
        sum(pmod(xxhash64(col("oid"),
          Num.cents(col("o_totalprice"))), lit(2147483647L))).as("_f"),
        count(lit(1)).as("_n")).head
      (r.getLong(0), r.getLong(1))
    }
    val before = fp()
    Snapshots.materializeEqDeletes(spark, table).get
    val materializeLossless = fp() == before
    val eqCleared = Snapshots
      .snapshot(spark, table, Snapshots.latestVersion(spark, table).get)
      .get.deletes.forall(f => !Snapshots.isEqDelete(f))
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("chain_resolved", lit(chainResolved))
      .withColumn("feed_under_current_name", lit(feedUnderCurrentName))
      .withColumn("materialize_lossless", lit(materializeLossless))
      .withColumn("eq_cleared", lit(eqCleared))
  }

  /** q244 — RANGE-SCOPED COMPACTION
    * ([[graft.lake.Snapshots.optimizeWhere]] — Iceberg
    * `rewrite_data_files` with a filter / Delta `OPTIMIZE … WHERE`):
    * the maintenance job a streaming table actually schedules —
    * "compact the hot range" — must not even LIST the cold bytes. The
    * gate lands three key bands as separate commits (two files each),
    * compacts ONLY the top band, and pins from the log: every
    * out-of-range file carried byte-identical BY NAME
    * (`cold_untouched`), the in-range files replaced by exactly one
    * fresh file (`hot_compacted`), post-compaction stat pruning still
    * serving range reads off the fresh file alone (`pruning_kept`,
    * inputFiles-pinned), and the live view unchanged (the final
    * aggregate is the cross-engine witness). Selection is log-only;
    * cost is O(hot bytes + total-files metadata), never O(table). */
  def optimizeWhereScoped(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("optwhere", dir)
    val table = s"$root/orders_ow"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val maxKey = orders.agg(max(col("o_orderkey"))).head.getLong(0)
    val (b1, b2) = (maxKey / 3, 2 * maxKey / 3)
    def band(loK: Long, hiK: Long) = orders
      .filter(col("o_orderkey") >= loK && col("o_orderkey") < hiK)
    def filesNow() = Snapshots
      .snapshot(spark, table, Snapshots.latestVersion(spark, table).get)
      .get.files.toSet
    Snapshots.append(spark, table, band(0, b1).repartition(2),
      statsCols = Seq("o_orderkey"))
    val f1 = filesNow()
    Snapshots.append(spark, table, band(b1, b2).repartition(2),
      statsCols = Seq("o_orderkey"))
    val f2 = filesNow() -- f1
    Snapshots.append(spark, table, band(b2, maxKey + 1).repartition(2),
      statsCols = Seq("o_orderkey"))
    val f3 = filesNow() -- f1 -- f2
    Snapshots.optimizeWhere(spark, table, "o_orderkey",
      b2.toDouble, maxKey.toDouble + 1, minBytes = 512L * 1024 * 1024,
      statsCols = Seq("o_orderkey")).get
    val after = filesNow()
    val fresh = after -- f1 -- f2
    val coldUntouched = (f1 ++ f2).subsetOf(after)
    val hotCompacted = after.intersect(f3).isEmpty && fresh.size == 1
    // stat pruning survives the rewrite: a top-band read resolves to
    // the ONE fresh file, a bottom-band read to band 1's files only
    val v = Snapshots.latestVersion(spark, table).get
    val hotRead = Snapshots.readAtPruned(spark, table, v, "o_orderkey",
      b2.toDouble, maxKey.toDouble + 1).get
    val coldRead = Snapshots.readAtPruned(spark, table, v, "o_orderkey",
      0.0, b1.toDouble - 1).get
    def resolved(df: DataFrame) =
      df.inputFiles.map(_.split("/_snap/").last).toSet
    def rel(fs: Set[String]) = fs.map(_.stripPrefix("_snap/"))
    val pruningKept = resolved(hotRead).subsetOf(rel(fresh)) &&
      resolved(coldRead).subsetOf(rel(f1))
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("cold_untouched", lit(coldUntouched))
      .withColumn("hot_compacted", lit(hotCompacted))
      .withColumn("pruning_kept", lit(pruningKept))
  }

  /** q245 — METADATA-ONLY COLUMN DEFAULTS
    * ([[graft.lake.Snapshots.setColumnDefault]] — Iceberg v3
    * initial-default / Delta column DEFAULT, read-side form): the
    * backfill-free populated-column add. A 100 TB table gains a column
    * by writing it in NEW commits only; declaring a default makes
    * every pre-existing row surface the value WITHOUT rewriting a
    * byte — the log records `(column, defaultSql)` and the era-aware
    * scan fills it where the files don't carry the column. The gate
    * pins: old rows fill the default, new rows keep written values
    * (`default_fills`/`values_kept`), time travel BELOW the
    * declaration still reads nulls (`travel_null` — the default is
    * versioned metadata like everything else), a rename carries the
    * default to the new name (`rename_follows`), and SQL catalog scans
    * serve the filled values (`sql_serves`). The final aggregate
    * groups by the defaulted column — the cross-engine witness that
    * fill and written values compose exactly. */
  def columnDefaults(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("coldef", dir)
    val table = s"$root/orders_cd"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    val odds = orders.filter(col("o_orderkey") % 2 === 1)
      .withColumn("tier", col("o_orderkey") % 3)
    Snapshots.append(spark, table, evens)
    val vPre = Snapshots.append(spark, table, odds)
    Snapshots.setColumnDefault(spark, table, "tier", "7")
    val live = Snapshots.readLatest(spark, table).get
    val defaultFills =
      live.filter(col("tier") === 7 && col("o_orderkey") % 2 === 0)
        .count() == evens.count() &&
      live.filter(col("tier").isNull).count() == 0
    val valuesKept = live.filter(col("o_orderkey") % 2 === 1 &&
      col("tier") === col("o_orderkey") % 3).count() == odds.count()
    val travelNull = Snapshots.readAt(spark, table, vPre).get
      .filter(col("tier").isNull).count() == evens.count()
    Snapshots.renameColumn(spark, table, "tier", "loyalty_tier")
    val renamed = Snapshots.readLatest(spark, table).get
    val renameFollows =
      renamed.filter(col("loyalty_tier") === 7).count() == evens.count()
    val cat = s"cd_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val sqlServes = spark.sql(
      s"SELECT count(*) AS n FROM $cat.orders_cd WHERE loyalty_tier = 7")
      .head.getLong(0) == evens.count()
    spark.sql(s"""
      SELECT loyalty_tier, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_cd
      GROUP BY 1""")
      .withColumn("default_fills", lit(defaultFills))
      .withColumn("values_kept", lit(valuesKept))
      .withColumn("travel_null", lit(travelNull))
      .withColumn("rename_follows", lit(renameFollows))
      .withColumn("sql_serves", lit(sqlServes))
  }

  /** q247 — GENERATED COLUMNS ON READ (the expression form of q245's
    * defaults — Delta generated columns without the rewrite): the
    * default COMPUTES from the row's other stored columns, so a
    * derived column (`value_band` from `o_totalprice`) materializes
    * for ALL history — files written years before the DDL — with zero
    * bytes rewritten; new writes store the column physically and keep
    * their written values (`stored_kept` pins a deliberately
    * mislabeled stored row surviving — generation fills ABSENCE, it
    * never overwrites data). References resolve under current names;
    * renaming or dropping a referenced column refuses with the cure
    * (spec-pinned). The final aggregate groups by the generated
    * column across one filled era and one stored era — the
    * cross-engine witness that the computed fill and the stored
    * values compose exactly. */
  def generatedColumns(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("gencol", dir)
    val table = s"$root/orders_gen"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val bandExpr = "CASE WHEN o_totalprice < 150000 THEN 'low' " +
      "ELSE 'high' END"
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    // odds STORE the band physically — with one deliberate exception
    // proving stored values always win over the generation expression
    val odds = orders.filter(col("o_orderkey") % 2 === 1)
      .withColumn("value_band",
        when(col("o_orderkey") % 1000 === 1, lit("manual"))
          .otherwise(expr(bandExpr)))
    Snapshots.append(spark, table, evens)
    val vPre = Snapshots.append(spark, table, odds)
    Snapshots.setColumnDefault(spark, table, "value_band", bandExpr)
    val live = Snapshots.readLatest(spark, table).get
    val generatedFills = live.filter(col("value_band").isNull).count() == 0 &&
      live.filter(col("o_orderkey") % 2 === 0 &&
        col("value_band") =!= expr(bandExpr)).count() == 0
    val storedKept = live.filter(col("value_band") === "manual").count() ==
      odds.filter(col("o_orderkey") % 1000 === 1).count()
    val travelNull = Snapshots.readAt(spark, table, vPre).get
      .filter(col("value_band").isNull).count() == evens.count()
    Snapshots.readLatest(spark, table).get
      .groupBy(col("value_band"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("generated_fills", lit(generatedFills))
      .withColumn("stored_kept", lit(storedKept))
      .withColumn("travel_null", lit(travelNull))
  }

  /** q314 — WRITE-SIDE GENERATED + IDENTITY COLUMNS (closing q247's
    * read-only half to Delta's full contract): a generated column now
    * COMPUTES ON WRITE — an append that omits `value_band` stores the
    * computed values physically (`write_materializes` reads the
    * commit's own new files raw to prove the bytes are there, not a
    * read-time fill), provided values that agree are accepted, and a
    * write that disagrees with the expression is REFUSED atomically
    * (`violation_refused`: the statement burns no version). History
    * appended before the DDL still fills on read — the two halves
    * compose. Identity columns are the GENERATED ALWAYS AS IDENTITY
    * strict form: every append allocates monotonic BIGINT ids via the
    * q147 two-phase offset scheme (O(partitions) count job + narrow
    * map — never a single-partition window, at any scale), unique and
    * CONTIGUOUS per commit (`ids_unique` also pins batch 2 occupying
    * exactly (n1, n]), with explicitly provided ids refused. The id
    * aggregates (min/max/sum) are order-invariant, so DuckDB replays
    * them from row counts alone; OCC-race behavior (a lost commit
    * re-stages from the winner's mark) is spec-pinned separately. */
  def writeSideGenerated(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("wgen", dir)
    val gTable = s"$root/orders_wgen"
    val iTable = s"$root/docs_ids"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val orders = Tables(spark, dir, "orders")
    val bandExpr = "CASE WHEN o_totalprice < 150000 THEN 'low' " +
      "ELSE 'high' END"
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    val odds = orders.filter(col("o_orderkey") % 2 === 1)
    // pre-DDL history: no such column; read-side fill will cover it
    Snapshots.append(spark, gTable, evens)
    Snapshots.addColumn(spark, gTable, "value_band", "STRING")
    Snapshots.setGeneratedColumn(spark, gTable, "value_band", bandExpr)
    // an append that OMITS the column stores the COMPUTED values
    val vOdds = Snapshots.append(spark, gTable, odds)
    val sOdds = Snapshots.snapshot(spark, gTable, vOdds).get
    val prevFiles = Snapshots.snapshot(spark, gTable, vOdds - 1)
      .get.files.toSet
    val newFiles = sOdds.files.filterNot(prevFiles)
      .map(f => s"$gTable/$f")
    val raw = spark.read.parquet(newFiles: _*)
    val writeMaterializes = raw.columns.contains("value_band") &&
      raw.filter(col("value_band").isNull ||
        col("value_band") =!= expr(bandExpr)).count() == 0
    // provided values that AGREE are accepted (3 smallest odd keys,
    // deliberately re-appended — the oracle replays the duplication;
    // keys collected first so no orderBy+limit rides into the write,
    // the q294 AQE limit-elimination hazard)
    val agreeKeys = odds.select(col("o_orderkey"))
      .orderBy(col("o_orderkey")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    Snapshots.append(spark, gTable,
      odds.filter(col("o_orderkey").isin(agreeKeys: _*))
        .withColumn("value_band", expr(bandExpr)))
    // provided values that DISAGREE are refused, atomically
    val vBefore = Snapshots.latestVersion(spark, gTable).get
    val violationRefused =
      try {
        Snapshots.append(spark, gTable,
          odds.limit(5).withColumn("value_band", lit("WRONG")))
        false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("GENERATED ALWAYS AS") &&
          Snapshots.latestVersion(spark, gTable).contains(vBefore)
      }
    // ---------------- identity: declared on a fresh schema-only table
    Snapshots.createTable(spark, iTable,
      Seq(("doc_id", "BIGINT", None)))
    Snapshots.setIdentityColumn(spark, iTable, "rid")
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    Snapshots.append(spark, iTable, docs.filter(col("doc_id") % 3 === 0))
    Snapshots.append(spark, iTable, docs.filter(col("doc_id") % 3 === 1))
    val idsLive = Snapshots.readLatest(spark, iTable).get
    val st = idsLive.agg(min(col("rid")), max(col("rid")),
      sum(col("rid")), countDistinct(col("rid")), count(lit(1))).head
    val (idMin, idMax, idSum) =
      (st.getLong(0), st.getLong(1), st.getLong(2))
    val n1 = docs.filter(col("doc_id") % 3 === 0).count()
    val b2 = idsLive.filter(col("doc_id") % 3 === 1)
      .agg(min(col("rid")), max(col("rid"))).head
    val idsUnique = st.getLong(3) == st.getLong(4) &&
      b2.getLong(0) == n1 + 1 && b2.getLong(1) == idMax
    val explicitRefused =
      try {
        Snapshots.append(spark, iTable,
          docs.limit(2).withColumn("rid", lit(99L)))
        false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("IDENTITY")
      }
    Snapshots.readLatest(spark, gTable).get
      .groupBy(col("value_band"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("write_materializes", lit(writeMaterializes))
      .withColumn("violation_refused", lit(violationRefused))
      .withColumn("id_min", lit(idMin))
      .withColumn("id_max", lit(idMax))
      .withColumn("id_sum", lit(idSum))
      .withColumn("ids_unique", lit(idsUnique))
      .withColumn("explicit_id_refused", lit(explicitRefused))
  }

  /** q315 — SHOW CREATE TABLE round-trip + DESCRIBE (the
    * discoverability statements every SQL user runs first): the DDL is
    * emitted FROM THE LOG — declared schema with constant DEFAULTs
    * inline, generation-form defaults and CHECK constraints riding
    * TBLPROPERTIES (`graft.defaults.*` / `graft.constraints.*`, the
    * Delta shape — Spark's DEFAULT clause refuses column references
    * and its CREATE grammar has no CHECK), persisted PARTITIONED BY
    * transforms verbatim — and `ddl_round_trips` EXECUTES the emitted
    * statement under a new name, then pins schema, partition spec,
    * constraint set, default set, and properties all equal on the
    * re-created table, with an append landing under the re-created
    * declared surface (constraint enforced, default filling).
    * `describe_serves` pins DESCRIBE TABLE listing every live column.
    * All O(log) driver work; the aggregate is the cross-engine hash. */
  /** q318 — `COPY INTO` OVER SQL (the Delta idempotent-loader
    * statement, closing q250's API-only gap): `COPY INTO cat.t FROM
    * '<landing>'` is the most common batch-load statement a lake SQL
    * user runs — parsed by the graft parser and executed through the
    * SAME source-identity ledger [[graft.lake.Snapshots.copyInto]]
    * publishes atomically with its data. The gate lands 4 files and
    * runs the statement (`first_loads` — 4 files), lands 3 more beside
    * them and re-runs (`incremental_only` — exactly the 3 new files,
    * one new version), then replays against the unchanged directory
    * (`noop_on_replay` — ZERO files loaded and ZERO versions burned:
    * the replay is a retried cron, and it must cost a listing + log
    * walk, never a commit or a scan). Final content is both slices
    * exactly once, oracle-matched through the catalog scan. */
  def copyIntoSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("copysql", dir)
    val cat = s"cis_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val src = s"$root/landing"
    val orders = Tables(spark, dir, "orders")
    val even = col("o_orderkey") % 2 === 0
    orders.filter(even).repartition(4).write.mode("overwrite").parquet(src)
    val r1 = spark.sql(s"COPY INTO $cat.orders_cis FROM '$src'").head
    val (v1, n1) = (r1.getLong(0), r1.getLong(1))
    orders.filter(!even).repartition(3).write.mode("append").parquet(src)
    val r2 = spark.sql(
      s"COPY INTO $cat.orders_cis FROM '$src' FILEFORMAT = PARQUET").head
    val (v2, n2) = (r2.getLong(0), r2.getLong(1))
    val r3 = spark.sql(s"COPY INTO $cat.orders_cis FROM '$src'").head
    val (v3, n3) = (r3.getLong(0), r3.getLong(1))
    val firstLoads = n1 == 4 && v1 == 1
    val incrementalOnly = n2 == 3 && v2 == v1 + 1
    val noopOnReplay = n3 == 0 && v3 == v2
    spark.sql(s"SELECT o_orderpriority, COUNT(*) AS n_rows, " +
      s"CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT) " +
      s"AS sum_cents FROM $cat.orders_cis GROUP BY 1")
      .withColumn("first_loads", lit(firstLoads))
      .withColumn("incremental_only", lit(incrementalOnly))
      .withColumn("noop_on_replay", lit(noopOnReplay))
  }

  /** q319 — `DESCRIBE HISTORY` OVER SQL (the Delta statement,
    * completing q315's discoverability pair: SHOW CREATE shows the
    * shape, HISTORY the lineage): one row per version straight from
    * the log's commit records — O(versions) KB driver metadata, never
    * a data scan. The gate builds a 4-commit lineage (append, append,
    * MoR delete, restore-over-SQL) and pins the statement's output
    * against the log itself: `versions_exact` (1..latest, no gaps),
    * `ops_exact` (the four operations in order), `matches_log` (every
    * row's op AND commit_ts equal the version's own log object —
    * strictly monotone timestamps included), `counts_from_log` (the
    * append/restore row counts answered from manifests; the MoR
    * delete version declines with −1 rather than guessing), and
    * `same_as_api` (the statement ≡ the `.history` metadata table,
    * one surface two spellings). */
  def describeHistorySql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("deschist", dir)
    val cat = s"dh_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val table = s"$root/orders_dh"
    val orders = Tables(spark, dir, "orders")
    val even = col("o_orderkey") % 2 === 0
    Snapshots.append(spark, table, orders.filter(even)) // v1
    Snapshots.append(spark, table, orders.filter(!even)) // v2
    Snapshots.deleteWhere(spark, table,
      col("o_orderkey") % 5 === 0) // v3 (MoR tombstones)
    spark.sql(s"RESTORE TABLE $cat.orders_dh TO VERSION AS OF 2") // v4
    val hist = spark.sql(s"DESCRIBE HISTORY $cat.orders_dh").collect()
    val latest = Snapshots.latestVersion(spark, table).get
    val versionsExact = hist.map(_.getInt(0)).toSeq == (1 to latest)
    val opsExact = hist.map(_.getString(1)).toSeq ==
      Seq("append", "append", "delete", "restore")
    val matchesLog = hist.forall { r =>
      Snapshots.snapshot(spark, table, r.getInt(0)).exists(s =>
        s.op == r.getString(1) && s.commitTs == r.getLong(2))
    } && hist.map(_.getLong(2)).sliding(2).forall(p => p(0) < p(1))
    val n1 = orders.filter(even).count()
    val nAll = orders.count()
    def rc(v: Int): Long = hist.find(_.getInt(0) == v).get.getLong(8)
    val countsFromLog = rc(1) == n1 && rc(2) == nAll &&
      rc(3) == -1L && rc(4) == nAll
    val api = Snapshots.history(spark, table).collect()
    val sameAsApi = hist.toSeq == api.toSeq
    spark.sql(s"SELECT o_orderpriority, COUNT(*) AS n_rows, " +
      s"CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT) " +
      s"AS sum_cents FROM $cat.orders_dh GROUP BY 1")
      .withColumn("versions_exact", lit(versionsExact))
      .withColumn("ops_exact", lit(opsExact))
      .withColumn("matches_log", lit(matchesLog))
      .withColumn("counts_from_log", lit(countsFromLog))
      .withColumn("same_as_api", lit(sameAsApi))
  }

  def showCreateRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("showddl", dir)
    val cat = s"showddl_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val t = s"$root/orders_ddl"
    val t2 = s"$root/orders_ddl2"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val orders = Tables(spark, dir, "orders")
    val bandExpr = "CASE WHEN o_totalprice < 150000 THEN 'low' " +
      "ELSE 'high' END"
    val cols = orders.schema.fields.toSeq
      .map(f => (f.name, f.dataType.sql, Option.empty[String])) ++ Seq(
      ("band", "STRING", Some(bandExpr)), // generation-form default
      ("source", "STRING", Some("'ingest'"))) // constant default
    Snapshots.createTable(spark, t, cols,
      partitionSpec = Seq("bucket(4,o_custkey)"),
      properties = Map("owner" -> "graft", "comment" -> "ddl demo"),
      constraints = Seq("pos_price" -> "o_totalprice >= 0"))
    Snapshots.append(spark, t, orders)
    val ddl = spark.sql(s"SHOW CREATE TABLE $cat.orders_ddl")
      .head.getString(0)
    spark.sql(ddl.replace(s"$cat.orders_ddl", s"$cat.orders_ddl2"))
    def surface(p: String) = {
      val v = Snapshots.latestVersion(spark, p).get
      val s = Snapshots.snapshot(spark, p, v).get
      (Snapshots.readLatest(spark, p).get.schema
         .fields.map(f => (f.name, f.dataType)).toSeq,
       s.partitionSpec, s.constraints.toSet, s.defaults.toSet,
       s.properties)
    }
    val ddlRoundTrips = surface(t) == surface(t2)
    // the re-created declared surface is LIVE: constraint enforced,
    // defaults fill, partition spec clusters the append
    Snapshots.append(spark, t2,
      orders.filter(col("o_orderkey") % 100 === 7))
    val refillOk = Snapshots.readLatest(spark, t2).get
      .filter(col("band") =!= expr(bandExpr) ||
        col("source") =!= "ingest").count() == 0
    val constraintLive =
      try {
        Snapshots.append(spark, t2, orders.limit(2)
          .withColumn("o_totalprice", lit(-1.0d)))
        false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("pos_price")
      }
    val described = spark.sql(s"DESCRIBE TABLE $cat.orders_ddl")
      .select("col_name").collect().map(_.getString(0)).toSet
    val describeServes = Snapshots.readLatest(spark, t).get
      .schema.fieldNames.forall(described.contains)
    spark.sql(s"""
      SELECT band, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS sum_cents
      FROM $cat.orders_ddl GROUP BY 1""")
      .withColumn("ddl_round_trips", lit(ddlRoundTrips))
      .withColumn("recreated_surface_live", lit(refillOk && constraintLive))
      .withColumn("describe_serves", lit(describeServes))
  }

  /** q236 — SQL TIME TRAVEL BY TAG (`VERSION AS OF 'name'` — the
    * Iceberg named-ref read over the q221 tag store): a tag pinned
    * before later writes serves the EXACT tagged state to any SQL
    * reader by name — the reproducible-training-run contract ("train on
    * `experiment-7`") without anyone passing version numbers around.
    * Integer literals keep their meaning, unknown refs error with the
    * reason (`bad_ref_refused`), and the tagged read's aggregate is the
    * cross-engine witness. Combined with q221's retention pinning, a
    * tag is a durable, vacuum-proof, SQL-addressable dataset version —
    * at 100 TB that is how a training corpus stays citable for months
    * while the table keeps ingesting. */
  def versionAsOfTag(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("sqltag", dir)
    val table = s"$root/orders_tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val v1 = Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.createTag(spark, table, "experiment-7", v1)
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 1))
    val cat = s"sqltag_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val latestRows = spark.sql(
      s"SELECT count(*) AS n FROM $cat.orders_tag").head.getLong(0)
    val latestIsAll = latestRows == orders.count()
    val badRefRefused =
      try { spark.sql(s"SELECT * FROM $cat.orders_tag VERSION AS OF " +
        "'no-such-tag'").collect(); false }
      catch { case e: Throwable =>
        def all(x: Throwable): String =
          if (x == null) "" else x.getMessage + all(x.getCause)
        all(e).contains("neither an integer snapshot version") }
    spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_tag VERSION AS OF 'experiment-7'
      GROUP BY 1""")
      .withColumn("latest_is_all", lit(latestIsAll))
      .withColumn("bad_ref_refused", lit(badRefRefused))
  }

  /** q238 — NAMED IN-LOG BRANCH WAP
    * ([[graft.lake.Snapshots.createBranch]] /
    * [[graft.lake.Snapshots.appendToBranch]] /
    * [[graft.lake.Snapshots.fastForwardMain]] — the Iceberg writable
    * branch ref): the write-audit-publish cycle q223 ran across TWO
    * table directories (shallowClone) replayed on ONE — branch commits
    * land in the same log under a named ref, claim global version
    * numbers (one OCC allocator serializes every writer), and stay
    * invisible to main readers until fast-forwarded. The write is the
    * FULL DML surface — an append plus a merge-on-read predicate
    * DELETE, both addressed to the branch — so the q223 clone WAP
    * lifecycle replays wholly in-log. Markers pin each leg:
    * `main_isolated` (API and SQL mains both blind to the staged
    * commits, the branch tombstone included), `branch_visible` (the
    * branch read and SQL `VERSION AS OF 'wap'` both serve the staged
    * post-DML state by NAME),
    * `published_exact` (fast-forward re-references the branch head's
    * content bit-exactly), `zero_copy` (publish staged no data file —
    * manifests carry by reference), `history_ok` (pre-branch main
    * still travels), `stale_refused` (a branch whose base main has
    * advanced past cannot fast-forward — a concurrent main writer is
    * never silently overwritten). At 100 TB this is how audited
    * ingest ships: writers stage terabytes on the branch with zero
    * copy, the audit reads the branch by name, and publish is one
    * KB-sized metadata commit. */
  def branchWap(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("bwap", dir)
    val table = s"$root/orders_br"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val base = orders.filter(col("o_orderkey") % 2 === 0)
    val staged = orders.filter(
      col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 === 0)
    val v1 = Snapshots.append(spark, table, base)
    Snapshots.createBranch(spark, table, "wap", v1)
    Snapshots.appendToBranch(spark, table, "wap", staged)
    // the write is the full DML surface, not just appends: a MoR
    // predicate DELETE addressed to the branch tombstones branch-only
    Snapshots.deleteWhere(spark, table,
      col("o_totalprice") < lit(10000.0), branch = "wap")
    val branchState = base.unionAll(staged)
      .filter(col("o_totalprice") >= 10000.0)
    val cat = s"bwap_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val mainIsolated =
      Snapshots.readLatest(spark, table).get.count() == base.count() &&
      spark.sql(s"SELECT count(*) AS n FROM $cat.orders_br")
        .head.getLong(0) == base.count()
    val branchVisible =
      Snapshots.readAtBranch(spark, table, "wap").get.count() ==
        branchState.count() &&
      spark.sql(s"SELECT count(*) AS n FROM $cat.orders_br " +
        "VERSION AS OF 'wap'").head.getLong(0) == branchState.count()
    // audit passed — publish: one metadata-only fast-forward commit
    val dataDirs = Option(new java.io.File(s"$table/_snap").listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("c-"))
    val vPub = Snapshots.fastForwardMain(spark, table, "wap")
    val dataDirsAfter =
      Option(new java.io.File(s"$table/_snap").listFiles())
        .getOrElse(Array.empty).count(_.getName.startsWith("c-"))
    val mainLive = Snapshots.readAt(spark, table, vPub).get
    val branchLive = Snapshots.readAtBranch(spark, table, "wap").get
    val publishedExact = mainLive.exceptAll(branchLive).isEmpty &&
      branchLive.exceptAll(mainLive).isEmpty
    val historyOk =
      Snapshots.readAt(spark, table, v1).get.count() == base.count()
    Snapshots.dropBranch(spark, table, "wap")
    // a stale branch (main advanced past its base) refuses to publish
    Snapshots.createBranch(spark, table, "stale", v1)
    Snapshots.appendToBranch(spark, table, "stale",
      orders.filter(col("o_orderkey") % 2 === 1))
    val staleRefused =
      try { Snapshots.fastForwardMain(spark, table, "stale"); false }
      catch { case e: IllegalStateException =>
        e.getMessage.contains("not a fast-forward") }
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("main_isolated", lit(mainIsolated))
      .withColumn("branch_visible", lit(branchVisible))
      .withColumn("published_exact", lit(publishedExact))
      .withColumn("zero_copy", lit(dataDirs == dataDirsAfter))
      .withColumn("history_ok", lit(historyOk))
      .withColumn("stale_refused", lit(staleRefused))
  }

  /** q241 — THE `refs` METADATA TABLE
    * ([[graft.lake.Snapshots.refsMetadata]], the Iceberg refs-table
    * surface): tags, branches and the implicit `main` trunk listed
    * over SQL with their pinned/head versions — the DISCOVERY half of
    * named time travel (q236/q238 let SQL readers travel by name; this
    * table tells them which names exist, so "train on `train-v1`" is
    * self-serve instead of out-of-band). `travel_targets_resolve` pins
    * that every listed name actually serves rows through
    * `VERSION AS OF '<name>'`; the row set itself is the cross-engine
    * witness (deterministic versions by construction). O(refs) log
    * metadata — never a data scan, any table size. */
  def refsMetadataTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("refsmeta", dir)
    val table = s"$root/orders_refs"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val v1 = Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0))
    val v2 = Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1))
    Snapshots.createTag(spark, table, "train-v1", v1)
    Snapshots.createTag(spark, table, "train-v2", v2)
    Snapshots.createBranch(spark, table, "exp", v2)
    Snapshots.appendToBranch(spark, table, "exp",
      orders.filter(col("o_orderkey") % 7 === 0))
    val cat = s"refsm_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val refs = spark.sql(
      s"SELECT ref_name, ref_type, version FROM $cat.orders_refs.refs")
    // every listed name is a live SQL travel target
    val names = refs.select(col("ref_name")).collect().map(_.getString(0))
    val travelResolve = names.forall(n =>
      spark.sql(s"SELECT count(*) AS n FROM $cat.orders_refs " +
        s"VERSION AS OF '$n'").head.getLong(0) > 0)
    refs.withColumn("travel_targets_resolve", lit(travelResolve))
  }

  /** q248 — THE `detail` METADATA TABLE
    * ([[graft.lake.Snapshots.detailMetadata]] — Delta `DESCRIBE
    * DETAIL`): one discoverable SQL row holding the version's shape
    * (files/manifests/deletes, exact log-derived row count) and every
    * piece of declared table metadata — partition spec, CHECK
    * constraints, column defaults, rename chain, drop ledger, refs —
    * so an operator answers "what IS this table?" without reading a
    * data byte or knowing the API. Lowered at analysis to an O(log)
    * driver-built LocalRelation like history/files/refs; every field
    * here is pinned to the exact values the preceding DDL produced,
    * cross-engine. */
  def detailMetadataTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("detailmeta", dir)
    val table = s"$root/orders_dt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0).repartition(2))
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1).repartition(3))
    Snapshots.addConstraint(spark, table, "pos", "o_totalprice >= 0")
    Snapshots.setPartitionSpec(spark, table, Seq("bucket(4,o_custkey)"))
    val v5 = Snapshots.setColumnDefault(spark, table, "o_orderstatus", "'O'")
    Snapshots.createTag(spark, table, "t1", 1)
    Snapshots.createBranch(spark, table, "b1", v5)
    val cat = s"dtm_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"SELECT * FROM $cat.orders_dt.detail")
  }

  /** q249 — THE `partitions` METADATA TABLE
    * ([[graft.lake.Snapshots.partitionsMetadata]] — the Iceberg
    * partitions-table shape): per-partition file counts and EXACT
    * row counts served from log metadata alone, over SQL. The table
    * is hidden-partitioned (transform stats in the manifest, flat
    * directory layout), so membership is decided from each file's
    * recorded interval: a clustered write's files collapse to a
    * point per spec entry and place cleanly; anything the log can't
    * place aggregates under a NULL partition row rather than being
    * mis-binned. The gate partitions orders by an identity year
    * column across TWO clustered appends, then lands a third slice
    * WITHOUT the partition column at all (schema evolution in
    * flight — its files carry no `o_year` stats, so the log provably
    * cannot place them): per-year counts must be exact over the two
    * placeable appends, the third must surface ONLY in the NULL row
    * with its exact row count (`null_bucket_exact` — never mis-binned
    * into a year), each file counts exactly once (`files_bounded`),
    * and every reported count is log-exact (`counts_exact`). On a
    * 100 TB table this is the "how big is each partition" answer —
    * KB of metadata, zero data bytes. */
  def partitionsMetadataTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("partmeta", dir)
    val table = s"$root/orders_pm"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    val odd = col("o_orderkey") % 2 === 1
    val stray = odd && col("o_orderkey") % 1000 === 7
    Snapshots.appendPartitioned(spark, table,
      orders.filter(!odd), Seq("o_year"), numFiles = 32)
    Snapshots.appendPartitioned(spark, table,
      orders.filter(odd && !stray), Seq("o_year"), numFiles = 32)
    Snapshots.append(spark, table,
      orders.filter(stray).drop("o_year"))
    val strayCount = orders.filter(stray).count()
    val cat = s"pm_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val parts = spark.sql(
      s"SELECT partition, file_count, row_count FROM $cat.orders_pm.partitions")
    val rows = parts.collect()
    val nullRows = rows.filter(_.getString(0) == null)
    val nullBucketExact =
      nullRows.length == 1 && nullRows.head.getLong(2) == strayCount
    val v = Snapshots.latestVersion(spark, table).get
    val filesBounded =
      rows.map(_.getInt(1)).sum == Snapshots.snapshot(spark, table, v)
        .get.files.size
    val countsExact = rows.forall(_.getLong(2) >= 0L)
    parts.filter(col("partition").isNotNull)
      .withColumn("o_year",
        expr("cast(split(partition, '=')[1] as int)"))
      .select(col("o_year"), col("row_count"))
      .withColumn("null_bucket_exact", lit(nullBucketExact))
      .withColumn("files_bounded", lit(filesBounded))
      .withColumn("counts_exact", lit(countsExact))
  }

  /** q250 — IDEMPOTENT INCREMENTAL LOAD
    * ([[graft.lake.Snapshots.copyInto]] — Delta `COPY INTO`): the
    * micro-batchless ingestion loop. Files land in a directory; each
    * run loads ONLY identities no live log version has ingested, and
    * the ledger rides INSIDE the commit object — data and dedup state
    * are one atomic publish, so the loop is safe to fire twice and
    * safe to crash anywhere. The gate lands 4 files, loads them, lands
    * 3 more beside them, loads again (`incremental_only` — exactly the
    * 3 new files, one new version), replays a third time
    * (`noop_on_replay` — zero files, zero commits, no scan), and pins
    * `ledger_exact` (all 7 identities recorded in the log). Final
    * content = both slices exactly once, oracle-matched. At 100 TB
    * this is the hourly cron against a landing prefix that never
    * double-loads and never misses. */
  def copyIntoIdempotent(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("copyinto", dir)
    val table = s"$root/orders_ci"
    val src = s"$root/incoming"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    val orders = Tables(spark, dir, "orders")
    val even = col("o_orderkey") % 2 === 0
    orders.filter(even).repartition(4).write.mode("overwrite").parquet(src)
    val (v1, n1) = Snapshots.copyInto(spark, table, src)
    orders.filter(!even).repartition(3).write.mode("append").parquet(src)
    val (v2, n2) = Snapshots.copyInto(spark, table, src)
    val (v3, n3) = Snapshots.copyInto(spark, table, src)
    val incrementalOnly = n1 == 4 && n2 == 3 && v2 == v1 + 1
    val noopOnReplay = n3 == 0 && v3 == v2
    val ledgerExact = Snapshots.loadedSources(spark, table).size == 7
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("incremental_only", lit(incrementalOnly))
      .withColumn("noop_on_replay", lit(noopOnReplay))
      .withColumn("ledger_exact", lit(ledgerExact))
  }

  /** q252 — TABLE PROPERTIES + AUTO-COMPACTION ON WRITE
    * ([[graft.lake.Snapshots.setTableProperties]] /
    * [[graft.lake.Snapshots.maybeAutoCompact]] — Delta TBLPROPERTIES +
    * auto compaction): properties are VERSIONED log metadata set over
    * plain SQL (`ALTER TABLE cat.t SET TBLPROPERTIES`, served by the
    * catalog's alterTable), and the engine consumes one pair itself —
    * with `graft.autoCompact.minFiles` declared, every append that
    * leaves that many small files triggers an inline OPTIMIZE as a
    * follow-on commit, so a streaming-cadence ingest table never
    * accretes KB files waiting for an external scheduler. The gate
    * runs five 2-file appends under minFiles=4 and pins the exact
    * compaction cadence (`auto_compacted` — three optimize commits,
    * one after every second append), the bounded end state
    * (`bounded_files` — ONE file where twelve landed), the SQL
    * round-trip (`props_via_sql`), and that `UNSET TBLPROPERTIES`
    * genuinely stops the machinery (`unset_stops` — the next append's
    * files stay). Content stays oracle-exact throughout. */
  def autoCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("autocomp", dir)
    val table = s"$root/orders_ac"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val even = col("o_orderkey") % 2 === 0
    Snapshots.append(spark, table, orders.filter(even).repartition(2))
    val cat = s"ac_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"ALTER TABLE $cat.orders_ac SET TBLPROPERTIES(" +
      s"'${Snapshots.AutoCompactMinFilesKey}'='4'," +
      s"'${Snapshots.AutoCompactTargetBytesKey}'='33554432')")
    val propsViaSql = Snapshots.tableProperties(spark, table) == Map(
      Snapshots.AutoCompactMinFilesKey -> "4",
      Snapshots.AutoCompactTargetBytesKey -> "33554432")
    // five small appends: every file is far under 32 MiB at gate scale,
    // so the file count walks 2,4→1,3,5→1,3,5→1 — compaction fires
    // exactly after appends 1, 3 and 5
    Seq(1, 3, 5, 7, 9).foreach { r =>
      Snapshots.append(spark, table,
        orders.filter(!even && col("o_orderkey") % 12 === r).repartition(2))
    }
    val vAfter = Snapshots.latestVersion(spark, table).get
    val sAfter = Snapshots.snapshot(spark, table, vAfter).get
    val boundedFiles = sAfter.files.size == 1
    def optimizeOps: Int = (1 to Snapshots.latestVersion(spark, table).get)
      .flatMap(v => Snapshots.snapshot(spark, table, v))
      .count(_.op == "optimize")
    val autoCompacted = optimizeOps == 3
    spark.sql(s"ALTER TABLE $cat.orders_ac UNSET TBLPROPERTIES(" +
      s"'${Snapshots.AutoCompactMinFilesKey}')")
    Snapshots.append(spark, table,
      orders.filter(!even && col("o_orderkey") % 12 === 11).repartition(4))
    val sEnd = Snapshots.snapshot(spark, table,
      Snapshots.latestVersion(spark, table).get).get
    val unsetStops = sEnd.files.size == 5 && optimizeOps == 3
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("props_via_sql", lit(propsViaSql))
      .withColumn("bounded_files", lit(boundedFiles))
      .withColumn("auto_compacted", lit(autoCompacted))
      .withColumn("unset_stops", lit(unsetStops))
  }

  /** q253 — MULTI-TABLE ATOMIC TRANSACTIONS
    * ([[graft.lake.TableGroup]] — the capability neither Delta nor
    * single-catalog Iceberg gives a pipeline whose fact table and
    * derived tables must move in lockstep): stage each member's writes
    * on a per-transaction in-log branch, claim ONE atomic marker
    * pinning every staged head (the commit point — it exists with all
    * pins or not at all), then roll `main`s forward as pure idempotent
    * publish that anyone can resume. The gate runs the canonical
    * CDC-plus-summary shape — append the odd half to `facts` while a
    * branch-addressed MERGE refreshes `summary` — and CRASHES between
    * MARK and PUBLISH: the group read must serve the WHOLE transaction
    * (`atomic_visible` — facts and summary consistent with each other
    * at the new state) while single-table main readers still see the
    * old state (`main_isolated`); `rollForward` then heals mains to
    * the identical state (`rollforward_heals`) and drops the
    * transaction branches (`branches_reclaimed`). Markers are KB
    * objects; nothing here scans data — at 100 TB the transaction
    * costs exactly its member writes. */
  def groupTransaction(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.{Snapshots, TableGroup}
    val root = graft.util.Scratch.dir("txngrp", dir)
    val group = s"$root/grp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(group))
    val orders = Tables(spark, dir, "orders")
    val even = col("o_orderkey") % 2 === 0
    def sumOf(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
    Snapshots.append(spark, s"$group/facts", orders.filter(even))
    Snapshots.append(spark, s"$group/summary", sumOf(orders.filter(even)))
    val total = orders.count()
    val evenN = orders.filter(even).count()
    val txn: Seq[(String, TableGroup.Write)] = Seq(
      "facts" -> ((t, br) => Snapshots.appendToBranch(spark, t, br,
        orders.filter(!even))),
      "summary" -> ((t, br) => Snapshots.mergeWhen(spark, t, sumOf(orders),
        Seq("o_orderpriority"),
        Seq(Snapshots.WhenMatchedUpdate(), Snapshots.WhenNotMatchedInsert()),
        branch = br)))
    var crashed = false
    try TableGroup.commitAll(spark, group, txn,
      afterMark = () => throw new RuntimeException("crash before publish"))
    catch { case e: RuntimeException
        if e.getMessage == "crash before publish" => crashed = true }
    def consistent(facts: DataFrame, summary: DataFrame): Boolean =
      summary.exceptAll(sumOf(facts)).isEmpty &&
        sumOf(facts).exceptAll(summary).isEmpty
    val staged = TableGroup.readAll(spark, group, Seq("facts", "summary"))
    val atomicVisible = crashed &&
      staged("facts").count() == total &&
      consistent(staged("facts"), staged("summary"))
    val mainIsolated =
      Snapshots.readLatest(spark, s"$group/facts").get.count() == evenN
    TableGroup.rollForward(spark, group)
    val factsMain = Snapshots.readLatest(spark, s"$group/facts").get
    val summaryMain = Snapshots.readLatest(spark, s"$group/summary").get
    val rollforwardHeals = factsMain.count() == total &&
      consistent(factsMain, summaryMain)
    val branchesReclaimed =
      Snapshots.listBranches(spark, s"$group/facts").isEmpty &&
        Snapshots.listBranches(spark, s"$group/summary").isEmpty
    summaryMain
      .withColumn("atomic_visible", lit(atomicVisible))
      .withColumn("main_isolated", lit(mainIsolated))
      .withColumn("rollforward_heals", lit(rollforwardHeals))
      .withColumn("branches_reclaimed", lit(branchesReclaimed))
  }

  /** q254 — VERSION-PINNED RESULT CACHE
    * ([[graft.lake.ResultCache]] — materialized result reuse made
    * SOUND by the log): a cached result is keyed by the canonicalized
    * plan PLUS the exact log version of every input snapshot table, so
    * a hit is provably the same computation over provably the same
    * data — no TTL heuristics, no invalidation daemon. The gate pins
    * the full lifecycle: the repeat request scans ONLY the KB cache
    * entry (`served_from_cache` — inputFiles-pinned, the 100 TB
    * dashboard shape where repeats between commits never touch the
    * corpus), one key means one entry (`single_entry`), a commit to
    * the input table changes the key and recomputes
    * (`commit_invalidates` — the result reflects the append
    * immediately, stale is structurally impossible), and the sweeper
    * reclaims orphaned entries whose inputs moved on
    * (`swept_recomputes`). */
  def resultCacheServing(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.{ResultCache, Snapshots}
    val root = graft.util.Scratch.dir("rescache", dir)
    val table = s"$root/orders_rc"
    val cache = s"$root/cache"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cache))
    val orders = Tables(spark, dir, "orders")
    val even = col("o_orderkey") % 2 === 0
    Snapshots.append(spark, table, orders.filter(even))
    def q(): DataFrame = Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
    def entries: Seq[String] = {
      val d = new java.io.File(cache)
      if (!d.exists) Nil
      else d.listFiles.toSeq.map(_.getName).filter(_.startsWith("r-"))
    }
    val r1 = ResultCache.through(spark, cache, q(), Seq(table))
    val r2 = ResultCache.through(spark, cache, q(), Seq(table))
    val servedFromCache = r2.inputFiles.nonEmpty &&
      r2.inputFiles.forall(_.contains("/cache/")) &&
      r2.inputFiles.sorted.sameElements(r1.inputFiles.sorted)
    val singleEntry = entries.size == 1
    Snapshots.append(spark, table, orders.filter(!even))
    val r3 = ResultCache.through(spark, cache, q(), Seq(table))
    val total = orders.count()
    val commitInvalidates = entries.size == 2 &&
      r3.agg(sum(col("n_rows"))).head.getLong(0) == total
    val swept = ResultCache.sweep(spark, cache, -1000L)
    val r4 = ResultCache.through(spark, cache, q(), Seq(table))
    val sweptRecomputes = swept == 2 && entries.size == 1 &&
      r4.agg(sum(col("n_rows"))).head.getLong(0) == total
    r4.withColumn("served_from_cache", lit(servedFromCache))
      .withColumn("single_entry", lit(singleEntry))
      .withColumn("commit_invalidates", lit(commitInvalidates))
      .withColumn("swept_recomputes", lit(sweptRecomputes))
  }

  /** q255 — POLICY-DRIVEN MAINTENANCE
    * ([[graft.lake.Snapshots.maintainTable]] / SQL `MAINTAIN cat.t` —
    * the Iceberg maintenance-from-table-config shape composed over
    * q252's versioned properties): the table DECLARES its upkeep
    * (`graft.maintain.optimizeTargetBytes` / `zorderBy` /
    * `rewriteManifestsAt` / `vacuumRetainVersions`) and ONE statement
    * applies it in dependency order — compaction first, manifest fold
    * over the fresh layout, vacuum LAST to reclaim what the first two
    * orphaned. The gate builds an 8-append streaming-ingest shape and
    * pins: MAINTAIN before any policy is a 0-action no-op
    * (`noop_without_policy` — a cron can blindly maintain every
    * table), the policy run takes exactly the three declared actions
    * (`all_actions`), the end state is one file + one manifest
    * (`compacted_folded`), the horizon actually reclaimed
    * (`vacuumed`), and the immediate re-run touches only the vacuum
    * (`second_run_minimal` — maintenance is idempotent, not
    * re-churning). Content stays oracle-exact. */
  def maintainPolicy(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("maintain", dir)
    val table = s"$root/orders_mt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    (1995 to 2002).foreach(y => Snapshots.append(spark, table,
      orders.filter(year(col("o_orderdate")) === y)))
    val cat = s"mt_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val n0 = spark.sql(s"MAINTAIN $cat.orders_mt").head.getLong(0)
    spark.sql(s"ALTER TABLE $cat.orders_mt SET TBLPROPERTIES(" +
      "'graft.maintain.optimizeTargetBytes'='33554432'," +
      "'graft.maintain.zorderBy'='o_custkey,o_orderkey'," +
      "'graft.maintain.rewriteManifestsAt'='2'," +
      "'graft.maintain.vacuumRetainVersions'='2')")
    val n1 = spark.sql(s"MAINTAIN $cat.orders_mt").head.getLong(0)
    val v = Snapshots.latestVersion(spark, table).get
    val s = Snapshots.snapshot(spark, table, v).get
    val compactedFolded = s.files.size == 1 && s.manifests.size == 1
    val vacuumed = Snapshots.snapshot(spark, table, 1).isEmpty
    val n2 = spark.sql(s"MAINTAIN $cat.orders_mt").head.getLong(0)
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("noop_without_policy", lit(n0 == 0L))
      .withColumn("all_actions", lit(n1 == 3L))
      .withColumn("compacted_folded", lit(compactedFolded))
      .withColumn("vacuumed", lit(vacuumed))
      .withColumn("second_run_minimal", lit(n2 == 1L))
  }

  /** q257 — THE `properties` METADATA TABLE
    * ([[graft.lake.Snapshots.propertiesMetadata]] — the Iceberg
    * properties-table shape): every TBLPROPERTY pair as a SQL row,
    * discoverable beside history/files/refs/detail/partitions, and
    * VERSIONED like the map itself — the gate mixes SQL DDL and API
    * writes, pins the exact final pairs cross-engine, and reads the
    * table `VERSION AS OF` the pre-DDL version to pin the empty map
    * (`versioned`). O(properties) driver metadata, never a scan. */
  def propertiesMetadataTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("propmeta", dir)
    val table = s"$root/orders_pp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val cat = s"pp_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"ALTER TABLE $cat.orders_pp SET TBLPROPERTIES(" +
      "'team'='ml-platform','retention.policy'='30d')")
    Snapshots.setTableProperties(spark, table, Map("pipeline" -> "ingest-v2"))
    val versioned = spark.sql(
      s"SELECT * FROM $cat.orders_pp.properties VERSION AS OF 1").count() == 0
    spark.sql(s"SELECT key, value FROM $cat.orders_pp.properties")
      .withColumn("versioned", lit(versioned))
  }

  /** q258 — STRING-COLUMN FILE SKIPPING
    * ([[graft.lake.Snapshots.stringRank]] — the gap the manifest's
    * double-only stats used to declare: string identity columns
    * recorded nothing, so the single most common categorical
    * predicate class — `lang = 'en'`, `source >= 'src5'`, status
    * enums — could never skip a file): writes now record each string
    * stats column's order-preserving 3-code-point prefix RANK as
    * ordinary min/max bounds (clustering still uses the raw string,
    * so range quality is unchanged), and the SQL pruning rule ranks
    * string literals with the same MONOTONE function — every
    * comparison form stays a sound closed interval. The gate clusters
    * documents by `lang`, then pins over plain catalog SQL: an
    * equality predicate reads a strict subset of files
    * (`eq_pruned` — inputFiles), a RANGE predicate does too
    * (`range_pruned`), and both results stay exact. At 100 TB this is
    * language/source/status partition pruning without hive
    * directories — KB of log metadata deciding scan membership. */
  def stringStatsPruning(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("strstats", dir)
    val table = s"$root/docs_ls"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val docs = Tables(spark, dir, "documents")
    Snapshots.appendPartitioned(spark, table, docs, Seq("lang"),
      numFiles = 32)
    val cat = s"ls_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val eq = spark.sql(s"SELECT count(*) AS n FROM $cat.docs_ls " +
      "WHERE lang = 'en'")
    val eqPruned = eq.head.getLong(0) > 0 &&
      eq.queryExecution.executedPlan.toString.contains("#pruned")
    val ranged = spark.sql(
      s"""SELECT lang, count(*) AS n_docs,
            sum(n_chars) AS sum_chars
          FROM $cat.docs_ls WHERE lang >= 'es' GROUP BY lang""")
    val rangePruned =
      ranged.queryExecution.executedPlan.toString.contains("#pruned")
    ranged
      .withColumn("eq_pruned", lit(eqPruned))
      .withColumn("range_pruned", lit(rangePruned))
  }

  /** q259 — IN-LIST + NULL-PREDICATE FILE SKIPPING (the two predicate
    * families the interval miner couldn't see): `IN` prunes as a
    * UNION of point intervals — a file survives only if SOME member
    * lands inside its bounds, where the min..max fold would keep
    * every file between the extremes — and the NULL predicates prune
    * through the manifest's per-file null counts: `IS NULL` drops
    * files recorded null-free, `IS NOT NULL` (which the optimizer
    * injects under EVERY filter, so this fires on queries that never
    * wrote the word) drops files recorded all-null. The gate builds a
    * priority-clustered table whose late band carries an all-null
    * ship reference, and pins all three prunings over plain catalog
    * SQL with exact results. At 100 TB the IS-NOT-NULL leg alone
    * skips the sparse-column dead weight every join filter walks. */
  def inNullPruning(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("innull", dir)
    val table = s"$root/orders_in"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val early = year(col("o_orderdate")) <= 1997
    Snapshots.appendPartitioned(spark, table,
      orders.filter(early).withColumn("ship_ref",
        concat(lit("S"), col("o_orderkey"))),
      Seq("o_orderpriority"), numFiles = 32, statsCols = Seq("ship_ref"))
    Snapshots.append(spark, table,
      orders.filter(!early).withColumn("ship_ref",
        lit(null).cast("string")),
      statsCols = Seq("ship_ref"))
    val cat = s"in_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    def prunedPlan(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("#pruned")
    val isNull = spark.sql(s"SELECT count(*) AS n FROM $cat.orders_in " +
      "WHERE ship_ref IS NULL")
    val isNullPruned = prunedPlan(isNull) &&
      isNull.head.getLong(0) == orders.filter(!early).count()
    val notNull = spark.sql(s"SELECT count(*) AS n FROM $cat.orders_in " +
      "WHERE ship_ref IS NOT NULL")
    val isNotNullPruned = prunedPlan(notNull) &&
      notNull.head.getLong(0) == orders.filter(early).count()
    val inQ = spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n_rows,
            CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
              AS sum_cents
          FROM $cat.orders_in
          WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
          GROUP BY o_orderpriority""")
    val inPruned = prunedPlan(inQ)
    inQ.withColumn("in_pruned", lit(inPruned))
      .withColumn("isnull_pruned", lit(isNullPruned))
      .withColumn("isnotnull_pruned", lit(isNotNullPruned))
  }

  /** q260 — TYPED METADATA MIN/MAX (q204's rule widened past doubles):
    * `min`/`max` over DATE and INTEGRAL columns answer from manifest
    * stats as a LocalRelation — DATE stats ARE exact epoch days, and
    * integral bounds convert back only when provably exact in double
    * space — while STRING min/max must DECLINE to the scan even
    * though string stats now exist (`string_declines` — they are
    * prefix RANKS, sound for pruning, poison as values; answering
    * `min(status)` with a rank is the trap this gate sets). The
    * dashboard trio — `count(*)`, freshness (`max(date)`), key range —
    * costs KB of log metadata instead of a 100 TB scan. */
  def metadataMinMaxTyped(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("metamm2", dir)
    val table = s"$root/orders_m2"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val cols = Seq("o_orderdate", "o_orderkey", "o_orderpriority")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0),
      statsCols = cols)
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 1),
      statsCols = cols)
    val cat = s"mm2_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val stat = spark.sql(s"""
      SELECT count(*) AS n_rows,
             min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
             min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      FROM $cat.orders_m2""")
    val statPlan = stat.queryExecution.executedPlan.toString
    val metaOnly = statPlan.contains("LocalTableScan") &&
      !statPlan.contains("BatchScan")
    val strQ = spark.sql(
      s"SELECT min(o_orderpriority) AS min_prio FROM $cat.orders_m2")
    val stringDeclines = strQ.queryExecution.executedPlan.toString
      .contains("BatchScan")
    stat.crossJoin(strQ)
      .withColumn("metadata_only", lit(metaOnly))
      .withColumn("string_declines", lit(stringDeclines))
  }

  /** q261 — DECLARED STATS COLUMNS
    * (`graft.stats.columns` / `graft.stats.bloomColumns` — the Delta
    * dataSkippingNumIndexedCols shape, by name, over q252's
    * properties): the TABLE declares which columns every write must
    * record skipping metadata for, which closes the gap no caller
    * parameter can reach — SQL `INSERT INTO` and CDC appends have
    * nowhere to pass `statsCols`, so their files carried nothing and
    * silently rotted the table's pruning power. The gate lands one
    * band BEFORE the declaration (stats-less — and `unknown never
    * prunes` keeps it correct forever), declares the property over
    * SQL, INSERTs three more bands over SQL, and pins: the inserted
    * files all carry the declared column's bounds
    * (`stats_recorded`), and a band predicate prunes the scan
    * (`declared_stats_prune`) while results stay exact — including
    * the stats-less band that must always survive. */
  def declaredStatsColumns(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("declstats", dir)
    val table = s"$root/orders_ds"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val p = col("o_totalprice")
    Snapshots.append(spark, table, orders.filter(p < 50000)) // stats-less
    val cat = s"ds_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"ALTER TABLE $cat.orders_ds SET TBLPROPERTIES(" +
      s"'${Snapshots.StatsColumnsKey}'='o_totalprice')")
    val beforeInserts = Snapshots.snapshot(spark, table,
      Snapshots.latestVersion(spark, table).get).get.files.toSet
    Seq(p >= 50000 && p < 100000, p >= 100000 && p < 200000, p >= 200000)
      .zipWithIndex.foreach { case (band, i) =>
        orders.filter(band).createOrReplaceTempView(s"ds_band_$i")
        spark.sql(s"INSERT INTO $cat.orders_ds SELECT * FROM ds_band_$i")
      }
    val s = Snapshots.snapshot(spark, table,
      Snapshots.latestVersion(spark, table).get).get
    val inserted = s.files.filterNot(beforeInserts)
    val statsRecorded = inserted.nonEmpty &&
      inserted.forall(f => s.stats.get(f).exists(_.contains("o_totalprice")))
    val banded = spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_ds WHERE o_totalprice >= 200000 GROUP BY 1""")
    val pruned = banded.queryExecution.executedPlan.toString
      .contains("#pruned")
    banded
      .withColumn("stats_recorded", lit(statsRecorded))
      .withColumn("declared_stats_prune", lit(pruned))
  }

  /** q262 — `OPTIMIZE … ZORDER BY` OVER SQL
    * ([[graft.lake.Snapshots.optimizeZorder]] — the Delta statement:
    * a FULL-scope re-layout along the multi-column Morton curve into
    * ~target-sized files, the one-shot layout migration a table runs
    * when its query mix changes; output sizing comes from
    * `graft.optimize.targetBytes` table config, the statement names
    * only the layout). The gate scatters 12 appends, runs the
    * statement, and pins per-axis pruning on BOTH z-order columns
    * via two-sided quarter probes over plain SQL reads (the q246
    * pigeonhole form — deterministic under sampled curve boundaries),
    * with the result re-applying the residual predicate. */
  def zorderSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("zsql", dir)
    val table = s"$root/orders_zs"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    for (r <- 0 until 12)
      Snapshots.append(spark, table,
        orders.filter(col("o_orderkey") % 12 === r).coalesce(1))
    val cat = s"zs_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"ALTER TABLE $cat.orders_zs SET TBLPROPERTIES(" +
      "'graft.optimize.targetBytes'='32768')")
    val v = spark.sql(
      s"OPTIMIZE $cat.orders_zs ZORDER BY (o_custkey, o_orderkey)")
      .head.getLong(0)
    val statementRan = v == 14 // 12 appends + property + this rewrite
    def pruned(where: String): Boolean = {
      val df = spark.sql(
        s"SELECT count(*) AS n FROM $cat.orders_zs WHERE $where")
      df.collect()
      df.queryExecution.executedPlan.toString.contains("#pruned")
    }
    val maxCust = orders.agg(max(col("o_custkey"))).head.getLong(0)
    val maxKey = orders.agg(max(col("o_orderkey"))).head.getLong(0)
    val prunesCust = pruned(s"o_custkey <= ${maxCust / 4}") ||
      pruned(s"o_custkey >= ${3 * (maxCust / 4)}")
    val prunesKey = pruned(s"o_orderkey <= ${maxKey / 4}") ||
      pruned(s"o_orderkey >= ${3 * (maxKey / 4)}")
    spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_zs WHERE o_custkey <= ${maxCust / 4}
      GROUP BY 1""")
      .withColumn("statement_ran", lit(statementRan))
      .withColumn("prunes_custkey", lit(prunesCust))
      .withColumn("prunes_orderkey", lit(prunesKey))
  }

  /** q263 — `VACUUM … DRY RUN` OVER SQL
    * ([[graft.lake.Snapshots.vacuumDryRun]] — the look BEFORE the
    * irreversible step: one row per path a real vacuum at that
    * horizon would reclaim, nothing touched). The gate orphans a
    * compacted table's tail, takes the forecast, and pins the three
    * things a dry run must mean: it names something
    * (`forecast_nonempty`), it deletes nothing (`nothing_deleted` —
    * every named path still on disk), and it is EXACT — the real
    * VACUUM then removes precisely the named set
    * (`forecast_exact`) with the live view untouched
    * (`live_intact`). The spec additionally pins the full FS diff
    * against the forecast file-by-file. */
  def vacuumDryRunSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("vacdry", dir)
    val table = s"$root/orders_vd"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val third = col("o_orderkey") % 3
    (0 to 2).foreach(r =>
      Snapshots.append(spark, table, orders.filter(third === r)))
    Snapshots.optimize(spark, table) // v4: prior versions now orphaned
    val cat = s"vd_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val dry = spark.sql(
      s"VACUUM $cat.orders_vd RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0))
    def onDisk(p: String) = new java.io.File(table, p).exists
    val forecastNonempty = dry.nonEmpty
    val nothingDeleted = dry.forall(onDisk)
    spark.sql(s"VACUUM $cat.orders_vd RETAIN 1 VERSIONS")
    val forecastExact = dry.forall(p => !onDisk(p))
    val live = Snapshots.readLatest(spark, table).get
    val liveIntact = live.count() == orders.count()
    live.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("forecast_nonempty", lit(forecastNonempty))
      .withColumn("nothing_deleted", lit(nothingDeleted))
      .withColumn("forecast_exact", lit(forecastExact))
      .withColumn("live_intact", lit(liveIntact))
  }

  /** q265 — OR-DISJUNCTION FILE SKIPPING (the last predicate family
    * the interval miner couldn't see): an OR-tree prunes as a
    * DISJUNCTION of interval conjunctions — a file survives only if
    * SOME branch's intervals all intersect its stats, so the
    * two-sided band query every retention/outlier scan runs
    * (`price < lo OR price >= hi`) skips the middle of a banded
    * table, and a CROSS-COLUMN or (`price >= hi OR key < 0`) prunes
    * through whichever branch each file fails. Untranslatable
    * branches disable the whole conjunct (potentially always-true —
    * sound), pinned by `residual_unpruned`. Results stay exact. */
  def orPruning(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("orprune", dir)
    val table = s"$root/orders_or"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val p = col("o_totalprice")
    Seq(p < 50000, p >= 50000 && p < 100000,
        p >= 100000 && p < 200000, p >= 200000)
      .foreach(band => Snapshots.append(spark, table, orders.filter(band),
        statsCols = Seq("o_totalprice", "o_orderkey")))
    val cat = s"or_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    def prunedPlan(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("#pruned")
    val twoSided = spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_or
      WHERE o_totalprice < 50000 OR o_totalprice >= 200000
      GROUP BY 1""")
    val orPruned = prunedPlan(twoSided)
    val cross = spark.sql(s"SELECT count(*) AS n FROM $cat.orders_or " +
      "WHERE o_totalprice >= 200000 OR o_orderkey < 0")
    val crossPruned = prunedPlan(cross) && cross.head.getLong(0) ==
      orders.filter(p >= 200000).count()
    // an OR with an untranslatable branch must NOT prune (the branch
    // could match anything) — and must still answer exactly
    val residual = spark.sql(s"SELECT count(*) AS n FROM $cat.orders_or " +
      "WHERE o_totalprice >= 200000 OR o_orderkey % 3 = 0")
    val residualUnpruned = !prunedPlan(residual) &&
      residual.head.getLong(0) ==
        orders.filter(p >= 200000 || col("o_orderkey") % 3 === 0).count()
    twoSided
      .withColumn("or_pruned", lit(orPruned))
      .withColumn("cross_column_or_pruned", lit(crossPruned))
      .withColumn("residual_unpruned", lit(residualUnpruned))
  }

  /** q266 — `table_changes` TABLE-VALUED FUNCTION
    * ([[graft.plans.TableChangesResolution]] — the Delta CDF TVF over
    * SQL: `SELECT … FROM table_changes('cat.t', v1, v2)`): the
    * row-level change feed as an ordinary FROM-clause relation, so a
    * downstream consumer's incremental refresh is ONE SQL statement —
    * no API, no export job. Spark has no TVF extension hook, so an
    * unresolved `table_changes` with three literal arguments resolves
    * through an injected analysis rule. The gate replays q163's exact
    * merge history and pins the TVF feed equal to the API feed
    * (`tvf_equals_api` — two-sided exceptAll) and loud errors for an
    * unregistered catalog (`bad_catalog_loud`); content is the same
    * cross-engine oracle as q163. */
  def tableChangesTvf(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("tvfcdf", dir)
    val table = s"$root/orders_tc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val batch1 = orders.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .unionAll(orders.filter(col("o_orderkey") % 4 === 1))
    val v2 = Snapshots.merge(spark, table, batch1, Seq("o_orderkey"))
    val batch2 = orders.filter(col("o_orderkey") % 8 <= 1)
      .withColumn("o_totalprice", col("o_totalprice") + 2.0)
    val v3 = Snapshots.merge(spark, table, batch2, Seq("o_orderkey"))
    val cat = s"tc_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val tvf = spark.sql(
      s"SELECT * FROM table_changes('$cat.orders_tc', $v2, $v3)")
    val api = Snapshots.changesBetween(spark, table, v2, v3).get
    val tvfEqualsApi = tvf.exceptAll(api).isEmpty &&
      api.exceptAll(tvf).isEmpty
    // "changes since the last sync tag" — the statement an
    // incremental consumer actually writes: named-ref version args
    Snapshots.createTag(spark, table, "sync-base", v2)
    val byRef = spark.sql(s"SELECT * FROM table_changes(" +
      s"'$cat.orders_tc', 'sync-base', 'main')")
    val refArgsResolve = byRef.exceptAll(api).isEmpty &&
      api.exceptAll(byRef).isEmpty
    val badCatalogLoud = scala.util.Try(spark.sql(
      "SELECT * FROM table_changes('nocat.t', 1, 2)").collect())
      .failed.toOption.exists(_.getMessage
        .contains("not a registered snapshot catalog"))
    tvf.groupBy(col("_change_type"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("tvf_equals_api", lit(tvfEqualsApi))
      .withColumn("ref_args_resolve", lit(refArgsResolve))
      .withColumn("bad_catalog_loud", lit(badCatalogLoud))
  }

  /** q267 — THE `manifests` METADATA TABLE
    * ([[graft.lake.Snapshots.manifestsMetadata]] — the Iceberg
    * manifests-table shape, completing the metadata family beside
    * history/files/refs/detail/partitions/properties): each manifest
    * the version references with its file count and manifest-exact
    * row count, over SQL. The operational read is "how fragmented is
    * my metadata" — the q234 rewrite trigger, now discoverable; the
    * gate pins one manifest per yearly append with exact per-year
    * row counts, unique ids, and that a rewriteManifests folds the
    * table to ONE row covering everything (`fold_visible`). */
  def manifestsMetadataTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("manmeta", dir)
    val table = s"$root/orders_mf"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    (1995 to 2001).foreach(y => Snapshots.append(spark, table,
      orders.filter(year(col("o_orderdate")) === y).coalesce(1)))
    val cat = s"mf_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val m = spark.sql(
      s"SELECT manifest_id, n_files, n_rows FROM $cat.orders_mf.manifests")
    val rows = m.collect()
    val idsUnique =
      rows.map(_.getString(0)).distinct.length == rows.length
    Snapshots.rewriteManifests(spark, table)
    val after = spark.sql(
      s"SELECT n_files, n_rows FROM $cat.orders_mf.manifests").collect()
    val foldVisible = after.length == 1 &&
      after.head.getLong(1) == orders.count() &&
      after.head.getInt(0) == 7
    m.select(col("n_files"), col("n_rows"))
      .withColumn("ids_unique", lit(idsUnique))
      .withColumn("fold_visible", lit(foldVisible))
  }

  /** q268 — `RESTORE TABLE … TO VERSION AS OF` OVER SQL (+ `SHOW
    * TBLPROPERTIES` served from the log): the Delta RESTORE statement
    * — one metadata-only commit republishing a prior version's exact
    * content, addressed by NUMBER or by TAG in quotes (the "roll back
    * to the last blessed state" a 3am incident runs, where hunting a
    * version number is exactly what you don't want to be doing). The
    * gate tags the good state, makes a mess (append + DELETE),
    * restores BY TAG over SQL, and pins: the live view equals the
    * tagged state, the messy version stays travel-readable above it
    * (restore never rewrites history), and `SHOW TBLPROPERTIES`
    * answers from the snapshot log (served-table properties are the
    * LOG's map, not the inner scan's file options). */
  def restoreSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("restsql", dir)
    val table = s"$root/orders_rs"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val even = col("o_orderkey") % 2 === 0
    Snapshots.append(spark, table, orders.filter(even)) // v1: blessed
    Snapshots.createTag(spark, table, "good", 1)
    Snapshots.append(spark, table, orders.filter(!even)) // v2
    Snapshots.deleteWhere(spark, table, col("o_orderkey") % 3 === 0) // v3
    Snapshots.setTableProperties(spark, table, Map("team" -> "pipeline"))
    val cat = s"rs_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val show = spark.sql(s"SHOW TBLPROPERTIES $cat.orders_rs")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val showServes = show.get("team").contains("pipeline")
    val messyCount = Snapshots.readLatest(spark, table).get.count()
    val v = spark.sql(
      s"RESTORE TABLE $cat.orders_rs TO VERSION AS OF 'good'")
      .head.getLong(0)
    val evenN = orders.filter(even).count()
    val restoredByTag =
      Snapshots.readLatest(spark, table).get.count() == evenN
    val historyIntact = Snapshots.readAt(spark, table, 3).get
      .count() == messyCount && v == 5L
    spark.sql(s"SELECT o_orderpriority, COUNT(*) AS n_rows, " +
      s"CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT) " +
      s"AS sum_cents FROM $cat.orders_rs GROUP BY 1")
      .withColumn("show_serves", lit(showServes))
      .withColumn("restored_by_tag", lit(restoredByTag))
      .withColumn("history_intact", lit(historyIntact))
  }

  /** q269 — BLOOM POINT-LOOKUP PRUNING ON SQL SCANS (q175's sidecar
    * filters, now consulted by the catalog's pruning rule — and
    * declared via q261's `graft.stats.bloomColumns`, so plain appends
    * carry them without any caller parameter): an equality literal on
    * a bloom-carrying column drops every file whose filter proves the
    * key absent — the needle-in-100 TB lookup where min/max intervals
    * are useless (keys interleave across files, every range
    * intersects). The gate spreads customer keys across residue-class
    * appends, points SQL at one key (`bloom_pruned` — files of the
    * other classes drop, the pre-declaration file survives: no bloom
    * never prunes), and at an absent key (`absent_zero` — zero rows,
    * still pruned). False positives only unprune — results exact. */
  def bloomSqlPruning(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("bloomsql", dir)
    val table = s"$root/orders_bl"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val res = pmod(col("o_custkey"), lit(4))
    Snapshots.append(spark, table, orders.filter(res === 0)) // pre-declare
    Snapshots.setTableProperties(spark, table,
      Map(Snapshots.BloomColumnsKey -> "o_custkey"))
    (1 to 3).foreach(r =>
      Snapshots.append(spark, table, orders.filter(res === r)))
    val cat = s"bl_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val k = orders.agg(max(when(res === 1, col("o_custkey"))))
      .head.getLong(0)
    val point = spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_bl WHERE o_custkey = $k GROUP BY 1""")
    point.collect()
    val bloomPruned = point.queryExecution.executedPlan.toString
      .contains("#pruned")
    val absent = spark.sql(s"SELECT count(*) AS n FROM $cat.orders_bl " +
      s"WHERE o_custkey = ${k + 9000000L}")
    val absentZero = absent.head.getLong(0) == 0L &&
      absent.queryExecution.executedPlan.toString.contains("#pruned")
    point
      .withColumn("bloom_pruned", lit(bloomPruned))
      .withColumn("absent_zero", lit(absentZero))
  }

  /** q272 — STRUCT COLUMNS THROUGH THE LAKE WITH LEAF-PATH STATS
    * (nested types land in snapshot tables and their scalar LEAVES get
    * first-class skipping metadata — the Iceberg/Delta leaf-path stats
    * norm; closes VERDICT r14 gap 3: real multimodal/web corpora carry
    * structs, and `events.props`-style metadata must prune like flat
    * columns): events rows fold `(uid, seg, v)` into ONE struct column
    * and land slice-by-slice (uid quartiles), each append recording
    * manifest min/max for the DOT-PATH leaves `meta.uid` (numeric) and
    * `meta.seg` (string prefix rank) — `collectStats` resolves leaf
    * paths with the same unit conversions flat columns get. A catalog
    * SQL scan with predicates on BOTH leaves then drops every file
    * whose leaf interval misses (`leaf_pruned`, executedPlan-pinned —
    * decided from the log alone, no footer probes: the shape that
    * skips cold regions of a 100 TB nested corpus). Results stay
    * exact: the residual predicate re-applies on the struct natively
    * (whole-stage codegen'd GetStructField, no UDF). Leaf stats keys
    * FOLLOW a rename of their root struct (spec-pinned), and leaf-path
    * DDL (rename/drop/default of a single leaf) refuses loudly with
    * the cure. */
  def structLeafPruning(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("structlake", dir)
    val table = s"$root/events_struct"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val ev = Tables.events(spark, dir)
    val enriched = ev.select(col("event_id"),
      struct((col("user_id") % 200).as("uid"),
        col("event_type").as("seg"),
        col("value").as("v")).as("meta"))
    // uid-quartile slices: per-file leaf intervals are disjoint, so a
    // leaf range predicate prunes whole slices from the log
    for (q <- 0 to 3)
      Snapshots.append(spark, table,
        enriched.filter(col("meta.uid").between(50 * q, 50 * q + 49)),
        statsCols = Seq("meta.uid", "meta.seg"))
    val cat = s"sl_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val out = spark.sql(s"""
      SELECT event_id, meta.uid AS uid, meta.seg AS seg, meta.v AS v
      FROM $cat.events_struct
      WHERE meta.uid BETWEEN 50 AND 99 AND meta.seg = 'click'""")
    out.collect()
    val leafPruned = out.queryExecution.executedPlan.toString
      .contains("#pruned")
    out.withColumn("leaf_pruned", lit(leafPruned))
  }

  /** q273 — `table_changes` BY TIMESTAMP (the Delta TVF's timestamp
    * form — VERDICT r14 gap 2: the in-commit-timestamp resolution
    * (q182 `versionAtTimestamp`) wired into the TVF, so an incremental
    * consumer can ask "what changed between these two INSTANTS" without
    * hunting version numbers): each TIMESTAMP argument resolves to the
    * latest main version committed at or before it — commit timestamps
    * are strictly monotone, so the resolution is unambiguous — and the
    * window is exactly the one the resolved integers denote
    * (`ts_equals_version_args`, multiset-pinned both ways); integer and
    * timestamp args MIX (`mixed_args_ok` — from a version number to an
    * instant); an upper instant taken just before a later DELETE's
    * commit excludes it (`boundary_excludes_later_dml` — the feed stays
    * insert-only). Resolution is O(1) metadata via the checkpointed
    * ts index; the feed itself stays O(changed files) per window. */
  def tableChangesByTimestamp(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("tvfts", dir)
    val table = s"$root/orders_ts"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val orders = Tables(spark, dir, "orders")
    for (b <- 0 to 2)
      Snapshots.append(spark, table,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === b))
    Snapshots.deleteWhere(spark, table, col("o_totalprice") < 50000)
    def tsOf(v: Int) = Snapshots.snapshot(spark, table, v).get.commitTs
    def fmt(ms: Long) = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    val cat = s"ts_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    def tvf(from: String, to: String) = spark.sql(
      s"SELECT * FROM table_changes('$cat.orders_ts', $from, $to)")
    def sameSet(a: DataFrame, b: DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val byV = tvf("1", "3")
    val byTs = tvf(s"TIMESTAMP '${fmt(tsOf(1))}'", s"TIMESTAMP '${fmt(tsOf(3))}'")
    val tsEqualsVersionArgs = sameSet(byTs, byV)
    val mixedArgsOk = sameSet(tvf("1", s"TIMESTAMP '${fmt(tsOf(3))}'"), byV)
    // an instant before v4's commit resolves below the DELETE: commit
    // timestamps are strictly increasing, so ts(v4)-1 >= ts(v3) and the
    // window stays (1, 3] — no delete images in the feed
    val preDelete = tvf("1", s"TIMESTAMP '${fmt(tsOf(4) - 1)}'")
    val boundaryExcludesLaterDml = sameSet(preDelete, byV) &&
      preDelete.filter(col("_change_type") === "delete").isEmpty
    byTs.groupBy(col("_change_type"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("ts_equals_version_args", lit(tsEqualsVersionArgs))
      .withColumn("mixed_args_ok", lit(mixedArgsOk))
      .withColumn("boundary_excludes_later_dml",
        lit(boundaryExcludesLaterDml))
  }

  /** q234 — MANIFEST-LIST COMPACTION
    * ([[graft.lake.Snapshots.rewriteManifests]] — Iceberg
    * `rewrite_manifests`, OPTIMIZE for the METADATA): eight separate
    * appends leave the version referencing eight manifests; one
    * metadata-only commit folds them into ONE carrying every file by
    * reference. Markers pin the fold lossless along every axis the log
    * serves: `one_manifest` (the list collapsed), `files_identical`
    * (bit-same file set — nothing staged, nothing dropped),
    * `stats_preserved` (a date-range prune shrinks the file list
    * exactly as before the rewrite), `count_from_log` (metadata-only
    * `count(*)` still answers exactly — row counts were carried, not
    * recounted), `travel_intact` (the pre-rewrite version still
    * resolves through its own manifests). On a streaming-ingest table
    * with 100k commits this turns every snapshot resolution from a
    * multi-MB O(commits) metadata walk into one KB object — the
    * metadata twin of small-file compaction, on the same cadence. */
  def manifestRewrite(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("manrw", dir)
    val table = s"$root/orders_mr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    // commits arrive in time order (the streaming-ingest reality that
    // gives manifests their pruning power): one append per order year
    (1995 to 2002).foreach(y => Snapshots.append(spark, table,
      orders.filter(year(col("o_orderdate")) === y),
      statsCols = Seq("days(o_orderdate)")))
    val v1 = Snapshots.latestVersion(spark, table).get
    val s1 = Snapshots.snapshot(spark, table, v1).get
    val cut = java.time.LocalDate.parse("2000-01-01").toEpochDay.toDouble
    val prunedBefore = Snapshots.prunedFilesAt(spark, table, v1,
      "days(o_orderdate)", cut, Double.PositiveInfinity).get.toSet
    val v2 = Snapshots.rewriteManifests(spark, table)
    val s2 = Snapshots.snapshot(spark, table, v2).get
    val oneManifest = s1.manifests.size == 8 && s2.manifests.size == 1
    val filesIdentical = s2.files.toSet == s1.files.toSet
    val statsPreserved = Snapshots.prunedFilesAt(spark, table, v2,
      "days(o_orderdate)", cut, Double.PositiveInfinity).get
      .toSet == prunedBefore && prunedBefore.size < s1.files.size
    val total = orders.count()
    val countFromLog = Snapshots.rowCountAt(spark, table, v2).contains(total)
    val travelIntact =
      Snapshots.readAt(spark, table, v1).get.count() == total
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("one_manifest", lit(oneManifest))
      .withColumn("files_identical", lit(filesIdentical))
      .withColumn("stats_preserved", lit(statsPreserved))
      .withColumn("count_from_log", lit(countFromLog))
      .withColumn("travel_intact", lit(travelIntact))
  }

  /** q235 — METADATA-ACCELERATED RETENTION DELETE
    * ([[graft.lake.Snapshots.deleteWhereInterval]] — the Delta/Iceberg
    * metadata-delete optimization for THE most common DELETE a 100 TB
    * table runs: `DELETE WHERE days(ts) < cutoff`): files the log
    * PROVES fully-matching drop as one carried-by-reference manifest
    * (no scan, no tombstones, no data movement), provably-disjoint
    * files are never scanned, and only BOUNDARY files scan and
    * tombstone. The trap this gate sets: the earliest file is poisoned
    * with NULL dates (every `o_orderkey % 1000 = 7` row), and its
    * non-null [min,max] sits entirely inside the delete interval — a
    * min/max-only classifier would drop the whole file and erase rows
    * the SQL predicate never matched (NULL compares UNKNOWN). The
    * manifest's per-file `nulls(col)` count (recorded beside min/max,
    * the Iceberg null_value_counts) demotes it to boundary, and
    * `nulls_kept` pins every null row surviving. Other markers:
    * `full_dropped` (the file list shrank), `drops_proven` (every
    * dropped file's recorded stats prove full match + zero nulls),
    * `tombstones_bounded` (tombstone rows = matches MINUS dropped
    * files' rows — the proof no full file was tombstoned row-wise),
    * `travel_intact`. On a date-clustered 100 TB table this turns a
    * full-scan + 10⁹-tombstone retention job into KB of metadata plus
    * one boundary-file scan. */
  def retentionDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("retdel", dir)
    val table = s"$root/orders_rd"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val data = orders.withColumn("o_orderdate",
      when(col("o_orderkey") % 1000 === 7,
        lit(null).cast(orders.schema("o_orderdate").dataType))
        .otherwise(col("o_orderdate")))
    Snapshots.appendPartitioned(spark, table, data,
      Seq("days(o_orderdate)"), numFiles = 8)
    val v1 = Snapshots.latestVersion(spark, table).get
    val s1 = Snapshots.snapshot(spark, table, v1).get
    val total = data.count()
    val cutDays =
      java.time.LocalDate.parse("1997-01-01").toEpochDay.toDouble
    val hi = cutDays - 1 // delete days <= cutoff-1 ⟺ ts < 1997-01-01
    val matches = Snapshots.readAt(spark, table, v1).get
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .count()
    val v2 = Snapshots.deleteWhereInterval(spark, table,
      "days(o_orderdate)", Double.NegativeInfinity, hi)
    val s2 = Snapshots.snapshot(spark, table, v2).get
    val dropped = s1.files.filterNot(s2.files.toSet)
    val fullDropped = dropped.nonEmpty
    val dropsProven = dropped.forall { f =>
      s1.stats.get(f).exists { m =>
        m.get("days(o_orderdate)").exists(_._2 <= hi) &&
          m.get("nulls(days(o_orderdate))").contains((0.0, 0.0))
      }
    }
    val droppedRows = dropped.map(s1.rowCounts.getOrElse(_, -1L)).sum
    val newDelFiles = s2.deletes.filterNot(s1.deletes.toSet)
    val tombRows =
      if (newDelFiles.isEmpty) 0L
      else spark.read.parquet(
        newDelFiles.map(f => s"$table/$f"): _*).count()
    val tombstonesBounded = tombRows == matches - droppedRows
    val nullCount = data.filter(col("o_orderdate").isNull).count()
    val nullsKept = Snapshots.readLatest(spark, table).get
      .filter(col("o_orderdate").isNull).count() == nullCount
    val travelIntact =
      Snapshots.readAt(spark, table, v1).get.count() == total
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("full_dropped", lit(fullDropped))
      .withColumn("drops_proven", lit(dropsProven))
      .withColumn("tombstones_bounded", lit(tombstonesBounded))
      .withColumn("nulls_kept", lit(nullsKept))
      .withColumn("travel_intact", lit(travelIntact))
  }

  /** q229 — ROW TRACKING ([[graft.lake.Snapshots.readAtWithRowIds]] /
    * [[graft.lake.Snapshots.optimizeRowIds]] — Delta's row-tracking
    * surface): every row carries a STABLE `_row_id` derived from the
    * immutable (file, position) identity it was born with, served
    * alongside any time-travel read. Stability legs, each pinned by an
    * order-independent fingerprint over (o_orderkey, _row_id) pairs:
    * a predicate DELETE leaves every survivor's id untouched
    * (`stable_under_delete` — tombstones never rewrite), a compaction
    * REWRITES every live file yet ids survive via materialization into
    * the hidden `_graft_row_id` physical column (`stable_under_optimize`
    * — the leg naive position-derived ids cannot pass), the hidden
    * column never leaks into plain reads (`hidden_from_reads`), and
    * post-compaction appends mint fresh ids with zero collisions
    * (`ids_unique` over the grown table — hash-of-birth-identity ids
    * cannot collide across commits because staging dirs are
    * run-unique). Row ids are what CDC consumers, incremental ML
    * feature pipelines and audit trails key on when positions stop
    * being stable; at 100 TB the id column costs one xxhash64 per row
    * on read (codegen'd, no shuffle) until a rewrite materializes it. */
  def rowTracking(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("rowtrack", dir)
    val table = s"$root/orders_rt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val v2 = Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 4 === 1))
    // order-independent exact fingerprint of the (key, id) assignment
    def fp(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        sum(pmod(xxhash64(col("o_orderkey"), col("_row_id")),
          lit(2147483647L))).as("_fp"),
        count(lit(1)).as("_n")).head
      (r.getLong(0), r.getLong(1))
    }
    val all2 = Snapshots.readAtWithRowIds(spark, table, v2).get
    val idsUniqueAtV2 = all2.select(countDistinct(col("_row_id"))).head
      .getLong(0) == all2.count()
    val survBefore = fp(all2.filter(col("o_orderkey") % 10 =!= 0))
    val v3 = Snapshots.deleteWhere(spark, table, col("o_orderkey") % 10 === 0)
    val stableUnderDelete =
      fp(Snapshots.readAtWithRowIds(spark, table, v3).get) == survBefore
    val v4 = Snapshots.optimizeRowIds(spark, table).get
    val stableUnderOptimize =
      fp(Snapshots.readAtWithRowIds(spark, table, v4).get) == survBefore
    val hiddenFromReads = !Snapshots.readAt(spark, table, v4).get
      .schema.fieldNames.contains("_graft_row_id")
    val v5 = Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 4 === 3))
    val grown = Snapshots.readAtWithRowIds(spark, table, v5).get
    val idsUnique = idsUniqueAtV2 &&
      grown.select(countDistinct(col("_row_id"))).head.getLong(0) ==
        grown.count()
    // the SQL surface must hide the materialized column too (the
    // catalog routes row-id-materialized versions through the readAt
    // plan instead of a bare parquet scan)
    val cat = s"rowtrack_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val sqlDf = spark.sql(s"SELECT * FROM $cat.orders_rt")
    val sqlHidden =
      !sqlDf.schema.fieldNames.contains("_graft_row_id") &&
        sqlDf.count() == grown.count()
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("stable_under_delete", lit(stableUnderDelete))
      .withColumn("stable_under_optimize", lit(stableUnderOptimize))
      .withColumn("hidden_from_reads", lit(hiddenFromReads))
      .withColumn("sql_hidden", lit(sqlHidden))
      .withColumn("ids_unique", lit(idsUnique))
  }

  /** q230 — CHERRY-PICK a single branch commit onto a DIVERGED main
    * ([[graft.lake.Snapshots.cherryPick]], Iceberg
    * `cherrypick_snapshot` — the publish path when q223's fast-forward
    * no longer applies): main is cloned to a branch, the branch lands
    * an append (batch A) and then a predicate DELETE inside A; main
    * meanwhile diverges with its own append (batch C). Picking the
    * branch's DELETE commit FIRST is REFUSED — its tombstones anchor
    * into batch A's file, which main does not have, so the deletion
    * would be silently lost (the Iceberg missing-data-file conflict;
    * `out_of_order_refused`). Picking the APPEND, then the DELETE, lands
    * both as by-reference metadata commits (`in_order_applied`), with
    * batch A's bytes never copied under main (`zero_copy`: the picked
    * refs stay absolute into the branch directory) and main's own
    * divergent history intact (`divergence_kept`). The final aggregate
    * over main's live view is the cross-engine witness that exactly
    * (evens ∪ C ∪ A-minus-deleted) survived. At 100 TB cherry-pick is
    * how one audited change ships out of a long-lived branch: O(delta)
    * metadata, zero data movement, conflicts checked against the
    * target's live state inside the commit loop. */
  def cherryPickBranch(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("cherry", dir)
    val main = s"$root/orders_main"
    val branch = s"$root/orders_branch"
    Seq(main, branch).foreach(t =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t)))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, main, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.shallowClone(spark, main, branch)
    // branch: batch A, then a DELETE inside A (half of it)
    val vA = Snapshots.append(spark, branch,
      orders.filter(col("o_orderkey") % 4 === 1))
    val vDel = Snapshots.deleteWhere(spark, branch,
      col("o_orderkey") % 8 === 1)
    // main diverges
    Snapshots.append(spark, main, orders.filter(col("o_orderkey") % 4 === 3))
    val divergedAt = Snapshots.latestVersion(spark, main).get
    val outOfOrderRefused =
      try { Snapshots.cherryPick(spark, main, branch, vDel); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("not live") }
    val vPickA = Snapshots.cherryPick(spark, main, branch, vA)
    val vPickDel = Snapshots.cherryPick(spark, main, branch, vDel)
    val inOrderApplied = vPickA == divergedAt + 1 && vPickDel == vPickA + 1
    val sMain = Snapshots.snapshot(spark, main, vPickDel).get
    val branchRoot = graft.lake.LakePaths.tableRootPath(spark, branch)
    val picked = sMain.files.filterNot(
      Snapshots.snapshot(spark, main, divergedAt).get.files.toSet)
    val zeroCopy = picked.nonEmpty &&
      picked.forall(_.startsWith(branchRoot + "/"))
    val divergenceKept = Snapshots.readAt(spark, main, divergedAt).get
      .count() == orders.filter(col("o_orderkey") % 2 === 0 ||
        col("o_orderkey") % 4 === 3).count()
    Snapshots.readLatest(spark, main).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("out_of_order_refused", lit(outOfOrderRefused))
      .withColumn("in_order_applied", lit(inOrderApplied))
      .withColumn("zero_copy", lit(zeroCopy))
      .withColumn("divergence_kept", lit(divergenceKept))
  }

  /** q228 — IN-PLACE ADOPTION ([[graft.lake.Snapshots.adoptFiles]] —
    * Iceberg `add_files`/`migrate`, Delta `CONVERT TO DELTA`): a
    * "legacy" date-clustered parquet directory written by a plain
    * `df.write` (another system's layout) is registered into a fresh
    * snapshot table as ONE metadata commit, and from then on
    * participates fully — metadata-only `count(*)` answers from the
    * footer-collected row counts, a date predicate prunes files via the
    * adopted min/max stats, a predicate DELETE tombstones rows INSIDE
    * the adopted files (merge-on-read — the files themselves are
    * immutable foreign bytes), and time travel below the delete still
    * serves the full corpus. The decisive markers are forensic:
    * `bytes_untouched` re-fingerprints every legacy file (length +
    * mtime) AFTER the whole lifecycle — adoption, stats, DELETE, reads
    * — and `no_copies` pins that the table directory holds no data
    * files at all (`_snap` never materialized). At 100 TB this is the
    * migration story: a petabyte of legacy parquet becomes a versioned,
    * DML-capable, pruning-enabled table for O(files) metadata + one
    * optional stats pass, zero rewrite. */
  def addFilesAdoption(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("adopt", dir)
    val legacy = s"$root/legacy_orders"
    val table = s"$root/orders_ad"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(legacy))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    // the legacy system happened to cluster by date — adoption inherits
    // whatever pruning power the foreign layout has, no more
    orders.repartitionByRange(8, col("o_orderdate"))
      .write.parquet(legacy)
    def fingerprint(): Map[String, (Long, Long)] =
      new java.io.File(legacy).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    val before = fingerprint()
    val srcCount = orders.count()
    val v1 = Snapshots.adoptFiles(spark, table, legacy,
      statsCols = Seq("o_orderdate"))
    val metadataCount = Snapshots.rowCountAt(spark, table, v1)
      .contains(srcCount)
    val s1 = Snapshots.snapshot(spark, table, v1).get
    // o_orderdate is a TIMESTAMP here: plain-column stats are epoch
    // seconds (statsExpr's unit for non-DATE temporals)
    val cutSecs =
      java.time.LocalDate.parse("2000-01-01").toEpochDay.toDouble * 86400d
    val pruned = Snapshots.prunedFilesAt(spark, table, v1, "o_orderdate",
      cutSecs, Double.PositiveInfinity).get
    val statsPrune = pruned.size < s1.files.size
    // _snap stays empty of DATA files through adoption; the DELETE below
    // legitimately stages its positional-delete sidecar there
    val noCopies = !new java.io.File(s"$table/_snap").exists()
    Snapshots.deleteWhere(spark, table, col("o_orderkey") % 10 === 0)
    val travelIntact =
      Snapshots.readAt(spark, table, v1).get.count() == srcCount
    val bytesUntouched = fingerprint() == before
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("metadata_count", lit(metadataCount))
      .withColumn("stats_prune", lit(statsPrune))
      .withColumn("travel_intact", lit(travelIntact))
      .withColumn("no_copies", lit(noCopies))
      .withColumn("bytes_untouched", lit(bytesUntouched))
  }

  /** q227 — PARTITION-SPEC EVOLUTION (Iceberg `REPLACE PARTITION
    * FIELD`, the lifecycle leg q225/q226's hidden partitioning
    * implies): the table starts bucket-clustered, one metadata-only
    * `ALTER TABLE … SET PARTITION SPEC (days(o_orderdate))` evolves the
    * spec WITHOUT rewriting a byte, and a later plain append — which
    * names no partitioning — range-clusters by the NEW spec
    * automatically. Because transform stats are recorded PER FILE under
    * the spec each file was written with, the mixed-spec table needs no
    * special read path: a date-range scan prunes only new-era files
    * (old files lack `days` stats and "unknown never prunes"), a bucket
    * point lookup prunes only old-era files, and BOTH legs flow through
    * the same SQL scan rule. Markers pin each claim: `spec_evolved`
    * (the log's current spec is the new one), `metadata_only` (the
    * ALTER commit carries the identical file list), `new_clustered` /
    * `old_kept` (per-era stats names), `date_pruned` / `bucket_pruned`
    * (each transform still prunes its own era, never the other's), and
    * `point_rows` + the cross-engine aggregate catch value-level damage
    * a marker can't. At 100 TB this is the operation that saves a
    * repartition of history when the workload's partition key changes:
    * O(1) metadata now, the new layout amortizes in from the next write
    * on. */
  def partitionSpecEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("specevo", dir)
    val table = s"$root/orders_pe"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val oldSpec = "bucket(8,o_custkey)"
    val newSpec = "days(o_orderdate)"
    Snapshots.appendPartitioned(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0), Seq(oldSpec), numFiles = 8)
    val v1 = Snapshots.latestVersion(spark, table).get
    val oldFiles = Snapshots.snapshot(spark, table, v1).get.files.toSet
    val cat = s"specevo_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"ALTER TABLE $cat.orders_pe SET PARTITION SPEC ($newSpec)")
    val v2 = Snapshots.latestVersion(spark, table).get
    val specEvolved = v2 == v1 + 1 &&
      Snapshots.currentPartitionSpec(spark, table) == Seq(newSpec)
    val metadataOnly =
      Snapshots.snapshot(spark, table, v2).get.files.toSet == oldFiles
    pinnedWriteWidth(spark) {
      Snapshots.append(spark, table,
        orders.filter(col("o_orderkey") % 2 === 1))
    }
    val v3 = Snapshots.latestVersion(spark, table).get
    val s3 = Snapshots.snapshot(spark, table, v3).get
    val newFiles = s3.files.filterNot(oldFiles)
    val newClustered = newFiles.nonEmpty &&
      newFiles.forall(f => s3.stats.get(f).exists(_.contains(newSpec)))
    val oldKept = oldFiles.nonEmpty &&
      oldFiles.forall(f => s3.stats.get(f).exists(m =>
        m.contains(oldSpec) && !m.contains(newSpec)))
    // cutoff well inside the date domain: new-era files split around it
    val cutDays =
      java.time.LocalDate.parse("2000-01-01").toEpochDay.toDouble
    val dateFiles = Snapshots.prunedFilesAt(spark, table, v3, newSpec,
      cutDays, Double.PositiveInfinity).get
    val datePruned = dateFiles.size < s3.files.size &&
      oldFiles.forall(dateFiles.contains) // stat-less era never prunes
    val key = orders.agg(min(col("o_custkey"))).head.getLong(0)
    val b = Snapshots.bucketValueOf(8, key)
    val bucketFiles = Snapshots.prunedFilesAt(spark, table, v3, oldSpec,
      b, b).get
    val bucketPruned = bucketFiles.size < s3.files.size &&
      newFiles.forall(bucketFiles.contains)
    val pointRows = Snapshots.readAtBucketPoint(spark, table, v3, oldSpec,
      key).get.count()
    val q = spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_pe WHERE o_orderdate >= DATE '2000-01-01'
      GROUP BY 1""")
    q.withColumn("point_rows", lit(pointRows))
      .withColumn("spec_evolved", lit(specEvolved))
      .withColumn("metadata_only", lit(metadataOnly))
      .withColumn("new_clustered", lit(newClustered))
      .withColumn("old_kept", lit(oldKept))
      .withColumn("date_pruned", lit(datePruned))
      .withColumn("bucket_pruned", lit(bucketPruned))
  }

  /** q223 — WRITE-AUDIT-PUBLISH via branch + fast-forward
    * ([[graft.lake.Snapshots.fastForward]] closing the WAP loop
    * [[graft.lake.Snapshots.shallowClone]] opens — the Iceberg branch
    * workflow, the way a production pipeline lands risky rewrites):
    * main is cloned to a branch (zero copy); the WRITE (a MERGE price
    * adjustment + a predicate DELETE) happens ON THE BRANCH while main
    * serves readers untouched (`main_isolated` pins main's live view
    * mid-write); the AUDIT runs against the branch; on pass,
    * `fastForward` publishes the branch state into main as ONE
    * metadata commit — `published_exact` pins multiset equality of
    * main's new live view against the branch (exceptAll both ways, so
    * a resurrected tombstone or a perturbed row flips it),
    * `history_ok` pins main's pre-publish version still reading
    * exactly, and `zero_copy` that the publish staged no data file
    * under main (only the tombstone sidecar rewrite). */
  def wapBranch(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("wap", dir)
    val main = s"$root/orders_main"
    val branch = s"$root/orders_br"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(main))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(branch))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, main, orders)
    Snapshots.shallowClone(spark, main, branch)
    // the WRITE, on the branch only
    Snapshots.merge(spark, branch,
      orders.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 5.0),
      Seq("o_orderkey"))
    Snapshots.deleteWhere(spark, branch, col("o_totalprice") < 20000)
    // main untouched mid-write; the AUDIT runs on the branch
    val mainIsolated =
      Snapshots.readLatest(spark, main).get.count() == orders.count()
    val expected = orders.withColumn("o_totalprice",
        when(col("o_orderkey") % 4 === 0, col("o_totalprice") + 5.0)
          .otherwise(col("o_totalprice")))
      .filter(col("o_totalprice") >= 20000)
    val auditPass =
      Snapshots.readLatest(spark, branch).get.count() == expected.count()
    val mainDataDirs = Option(new java.io.File(s"$main/_snap").listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("c-"))
    val vPub = Snapshots.fastForward(spark, main, branch)
    val mainDataDirsAfter =
      Option(new java.io.File(s"$main/_snap").listFiles())
        .getOrElse(Array.empty).count(_.getName.startsWith("c-"))
    val mainLive = Snapshots.readAt(spark, main, vPub).get
    val branchLive = Snapshots.readLatest(spark, branch).get
    val publishedExact = mainLive.exceptAll(branchLive).isEmpty &&
      branchLive.exceptAll(mainLive).isEmpty
    val historyOk =
      Snapshots.readAt(spark, main, 1).get.count() == orders.count()
    mainLive.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("main_isolated", lit(mainIsolated && auditPass))
      .withColumn("published_exact", lit(publishedExact))
      .withColumn("history_ok", lit(historyOk))
      .withColumn("zero_copy", lit(mainDataDirs == mainDataDirsAfter))
  }

  /** q221 — named TAGS with retention protection
    * ([[graft.lake.Snapshots.createTag]], the Iceberg tag ref): a tag
    * pins "the exact data training run X read" by NAME, and — the
    * half that matters operationally — [[graft.lake.Snapshots.vacuum]]
    * keeps the tagged version's log object AND files alive below the
    * retention horizon until the tag is dropped. The gate overwrites
    * the tagged version's files into dead state, vacuums past it, and
    * pins: the tagged version still reads exactly (`tag_survives` —
    * its files were dead-but-pinned), the untagged version in the same
    * trimmed range is GONE (`v2_gone` — the pin is per-tag, not a
    * blanket hold), the live view is untouched (`latest_intact`), and
    * after `dropTag` the NEXT vacuum reclaims it
    * (`reclaimed_after_drop` — tags release storage, never leak it).
    * Result rows re-aggregate the tagged read itself. */
  def versionTags(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("vtags", dir)
    val table = s"$root/orders_tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.overwrite(spark, table,
      orders.filter(col("o_totalprice") >= 100000))
    Snapshots.append(spark, table, orders.filter(
      col("o_totalprice") < 100000 && col("o_orderkey") % 7 === 0))
    Snapshots.createTag(spark, table, "train-v1", 1)
    Snapshots.vacuum(spark, table, keepFrom = 3)
    val tagged = Snapshots.readAtTag(spark, table, "train-v1")
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    val tagSurvives = tagged.exists(_.count() == evens.count())
    val v2Gone = Snapshots.readAt(spark, table, 2).isEmpty
    val latestIntact = Snapshots.readLatest(spark, table).get.count() ==
      orders.filter(col("o_totalprice") >= 100000).count() +
        orders.filter(col("o_totalprice") < 100000 &&
          col("o_orderkey") % 7 === 0).count()
    // materialize BEFORE the drop+vacuum below reclaims v1's files
    // (the aggregate is lazy; an unpinned plan would scan dead paths)
    val tagAgg = tagged.get
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .localCheckpoint()
    Snapshots.dropTag(spark, table, "train-v1")
    Snapshots.vacuum(spark, table, keepFrom = 3)
    val reclaimed = Snapshots.readAt(spark, table, 1).isEmpty &&
      Snapshots.readAtTag(spark, table, "train-v1").isEmpty
    tagAgg
      .withColumn("tag_survives", lit(tagSurvives))
      .withColumn("v2_gone", lit(v2Gone))
      .withColumn("latest_intact", lit(latestIntact))
      .withColumn("reclaimed_after_drop", lit(reclaimed))
  }

  /** q219 — SQL MAINTENANCE statements ([[graft.plans.GraftSqlParser]]
    * via `injectParser`: `CREATE TABLE … SHALLOW CLONE`, `OPTIMIZE`,
    * `VACUUM … RETAIN n VERSIONS` — the lifecycle trio that completes
    * the SQL story beside reads (q179), DML (q191) and DDL (q196/197),
    * so an operator never needs the Scala API for routine table
    * maintenance): the gate drives all three purely through
    * `spark.sql` against the SAME catalog registration the V2 reads
    * use. Clone of a tombstone-carrying table (the sidecar rewrite
    * exercised through SQL), OPTIMIZE localizes the clone (post-rewrite
    * files all live under the clone — `files_local`), VACUUM RETAIN 1
    * trims the clone's birth version (`v1_gone`) without touching the
    * SOURCE's files (`src_intact` — the cross-table safety q209 pins,
    * now reached through SQL). Result rows re-aggregate the clone's
    * live view via a SQL read of the same catalog. */
  def sqlMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("sqlmaint", dir)
    val src = s"$root/orders_m"
    val dst = s"$root/orders_cl"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, src, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.deleteWhere(spark, src, col("o_orderkey") % 4 === 0)
    val cat = s"sqlmaint_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.orders_cl SHALLOW CLONE $cat.orders_m")
      .collect()
    spark.sql(s"OPTIMIZE $cat.orders_cl").collect()
    spark.sql(s"VACUUM $cat.orders_cl RETAIN 1 VERSIONS").collect()
    val after = Snapshots.snapshot(spark, dst,
      Snapshots.latestVersion(spark, dst).get).get
    val filesLocal = after.files.nonEmpty &&
      after.files.forall(!_.startsWith("/")) && after.deletes.isEmpty
    val v1Gone = Snapshots.readAt(spark, dst, 1).isEmpty
    val srcIntact = Snapshots.readLatest(spark, src).get.count() ==
      orders.filter(col("o_orderkey") % 2 === 0 &&
        col("o_orderkey") % 4 =!= 0).count()
    spark.sql(s"""
        SELECT o_orderpriority, COUNT(*) AS n_rows,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS sum_cents
        FROM $cat.orders_cl GROUP BY 1""")
      .withColumn("files_local", lit(filesLocal))
      .withColumn("v1_gone", lit(v1Gone))
      .withColumn("src_intact", lit(srcIntact))
  }

  /** q214 — delete-ratio-TARGETED compaction
    * ([[graft.lake.Snapshots.optimizeDeletes]], Iceberg's
    * `rewrite_data_files` delete-ratio filter): two clustered commits
    * accrete skewed tombstone debt (the even-key era ~50% deleted, the
    * odd-key era ~20%), then compaction at threshold 0.3 rewrites ONLY
    * the hot era. The gate pins the whole policy: hot files gone +
    * fresh files present + cold files carried byte-identical
    * (`hot_rewritten`), every surviving tombstone points into a
    * carried file (`tombs_scoped` — retained via the O(tombstones)
    * sidecar rewrite, so cold files' deletes still subtract), and the
    * pre-optimize version still time-travels to the same live rows
    * (`history_intact`). Result rows are the live aggregate, so a
    * resurrection or a lost row anywhere shifts the hash. */
  def optimizeDeletesLake(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("optdel", dir)
    val table = s"$root/orders_od"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val aFiles = Snapshots.snapshot(spark, table, 1).get.files.toSet
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 1))
    val bFiles = Snapshots.snapshot(spark, table, 2).get.files.toSet -- aFiles
    Snapshots.deleteWhere(spark, table, col("o_orderkey") % 4 === 0)
    Snapshots.deleteWhere(spark, table, col("o_orderkey") % 10 === 1)
    val vOpt = Snapshots.optimizeDeletes(spark, table, minDeleteRatio = 0.3).get
    val after = Snapshots.snapshot(spark, table, vOpt).get
    val afterSet = after.files.toSet
    val hotRewritten = afterSet.intersect(aFiles).isEmpty &&
      bFiles.subsetOf(afterSet) && afterSet.size > bFiles.size
    val tombsScoped = after.deletes.nonEmpty && spark.read
      .parquet(after.deletes.map(f => s"$table/$f"): _*)
      .select("file").distinct().collect().map(_.getString(0))
      .forall(bFiles)
    val historyIntact = Snapshots.readAt(spark, table, 4).get.count() ==
      Snapshots.readAt(spark, table, vOpt).get.count()
    Snapshots.readLatest(spark, table).get
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("hot_rewritten", lit(hotRewritten))
      .withColumn("tombs_scoped", lit(tombsScoped))
      .withColumn("history_intact", lit(historyIntact))
  }

  /** q210 — MERGE with AUTOMATIC SCHEMA EVOLUTION (the Delta
    * `mergeSchema` upsert): the change batch carries a column the
    * target has never seen (`c_tier`); the merge stages it with the
    * batch's own schema and the era machinery widens on read — merged
    * rows surface their tier, untouched rows surface null, and NO data
    * file is rewritten to make that true. Time travel below the merge
    * must NOT show the column (`v1_no_tier` — evolution is versioned
    * with the log), and the change feed across the merge carries the
    * evolved column on its insert images while the delete images (old
    * rows, pre-evolution era) widen to null. */
  def mergeSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("mevo", dir)
    val table = s"$root/cust_evo"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val custCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    val cust = Tables(spark, dir, "customer")
      .select(custCols.map(col): _*)
    Snapshots.append(spark, table, cust) // v1: no c_tier anywhere
    val changes = cust.filter(col("c_custkey") % 10 < 2)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      .withColumn("c_tier",
        when(col("c_acctbal") >= 1000.0, "gold").otherwise("std"))
    val v2 = Snapshots.merge(spark, table, changes, Seq("c_custkey"))
    val v1NoTier = !Snapshots.readAt(spark, table, 1).get
      .schema.fieldNames.contains("c_tier")
    val byTier = Snapshots.readAt(spark, table, v2).get
      .groupBy(coalesce(col("c_tier"), lit("none")).as("tier"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("c_acctbal"))).as("sum_cents"))
      .select(lit("v2").as("part"), col("tier"), col("n_rows"),
        col("sum_cents"))
    val cdf = Snapshots.changesBetween(spark, table, 1, v2).get
      .groupBy(concat(lit("cdf_"), col("_change_type")).as("part"),
        coalesce(col("c_tier"), lit("none")).as("tier"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("c_acctbal"))).as("sum_cents"))
    byTier.unionAll(cdf.select("part", "tier", "n_rows", "sum_cents"))
      .withColumn("v1_no_tier", lit(v1NoTier))
  }

  /** q204 — `min`/`max` answered from manifest STATS (q199's rule
    * extended to the other metadata-answerable aggregates — together
    * they cover the "how big / what range" sanity queries every 100 TB
    * table sees daily): a stats-committed DOUBLE column's unfiltered
    * min/max collapses to the log's per-file extremes folded across the
    * version — O(log objects), no scan (LocalTableScan attested) —
    * while a column WITHOUT recorded stats falls back to the scan plan
    * and the exact value (BatchScan attested): the rule declines, never
    * approximates. */
  def metadataMinMax(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("metamm", dir)
    val table = s"$root/orders_mm"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0),
      statsCols = Seq("o_totalprice"))
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 1),
      statsCols = Seq("o_totalprice"))
    val cat = s"metamm_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val stat = spark.sql(s"""
      SELECT count(*) AS n_rows, min(o_totalprice) AS min_price,
             max(o_totalprice) AS max_price FROM $cat.orders_mm""")
    val statPlan = stat.queryExecution.executedPlan.toString
    val metaOnly = statPlan.contains("LocalTableScan") &&
      !statPlan.contains("BatchScan")
    // no stats recorded for o_orderdate → must decline to the scan
    val scanned = spark.sql(
      s"SELECT min(o_orderdate) AS min_date FROM $cat.orders_mm")
    val scannedScans = scanned.queryExecution.executedPlan.toString
      .contains("BatchScan")
    stat.crossJoin(scanned)
      .withColumn("metadata_only", lit(metaOnly))
      .withColumn("unstated_scans", lit(scannedScans))
  }

  /** q205 — CHECK CONSTRAINTS in the log (the Delta `ALTER TABLE ADD
    * CONSTRAINT` surface — the write-side guarantee a curated training
    * table needs: bad rows are refused at COMMIT time, not found
    * downstream): `addConstraint` records a named SQL predicate as a
    * metadata-only version after validating EXISTING data (a constraint
    * the table already violates is refused), every delta-staging commit
    * path (append/overwrite/merge/update — so INSERT/CTAS/CDC inherit
    * it) validates its O(delta) rows in one pass and aborts with the
    * name and row count, NULL passes (SQL CHECK semantics), and
    * `dropConstraint` lifts it with the full trail in `history`. The
    * gate drives the whole arc: holds-on-add, good append, REFUSED bad
    * append (no version), REFUSED impossible add, drop, then the
    * previously-bad append succeeds. */
  def checkConstraints(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("constr", dir)
    val table = s"$root/orders_ck"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val cheap = col("o_totalprice") < 100000
    Snapshots.append(spark, table,
      orders.filter(cheap && col("o_orderkey") % 2 === 0)) // v1
    Snapshots.addConstraint(spark, table, "price_band",
      "o_totalprice >= 0 AND o_totalprice < 100000") // v2
    Snapshots.append(spark, table,
      orders.filter(cheap && col("o_orderkey") % 2 === 1)) // v3
    val violatedRefused =
      try { Snapshots.append(spark, table, orders.filter(!cheap)); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("price_band") &&
          Snapshots.latestVersion(spark, table).contains(3) }
    val addRefused =
      try { Snapshots.addConstraint(spark, table, "impossible",
        "o_orderkey < 0"); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("existing data") }
    Snapshots.dropConstraint(spark, table, "price_band") // v4
    Snapshots.append(spark, table, orders.filter(!cheap)) // v5 — now fine
    val opsOk = Snapshots.history(spark, table)
      .orderBy("version").collect().map(_.getString(1)).toSeq ==
      Seq("append", "add-constraint", "append", "drop-constraint", "append")
    Snapshots.readLatest(spark, table).get
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("violation_refused", lit(violatedRefused))
      .withColumn("impossible_add_refused", lit(addRefused))
      .withColumn("ops_ok", lit(opsOk))
  }

  /** q206 — log-stats FILE PRUNING on catalog SQL scans
    * ([[graft.plans.SnapshotScanPruning]] — q165's data skipping wired
    * into the SQL surface, where until now a filtered read opened every
    * file of the version): four appends land four price bands with
    * manifest stats, a banded `WHERE` then scans ONLY the surviving
    * files (the rebuilt relation's `#prunedN` name is attested in the
    * executed plan) while the FULL predicate stays residual — the
    * result is clustering-invariant and equals the oracle's global
    * arithmetic; a filter with no extractable interval (`%` on a long)
    * keeps the unpruned scan, attested too: unknown never prunes. */
  def statsPrunedSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("sqlprune", dir)
    val table = s"$root/orders_pr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val p = col("o_totalprice")
    Seq(p < 50000, p >= 50000 && p < 100000,
        p >= 100000 && p < 200000, p >= 200000)
      .foreach(band => Snapshots.append(spark, table, orders.filter(band),
        statsCols = Seq("o_totalprice")))
    val cat = s"sqlprune_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val banded = spark.sql(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents
      FROM $cat.orders_pr WHERE o_totalprice >= 200000 GROUP BY 1""")
    val pruned = banded.queryExecution.executedPlan.toString
      .contains("#pruned")
    val unprunable = spark.sql(s"SELECT count(*) AS n FROM $cat.orders_pr " +
      "WHERE o_orderkey % 3 = 0")
    val unprunedOk = !unprunable.queryExecution.executedPlan.toString
      .contains("#pruned")
    banded
      .withColumn("scan_pruned", lit(pruned))
      .withColumn("unprunable_unpruned", lit(unprunedOk))
  }

  /** q278 — COLUMN DDL OVER PLAIN SPARK SQL (`ALTER TABLE … RENAME
    * COLUMN` / `DROP COLUMN` against the V2 catalog): Spark's native
    * parser already produces `TableChange.RenameColumn` /
    * `DeleteColumn` for a catalog table — the catalog now routes them
    * to the metadata-only name-chain commits of q171/q192
    * ([[graft.lake.SnapshotCatalog.alterTable]]), so the whole column
    * lifecycle is reachable without touching the Scala API. Both
    * commits are O(log-entry): no file is read or rewritten at ANY
    * table size, and history below the DDL keeps the old shape. The
    * gate renames a column and drops another via SQL, appends under
    * the new name (cross-era union), and pins that v1 still serves
    * BOTH old columns while the live view lost exactly the dropped
    * one. */
  def alterColumnSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("altsql", dir)
    val table = s"$root/orders_ac"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    def channelOf(c: org.apache.spark.sql.Column) =
      when(c % 3 === 0, lit("web")).otherwise(lit("store"))
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_chan", channelOf(col("o_orderkey")))
        .withColumn("o_junk", lit(1L)))
    // catalog names must be UNIQUE across the query surface: Spark's
    // CatalogManager caches the instance (with its root) at first use,
    // so a name reused by another query would silently serve THAT
    // query's root here (the q252/q278 `ac_` collision this replaces)
    val cat = s"acs_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"ALTER TABLE $cat.orders_ac RENAME COLUMN o_chan TO o_channel")
    spark.sql(s"ALTER TABLE $cat.orders_ac DROP COLUMN o_junk")
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_channel", channelOf(col("o_orderkey"))))
    val v1 = Snapshots.readAt(spark, table, 1).get
    val historyIntact =
      v1.columns.contains("o_chan") && v1.columns.contains("o_junk")
    val live = spark.table(s"$cat.orders_ac")
    val dropGone = !live.columns.contains("o_junk")
    live.groupBy(col("o_channel"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("history_intact", lit(historyIntact))
      .withColumn("drop_gone", lit(dropGone))
  }

  /** q284 — `ALTER TABLE … ADD COLUMN` OVER PLAIN SPARK SQL (the Delta
    * metadata-only add, [[graft.lake.Snapshots.addColumn]]): the commit
    * DECLARES (name, type[, default]) in the log — zero data files
    * touched at any table size. Reads from the add onward fill the
    * column with null (or the DEFAULT, for every pre-add row — the
    * initial-default semantics, riding the q245 absent-column fill);
    * a later append materializes it and stored/declared types unify
    * under era widening. The gate adds a null-filled column and a
    * defaulted one via SQL, appends a second era that CARRIES both,
    * and pins that v1 time travel still shows neither. */
  def addColumnSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("addsql", dir)
    val table = s"$root/orders_add"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    val cat = s"ad_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"ALTER TABLE $cat.orders_add ADD COLUMN chan STRING")
    spark.sql(s"ALTER TABLE $cat.orders_add ADD COLUMN bonus BIGINT DEFAULT 7")
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("chan",
          when(col("o_orderkey") % 3 === 0, lit("web")).otherwise(lit("store")))
        .withColumn("bonus", lit(2L)))
    val v1 = Snapshots.readAt(spark, table, 1).get
    val historyIntact =
      !v1.columns.contains("chan") && !v1.columns.contains("bonus")
    spark.table(s"$cat.orders_add")
      .groupBy(coalesce(col("chan"), lit("none")).as("chan"), col("bonus"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("history_intact", lit(historyIntact))
  }

  /** q287 — CHECK CONSTRAINT DDL OVER SQL (`ALTER TABLE … ADD
    * CONSTRAINT name CHECK (…)` / `DROP CONSTRAINT name`, the Delta
    * statements over q205's machinery): ADD validates EXISTING data
    * first — a violated add refuses naming the row count with no
    * version burned; while in force, a violating append refuses whole;
    * DROP re-opens the gate and versions below it still carry the
    * constraint for time travel. The gate walks the full lifecycle and
    * lands every row exactly once — a refused-append leak or a
    * post-drop loss would shift the aggregate. */
  def constraintSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("cksql", dir)
    val table = s"$root/orders_ck"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val cheap = col("o_totalprice") < 300000
    Snapshots.append(spark, table,
      orders.filter(cheap && col("o_orderkey") % 2 === 0))
    val cat = s"cksql_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"ALTER TABLE $cat.orders_ck ADD CONSTRAINT price_band " +
      "CHECK (o_totalprice < 300000)")
    val appendRefused = scala.util.Try(Snapshots.append(spark, table,
      orders.filter(!cheap).limit(5))).isFailure
    val before = Snapshots.latestVersion(spark, table).get
    val violatedAddRefused = scala.util.Try(spark.sql(
      s"ALTER TABLE $cat.orders_ck ADD CONSTRAINT impossible " +
        "CHECK (o_totalprice < 0)")).isFailure &&
      Snapshots.latestVersion(spark, table).contains(before)
    Snapshots.append(spark, table,
      orders.filter(cheap && col("o_orderkey") % 2 === 1))
    spark.sql(s"ALTER TABLE $cat.orders_ck DROP CONSTRAINT price_band")
    Snapshots.append(spark, table, orders.filter(!cheap))
    val vAdd = Snapshots.snapshot(spark, table, before).get
    val historyCarries = vAdd.constraints.exists(_._1 == "price_band")
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("append_refused", lit(appendRefused))
      .withColumn("violated_add_refused", lit(violatedAddRefused))
      .withColumn("history_carries", lit(historyCarries))
  }

  /** q288 — `INSERT INTO … REPLACE WHERE` (Delta's replaceWhere — the
    * partition-window backfill every nightly pipeline runs, as ONE
    * atomic commit): the statement's predicate rows are tombstoned
    * (merge-on-read, O(matches)) and the query's rows staged in the
    * SAME version — no reader ever sees the window half-swapped, and
    * there is no delete/insert seam for a crash to land in
    * ([[graft.lake.Snapshots.replaceWhere]]). Incoming rows must all
    * satisfy the predicate (the Delta guard — `guard_refuses` pins a
    * smuggling statement failing whole, version unburned);
    * `single_commit` pins the atomicity structurally. The gate
    * backfills one priority window with adjusted prices reading from
    * the table itself. */
  def replaceWhereSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("rwsql", dir)
    val table = s"$root/orders_rw"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders)
    val cat = s"rwsql_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val before = Snapshots.latestVersion(spark, table).get
    val guardRefuses = scala.util.Try(spark.sql(s"""
      INSERT INTO $cat.orders_rw REPLACE WHERE o_orderpriority = '1-URGENT'
      SELECT * FROM $cat.orders_rw WHERE o_orderpriority = '2-HIGH'""")
    ).isFailure && Snapshots.latestVersion(spark, table).contains(before)
    spark.sql(s"""
      INSERT INTO $cat.orders_rw REPLACE WHERE o_orderpriority = '1-URGENT'
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10,
             o_orderdate, o_orderpriority
      FROM $cat.orders_rw WHERE o_orderpriority = '1-URGENT'""")
    val singleCommit =
      Snapshots.latestVersion(spark, table).contains(before + 1)
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("guard_refuses", lit(guardRefuses))
      .withColumn("single_commit", lit(singleCommit))
  }

  /** q309 — BARE `CREATE TABLE` DDL (the schema-first shape CTAS never
    * covered; the r16 TRUNCATE machinery — zero-file versions serving a
    * declared schema — is exactly what makes a schema-only commit
    * readable): `CREATE TABLE cat.t (cols…, one with DEFAULT)
    * PARTITIONED BY (bucket…)` publishes ONE metadata commit
    * ([[graft.lake.Snapshots.createTable]]); the empty table reads
    * WITH its schema over SQL; `IF NOT EXISTS` no-ops and a plain
    * re-CREATE refuses, neither burning a version; the persisted spec
    * clusters every future write; and a DataFrame append MISSING the
    * defaulted column reads it filled — the CREATE-time DEFAULT is a
    * real initial default, not decoration. Gate = the final table
    * grouped by (priority, channel) where channel mixes stored values
    * (SQL insert) and default fills (column-less append). */
  def createTableDdl(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("ctddl", dir)
    val table = s"$root/orders_ct"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val cat = s"ctddl_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"""CREATE TABLE $cat.orders_ct (
      o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING,
      channel STRING DEFAULT 'web')
      PARTITIONED BY (bucket(4, o_orderkey))""")
    val createdV1 = Snapshots.latestVersion(spark, table).contains(1)
    val specPersisted = Snapshots.snapshot(spark, table, 1).exists(
      _.partitionSpec == Seq("bucket(4,o_orderkey)"))
    val empty = spark.sql(s"SELECT * FROM $cat.orders_ct")
    val emptyWithSchema = empty.count() == 0 &&
      empty.schema.fieldNames.toSeq ==
        Seq("o_orderkey", "o_totalprice", "o_orderpriority", "channel")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.orders_ct (x INT)")
    val reCreateRefuses = scala.util.Try(spark.sql(
      s"CREATE TABLE $cat.orders_ct (x INT)")).isFailure
    val noBurn = Snapshots.latestVersion(spark, table).contains(1)
    val orders = Tables(spark, dir, "orders")
    orders.createOrReplaceTempView("orders_ct_src")
    spark.sql(s"""INSERT INTO $cat.orders_ct
      SELECT o_orderkey, o_totalprice, o_orderpriority, 'store'
      FROM orders_ct_src WHERE o_orderkey % 4 = 1""")
    // a column-less append: the CREATE-time DEFAULT fills `channel`
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 4 === 2)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")))
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"), col("channel"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("created_v1", lit(createdV1))
      .withColumn("spec_persisted", lit(specPersisted))
      .withColumn("empty_with_schema", lit(emptyWithSchema))
      .withColumn("recreate_refuses", lit(reCreateRefuses && noBurn))
  }

  /** q290 — DATA-QUALITY EXPECTATIONS WITH ATOMIC QUARANTINE
    * ([[graft.lake.Expectations]], the DLT expectation contract + the
    * quarantine pattern, and the reference pipeline's reject-routing
    * DNA promoted to lakehouse transactions): a batch with violating
    * rows splits ONCE — clean rows into the member table, violations
    * (tagged with the failed expectation names, both names when both
    * fail) into `<member>_rejects` — under ONE group-transaction
    * marker, so no audit can see admitted rows whose rejects aren't
    * visible yet. `fail_refuses` pins expect-or-fail refusing a dirty
    * batch whole with no version burned; `atomic_marker` pins both
    * tables' heads on the same marker. */
  def expectationsQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.{Expectations, Snapshots, TableGroup}
    val group = graft.util.Scratch.dir("expectq", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(group))
    val orders = Tables(spark, dir, "orders")
    val src = orders
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 3, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 101 === 5, lit("Z"))
          .otherwise(col("o_orderstatus")))
    val exps = Seq(
      "positive_price" -> "o_totalprice > 0",
      "known_status" -> "o_orderstatus IN ('O', 'F', 'P')")
    // expect-or-fail refuses the dirty batch whole, no version burned
    val failT = s"$group/fail_probe"
    Snapshots.append(spark, failT, src.limit(0))
    val failRefuses = scala.util.Try(
      Expectations.expectOrFail(spark, failT, src, exps)).isFailure &&
      Snapshots.latestVersion(spark, failT).contains(1)
    // quarantine: members seeded empty, then ONE marker lands both
    Snapshots.append(spark, s"$group/silver", src.limit(0))
    Snapshots.append(spark, s"$group/silver_rejects",
      src.limit(0).withColumn(Expectations.FailedCol, lit("")))
    val marker =
      Expectations.expectOrQuarantine(spark, group, "silver", src, exps)
    // the marker pins the transaction's BRANCH versions; main serves
    // the fast-forwarded copies — same content, different version ids,
    // so the lockstep attestation compares the served row sets
    def countAtMarker(member: String): Long =
      Snapshots.readAt(spark, s"$group/$member",
        TableGroup.versionAtMarker(spark, group, member, marker).get)
        .get.count()
    val atomicMarker =
      countAtMarker("silver") ==
        Snapshots.readLatest(spark, s"$group/silver").get.count() &&
      countAtMarker("silver_rejects") ==
        Snapshots.readLatest(spark, s"$group/silver_rejects").get.count()
    val clean = Snapshots.readLatest(spark, s"$group/silver").get
      .groupBy(col("o_orderpriority").as("key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("side", lit("clean"))
    val rejects = Snapshots.readLatest(spark, s"$group/silver_rejects").get
      .groupBy(col(Expectations.FailedCol).as("key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Num.cents(col("o_totalprice"))).as("sum_cents"))
      .withColumn("side", lit("reject"))
    clean.unionByName(rejects)
      .select("side", "key", "n_rows", "sum_cents")
      .withColumn("fail_refuses", lit(failRefuses))
      .withColumn("atomic_marker", lit(atomicMarker))
  }

  /** q297 — DEEP CLONE over SQL (`CREATE TABLE … DEEP CLONE` — the
    * disaster-recovery sibling of q209's shallow clone,
    * [[graft.lake.Snapshots.deepClone]]): a physically independent
    * one-version copy of the source's ERA-AWARE live view (renames,
    * tombstones and defaults arrive materialized under current names)
    * plus the declared metadata that governs future writes. The gate
    * evolves a source (rename + DELETE + properties + constraint),
    * takes BOTH clone kinds, then DESTROYS the source directory
    * outright — the deep clone still serves every row
    * (`survives_source_loss`: the aggregate below IS computed after
    * the deletion) and still refuses a constraint-violating append
    * (`metadata_carried`), while the shallow clone's read fails
    * (`shallow_dies` — the q209 retention hazard made visible). */
  def deepCloneSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("deepclone", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val src = s"$root/orders_src"
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, src,
      orders.withColumnRenamed("o_orderpriority", "prio_raw"))
    Snapshots.renameColumn(spark, src, "prio_raw", "o_orderpriority")
    Snapshots.deleteWhere(spark, src, col("o_orderkey") % 7 === 0)
    Snapshots.setTableProperties(spark, src, Map("team" -> "dr"))
    Snapshots.addConstraint(spark, src, "sane_price", "o_totalprice > 0")
    val cat = s"dcl_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.orders_deep DEEP CLONE $cat.orders_src")
    spark.sql(s"CREATE TABLE $cat.orders_shallow SHALLOW CLONE $cat.orders_src")
    // the DR event: the source directory is lost entirely
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
    val shallowDies = scala.util.Try(
      Snapshots.readLatest(spark, s"$root/orders_shallow").get.count()
    ).isFailure
    val metadataCarried =
      Snapshots.tableProperties(spark, s"$root/orders_deep")
        .get("team").contains("dr") &&
      scala.util.Try(Snapshots.append(spark, s"$root/orders_deep",
        Snapshots.readLatest(spark, s"$root/orders_deep").get.limit(3)
          .withColumn("o_totalprice", lit(-1.0)))).isFailure
    Snapshots.readLatest(spark, s"$root/orders_deep").get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("survives_source_loss", lit(true))
      .withColumn("shallow_dies", lit(shallowDies))
      .withColumn("metadata_carried", lit(metadataCarried))
  }

  /** q301 — `TRUNCATE TABLE` over SQL ([[graft.lake.Snapshots.truncate]]):
    * ONE metadata-only commit with an empty manifest list — the live
    * view empties without reading or deleting a byte at ANY table
    * size (a DELETE-all without the scan), history below stays
    * time-travelable, and the table keeps taking appends. The gate
    * pins all three plus the single-commit shape. */
  def truncateSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("trsql", dir)
    val table = s"$root/orders_tr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 2 === 1))
    val cat = s"trsql_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val v = spark.sql(s"TRUNCATE TABLE $cat.orders_tr").head.getLong(0)
    val emptyNow =
      Snapshots.readLatest(spark, table).get.count() == 0 && v == 3L
    val historyIntact =
      Snapshots.readAt(spark, table, 2).get.count() == orders.count()
    Snapshots.append(spark, table, orders.filter(col("o_orderkey") % 5 === 0))
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("empty_after_truncate", lit(emptyNow))
      .withColumn("history_intact", lit(historyIntact))
  }

  /** q302 — OPTIMISTIC-CONCURRENCY INTERLEAVE, gate-visible (the
    * two-writer race every lakehouse paper hand-waves, made
    * deterministic): writer A stages an append and — in the seam
    * between computing its commit content and claiming the version — a
    * concurrent DELETE commits first. A's claim loses, the commit loop
    * recomputes against the NEW head, and both writers land with
    * serializable history: DELETE at v2 (against v1's rows only), the
    * append at v3. The attestations pin exactly what serializability
    * promises: no lost update (the delete's effect survives A's retry
    * carrying its files forward), and the ORDER (append rows matching
    * the delete predicate are PRESENT — they arrived after the delete,
    * which never saw them). At any scale the retry costs O(A's delta)
    * — staged files are immutable, only log content recomputes. */
  def occInterleave(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val table = graft.util.Scratch.dir("occint", dir) + "/orders_occ"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    val even = col("o_orderkey") % 2 === 0
    val cheap = col("o_totalprice") < 50000
    Snapshots.append(spark, table, orders.filter(even)) // v1
    var fired = false
    Snapshots.append(spark, table, orders.filter(!even),
      beforePublish = () => {
        if (!fired) { // once: the retry must not re-trigger the racer
          fired = true
          Snapshots.deleteWhere(spark, table, cheap) // wins v2
        }
      })
    val serialized = Snapshots.latestVersion(spark, table).contains(3)
    val noLostUpdate = Snapshots.readLatest(spark, table).get
      .filter(even && cheap).count() == 0
    val orderPinned = Snapshots.readLatest(spark, table).get
      .filter(!even && cheap).count() ==
      orders.filter(!even && cheap).count()
    Snapshots.readLatest(spark, table).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .withColumn("serialized", lit(serialized))
      .withColumn("no_lost_update", lit(noLostUpdate))
      .withColumn("order_pinned", lit(orderPinned))
  }

  /** q323 — LOG-SERVED NDV: per-file KMV distinct-value sketches in
    * the commit metadata, distinct counts answered from the log with
    * ZERO data scan (the Iceberg puffin/theta-sketch discipline,
    * composing with this round's log-backed size/row statistics —
    * NDV is the third CBO input beside them). The table DECLARES
    * `graft.stats.sketchColumns` at creation; every staged write
    * (appends here; DML restages and compactions equally, via the
    * q261 stage chokepoint) records a bottom-k hash sketch per (file,
    * column) as a staging-dir sidecar; [[graft.lake.Snapshots.ndvAt]]
    * merges the version's sketches driver-side — the union
    * re-truncated to k IS the global bottom-k, so the served value is
    * FILE-LAYOUT INDEPENDENT, which is exactly what the oracle
    * exploits: it replays the estimator over the raw source rows with
    * no knowledge of files or commits and must land on the identical
    * integer. Two columns × two snapshot points (after 2 and 3
    * appends — the 3-append serve proves cross-commit sketch MERGE),
    * exact COUNT(DISTINCT) ground truth beside each estimate. */
  def logNdv(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("logndv", dir)
    val table = s"$root/orders_ndv"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.createTable(spark, table,
      orders.schema.fields.toSeq.map(f => (f.name, f.dataType.sql, None)),
      properties = Map(Snapshots.SketchColumnsKey ->
        "o_custkey,o_orderpriority"))
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 3 === 0))
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 3 === 1))
    val v2 = Snapshots.latestVersion(spark, table).get
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 3 === 2))
    val v3 = Snapshots.latestVersion(spark, table).get
    val cols = Seq("o_custkey", "o_orderpriority")
    val served = for {
      (v, n) <- Seq((v2, 2), (v3, 3)); c <- cols
    } yield (n, c, Snapshots.ndvAt(spark, table, v, c).getOrElse(
      sys.error(s"log NDV declined for $c at v$v")))
    // exact ground truth beside the estimates — ONE pass over the source
    val two = col("o_orderkey") % 3 < 2
    val ex = orders.agg(
      countDistinct(when(two, col("o_custkey"))).as("c2"),
      countDistinct(when(two, col("o_orderpriority"))).as("p2"),
      countDistinct(col("o_custkey")).as("c3"),
      countDistinct(col("o_orderpriority")).as("p3")).head()
    val exact = Map((2, "o_custkey") -> ex.getLong(0),
      (2, "o_orderpriority") -> ex.getLong(1),
      (3, "o_custkey") -> ex.getLong(2),
      (3, "o_orderpriority") -> ex.getLong(3))
    import spark.implicits._
    served.map { case (n, c, est) => (n, c, est, exact((n, c))) }
      .toDF("n_appends", "column", "ndv_est", "n_exact")
  }

  /** Oracle for q323: the estimator replayed over the RAW rows — the
    * file-layout-independence of merged bottom-k sketches is the
    * attested property, so the oracle never models files or commits:
    * per (slice, column), the k smallest distinct md5-prefix hashes,
    * exact when fewer than k, else (k−1)·2⁴⁸ ∕ m_k in integer
    * division (q291's arithmetic). */
  private def logNdvOracle: String = {
    val k = graft.lake.Snapshots.SketchK
    val dom = graft.lake.Snapshots.SketchDomain
    def combo(tag: String, c: String, where: String): String = s"""
      h_$tag AS (
        SELECT DISTINCT
          ('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 12))::BIGINT AS h
        FROM orders WHERE $where),
      e_$tag AS (
        SELECT CAST(CASE WHEN (SELECT COUNT(*) FROM h_$tag) < $k
            THEN (SELECT COUNT(*) FROM h_$tag)
            ELSE (${k - 1} * ${dom}::BIGINT) //
              (SELECT h FROM h_$tag ORDER BY h LIMIT 1 OFFSET ${k - 1})
          END AS BIGINT) AS ndv_est,
          (SELECT CAST(COUNT(DISTINCT $c) AS BIGINT)
           FROM orders WHERE $where) AS n_exact)"""
    val combos = Seq(
      ("c2", "o_custkey", "o_orderkey % 3 < 2", 2),
      ("p2", "o_orderpriority", "o_orderkey % 3 < 2", 2),
      ("c3", "o_custkey", "TRUE", 3),
      ("p3", "o_orderpriority", "TRUE", 3))
    val ctes = combos.map { case (t, c, w, _) => combo(t, c, w) }
      .mkString(",")
    val rows = combos.map { case (t, c, _, n) =>
      s"""SELECT CAST($n AS INTEGER) AS n_appends, '$c' AS "column",
        ndv_est, n_exact FROM e_$t"""
    }.mkString("\n      UNION ALL ")
    s"WITH $ctes\n      $rows"
  }

  /** q325 — `SHOW STATS` OVER SQL (the Trino statement, q323's
    * discoverability face): the parser intercepts `SHOW STATS [FOR]
    * cat.t` under a registered snapshot catalog and serves per-column
    * distinct estimates + exact null counts from the sketch sidecars
    * and the live row count + byte size from the manifests — all LOG
    * metadata, zero data scan. The gate runs the statement over a
    * declared two-append table and pins: per-column estimates equal
    * the oracle's raw-row estimator replay, null counts exact, the
    * summary row count exact; byte size is filesystem truth the
    * oracle cannot know, attested as a sign flag. */
  def showStatsSql(spark: SparkSession, dir: String): DataFrame = {
    import graft.lake.Snapshots
    val root = graft.util.Scratch.dir("showstats", dir)
    val table = s"$root/orders_ss"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val orders = Tables(spark, dir, "orders")
    Snapshots.createTable(spark, table,
      orders.schema.fields.toSeq.map(f => (f.name, f.dataType.sql, None)),
      properties = Map(Snapshots.SketchColumnsKey ->
        "o_custkey,o_orderpriority"))
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.append(spark, table,
      orders.filter(col("o_orderkey") % 2 === 1))
    val cat = s"ss_${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.lake.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val res = spark.sql(s"SHOW STATS FOR $cat.orders_ss").collect()
    val rows = res.toSeq.map { r =>
      org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), r.get(3),
        if (r.isNullAt(0))
          Boolean.box(!r.isNullAt(4) && r.getLong(4) > 0L)
        else null)
    }
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("column_name",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("distinct_count",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("null_count",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("row_count",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("size_positive",
          org.apache.spark.sql.types.BooleanType, nullable = true))))
  }

  /** Oracle for q325: the q323 estimator replayed per column over the
    * raw rows (both appends together are the whole table), exact null
    * counts, exact summary row count; the size flag is a literal. */
  private def showStatsOracle: String = {
    val k = graft.lake.Snapshots.SketchK
    val dom = graft.lake.Snapshots.SketchDomain
    def est(tag: String, c: String): String = s"""
      h_$tag AS (
        SELECT DISTINCT
          ('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 12))::BIGINT AS h
        FROM orders WHERE $c IS NOT NULL),
      e_$tag AS (
        SELECT CAST(CASE WHEN (SELECT COUNT(*) FROM h_$tag) < $k
            THEN (SELECT COUNT(*) FROM h_$tag)
            ELSE (${k - 1} * ${dom}::BIGINT) //
              (SELECT h FROM h_$tag ORDER BY h LIMIT 1 OFFSET ${k - 1})
          END AS BIGINT) AS ndv,
          (SELECT CAST(COUNT(*) - COUNT($c) AS BIGINT) FROM orders)
            AS nulls)"""
    s"""
      WITH ${est("c", "o_custkey")},${est("p", "o_orderpriority")}
      SELECT 'o_custkey' AS column_name, ndv AS distinct_count,
        nulls AS null_count, CAST(NULL AS BIGINT) AS row_count,
        CAST(NULL AS BOOLEAN) AS size_positive FROM e_c
      UNION ALL
      SELECT 'o_orderpriority', ndv, nulls, CAST(NULL AS BIGINT),
        CAST(NULL AS BOOLEAN) FROM e_p
      UNION ALL
      SELECT CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        CAST(NULL AS BIGINT),
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders), true"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q325_show_stats", showStatsSql, Some(showStatsOracle)),
    QueryDef("q323_log_ndv", logNdv, Some(logNdvOracle)),
    QueryDef("q309_create_table_ddl", createTableDdl, Some(s"""
      WITH t AS (
        SELECT o_orderpriority, 'store' AS channel, o_totalprice
        FROM orders WHERE o_orderkey % 4 = 1
        UNION ALL
        SELECT o_orderpriority, 'web', o_totalprice
        FROM orders WHERE o_orderkey % 4 = 2)
      SELECT o_orderpriority, channel, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS created_v1, true AS spec_persisted,
             true AS empty_with_schema, true AS recreate_refuses
      FROM t GROUP BY 1, 2""")),
    QueryDef("q302_occ_interleave", occInterleave, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS serialized, true AS no_lost_update,
             true AS order_pinned
      FROM orders
      WHERE o_orderkey % 2 = 1 OR NOT (o_totalprice < 50000)
      GROUP BY 1""")),
    QueryDef("q301_truncate_sql", truncateSql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS empty_after_truncate, true AS history_intact
      FROM orders WHERE o_orderkey % 5 = 0 GROUP BY 1""")),
    QueryDef("q297_deep_clone", deepCloneSql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS survives_source_loss, true AS shallow_dies,
             true AS metadata_carried
      FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY 1""")),
    QueryDef("q290_expectations", expectationsQ, Some(s"""
      WITH src AS (
        SELECT o_orderpriority,
          CASE WHEN o_orderkey % 97 = 3 THEN -o_totalprice
               ELSE o_totalprice END AS p,
          CASE WHEN o_orderkey % 101 = 5 THEN 'Z'
               ELSE o_orderstatus END AS st
        FROM orders),
      tagged AS (
        SELECT *, concat_ws(',',
          CASE WHEN NOT (p > 0) THEN 'positive_price' END,
          CASE WHEN st NOT IN ('O', 'F', 'P') THEN 'known_status' END)
          AS failed
        FROM src)
      SELECT 'clean' AS side, o_orderpriority AS key, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("p")}) AS BIGINT) AS sum_cents,
             true AS fail_refuses, true AS atomic_marker
      FROM tagged WHERE failed = '' GROUP BY 2
      UNION ALL
      SELECT 'reject', failed, COUNT(*),
             CAST(SUM(${Num.sqlCents("p")}) AS BIGINT), true, true
      FROM tagged WHERE failed <> '' GROUP BY 2""")),
    QueryDef("q288_replace_where_sql", replaceWhereSql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney(
               """o_totalprice + CASE WHEN o_orderpriority = '1-URGENT'
                  THEN 10 ELSE 0 END""")} AS sum_price,
             true AS guard_refuses, true AS single_commit
      FROM orders GROUP BY 1""")),
    QueryDef("q287_constraint_sql", constraintSql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS append_refused, true AS violated_add_refused,
             true AS history_carries
      FROM orders GROUP BY 1""")),
    QueryDef("q284_add_column_sql", addColumnSql, Some(s"""
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'none'
                  WHEN o_orderkey % 3 = 0 THEN 'web'
                  ELSE 'store' END AS chan,
             CAST(CASE WHEN o_orderkey % 2 = 0 THEN 7 ELSE 2 END
               AS BIGINT) AS bonus,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS history_intact
      FROM orders GROUP BY 1, 2""")),
    QueryDef("q278_alter_column_sql", alterColumnSql, Some(s"""
      SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END
               AS o_channel,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS history_intact, true AS drop_gone
      FROM orders GROUP BY 1""")),
    QueryDef("q237_equality_delete", equalityDelete, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round((CASE WHEN o_orderkey % 10 = 0
                 THEN o_totalprice + 1000 ELSE o_totalprice END) * 100)
               AS BIGINT)) AS BIGINT) AS sum_cents,
             true AS no_scan_commit, true AS mid_suppressed,
             true AS reinsert_survives, true AS clone_under_debt,
             true AS materialize_lossless, true AS eq_cleared,
             true AS clone_after_ok
      FROM orders WHERE o_orderkey % 2 = 0
      GROUP BY 1""")),
    QueryDef("q318_copy_into_sql", copyIntoSql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS first_loads, true AS incremental_only,
             true AS noop_on_replay
      FROM orders
      GROUP BY 1""")),
    QueryDef("q319_describe_history_sql", describeHistorySql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS versions_exact, true AS ops_exact,
             true AS matches_log, true AS counts_from_log,
             true AS same_as_api
      FROM orders
      GROUP BY 1""")),
    QueryDef("q315_show_create_table", showCreateRoundTrip, Some(s"""
      SELECT CASE WHEN o_totalprice < 150000 THEN 'low' ELSE 'high' END
               AS band,
             COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS ddl_round_trips, true AS recreated_surface_live,
             true AS describe_serves
      FROM orders
      GROUP BY 1""")),
    QueryDef("q314_write_side_generated", writeSideGenerated, Some(s"""
      WITH o AS (SELECT o_orderkey, o_totalprice,
               CASE WHEN o_totalprice < 150000 THEN 'low' ELSE 'high' END
                 AS value_band
             FROM orders),
      dup AS (SELECT * FROM o WHERE o_orderkey % 2 = 1
              ORDER BY o_orderkey LIMIT 3),
      allr AS (SELECT * FROM o UNION ALL SELECT * FROM dup),
      ids AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
              WHERE doc_id % 3 <= 1)
      SELECT value_band, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS write_materializes, true AS violation_refused,
             CAST(1 AS BIGINT) AS id_min,
             (SELECT n FROM ids) AS id_max,
             CAST((SELECT (n * (n + 1)) // 2 FROM ids) AS BIGINT)
               AS id_sum,
             true AS ids_unique, true AS explicit_id_refused
      FROM allr
      GROUP BY 1""")),
    QueryDef("q247_generated_columns", generatedColumns, Some(s"""
      SELECT CASE WHEN o_orderkey % 2 = 1 AND o_orderkey % 1000 = 1
                  THEN 'manual'
                  WHEN o_totalprice < 150000 THEN 'low'
                  ELSE 'high' END AS value_band,
             COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS generated_fills, true AS stored_kept,
             true AS travel_null
      FROM orders
      GROUP BY 1""")),
    QueryDef("q245_column_defaults", columnDefaults, Some(s"""
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 7
                  ELSE o_orderkey % 3 END AS loyalty_tier,
             COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS default_fills, true AS values_kept,
             true AS travel_null, true AS rename_follows,
             true AS sql_serves
      FROM orders
      GROUP BY 1""")),
    QueryDef("q244_optimize_where", optimizeWhereScoped, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS cold_untouched, true AS hot_compacted,
             true AS pruning_kept
      FROM orders
      GROUP BY 1""")),
    QueryDef("q242_eq_delete_rename", eqDeleteRename, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS chain_resolved, true AS feed_under_current_name,
             true AS materialize_lossless, true AS eq_cleared
      FROM orders
      WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0
      GROUP BY 1""")),
    QueryDef("q248_detail_metadata", detailMetadataTable, Some("""
      SELECT 5 AS version, 'set-default' AS op,
             5 AS n_files, 2 AS n_manifests, 0 AS n_deletes,
             (SELECT COUNT(*) FROM orders) AS row_count,
             'bucket(4,o_custkey)' AS partition_spec,
             1 AS n_constraints, 1 AS n_defaults,
             0 AS n_renames, 0 AS n_drops,
             1 AS n_tags, 1 AS n_branches""")),
    QueryDef("q249_partitions_metadata", partitionsMetadataTable, Some("""
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             COUNT(*) AS row_count,
             true AS null_bucket_exact, true AS files_bounded,
             true AS counts_exact
      FROM orders
      WHERE NOT (o_orderkey % 2 = 1 AND o_orderkey % 1000 = 7)
      GROUP BY 1""")),
    QueryDef("q265_or_pruning", orPruning, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS or_pruned, true AS cross_column_or_pruned,
             true AS residual_unpruned
      FROM orders
      WHERE o_totalprice < 50000 OR o_totalprice >= 200000
      GROUP BY 1""")),
    QueryDef("q262_zorder_sql", zorderSql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS statement_ran, true AS prunes_custkey,
             true AS prunes_orderkey
      FROM orders
      WHERE o_custkey <= (SELECT MAX(o_custkey) // 4 FROM orders)
      GROUP BY 1""")),
    QueryDef("q263_vacuum_dry_run", vacuumDryRunSql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS forecast_nonempty, true AS nothing_deleted,
             true AS forecast_exact, true AS live_intact
      FROM orders
      GROUP BY 1""")),
    QueryDef("q261_declared_stats_columns", declaredStatsColumns, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS stats_recorded, true AS declared_stats_prune
      FROM orders
      WHERE o_totalprice >= 200000
      GROUP BY 1""")),
    QueryDef("q260_metadata_minmax_typed", metadataMinMaxTyped, Some("""
      SELECT COUNT(*) AS n_rows,
             MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
             MIN(o_orderpriority) AS min_prio,
             true AS metadata_only, true AS string_declines
      FROM orders""")),
    QueryDef("q259_in_null_pruning", inNullPruning, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS in_pruned, true AS isnull_pruned,
             true AS isnotnull_pruned
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      GROUP BY 1""")),
    QueryDef("q258_string_stats_pruning", stringStatsPruning, Some("""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             true AS eq_pruned, true AS range_pruned
      FROM documents
      WHERE lang >= 'es'
      GROUP BY 1""")),
    QueryDef("q257_properties_metadata", propertiesMetadataTable, Some("""
      SELECT * FROM (VALUES
        ('team', 'ml-platform', true),
        ('pipeline', 'ingest-v2', true),
        ('retention.policy', '30d', true))
        AS t(key, value, versioned)""")),
    QueryDef("q255_maintain_policy", maintainPolicy, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS noop_without_policy, true AS all_actions,
             true AS compacted_folded, true AS vacuumed,
             true AS second_run_minimal
      FROM orders
      WHERE year(o_orderdate) BETWEEN 1995 AND 2002
      GROUP BY 1""")),
    QueryDef("q254_result_cache", resultCacheServing, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS served_from_cache, true AS single_entry,
             true AS commit_invalidates, true AS swept_recomputes
      FROM orders
      GROUP BY 1""")),
    QueryDef("q253_group_transaction", groupTransaction, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS atomic_visible, true AS main_isolated,
             true AS rollforward_heals, true AS branches_reclaimed
      FROM orders
      GROUP BY 1""")),
    QueryDef("q252_auto_compact", autoCompact, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS props_via_sql, true AS bounded_files,
             true AS auto_compacted, true AS unset_stops
      FROM orders
      GROUP BY 1""")),
    QueryDef("q250_copy_into", copyIntoIdempotent, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS incremental_only, true AS noop_on_replay,
             true AS ledger_exact
      FROM orders
      GROUP BY 1""")),
    QueryDef("q241_refs_metadata", refsMetadataTable, Some("""
      SELECT * FROM (VALUES
        ('main', 'branch', 2, true),
        ('exp', 'branch', 3, true),
        ('train-v1', 'tag', 1, true),
        ('train-v2', 'tag', 2, true))
        AS t(ref_name, ref_type, version, travel_targets_resolve)""")),
    QueryDef("q238_branch_wap", branchWap, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS main_isolated, true AS branch_visible,
             true AS published_exact, true AS zero_copy,
             true AS history_ok, true AS stale_refused
      FROM orders
      WHERE (o_orderkey % 2 = 0
         OR (o_orderkey % 2 = 1 AND o_orderkey % 3 = 0))
        AND o_totalprice >= 10000
      GROUP BY 1""")),
    QueryDef("q236_version_as_of_tag", versionAsOfTag, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS latest_is_all, true AS bad_ref_refused
      FROM orders WHERE o_orderkey % 2 = 0
      GROUP BY 1""")),
    QueryDef("q234_rewrite_manifests", manifestRewrite, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS one_manifest, true AS files_identical,
             true AS stats_preserved, true AS count_from_log,
             true AS travel_intact
      FROM orders
      GROUP BY 1""")),
    QueryDef("q235_retention_delete", retentionDelete, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS full_dropped, true AS drops_proven,
             true AS tombstones_bounded, true AS nulls_kept,
             true AS travel_intact
      FROM orders
      WHERE o_orderkey % 1000 = 7
         OR o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1""")),
    QueryDef("q229_row_tracking", rowTracking, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS stable_under_delete, true AS stable_under_optimize,
             true AS hidden_from_reads, true AS sql_hidden,
             true AS ids_unique
      FROM orders
      WHERE ((o_orderkey % 2 = 0 OR o_orderkey % 4 = 1)
             AND o_orderkey % 10 <> 0) OR o_orderkey % 4 = 3
      GROUP BY 1""")),
    QueryDef("q230_cherry_pick", cherryPickBranch, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS out_of_order_refused, true AS in_order_applied,
             true AS zero_copy, true AS divergence_kept
      FROM orders
      WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 3 OR o_orderkey % 8 = 5
      GROUP BY 1""")),
    QueryDef("q228_add_files", addFilesAdoption, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS metadata_count, true AS stats_prune,
             true AS travel_intact, true AS no_copies,
             true AS bytes_untouched
      FROM orders WHERE o_orderkey % 10 <> 0
      GROUP BY 1""")),
    QueryDef("q227_partition_evolution", partitionSpecEvolution, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             (SELECT count(*) FROM orders
              WHERE o_custkey = (SELECT min(o_custkey) FROM orders))
               AS point_rows,
             true AS spec_evolved, true AS metadata_only,
             true AS new_clustered, true AS old_kept,
             true AS date_pruned, true AS bucket_pruned
      FROM orders WHERE o_orderdate >= DATE '2000-01-01'
      GROUP BY 1""")),
    QueryDef("q226_hidden_partitioning_sql", hiddenPartitioningSql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             (SELECT count(*) FROM orders
              WHERE o_custkey = (SELECT min(o_custkey) FROM orders))
               AS sql_point_rows,
             true AS spec_persisted, true AS insert_clustered,
             true AS scan_pruned, true AS eq_pruned
      FROM orders WHERE o_orderdate >= DATE '2000-01-01'
      GROUP BY 1""")),
    QueryDef("q225_hidden_partitioning", hiddenPartitioning, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             (SELECT count(*) FROM orders
              WHERE o_custkey = (SELECT min(o_custkey) FROM orders))
               AS point_rows,
             (SELECT count(*) FROM orders
              WHERE o_custkey = (SELECT min(o_custkey) FROM orders))
               AS sql_point_rows,
             true AS scan_pruned, true AS eq_pruned, true AS api_pruned
      FROM orders WHERE o_orderdate >= DATE '2000-01-01'
      GROUP BY 1""")),
    QueryDef("q224_date_stats_pruning", dateStatsPruning, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS scan_pruned, true AS api_pruned, true AS unpruned_ok
      FROM orders WHERE o_orderdate >= DATE '1997-01-01'
      GROUP BY 1""")),
    QueryDef("q223_wap_branch", wapBranch, Some(s"""
      WITH m AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 5.0
                    ELSE o_totalprice END AS p
        FROM orders)
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("p")}) AS BIGINT) AS sum_cents,
             true AS main_isolated, true AS published_exact,
             true AS history_ok, true AS zero_copy
      FROM m WHERE p >= 20000 GROUP BY 1""")),
    QueryDef("q221_version_tags", versionTags, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS tag_survives, true AS v2_gone,
             true AS latest_intact, true AS reclaimed_after_drop
      FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1""")),
    QueryDef("q219_sql_maintenance", sqlMaintenance, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS files_local, true AS v1_gone, true AS src_intact
      FROM orders
      WHERE o_orderkey % 2 = 0 AND o_orderkey % 4 <> 0
      GROUP BY 1""")),
    QueryDef("q214_optimize_deletes", optimizeDeletesLake, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS hot_rewritten, true AS tombs_scoped,
             true AS history_intact
      FROM orders
      WHERE o_orderkey % 4 <> 0 AND o_orderkey % 10 <> 1
      GROUP BY 1""")),
    QueryDef("q209_shallow_clone", shallowCloneLake, Some(s"""
      SELECT 'clone_v1' AS part, COUNT(*) AS n_rows,
             CAST(0 AS BIGINT) AS n_upd,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS zero_copy, true AS vacuum_safe
      FROM orders WHERE o_orderkey % 5 <> 0
      UNION ALL
      SELECT 'clone_v2', COUNT(*),
             COUNT(CASE WHEN o_totalprice < 50000 THEN 1 END),
             ${Num.sqlSumMoney("o_totalprice")}, true, true
      FROM orders WHERE o_orderkey % 5 <> 0
      UNION ALL
      SELECT 'src_latest', COUNT(*), CAST(0 AS BIGINT),
             ${Num.sqlSumMoney("o_totalprice")}, true, true
      FROM orders""")),
    QueryDef("q210_merge_schema_evolution", mergeSchemaEvolution, Some(s"""
      WITH ch AS (
        SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal,
               CASE WHEN c_acctbal + 100.0 >= 1000.0
                    THEN 'gold' ELSE 'std' END AS c_tier
        FROM customer WHERE c_custkey % 10 < 2),
      v2 AS (
        SELECT c_acctbal, CAST(NULL AS VARCHAR) AS c_tier
        FROM customer WHERE c_custkey % 10 >= 2
        UNION ALL SELECT c_acctbal, c_tier FROM ch)
      SELECT 'v2' AS part, COALESCE(c_tier, 'none') AS tier,
             COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("c_acctbal")}) AS BIGINT) AS sum_cents,
             true AS v1_no_tier
      FROM v2 GROUP BY 2
      UNION ALL
      SELECT 'cdf_delete', 'none', COUNT(*),
             CAST(SUM(${Num.sqlCents("c_acctbal")}) AS BIGINT), true
      FROM customer WHERE c_custkey % 10 < 2
      UNION ALL
      SELECT 'cdf_insert', c_tier, COUNT(*),
             CAST(SUM(${Num.sqlCents("c_acctbal")}) AS BIGINT), true
      FROM ch GROUP BY 2""")),
    QueryDef("q206_stats_pruned_sql", statsPrunedSql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS scan_pruned, true AS unprunable_unpruned
      FROM orders WHERE o_totalprice >= 200000 GROUP BY 1""")),
    QueryDef("q205_check_constraints", checkConstraints, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS violation_refused, true AS impossible_add_refused,
             true AS ops_ok
      FROM orders GROUP BY 1""")),
    QueryDef("q204_metadata_minmax", metadataMinMax, Some("""
      SELECT COUNT(*) AS n_rows, MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price,
             (SELECT MIN(o_orderdate) FROM orders) AS min_date,
             true AS metadata_only, true AS unstated_scans
      FROM orders""")),
    QueryDef("q203_vacuum_lifecycle", vacuumLifecycle, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS v1_gone, true AS v2_intact, true AS files_shrunk
      FROM orders
      WHERE o_totalprice >= 100000
         OR (o_totalprice < 100000 AND o_orderkey % 7 = 0)
      GROUP BY 1""")),
    QueryDef("q200_metadata_tables", metadataTables, Some("""
      WITH c AS (SELECT
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS evens,
        (SELECT COUNT(*) FROM orders) AS total,
        (SELECT COUNT(*) FROM orders WHERE o_totalprice >= 100000) AS rich)
      SELECT 1 AS version, 'append' AS op, false AS has_deletes,
             evens AS row_count FROM c
      UNION ALL SELECT 2, 'append', false, total FROM c
      UNION ALL SELECT 3, 'delete', true, CAST(-1 AS BIGINT) FROM c
      UNION ALL SELECT 4, 'restore', false, total FROM c
      UNION ALL SELECT 5, 'overwrite', false, rich FROM c
      UNION ALL SELECT 0, 'files', false, rich FROM c""")),
    QueryDef("q199_metadata_count", metadataCount, Some("""
      SELECT 'v3_live' AS part, COUNT(*) AS n_rows,
             true AS metadata_only, true AS filtered_scans FROM orders
      UNION ALL
      SELECT 'v1', COUNT(*), true, true FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT 'v2', COUNT(*), true, true FROM orders WHERE o_orderkey % 3 <= 1
      UNION ALL
      SELECT 'filtered_scan', COUNT(*), true, true FROM orders
      WHERE o_orderkey % 2 = 0""")),
    QueryDef("q197_sql_ctas", sqlCtas, Some(s"""
      SELECT 'replaced' AS part, o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS two_versions
      FROM orders WHERE o_totalprice >= 100000 GROUP BY 2
      UNION ALL
      SELECT 'v1_created' AS part, o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS two_versions
      FROM orders WHERE o_totalprice < 100000 GROUP BY 2""")),
    QueryDef("q196_sql_insert", sqlInsert, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS three_versions
      FROM orders WHERE o_totalprice >= 50000
      GROUP BY 1""")),
    QueryDef("q192_column_drop", columnDrop, Some(s"""
      SELECT 'v1_below_drop' AS part, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey % 100) AS BIGINT) AS sum_units,
             true AS has_units
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'v2_dropped', COUNT(*), CAST(0 AS BIGINT), false
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'v3_readded', COUNT(*),
             CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey % 7
                      ELSE 0 END) AS BIGINT),
             true
      FROM orders""")),
    QueryDef("q191_sql_dml", sqlDml, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("v")} AS sum_price,
             true AS four_versions
      FROM (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 8 = 0 OR o_orderkey % 4 = 1
                    THEN o_totalprice + 7
                    ELSE o_totalprice +
                      CASE WHEN o_totalprice < 50000 THEN 100000 ELSE 0 END
               END AS v,
               (o_orderkey % 8 = 0 OR o_orderkey % 4 = 1 OR
                o_totalprice +
                  CASE WHEN o_totalprice < 50000 THEN 100000 ELSE 0 END
                  <= 250000) AS keep
        FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1)
      WHERE keep GROUP BY 1""")),
    QueryDef("q190_snapshot_sql_mor", snapshotSqlMor, Some(s"""
      SELECT 'latest' AS part, o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("adj")} AS sum_price
      FROM (
        SELECT o_orderpriority,
               o_totalprice +
                 CASE WHEN o_orderkey % 4 <= 1 THEN 2 ELSE 0 END AS adj
        FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1)
      WHERE adj >= 30000
      GROUP BY 2
      UNION ALL
      SELECT 'v2', o_orderpriority, COUNT(*), ${Num.sqlSumMoney("adj")}
      FROM (
        SELECT o_orderpriority,
               o_totalprice +
                 CASE WHEN o_orderkey % 4 <= 1 THEN 2 ELSE 0 END AS adj
        FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1)
      GROUP BY 2""")),
    QueryDef("q189_cdc_replication", cdcReplication, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("adj")} AS sum_price,
             true AS in_sync
      FROM (
        SELECT o_orderpriority,
               o_totalprice + CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END
                 AS adj
        FROM orders
        WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1)
      WHERE adj >= 30000
      GROUP BY 1""")),
    QueryDef("q182_timestamp_as_of", timestampAsOf, Some(s"""
      SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS resolution_ok
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT CAST(2 AS BIGINT), COUNT(*), ${Num.sqlSumMoney("o_totalprice")},
             true
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
      UNION ALL
      SELECT CAST(3 AS BIGINT), COUNT(*), ${Num.sqlSumMoney("o_totalprice")},
             true
      FROM orders""")),
    QueryDef("q181_restore_version", restoreVersion, Some(s"""
      SELECT 'restored' AS part, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'pre_restore', COUNT(*),
             ${Num.sqlSumMoney(
        "o_totalprice + CASE WHEN o_totalprice >= 200000 THEN 1 ELSE 0 END")}
      FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice >= 50000
      UNION ALL
      -- healing deletes: the update-delta rows (new values) drop out
      SELECT 'cdf_delete', COUNT(*), ${Num.sqlSumMoney("o_totalprice + 1")}
      FROM orders
      WHERE o_orderkey % 2 = 0 AND o_totalprice >= 200000
      UNION ALL
      -- resurrection inserts: rows deleted at v2 (original values) plus
      -- the pre-update images of the updated rows
      SELECT 'cdf_insert', COUNT(*), ${Num.sqlSumMoney("o_totalprice")}
      FROM orders
      WHERE o_orderkey % 2 = 0
        AND (o_totalprice < 50000 OR o_totalprice >= 200000)""")),
    QueryDef("q179_snapshot_sql_catalog", snapshotSqlCatalog, Some(s"""
      SELECT 'v1' AS part, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'latest_' || CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
                               WHEN o_orderkey % 3 = 0 THEN 'web'
                               ELSE 'store' END,
             COUNT(*), ${Num.sqlSumMoney("o_totalprice")}
      FROM orders GROUP BY 1""")),
    QueryDef("q246_zorder_multi", zorderMulti, Some(s"""
      SELECT o_orderpriority,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS prunes_all_axes
      FROM orders
      WHERE o_orderkey >= 1
        AND o_orderkey <= (SELECT max(o_orderkey) // 4 FROM orders)
      GROUP BY 1""")),
    QueryDef("q178_zorder_optimize", zorderOptimize, Some(s"""
      SELECT o_orderpriority,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS zorder_prunes_both
      FROM orders
      WHERE o_custkey >= 1
        AND o_custkey <= (SELECT max(o_custkey) // 4 FROM orders)
      GROUP BY 1""")),
    QueryDef("q176_predicate_update", predicateUpdate, Some(s"""
      SELECT 'v1' AS part, COUNT(*) AS n_rows, CAST(0 AS BIGINT) AS n_upd,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'v2', COUNT(*),
             COUNT(CASE WHEN o_totalprice < 50000 THEN 1 END),
             ${Num.sqlSumMoney(
        "o_totalprice + CASE WHEN o_totalprice < 50000 THEN 100000 ELSE 0 END")}
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 'cdf_delete', COUNT(*), CAST(0 AS BIGINT),
             ${Num.sqlSumMoney("o_totalprice")}
      FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice < 50000
      UNION ALL
      SELECT 'cdf_insert', COUNT(*), COUNT(*),
             ${Num.sqlSumMoney("o_totalprice + 100000")}
      FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice < 50000""")),
    QueryDef("q175_bloom_point_lookup", bloomPointLookup, Some("""
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             true AS files_pruned
      FROM orders WHERE o_orderkey IN (1, 2, 3)""")),
    QueryDef("q173_small_file_optimize", smallFileOptimize, Some(s"""
      SELECT o_orderpriority,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS layout_ok
      FROM orders
      WHERE (o_orderkey % 2 = 0 AND o_totalprice >= 30000)
         OR o_orderkey % 8 IN (1, 3, 5)
      GROUP BY 1""")),
    QueryDef("q171_column_rename", columnRename, Some(s"""
      SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END
               AS o_channel,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS v1_keeps_old_name
      FROM orders GROUP BY 1""")),
    QueryDef("q169_predicate_delete", predicateDelete, Some(s"""
      SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice >= 50000
      UNION ALL
      SELECT CAST(3 AS BIGINT), COUNT(*),
             ${Num.sqlSumMoney(
        "o_totalprice + CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END")}
      FROM orders
      WHERE (o_orderkey % 4 = 2 AND o_totalprice >= 50000)
         OR o_orderkey % 4 = 0""")),
    QueryDef("q165_log_stats_pruning", logStatsPruning, Some(s"""
      SELECT o_orderpriority,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price,
             true AS files_pruned
      FROM orders
      WHERE o_totalprice >= 50000 AND o_totalprice <= 150000
      GROUP BY 1""")),
    QueryDef("q164_type_widening", typeWidening, Some("""
      SELECT CAST(1 AS BIGINT) AS version, 'int' AS units_type,
             COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey % 100) AS BIGINT) AS sum_units
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'bigint', COUNT(*),
             CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 100
                      ELSE o_orderkey % 100 + 10000000000 END) AS BIGINT)
      FROM orders""")),
    QueryDef("q266_table_changes_tvf", tableChangesTvf, Some(s"""
      SELECT 'insert' AS _change_type, o_orderpriority,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice + 2")} AS sum_price,
             true AS tvf_equals_api, true AS ref_args_resolve,
             true AS bad_catalog_loud
      FROM orders WHERE o_orderkey % 8 <= 1
      GROUP BY 2
      UNION ALL
      SELECT 'delete', o_orderpriority, COUNT(*),
             ${Num.sqlSumMoney(
        "o_totalprice + CASE WHEN o_orderkey % 8 = 0 THEN 1 ELSE 0 END")},
             true, true, true
      FROM orders WHERE o_orderkey % 8 <= 1
      GROUP BY 2""")),
    QueryDef("q273_table_changes_by_timestamp", tableChangesByTimestamp,
      Some(s"""
      SELECT 'insert' AS _change_type, o_orderpriority,
             COUNT(*) AS n_rows, ${Num.sqlSumMoney("o_totalprice")}
               AS sum_price,
             true AS ts_equals_version_args, true AS mixed_args_ok,
             true AS boundary_excludes_later_dml
      FROM orders WHERE o_orderkey % 3 IN (1, 2)
      GROUP BY 1, 2""")),
    QueryDef("q272_struct_leaf_pruning", structLeafPruning, Some("""
      SELECT event_id, user_id % 200 AS uid, event_type AS seg,
             "value" AS v, true AS leaf_pruned
      FROM events
      WHERE (user_id % 200) BETWEEN 50 AND 99 AND event_type = 'click'""")),
    QueryDef("q269_bloom_sql_pruning", bloomSqlPruning, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS bloom_pruned, true AS absent_zero
      FROM orders
      WHERE o_custkey = (SELECT MAX(CASE WHEN o_custkey % 4 = 1
                                    THEN o_custkey END) FROM orders)
      GROUP BY 1""")),
    QueryDef("q268_restore_sql", restoreSql, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_rows,
             CAST(SUM(${Num.sqlCents("o_totalprice")}) AS BIGINT)
               AS sum_cents,
             true AS show_serves, true AS restored_by_tag,
             true AS history_intact
      FROM orders
      WHERE o_orderkey % 2 = 0
      GROUP BY 1""")),
    QueryDef("q267_manifests_metadata", manifestsMetadataTable, Some("""
      SELECT 1 AS n_files, COUNT(*) AS n_rows,
             true AS ids_unique, true AS fold_visible
      FROM orders
      WHERE year(o_orderdate) BETWEEN 1995 AND 2001
      GROUP BY year(o_orderdate)""")),
    QueryDef("q163_change_feed", changeFeed, Some(s"""
      SELECT 'insert' AS _change_type, o_orderpriority,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice + 2")} AS sum_price
      FROM orders WHERE o_orderkey % 8 <= 1
      GROUP BY 2
      UNION ALL
      SELECT 'delete', o_orderpriority, COUNT(*),
             ${Num.sqlSumMoney(
        "o_totalprice + CASE WHEN o_orderkey % 8 = 0 THEN 1 ELSE 0 END")}
      FROM orders WHERE o_orderkey % 8 <= 1
      GROUP BY 2""")),
    QueryDef("q157_schema_evolution", schemaEvolution, Some(s"""
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
                  WHEN o_orderkey % 3 = 0 THEN 'web'
                  ELSE 'store' END AS channel,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM orders GROUP BY 1""")),
    QueryDef("q155_merge_on_read", mergeOnRead, Some(s"""
      SELECT o_orderpriority,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney(
        """o_totalprice + CASE
             WHEN o_orderkey % 8 <= 1 THEN 2
             WHEN o_orderkey % 8 = 4 THEN 1
             ELSE 0 END""")} AS sum_price
      FROM orders
      WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1
      GROUP BY 1""")),
    QueryDef("q154_time_travel", timeTravelRead, Some(s"""
      SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT CAST(2 AS BIGINT), COUNT(*), ${Num.sqlSumMoney("o_totalprice")}
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
      UNION ALL
      SELECT CAST(3 AS BIGINT), COUNT(*), ${Num.sqlSumMoney("o_totalprice")}
      FROM orders WHERE o_orderkey % 3 = 2""")),
    QueryDef("q153_deletion_vectors", deletionVectorRead, Some(s"""
      SELECT o_orderpriority,
             COUNT(*) AS n_rows,
             ${Num.sqlSumMoney("o_totalprice")} AS sum_price
      FROM orders
      WHERE NOT (o_orderstatus = 'O' AND o_totalprice < 50000)
        AND NOT (o_totalprice < 20000)
      GROUP BY 1""")),
    QueryDef("q147_global_row_ids", globalRowIds, Some("""
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rid
      FROM documents""")),
    QueryDef("q148_table_fingerprint", tableFingerprint, Some(s"""
      SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
               % $FingerprintBuckets AS bucket,
             COUNT(*) AS n_rows,
             bit_xor(('0x' || substr(md5($fpRowStr), 1, 15))::BIGINT)
               AS xor_digest,
             CAST(SUM(('0x' || substr(md5($fpRowStr), 1, 15))::BIGINT)
               % $DigestMod AS BIGINT) AS sum_digest
      FROM orders GROUP BY 1""")))
}
