package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Behaviors that matter at cluster scale, demonstrated locally. */
class ScaleSpecs extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("full-sync merge: every write-path join broadcasts, live side never sort-merges") {
    // q243's scale contract, captured from the ACTUAL write-path plans
    // via a QueryExecutionListener: the matched inner join, the
    // not-matched anti join and the by-source anti join must all
    // consume the live scan with a BROADCAST hash join — a sort-merge
    // would shuffle the full table on the merge keys per statement,
    // and at 100 TB the CDC batch is always the broadcastable side.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val table = java.nio.file.Files.createTempDirectory("graft_mwplan_")
      .toString + "/t"
    val orders = Tables(spark, dir, "orders")
    graft.lake.Snapshots.append(spark, table, orders)
    spark.listenerManager.register(listener)
    try {
      val src = orders.filter(col("o_orderkey") % 10 < 7)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      graft.lake.Snapshots.mergeWhen(spark, table, src, Seq("o_orderkey"),
        Seq(graft.lake.Snapshots.WhenMatchedUpdate(),
          graft.lake.Snapshots.WhenNotMatchedInsert(),
          graft.lake.Snapshots.WhenNotMatchedBySourceDelete()))
      // the listener bus is asynchronous: drain it so every join plan
      // (tombstone writes + staged rows) has been delivered
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext)
      val jp = (0 until plans.size).map(plans.get)
        .filter(p => p.contains("Join"))
      assert(jp.nonEmpty, "no join plans captured from the merge")
      jp.foreach { p =>
        assert(!p.contains("SortMergeJoin"),
          s"merge write path sort-merged:\n${p.take(2500)}")
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"merge write path went non-equi:\n${p.take(2500)}")
      }
      assert(jp.exists(p => p.contains("LeftAnti")),
        "expected at least one anti-join (insert routing / by-source)")
    } finally {
      spark.listenerManager.unregister(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(table).getParentFile)
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val wh = "/tmp/graft_buckets_wh"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_buckets LOCATION '$wh'")
    Tables(spark, dir, "lineitem").write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_buckets.li")
    Tables(spark, dir, "orders").write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_buckets.ord")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_buckets.li")
        .join(spark.table("graft_buckets.ord"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must consume bucketed scans directly — the only
      // exchange allowed is the final single-key aggregation
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_buckets.li")
      spark.sql("DROP TABLE IF EXISTS graft_buckets.ord")
    }
  }

  test("ORC and JSON sinks round-trip the fact schema") {
    val src = Tables(spark, dir, "orders").limit(100)
    val base = java.nio.file.Files.createTempDirectory("graft_fmt_").toString
    src.write.mode("overwrite").orc(s"$base/orc")
    src.write.mode("overwrite").json(s"$base/json")
    val orc = spark.read.orc(s"$base/orc")
    assert(orc.count() == 100 && orc.columns.sameElements(src.columns))
    val json = spark.read.json(s"$base/json")
    assert(json.count() == 100)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("HLL sketches built per group merge to the union estimate") {
    // the 100 TB distinct-count pattern: build sketches once per
    // shard/partition, merge the fixed-size binaries, estimate — no
    // re-scan of raw data for the rollup
    val li = Tables(spark, dir, "lineitem")
    val perFlag = li.groupBy("l_returnflag")
      .agg(hll_sketch_agg(col("l_orderkey")).as("sk"))
    val merged = perFlag
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect()(0).getLong(0)
    val exact = li.agg(countDistinct(col("l_orderkey"))).collect()(0).getLong(0)
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"merged=$merged exact=$exact")
  }

  test("approx_count_distinct tracks exact distinct within HLL tolerance") {
    val li = Tables(spark, dir, "lineitem")
    val row = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey")).as("approx"),
      approx_count_distinct(col("l_orderkey"), 0.01).as("approx_tight"))
      .collect()(0)
    val exact = row.getLong(0).toDouble
    assert(math.abs(row.getLong(1) - exact) / exact < 0.10)
    assert(math.abs(row.getLong(2) - exact) / exact < 0.03)
  }

  test("contamination check broadcasts the benchmark side, never the corpus") {
    val df = DedupQueries.contamination(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the corpus reaches the join without being shuffled on the join key:
    // the benchmark side (after its own tiny distinct) is broadcast, so
    // no sort-merge join materializes over the corpus
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("token packing shuffles on the shard key, not a global ordering") {
    val df = TextQueries.tokenPacking(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // per-shard window: hash partitioning on shard, no single-partition
    // global sort (Exchange SinglePartition feeding a Window)
    assert(plan.contains("Exchange hashpartitioning(shard"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("as-of join shuffles each side exactly once (dedup window reuses the key partitioning)") {
    // latestPerKeyTime partitions its window by the key ALONE so its
    // output satisfies AsOfJoinExec's clustering without a second
    // exchange — a regression to (key, time) partitioning doubles the
    // right side's shuffles
    val df = AnalyticsQueries.asOfClickViewStrict(spark, dir)
    df.collect()
    // adaptive plans print Final AND Initial sections — count the final only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n${plan.take(3000)}")
  }

  test("dedup survivors broadcast the cluster labels onto a single corpus scan") {
    val df = DedupQueries.dedupSurvivors(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the label relation (only docs in some verified pair) is tiny
    // relative to the corpus: it must broadcast, never shuffle the corpus
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("deterministic shuffle orders within shards, never range-partitions globally") {
    val df = TextQueries.deterministicShuffle(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(shard"), plan.take(2000))
    // a global ORDER BY would appear as a rangepartitioning exchange —
    // the single-partition serialization the op exists to avoid
    assert(!plan.contains("rangepartitioning"), plan.take(2000))
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2000))
  }

  test("deterministic shuffle shard count scales with corpus size") {
    import graft.queries.TextQueries.{scaledShardCount, scaledShardCountRows}
    // small corpora use the floor; above it, per-shard sort work stays
    // bounded at targetShardBytes — shard count grows linearly with bytes
    // instead of a fixed constant capping parallelism at 100×
    assert(scaledShardCount(0L) == 16)
    assert(scaledShardCount(1L << 30) == 16) // 1 GiB: floor still binding
    assert(scaledShardCount(16L << 30) == 64) // 16 GiB / 256 MiB
    assert(scaledShardCount(100L << 40) == 409600) // 100 TiB / 256 MiB
    // monotone: a bigger corpus never gets fewer shards
    val ladder = Seq(1L, 1L << 30, 1L << 35, 1L << 40, 100L << 40)
      .map(scaledShardCount(_))
    assert(ladder == ladder.sorted)
    // the row-count ladder (the deterministicShuffle default): stable
    // across environments — unlike byte stats, which shift with codec —
    // and sized to the projected (hv, doc_id) sort, not corpus bytes
    assert(scaledShardCountRows(0L) == 16)
    assert(scaledShardCountRows(10L * 1000 * 1000) == 16) // floor binding
    assert(scaledShardCountRows(10L * 1000 * 1000 * 1000) == 2500) // 1e10 docs
    val rowLadder = Seq(1L, 1L << 20, 1L << 30, 1L << 34)
      .map(scaledShardCountRows(_))
    assert(rowLadder == rowLadder.sorted)
    // the no-arg form derives the count from row count and still plans a
    // hash exchange (asserted in the plan test above); at sf0.001 the row
    // count sits under the floor, so the default equals it
    val df = TextQueries.deterministicShuffle(spark, dir)
    val shards = df.select(countDistinct(col("shard"))).collect()(0).getLong(0)
    assert(shards == 16L, s"expected floor 16 shards, got $shards")
  }

  test("rare-bigram rarity reuses the corpus scan between counts and probe") {
    // the count rollup and the join probe both consume the persisted
    // (doc, bigram) tf relation: the executed plan must read it from
    // cache on both branches, never scan+tokenize the corpus twice
    spark.catalog.clearCache()
    val df = TextQueries.rareBigramRate(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan"), plan.take(3000))
    assert("FileScan parquet".r.findAllIn(plan).size <= 1, plan.take(3000))
    spark.catalog.clearCache()
  }

  test("SQ8 search broadcasts the query set and never shuffles the corpus") {
    // q83's corpus side is the dequantized projection over the scan; the
    // only join is against the broadcast ~20-row query set — any
    // hashpartitioning exchange on the corpus would mean a 100 TB shuffle
    val df = SimilarityQueries.sq8TopK(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // quantization codes are integers in [0, 255] and runs are identical
    val q82a = SimilarityQueries.int8Quantize(spark, dir)
      .collect().map(_.toString).sorted
    val q82b = SimilarityQueries.int8Quantize(spark, dir)
      .collect().map(_.toString).sorted
    assert(q82a.sameElements(q82b))
  }

  test("IVF-SQ8 keeps q39's plan shape and at least its recall") {
    // q88 = q39's cells over q83's codes: the searched corpus is the
    // dequantized projection over the scan; the probe join must consume
    // the broadcast (query × probed-cell) side — a hashpartitioning
    // exchange on the corpus would be the 100 TB shuffle the design
    // exists to avoid
    val df = SimilarityQueries.ivfSq8TopK(spark, dir)
    val sq8Rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // recall vs exact ground truth, compared at equal nProbe against the
    // full-precision q39 index: quantization must not cost recall on
    // this corpus (scores shift by <= the per-dim quantization step,
    // far below the cell-assignment margins)
    def hits(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = hits(SimilarityQueries.cosineTopK(spark, dir).collect())
    val ivf = hits(SimilarityQueries.ivfKmeansTopK(spark, dir).collect())
    val sq8 = hits(sq8Rows)
    val ivfRecall = (ivf & truth).size.toDouble / truth.size
    val sq8Recall = (sq8 & truth).size.toDouble / truth.size
    assert(sq8Recall >= ivfRecall,
      s"SQ8 recall $sq8Recall < full-precision IVF recall $ivfRecall")
    assert(sq8Recall > 0.5, s"implausibly low recall $sq8Recall")
  }

  test("incremental ANN index: O(batch) appends converge to the one-shot build") {
    import graft.lake.Snapshots
    import graft.similarity.Similarity
    val emb = Tables(spark, dir, "embeddings")
    val table = graft.util.Scratch.dir("annidx_spec", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    val initial = emb.filter(col("vec_id") % 4 =!= 0)
    val batch = emb.filter(col("vec_id") % 4 === 0)
    val cents = Similarity.kmeansCentroids(initial, "vec_id", "embedding",
      nCells = 16, iters = 2)
    val cbs = Similarity.pqCodebooks(initial, "vec_id", "embedding", 4, 64, 64)
    val v1 = Snapshots.append(spark, table,
      Similarity.ivfPqEncode(initial, "vec_id", "embedding", cents, cbs, 64))
    val v2 = Snapshots.append(spark, table,
      Similarity.ivfPqEncode(batch, "vec_id", "embedding", cents, cbs, 64))
    // append is O(batch): v1's code files carried by reference, never
    // re-encoded
    val s1 = Snapshots.snapshot(spark, table, v1).get
    val s2 = Snapshots.snapshot(spark, table, v2).get
    assert(s1.files.toSet.subsetOf(s2.files.toSet))
    // search serves from the CODE TABLE: its corpus side reads only the
    // snapshot's files (plus the tiny query-vector read)
    val codes = Snapshots.readLatest(spark, table).get
    assert(codes.inputFiles.forall(_.contains("/_snap/")))
    // and the incrementally-built index answers EXACTLY like a one-shot
    // encode of the full corpus under the same fitted state
    val q = emb.filter(col("vec_id") < 20)
    val inc = Similarity.ivfPqSearchCodes(codes, q, "vec_id", "embedding",
      5, cents, 8, cbs, 64).collect().map(_.toString).sorted
    val oneShot = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding",
      5, cents, 8, cbs, 64).collect().map(_.toString).sorted
    assert(inc.sameElements(oneShot))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    spark.catalog.clearCache()
  }

  test("multimodal dedup collapses identical-hash groups linearly, not pairwise") {
    // q187's pair LISTING is quadratic within an identical-hash group
    // by semantics; q188's clustering must not be — its image edges are
    // one star edge per non-representative member plus cross-hash band
    // pairs. On this dup-heavy corpus the pair listing is many times
    // the document count while the cluster result stays identical to
    // the all-pairs oracle (hash-compared by the gate); here we pin the
    // EDGE ECONOMY: the full pair count strictly exceeds what a linear
    // star collapse could ever emit.
    val docs = Tables(spark, dir, "documents").count()
    val pairs = MultimodalQueries.imageNearDups(spark, dir).count()
    assert(pairs > docs,
      s"corpus not dup-heavy enough to exercise the distinction ($pairs pairs)")
    val clusters = MultimodalQueries.multimodalDedupClusters(spark, dir)
    // every clustered doc resolves to a min-id canonical; the relation
    // is O(docs), never O(pairs)
    assert(clusters.count() <= docs)
    spark.catalog.clearCache()
  }

  test("PQ rerank repairs in-candidate quantization error without a corpus shuffle") {
    def hits(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = hits(SimilarityQueries.cosineTopK(spark, dir).collect())
    val pq = hits(SimilarityQueries.pqTopK(spark, dir).collect())
    val df = SimilarityQueries.pqRerankTopKQ(spark, dir)
    val rr = hits(df.collect())
    val pqRecall = (pq & truth).size.toDouble / truth.size
    val rrRecall = (rr & truth).size.toDouble / truth.size
    // the exact rerank can only repair the ADC ranking, never hurt it
    assert(rrRecall >= pqRecall, s"rerank $rrRecall < plain PQ $pqRecall")
    assert(rrRecall > 0.5, s"implausibly low rerank recall $rrRecall")
    // both stages join against broadcast sides; a sort-merge join would
    // mean the corpus shuffled in one of them
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("ANN top-k tail is O(k) partial aggregation — never a per-query window sort") {
    // every ANN family ends in Similarity.topK; the window formulation
    // (row_number OVER (PARTITION BY query_id ORDER BY cos_sim)) would
    // shuffle + sort the whole scored relation (corpus × queries for the
    // flat variants) into |queries| reducers — the one 100 TB
    // scale-killer VERDICT r9 flagged. The aggregator form must plan an
    // ObjectHashAggregate pair (partial + final, O(k) state per query)
    // with NO window and NO sort/range exchange anywhere; the IVF probe
    // ranking is likewise an in-row array sort, not a window.
    for ((name, fn) <- Seq(
        "q24_brute" -> (SimilarityQueries.cosineTopK _),
        "q158_pq" -> (SimilarityQueries.pqTopK _),
        "q39_ivf" -> (SimilarityQueries.ivfKmeansTopK _))) {
      val df = fn(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("ObjectHashAggregate"), s"$name:\n${plan.take(2500)}")
      assert(!plan.contains("Window"), s"$name plans a window:\n${plan.take(2500)}")
      assert(!plan.contains("rangepartitioning"), s"$name:\n${plan.take(2500)}")
      assert(!plan.contains("Exchange SinglePartition"), s"$name:\n${plan.take(2500)}")
    }
  }

  test("incremental NSW add probes the index without shuffling it") {
    // q276's scale contract: the add() candidate join BROADCASTS the
    // batch signatures against the persisted bucket relation — the
    // index side never exchanges (at cluster scale it is additionally
    // band-bucketed, the q172 discipline), and the wiring groupBy
    // exchanges only the candidate relation (batch-sized). Captured
    // from the actual write-path plans via a listener.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val root = java.nio.file.Files
      .createTempDirectory("graft_nswscale").toString + "/idx"
    val emb = Tables(spark, dir, "embeddings")
    graft.similarity.Similarity.nswIndexBuild(spark, root,
      emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding")
    spark.listenerManager.register(listener)
    try {
      graft.similarity.Similarity.nswIndexAdd(spark, root,
        emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding")
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext)
      val jp = (0 until plans.size).map(plans.get)
        .filter(p => p.contains("BroadcastHashJoin") ||
          p.contains("SortMergeJoin"))
      assert(jp.nonEmpty, "no candidate-join plan captured from add()")
      jp.foreach { p =>
        assert(!p.contains("SortMergeJoin"),
          s"add() sort-merged the index:\n${p.take(2500)}")
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"add() went non-equi:\n${p.take(2500)}")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("incremental dedup never reshuffles the signature index") {
    // q172's point: the historical index is bucketed on the band key, so
    // a batch probe co-locates against it with a ONE-SIDED shuffle. With
    // broadcast disabled the band join must be an SMJ whose index side
    // scans buckets directly — exactly one band exchange (the batch side)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = DedupQueries.incrementalDedup(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val bandExchanges = "Exchange hashpartitioning\\(band".r
        .findAllIn(plan).size
      assert(bandExchanges == 1,
        s"expected one band exchange (batch side only), got $bandExchanges:\n${plan.take(3000)}")
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("decode kernels are narrow corpus passes: no data shuffle anywhere") {
    // q85/q90/q91 run the expensive per-row codec work (inflate/unfilter,
    // resample/re-encode, PCM extraction) — at 100 TB their parallelism
    // must come entirely from input splits. The only exchange allowed is
    // Par.ensure's round-robin spread of the small local input; a
    // hashpartitioning exchange would mean the decode output is being
    // shuffled for no reason
    for (fn <- Seq(MultimodalQueries.pngDecode _, MultimodalQueries.pngResize _,
        MultimodalQueries.pcmDecode _)) {
      val df = fn(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
      assert(!plan.contains("SortMergeJoin") && !plan.contains("Sort "),
        plan.take(2000))
    }
  }

  test("span dedup hash-keyed window matches the exact-text mode") {
    // the 100 TB shuffle-width option: the first-occurrence window keyed
    // on xxhash64(span) (8-byte shuffle keys, text dropped pre-exchange)
    // must agree with the oracle-gated exact-text mode row for row
    val exact = TextQueries.spanDedup(spark, dir)
      .collect().map(_.toString).sorted
    val hashed = TextQueries.spanDedup(spark, dir, hashKeyedWindow = true)
      .collect().map(_.toString).sorted
    assert(hashed.sameElements(exact))
    // and the hashed mode's window exchange really drops the span text
    val df = TextQueries.spanDedup(spark, dir, hashKeyedWindow = true)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(_k"), plan.take(2000))
  }

  test("scans prune columns: token counting reads only doc_id and text") {
    val df = TextQueries.tokenCounts(spark, dir)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema"), scan)
    // the documents table carries more columns (lang, ...); the scan
    // schema must not include them
    assert(!scan.contains("lang"), scan)
  }

  test("embedding near-dup bucket count scales with corpus size") {
    import graft.similarity.Similarity.scaledPlaneCount
    // small corpora use the floor; the ladder then doubles buckets with n,
    // capping expected bucket occupancy at targetBucketCap (so intra-bucket
    // pairwise work per band is O(n·cap), never O((n/2^fixed)²))
    assert(scaledPlaneCount(500L) == 8)
    assert(scaledPlaneCount(1024L << 8) == 8)
    assert(scaledPlaneCount((1024L << 8) + 1) == 9)
    assert(scaledPlaneCount(1024L << 20) == 20)
    assert(scaledPlaneCount(Long.MaxValue) == 24) // ladder top
    // capacity invariant below the cap: 2^r buckets × cap ≥ n
    for (n <- Seq(1L, 1000L, 1000000L, 1000000000L)) {
      val r = scaledPlaneCount(n)
      assert((1024L << r) >= n, s"n=$n r=$r")
    }
    // monotone: more vectors never means fewer buckets
    val rs = Seq(1L, 1e6.toLong, 1e9.toLong, 1e12.toLong).map(scaledPlaneCount(_))
    assert(rs == rs.sorted)
  }

  test("embedding near-dups join on band buckets — equi-join, no cartesian") {
    val (df, release) = graft.similarity.Similarity
      .embeddingNearDuplicatesReleasable(Tables(spark, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.35)
    try {
      val rows = df.collect()
      // verified pairs only, each emitted once
      assert(rows.forall(_.getDouble(2) >= 0.35))
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.distinct.length == pairs.length)
      assert(pairs.forall { case (a, b) => a < b })
      val plan = df.queryExecution.executedPlan.toString
      // every band join restores an equi-key on its bucket column; an
      // all-pairs fallback would plan a nested-loop/cartesian product
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    } finally release()
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    // one hot key dwarfing the rest; thresholds lowered so the local data
    // triggers the same OptimizeSkewedJoin that rescues a 100 TB shuffle
    val left = (1 to 200000).map(i => (if (i % 10 == 0) i.toLong else 1L, i.toLong))
      .toDF("k", "v")
    val right = (1L to 200000L).map(k => (k, k * 2)).toDF("k", "w")
    val prev = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = left.join(right, "k")
      // materialize THIS DataFrame (count() executes a different plan and
      // would leave joined's adaptive plan unfinalized)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(2000))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // the non-partitioned sibling of DPP: a selective dim filter builds a
    // bloom filter that is pushed into the fact scan as might_contain,
    // cutting shuffled fact rows before the join at 100 TB
    val prev = Map(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables(spark, dir, "lineitem")
      val ord = Tables(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), plan.take(2000))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("dynamic partition pruning: dim filter prunes the fact scan at runtime") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_dpp_").toString
    (1 to 1000).map(i => (i.toLong, s"2024-01-0${i % 5 + 1}"))
      .toDF("v", "date").write.partitionBy("date").mode("overwrite").parquet(path)
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dppdim_").toString
    Seq(("2024-01-01", "keep"), ("2024-01-02", "drop"))
      .toDF("date", "tag").write.mode("overwrite").parquet(dimPath)
    try {
      val fact = spark.read.parquet(path)
      // a SELECTIVE dim filter is what makes DPP fire — and it must
      // survive as a real Filter node over a scan (an inline local
      // relation constant-folds the filter away and DPP sees no
      // selective predicate)
      val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
      val joined = fact.join(dim, Seq("date"))
      assert(joined.collect().length == 200)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), plan.take(2000))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dimPath))
    }
  }

  test("dynamic partition pruning fires on the registered gold catalog table") {
    // the 100 TB read-path win the catalog surface exists for: an analyst
    // joining retail_db.fact_sales to a filtered date dimension must only
    // scan the partitions the dim filter selects, discovered AT RUNTIME
    // via a dynamicpruning subquery (reference partition projection,
    // docs/glue_crawlers.md:35-36)
    import spark.implicits._
    import graft.lake.LakeLayout
    val root = java.nio.file.Files.createTempDirectory("graft_dppgold_").toString
    val layout = LakeLayout(root)
    (1 to 1000).map(i => (s"t$i", i.toDouble,
        java.sql.Date.valueOf(s"2024-02-0${i % 5 + 1}")))
      .toDF("transaction_id", "revenue", "date")
      .write.partitionBy("date").mode("overwrite")
      .parquet(layout.goldFactSales)
    LakeCatalog.registerFactSales(spark, layout)
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dppdim2_").toString
    Seq((java.sql.Date.valueOf("2024-02-01"), "keep"),
        (java.sql.Date.valueOf("2024-02-02"), "drop"))
      .toDF("date", "tag").write.mode("overwrite").parquet(dimPath)
    try {
      val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
      val joined = spark.table(LakeCatalog.factSalesTable).join(dim, Seq("date"))
      assert(joined.collect().length == 200)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), plan.take(2000))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${LakeCatalog.factSalesTable}")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dimPath))
    }
  }

  test("bloom semi-join reduction probes below the exchange and stays exact") {
    import graft.operators.BloomSemiJoin
    val lineitem = Tables(spark, dir, "lineitem")
    val urgent = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    // superset guarantee + real pruning on the fact side
    val pruned = BloomSemiJoin.prune(lineitem, col("l_orderkey"), urgent, "o_orderkey")
    val factN = lineitem.count()
    val prunedN = pruned.count()
    val joinKeys = urgent.select("o_orderkey").distinct().collect()
      .map(_.getLong(0)).toSet
    val exactN = lineitem.filter(col("l_orderkey").isin(joinKeys.toSeq: _*)).count()
    assert(prunedN >= exactN, "bloom dropped a joining row (false negative)")
    assert(prunedN < factN / 2,
      s"bloom pruned nothing: $prunedN of $factN survive")
    // at the scale this operator exists for, the build side cannot
    // broadcast: force the SMJ shape and pin the probe below the exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val reduced = BloomSemiJoin.join(lineitem, col("l_orderkey"), urgent, "o_orderkey")
      val plain = lineitem.join(urgent, col("l_orderkey") === col("o_orderkey"))
      assert(reduced.count() == plain.count()) // exact despite false positives
      val plan = reduced.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      // the probe must sit under the fact-side exchange: in the tree
      // print, bloom_might_contain appears in a Filter below the
      // Exchange feeding the join, i.e. the scan-side stage
      val probeAt = plan.indexOf("bloom_might_contain")
      assert(probeAt >= 0, plan.take(2000))
      val exchangeAt = plan.lastIndexOf("Exchange hashpartitioning(l_orderkey",
        probeAt)
      assert(exchangeAt >= 0 && exchangeAt < probeAt,
        s"probe not below the fact exchange:\n${plan.take(3000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("z-order layout prunes on both columns where 1-D clustering prunes one") {
    import graft.lake.{Snapshots, ZOrder}
    // interleave unit checks: bit i of a → 2i, of b → 2i+1
    def interleave(a: Long, b: Long) = ZOrder.interleaveN(Seq(lit(a), lit(b)), 16)
    val probe = spark.range(1).select(
      interleave(0xFFFFL, 0L).as("a_only"),
      interleave(0L, 0xFFFFL).as("b_only"),
      interleave(1L, 1L).as("both_low")).head()
    assert(probe.getLong(0) == 0x55555555L)
    assert(probe.getLong(1) == 0xAAAAAAAAL)
    assert(probe.getLong(2) == 3L)
    val root = java.nio.file.Files.createTempDirectory("graft_zorder_").toString
    val (zT, linT) = (s"$root/z", s"$root/linear")
    try {
      val orders = Tables(spark, dir, "orders")
      val cols = Seq("o_totalprice", "o_custkey")
      Snapshots.append(spark, zT, ZOrder.clusteredN(orders, 16, cols),
        statsCols = cols)
      // 1-D control: range-clustered on totalprice alone, same stats
      Snapshots.append(spark, linT,
        orders.repartitionByRange(16, col("o_totalprice")), statsCols = cols)
      val total = Snapshots.snapshot(spark, zT, 1).get.files.size
      assert(total >= 16)
      // both dimensions prune under z-order
      val byPrice = Snapshots.prunedFilesAt(spark, zT, 1,
        "o_totalprice", 50000.0, 150000.0).get
      val byCust = Snapshots.prunedFilesAt(spark, zT, 1,
        "o_custkey", 10.0, 40.0).get
      assert(byPrice.size < total, s"price: ${byPrice.size}/$total")
      assert(byCust.size < total, s"custkey: ${byCust.size}/$total")
      // the linear layout cannot prune its non-clustered column
      val linByCust = Snapshots.prunedFilesAt(spark, linT, 1,
        "o_custkey", 10.0, 40.0).get
      val linTotal = Snapshots.snapshot(spark, linT, 1).get.files.size
      assert(linByCust.size == linTotal,
        s"unexpected pruning on unclustered column: ${linByCust.size}/$linTotal")
      // exactness through the z-ordered layout
      val got = Snapshots.readAtPruned(spark, zT, 1,
        "o_custkey", 10.0, 40.0).get.count()
      val want = orders
        .filter(col("o_custkey") >= 10L && col("o_custkey") <= 40L).count()
      assert(got == want)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("prefix-filter join stays an equi-join and recalls every exact pair") {
    import graft.dedup.Dedup
    val docs = Tables(spark, dir, "documents")
    val (pairs, release) = Dedup.prefixFilterNearDuplicates(
      docs, "doc_id", "text", shingleK = 3, threshold = 0.5)
    val got = pairs.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plan = pairs.queryExecution.executedPlan.toString
    // candidates come from the prefix equi-join on the shingle key: a
    // cross-join shape means the filter regressed to all-pairs
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // complete recall (the theorem, checked brute-force on sf0.001):
    // every all-pairs Jaccard>=0.5 pair must be present
    val sets = Dedup.hashedShingleSet(docs, "doc_id", "text", 3)
      .filter(col("sh").isNotNull).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ids = sets.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator
      sa = sets(ids(i)); sb = sets(ids(j))
      c = (sa intersect sb).size
      if 2L * c >= (sa.size + sb.size - c)
    } yield (ids(i), ids(j))).toSet
    release()
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("edit-distance near-dups band on deletion variants, never cross join") {
    val df = DedupQueries.editDistanceNearDups(spark, dir)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // candidates come from the variant equi-join: any cross-join shape
    // means the banding regressed to all-pairs
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // completeness at distance 1: brute-force the small sf0.001 name set
    val names = Tables(spark, dir, "customer")
      .select("c_name").distinct().as[String](org.apache.spark.sql.Encoders.STRING)
      .collect()
    def lev(s: String, t: String): Int = {
      val d = Array.tabulate(s.length + 1)(i => i)
      for (j <- 1 to t.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to s.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (s(i - 1) == t(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(s.length)
    }
    val want = (for {
      x <- names; y <- names if x < y && lev(x, y) <= 1
    } yield (x, y)).toSet
    val got = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(rows.forall(_.getLong(2) <= 1L))
  }

  test("cdc merge and sequence assembly shuffle only on their keys") {
    // q100's merge: one exchange to reduce the change batch per key, one
    // for the merge window over the union — nothing else (no broadcast
    // of the snapshot, no extra repartition)
    val merged = CdcQueries.cdcMergeCustomers(spark, dir)
    merged.collect()
    val mPlan = merged.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val mExchanges = "Exchange hashpartitioning".r.findAllIn(mPlan).size
    assert(mExchanges <= 2, s"merge plan has $mExchanges exchanges:\n${mPlan.take(2500)}")
    assert(!mPlan.contains("Exchange SinglePartition"), mPlan.take(2000))
    // q119's sequence assembly: exactly the one agg exchange on user_id
    val seqs = AnalyticsQueries.userSequences(spark, dir)
    seqs.collect()
    val sPlan = seqs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val sExchanges = "Exchange hashpartitioning".r.findAllIn(sPlan).size
    assert(sExchanges == 1, s"sequence plan has $sExchanges exchanges:\n${sPlan.take(2500)}")
    assert(!sPlan.contains("Exchange SinglePartition"), sPlan.take(2000))
  }

  test("inverted-index lookup prunes buckets and never rescans the corpus") {
    // q122: the IN predicate on the bucket column must reach the index
    // scan as bucket pruning (≤ K of IndexBuckets buckets opened — at
    // 100 TB that is the difference between reading K terms' postings
    // and reading the whole index), and the lookup subtree must contain
    // exactly one scan — the index, never `documents`
    RetrievalQueries.invertedIndexLookup(spark, dir).collect()
    val look = RetrievalQueries.lookup(spark, "graft_q122")
    look.collect()
    val plan = look.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
      .getOrElse(fail(s"no bucket pruning in plan:\n${plan.take(2500)}"))
    assert(sel.group(1).toInt <= RetrievalQueries.QueryTermK, plan.take(2000))
    assert(sel.group(2).toInt == RetrievalQueries.IndexBuckets, plan.take(2000))
    assert(!plan.contains("documents.parquet"), plan.take(2000))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan.take(2500))
  }

  test("phrase query prunes to one bucket per term and never rescans the corpus") {
    // q125: each phrase term is an equality on the bucket column — ONE
    // bucket opened per posting read; the intersection shuffles two
    // posting lists, never the corpus
    val phrase = RetrievalQueries.phraseQuery(spark, dir)
    phrase.collect()
    val plan = phrase.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val sels = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findAllMatchIn(plan).toSeq
    assert(sels.size == 2, s"expected 2 pruned index scans:\n${plan.take(2500)}")
    sels.foreach { m =>
      assert(m.group(1).toInt == 1 &&
        m.group(2).toInt == RetrievalQueries.IndexBuckets, plan.take(2000))
    }
    assert(!plan.contains("documents.parquet"), plan.take(2000))
  }

  test("token-budget carve is bucket-count-invariant and never serializes the sort") {
    // q123: the two-phase prefix sum must (a) produce the identical carve
    // for ANY bucket count — proving the decomposition equals the serial
    // cumsum semantics, so deployments can scale buckets freely — and
    // (b) run its window partitioned by bucket, never as the
    // single-partition global window the naive formulation plans
    val a = TextQueries.tokenBudgetCarve(spark, dir, buckets = 32)
    val b = TextQueries.tokenBudgetCarve(spark, dir, buckets = 7)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val rows = a.count()
    assert(rows > 0, s"carve selected nothing")
    val plan = a.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2500))
    assert(plan.contains("Exchange hashpartitioning(bucket"), plan.take(2500))
  }

  test("pagerank supersteps shuffle on graph keys only, never a global sort") {
    // q127: three supersteps composed as ONE plan — every exchange must
    // be a hash partitioning on a node/edge key (the Pregel-by-joins
    // contract); a single-partition exchange or cartesian product means
    // an iteration serialized
    val pr = GraphQueries.pageRank(spark, dir)
    val rows = pr.collect()
    val plan = pr.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // the edge/degree subtrees recur in every superstep's lineage; the
    // engine must dedup them via exchange reuse rather than re-deriving
    // the graph per iteration (an explicit cache measures SLOWER — it
    // only adds a barrier on top of the same reuse)
    assert(plan.contains("ReusedExchange") ||
      plan.contains("ReusedQueryStage") || plan.contains("TableCacheQueryStage"),
      plan.take(3000))
    // every node keeps at least the damping base mass, and the bipartite
    // parity split is preserved
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("rank_e12") >= 150000000000L))
  }

  test("triangle closing-edge probe is a hash equi-join, never a nested loop") {
    // q142: the closing edge connects the wedge's two endpoints in
    // WHICHEVER direction the degree orientation chose — the naive
    // formulation is an OR-predicate join, which no engine can hash and
    // which degrades to BNL (quadratic in edges). Canonicalizing to
    // (lo, hi) restores a plain two-key equi-join; this spec pins that.
    val tri = GraphQueries.triangles(spark, dir)
    tri.collect()
    val plan = tri.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // at sf0.001 lineitem shares no part pair across 2+ orders, so the
    // graph is empty — the plan shape is what this spec asserts; row
    // content is gate-checked at sf0.01 (227 corner rows)
  }

  test("deletion-vector scan broadcasts the tombstones and stays anti-join") {
    // q153: the merge-on-read subtraction must be a BROADCAST left-anti
    // join (the tombstone relation is MBs at 100 TB) — a sort-merge anti
    // would shuffle the full data side on (file, pos), and a nested loop
    // would be quadratic. Also pins that the tombstone columns never
    // survive into the user-visible schema of the table it reads.
    val mor = LayoutQueries.deletionVectorRead(spark, dir)
    mor.collect()
    val plan = mor.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(2500))
    assert(!plan.contains("SortMergeJoin"), plan.take(2500))
    val table = graft.util.Scratch.dir("dv_table", dir)
    assert(graft.lake.Snapshots.readLatest(spark, table).get.columns
      .sameElements(Tables(spark, dir, "orders").columns))
  }

  test("q01 distinct restructure: no expanded distinct phase, partials stay primitive") {
    // the explicit two-level form must plan as two plain hash aggregates
    // (the (group, orderkey) pre-aggregate IS the distinct), with no
    // Expand operator and no DECIMAL accumulators in the wide first phase
    val q1 = RetailQueries.pricingSummary(spark, dir)
    q1.collect()
    val plan = q1.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Expand"), plan.take(2500))
    // exactly one exchange keyed by the wide pre-aggregate, one by the fold
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"$exchanges exchanges:\n${plan.take(2500)}")
  }

  test("streaming state partitions: the stream runs at the sized width, batch width restored") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val df = StreamingQueries.slidingHourlyStream(spark, dir)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "session shuffle width not restored after streaming query")
    assert(df.count() > 0)
  }

  test("BQ hamming search: broadcast queries, O(k) heaps, no corpus shuffle") {
    // q211's both stages must keep the ANN plan discipline: the packed
    // corpus joins only the broadcast query codes, each top-k tail is
    // the ObjectHashAggregate heap pair, and no window / range exchange
    // exists anywhere — the hamming stage over a 100 TB corpus is a
    // narrow integer pass or it is nothing
    val df = SimilarityQueries.bqHammingTopK(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2500))
    assert(!plan.contains("rangepartitioning"), plan.take(2500))
    // the 1-bit stage must actually shortlist: recall vs exact truth
    def hits(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = hits(SimilarityQueries.cosineTopK(spark, dir).collect())
    val bq = hits(df.collect())
    val recall = (bq & truth).size.toDouble / truth.size
    // sanity floor, not a quality claim: iid-random vectors are the
    // WORST case for a 1-bit proxy (all true cosines are small, hamming
    // margins are binomial noise); on real clustered embeddings the
    // 4×k shortlist recalls far higher. Chance recall here would be
    // ~20/499 ≈ 0.04.
    assert(recall > 0.3, s"implausibly low BQ recall $recall")
  }

  test("matryoshka rerank: both stage tails are O(k) heaps, no window") {
    // q232's coarse pass is the broadcast-query narrow scan (prefix
    // slice is a projection, not a shuffle) and BOTH ranking tails ride
    // the bounded-heap aggregate — a window would sort corpus-sized
    // relations per query
    val df = SimilarityQueries.matryoshkaTopK(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2500))
    assert(!plan.contains("rangepartitioning"), plan.take(2500))
    // the prefix stage must shortlist usefully: top-1 via 16 of 64 dims
    def top1(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.filter(_.getLong(1) == 1L)
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = top1(SimilarityQueries.cosineTopK(spark, dir).collect())
    val got = top1(df.collect())
    val recall = (got & truth).size.toDouble / truth.size
    // sanity floor, not a quality claim: iid-random vectors are the
    // WORST case for prefix truncation (no MRL training concentrated
    // information up front, so 16 of 64 dims carry ~1/4 of a weak
    // signal); chance top-1-in-shortlist here is ~20/499 ≈ 0.04
    assert(recall > 0.2, s"implausibly low matryoshka top-1 recall $recall")
  }

  test("knn graph: candidate generation is an equi-join, never all-pairs") {
    // q233 has EVERY vector as a query, so a broadcast PROBE plan is
    // impossible by design — candidates must come from an equi-join on
    // (band, signature) and the per-node tail from the O(k) heap; a
    // cartesian/BNL product here is the quadratic corpus blowup. At
    // gate scale AQE rightly broadcasts the small build side, so the
    // scale claim is pinned by disabling broadcast: the plan must
    // degrade to a PARTITIONED equi-join, not a nested loop.
    val df = SimilarityQueries.knnGraph(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2500))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = SimilarityQueries.knnGraph(spark, dir)
      big.collect()
      val bigPlan = big.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(bigPlan.contains("SortMergeJoin") ||
        bigPlan.contains("ShuffledHashJoin"), bigPlan.take(2500))
      assert(!bigPlan.contains("CartesianProduct") &&
        !bigPlan.contains("BroadcastNestedLoopJoin"), bigPlan.take(2500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hard negatives: banded equi-join + heaps, never all-pairs, no window") {
    // q251 mines corpus-wide (every vector an anchor): the label routing
    // must be a filter on the banded candidate join's output — not a
    // second shuffle, not a label-cross join — and both the negative
    // top-k and positive top-1 must run the O(k) heap aggregate. Same
    // broadcast-off degradation pin as q233: partitioned equi-join, no
    // cartesian/BNL, no window sort of the scored relation.
    val df = SimilarityQueries.hardNegatives(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2500))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = SimilarityQueries.hardNegatives(spark, dir)
      big.collect()
      val bigPlan = big.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(bigPlan.contains("SortMergeJoin") ||
        bigPlan.contains("ShuffledHashJoin"), bigPlan.take(2500))
      assert(!bigPlan.contains("CartesianProduct") &&
        !bigPlan.contains("BroadcastNestedLoopJoin"), bigPlan.take(2500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("containment dups: rare-shingle equi-join, never all-pairs") {
    // q270's candidates must come from the frequency-cut shingle
    // equi-join — a cartesian/BNL here is the all-pairs blowup the
    // rare-shingle band exists to prevent, and the discipline must
    // hold even with broadcast disabled (the 100 TB shape)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = DedupQueries.containmentDups(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("CartesianProduct"), plan.take(2500))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("MaxSim late interaction: partial max aggregation, no per-doc window") {
    // q212's max-per-(doc, query-token) must reduce map-side (partial +
    // final HashAggregate on integer/double state), the doc ranking is
    // the O(k) heap, and the corpus never shuffles before its first
    // aggregate — the late-interaction score is one narrow pass + two
    // bounded aggregations at any corpus size
    val df = RetrievalQueries.maxsimTopK(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2500))
    assert(!plan.contains("SortMergeJoin"), plan.take(2500))
  }

  test("domain mixture carve windows on (source, bucket), never per source alone") {
    // q213's whole point: the per-domain cumsum must be decomposed over
    // the hash buckets — a window partitioned by source alone serializes
    // each domain through one task (the q70 hazard)
    val df = TextQueries.domainMixtureCarve(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // every Window operator must partition on BOTH source and bucket
    // (source-only aggregate exchanges elsewhere in the plan are fine —
    // they carry O(domains) rows, not the corpus)
    val windowLines = plan.linesIterator
      .filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, plan.take(2000))
    assert(windowLines.forall(l =>
      l.contains("source") && l.contains("bucket")),
      s"a window not keyed on (source, bucket):\n${windowLines.mkString("\n")}")
  }

  test("label propagation reuses the edge shuffle across supersteps") {
    // q216 composes three supersteps over the same edge relation; Spark's
    // exchange reuse must dedup the identical edge subplans (the q127
    // discipline) — without it every superstep rescans and reshuffles
    // the corpus-derived edge list
    val df = GraphQueries.labelPropagation(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), plan.take(3000))
  }

  test("partition pruning: date-filtered gold read scans a single partition") {
    // build a tiny two-date partitioned table and check the scan prunes
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_prune_").toString
    Seq(("a", "2024-01-01"), ("b", "2024-01-02"))
      .toDF("v", "date").write.partitionBy("date").mode("overwrite").parquet(path)
    val pruned = spark.read.parquet(path).filter(col("date") === "2024-01-01")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 1)
    assert(scan.contains("PartitionFilters"), scan)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
  }
}
