package graft

import graft.queries.Registry

/** Plan-shape regressions: the 100 TB design claims, asserted against the
  * actual physical plans so they can't silently rot.
  *
  * Each assertion encodes a scale property: hash (not sort) aggregation,
  * top-k as TakeOrdered (not global sort), broadcast of dimension tables,
  * bucketed candidate joins (never a cross product), and column pruning
  * reaching the parquet scan. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String = {
    // sibling suites cache source tables in the shared session; audited
    // plans must be the cold-path plans, not cache-backed ones
    spark.catalog.clearCache()
    Registry.byName(name).run(spark, sf()).queryExecution.executedPlan.toString
  }

  test("latest-state fold hash-aggregates (no SortAggregate fallback)") {
    val p = plan("q1_latest_state")
    assert(p.contains("ObjectHashAggregate"), p.take(500))
    assert(!p.contains("SortAggregate"), "argmax must not fall back to sort aggregation")
  }

  test("max-confidence evaluation hash-aggregates too") {
    val p = plan("q10_max_confidence")
    assert(!p.contains("SortAggregate"), "facts argmax must not fall back to sort aggregation")
  }

  test("embedding top-k plans as TakeOrdered, not a global sort") {
    val p = plan("q15_embedding_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("revenue join broadcasts its dimension tables") {
    val p = plan("q7b_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
  }

  /** Every plan that building and running `frame` executes, as
    * (action, executed plan) in completion order: the eager
    * localCheckpoints an operator takes while it is built (each reported
    * as a "localCheckpoint" action) and then the frame itself, run to a
    * noop sink. The near-dup and link-prediction operators materialize
    * their intermediates inside the call, so the shapes a scale claim
    * is about sit in those checkpoint jobs, not in the returned frame's
    * plan (an RDD scan of the last checkpoint). */
  private def executedPlans(frame: => org.apache.spark.sql.DataFrame): Seq[(String, String)] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(action -> qe.executedPlan.toString)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // sibling suites cache source tables in the shared session
    spark.catalog.clearCache()
    spark.listenerManager.register(listener)
    try {
      frame.write.format("noop").mode("overwrite").save()
      org.apache.spark.SpecBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** The near-dup operators with the registered queries' parameters. */
  private def dedupPlans(name: String): Seq[(String, String)] = {
    import graft.ops.{Dedup, Similarity}
    val docs = graft.sources.Tables.documents(spark, sf())
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val sims = Dedup.simhashTable(docs, "doc_id", "text",
      hasher = graft.functions.TextFunctions.portableHash60)
    executedPlans(name match {
      case "q12_minhash_neardup" => Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, jaccardThreshold = 0.5)
      case "q13b_simhash_neardup" => Dedup.simhashNearDupPairs(sims, maxHamming = 7,
        maxDegree = 4)
      case "q14_ngram_jaccard" => Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCol = "source", shingleN = 2, threshold = 0.05, maxDf = 1000)
      case "q15b_ann_lsh" => Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
        dim = 64, planes = 8, tables = 12, cosineThreshold = 0.3, maxDegree = 4)
    })
  }

  test("LSH candidate dedup hash-aggregates (pairs must not drag vectors through a sort)") {
    val p = dedupPlans("q15b_ann_lsh").map(_._2).mkString("\n")
    assert(!p.contains("SortAggregate"),
      "dropDuplicates over array payloads planned as SortAggregate(first(v)) — " +
        "dedup scalar id pairs first, then re-join vectors")
    // the per-node degree cap must plan as WindowGroupLimit: partial
    // top-k per key map-side, never a full per-partition sort of the
    // verified pair set
    assert(p.contains("WindowGroupLimit"),
      "degree cap lost the window-group-limit pushdown")
  }

  test("near-dup candidate generation never plans a cross product") {
    for (q <- Seq("q12_minhash_neardup", "q13b_simhash_neardup", "q14_ngram_jaccard")) {
      val plans = dedupPlans(q)
      if (q == "q12_minhash_neardup") {
        // three eager checkpoints (shingles, bands, capped bands), then
        // the pair join itself
        assert(plans.map(_._1).count(_ == "localCheckpoint") == 3 && plans.size == 4,
          s"q12 capture: ${plans.map(_._1)}")
      }
      val p = plans.map(_._2).mkString("\n")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      // broadcast NLJ appears only for the single-row/tiny broadcast sides
      // (e.g. hot-shingle arrays); the pair join itself must be hash-keyed
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$q pair join is not key-bucketed")
    }
  }

  test("narrow text queries prune the parquet scan to the needed columns") {
    val p = plan("q19_fingerprint")
    // fingerprint reads only (doc_id, text); the scan must not read the
    // remaining document columns
    val scanLine = p.split("\n").find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("doc_id") && scanLine.contains("text"), scanLine)
    assert(!scanLine.contains("source") && !scanLine.contains("n_chars"),
      s"scan reads pruned columns: $scanLine")
  }

  test("repetition signals prune the scan and stay shuffle-free up to the sort") {
    val p = plan("q39_repetition")
    val scanLine = p.split("\n").find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("doc_id") && scanLine.contains("text"), scanLine)
    assert(!scanLine.contains("lang") && !scanLine.contains("source"),
      s"scan reads pruned columns: $scanLine")
    // the kernel is row-local: the ONLY exchange allowed is the final sort
    assert(p.split("Exchange").length - 1 <= 1, s"repetition stats shuffled: $p")
  }

  test("mixture sampling is a broadcast-filtered scan — no corpus shuffle") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    val docs = graft.sources.Tables.documents(spark, sf())
    val p = graft.ops.TrainingPrep.mixtureSample(
      docs, "doc_id", "source", Map("src0" -> 0.5, "src1" -> 0.25))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"thresholds not broadcast: $p")
    // ShuffleExchangeExec renders as "Exchange hashpartitioning"; only
    // the BroadcastExchange of the threshold table may appear
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("SortMergeJoin"),
      s"mixture sampling shuffles the corpus: $p")
  }

  test("IVF index written partitioned by cell prunes unprobed cells at the scan") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 8, iters = 1)
    val index = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    val dir = java.nio.file.Files.createTempDirectory("ivf_layout").toString
    index.write.mode("overwrite").partitionBy("cell").parquet(dir)
    val probed = spark.read.parquet(dir).filter(col("cell").isin(0L, 1L))
    val p = probed.queryExecution.executedPlan.toString
    val scanLine = p.split("\n").find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"), s"no partition filter on cell: $p")
    // the probe must also return only the two cells' vectors
    assert(probed.select(col("cell")).distinct().count() <= 2)
  }

  test("filter on the query vector is pushed down to the scan") {
    val p = plan("q15_embedding_topk")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id)") ||
      p.contains("PushedFilters: [") && p.contains("vec_id"),
      p.split("\n").filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("correlated subqueries decorrelate into aggregate+join (no per-row subplans)") {
    val p = plan("q62_correlated_subquery")
    // decorrelation leaves ordinary aggregates + joins; a surviving
    // correlated subquery would plan per-row (or fail to plan at all)
    assert(p.contains("HashAggregate") && p.contains("Join"), p.take(800))
    assert(!p.contains("CartesianProduct"), "decorrelation degenerated to a cross product")
  }

  test("stratified sample ranks get the window-group-limit pushdown") {
    val p = plan("q59_stratified_sample")
    // rank <= k is pushed below the windows as WindowGroupLimit, so
    // partitions carry at most k rows per (stratum, salt) into the sort
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("set ops rewrite to semi/anti joins, never a distinct-union cross") {
    val p = plan("q63_set_ops")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p.take(800))
  }

  test("gap-fill densify stays on the key partitioning (agg + two windows, <= 2 shuffles)") {
    val p = plan("q55_gap_fill")
    // one shuffle for the (key, bucket) aggregate, one to re-key windows
    // by user; the final presentation sort may add a range exchange
    val exchanges = p.split("Exchange hashpartitioning").length - 1
    assert(exchanges <= 2, s"gap-fill shuffles $exchanges times:\n${p.take(1200)}")
  }

  test("merge change-set application is a single full-outer join") {
    val p = plan("q54_merge_upsert")
    assert(p.contains("FullOuter"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // Spark's InjectRuntimeFilter is ON in GraftSession but gated by size
    // thresholds sized for clusters (application side >= 10GB) — exactly
    // right at 100 TB, never firing at test scale. Drop the thresholds to
    // prove the path works end-to-end: with broadcast off (forcing the
    // shuffle-join shape a 100 TB join takes), a selective filter on
    // orders must inject a bloom-filter semi-filter into the lineitem
    // scan side, pruning shuffle input by ~98% before the exchange.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.col
      spark.catalog.clearCache()
      val ord = graft.sources.Tables.orders(spark, sf())
        .filter(col("o_orderpriority") === "1-URGENT")
      val li = graft.sources.Tables.lineitem(spark, sf())
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(org.apache.spark.sql.functions.sum(col("l_quantity")))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("bloomfilter") || p.contains("might_contain"),
        s"expected an injected bloom runtime filter in:\n${p.take(2000)}")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("table profile reads its table ONCE (explode-tall + fused HLL, not n scans)") {
    // profiling n columns must cost one scan of the table, not n (and not
    // n × consumers — the round-4/5 regression was 16 Scan parquet leaves
    // from an unmaterialized unionAll read by two aggregates)
    val p = plan("q51_profile")
    val scans = p.split("Scan parquet").length - 1
    assert(scans == 1, s"q51 profile plans $scans parquet scans; must be 1:\n${p.take(1200)}")
  }

  test("binary pipeline: content resolution is a hash join, folds hash-aggregate") {
    val p = plan("q69_binary_pipeline")
    assert(!p.contains("CartesianProduct"), "path-keyed content resolution went cartesian")
    assert(!p.contains("SortAggregate"), "event folds must stay object-hash aggregated")
  }

  test("repeated-span family: span-hash joins are keyed, no cartesian, no corpus window") {
    for (q <- Seq("q70_repeated_spans", "q72_span_scrub")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$q span join is not key-bucketed")
      // text rebuild is array_sort-in-aggregate, never a per-group Window
      // sort of the exploded corpus
      assert(!p.contains("Window"), s"$q leaked a window over the corpus")
    }
  }

  test("histogram quantiles window only the reduced sketch, not the input") {
    val p = plan("q71_quantile_histogram")
    // the Window must sit ABOVE the histogram aggregation: count the
    // aggregates below it by checking the window's child is an Exchange
    // over the grouped histogram (i.e. at most the histogram's rows).
    // Cheap proxy: exactly one pre-window aggregate pair and no sort of
    // the raw events before aggregation.
    assert(p.contains("Window"), "quantile read-off should use a window over the histogram")
    val beforeWindow = p.substring(p.indexOf("Window"))
    assert(beforeWindow.contains("HashAggregate"),
      "window input must be the aggregated histogram, not raw events")
  }

  test("incremental dedup reads only (id, sig) from the durable index") {
    // q81's defining scale property: the corpus contributes 256 B/doc of
    // signatures — the probe must never drag other index-file columns
    // (or, in a combined artifact, corpus text) through the band shuffle.
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_idx").toString + "/index"
    val docs = spark.range(50).selectExpr("id",
      "concat('word', id, ' alpha beta gamma') as text")
    graft.ops.Dedup.minhashIndex(docs, "id", "text")
      .withColumn("stored_at", org.apache.spark.sql.functions.lit("2026-01-01"))
      .withColumn("source_text", org.apache.spark.sql.functions.lit("x"))
      .write.parquet(dir)
    val batch = spark.range(50, 60).selectExpr("id",
      "concat('word', id, ' alpha beta gamma') as text")
    val p = executedPlans(graft.ops.Dedup.incrementalNearDups(batch, "id", "text",
        spark.read.parquet(dir))).map(_._2).mkString("\n")
    val scanLines = p.split("\n").filter(_.contains("ReadSchema"))
    assert(scanLines.exists(_.contains("sig")), p.take(800))
    assert(!scanLines.exists(l => l.contains("stored_at") || l.contains("source_text")),
      s"index scan reads non-signature columns: ${scanLines.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), "banded candidate join must be an equi-join")
  }

  test("BPE tokenization is one pruned scan + hash-agg, merges applied map-side") {
    // q83's corpus pass: the merge chain is column-level replace (no
    // shuffle before the per-document rollup), the scan reads only
    // (doc_id, text), and the rollup hash-aggregates with a map-side
    // partial — the shape that tokenizes 100 TB in one pass
    val p = plan("q83_bpe_encode")
    val scanLines = p.split("\n").filter(_.contains("ReadSchema"))
    assert(scanLines.nonEmpty && scanLines.forall(l =>
        l.contains("doc_id") && l.contains("text") && !l.contains("lang")),
      s"scan not pruned to (doc_id, text): ${scanLines.mkString("\n")}")
    assert(p.contains("HashAggregate"), p.take(500))
    assert(!p.contains("SortAggregate"), "rollup must not fall back to sort aggregation")
    // one exchange for the groupBy, one for the final sort — nothing else
    assert(p.split("Exchange").length - 1 <= 2, s"unexpected shuffles: $p")
  }

  test("spread passes a pre-partitioned corpus through exchange-free") {
    // At 100 TB the corpus arrives in thousands of scan partitions; the
    // pre-shingle spread must be a no-op there (an unconditional
    // repartition would shuffle all raw text before signing).
    val cores = spark.sparkContext.defaultParallelism
    val wide = spark.range(1000).toDF("id").repartition(cores * 2)
    assert(graft.ops.Dedup.spread(wide) eq wide,
      "spread must be the identity on an already-parallel input")
    // ...while a single-partition input (one small parquet file) still
    // fans out across the machine
    val narrow = spark.range(1000).toDF("id").coalesce(1)
    val out = graft.ops.Dedup.spread(narrow)
    assert(out.rdd.getNumPartitions >= cores,
      s"narrow input not spread: ${out.rdd.getNumPartitions} partitions")
  }

  test("KMV sketch build: rank-k window gets the WindowGroupLimit pushdown, two exchanges") {
    // the sketch-build exchange must carry O(sets·k) rows — each map task
    // forwards at most k per set — regardless of corpus size
    spark.catalog.clearCache()
    val ev = graft.sources.Tables.events(spark, sf())
    val p = graft.ops.Sketches.kmvSketch(ev, "event_type",
      org.apache.spark.sql.functions.col("user_id"), 128)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"rank-k not pruned map-side:\n${p.take(800)}")
    assert("Exchange".r.findAllMatchIn(p).size <= 2, s"extra exchanges:\n${p.take(800)}")
  }

  test("NB classifier: broadcast model apply, every aggregate hash-based") {
    val p = plan("q103_nb_classifier")
    assert(p.contains("BroadcastHashJoin"), "model grid must broadcast onto test tokens")
    assert(!p.contains("SortAggregate"),
      "classifier aggregates must stay hash-based (string aggregates / struct max " +
        "would fall back to SortAggregate)")
    assert(p.contains("argmaxbyord"), "per-doc argmax must use the hash-aggregable kernel")
  }

  test("paragraph dedup exchanges on 128-bit fingerprints, never raw paragraph text") {
    // At 100 TB a raw-text window key makes the partitioner hash and every
    // sort comparison walk full paragraphs; the first-occurrence window
    // must key on the two xxhash64 fingerprints with text as payload only.
    // Audited on the OPERATOR's lazy form: the registered q87 FileScans
    // the build-once grid artifact (curation-artifact pin below), so the
    // window lives only in the artifact build now.
    spark.catalog.clearCache()
    import org.apache.spark.sql.functions.{col, expr, posexplode, split}
    val paras = graft.sources.Tables.documents(spark, sf())
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, cast(ceil(size(ws)/7.0) as int) - 1)," +
          " i -> concat_ws(' ', slice(ws, i*7 + 1, 7)))")).as(Seq("idx", "para")))
    val p = graft.ops.Dedup.paragraphDedup(paras)
      .queryExecution.executedPlan.toString
    val exchangeKeys = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeKeys.nonEmpty, p.take(500))
    // the fingerprints are computed in a Project below the exchange and
    // arrive as _wN long aliases — the xxhash64 calls must exist...
    assert(p.contains("xxhash64"), "fingerprint projection missing:\n" + p.take(800))
    // ...and no exchange may key on the raw para string itself (the _wN
    // window keys and doc_id are all fixed-width longs)
    val rawTextKeyed = exchangeKeys.filter(_.contains("para"))
    assert(rawTextKeyed.isEmpty, s"raw-text exchange key: $rawTextKeyed")
  }

  test("winnowing and the blocklist scan are map-only before the census row") {
    for (name <- Seq("q111_winnowing", "q112_multipattern")) {
      val p = plan(name)
      // exactly ONE exchange: the final orderBy's range partitioning —
      // the kernels themselves never shuffle anything
      val exchanges = "Exchange (range|hash)partitioning".r.findAllIn(p).size
      assert(exchanges == 1, s"$name must be map-only + sort, got $exchanges exchanges:\n${p.take(600)}")
      assert(!p.contains("Join"), s"$name must not join")
    }
  }

  test("change-point argmax hash-aggregates; windows run over buckets, not events") {
    val p = plan("q113_changepoint")
    assert(p.contains("ObjectHashAggregate"), p.take(500))
    assert(!p.contains("SortAggregate"), "decimal-ordered argmax must stay hash-based")
  }

  test("link prediction: no cartesian product, wedge join is keyed, top-k is TakeOrdered") {
    // the operator eagerly checkpoints its top-k (Graph persist
    // lifecycle): audit the checkpoint job's executed plan on a synthetic
    // graph (plan shape is data-independent)
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val p = executedPlans(graft.ops.Graph.linkPrediction(pairs, maxCenterDeg = 30, topK = 50))
      .map(_._2).mkString("\n")
    assert(!p.contains("CartesianProduct"), "wedge join must be keyed")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("exact order statistics rank histograms, never the row table") {
    // the q93 discipline generalized (OrderStats): q137/q141/q144/q124
    // previously ranked unbounded row tables through unpartitioned (or
    // 5-partition) windows — a single-task global sort at 100×. Pin the
    // converted shape: every window either carries a partition spec
    // (windowspecdefinition renders partition cols before the ORDER
    // fields, so a partitioned spec's first field has no sort direction)
    // or runs over the bounded ≤`buckets`-row per-bucket table (__bk).
    for (name <- Seq("q137_embedding_qc", "q141_rfm_segments",
        "q144_session_stats", "q124_winsorized")) {
      val p = plan(name)
      val windows = p.split("\n").filter(_.contains("windowspecdefinition"))
      assert(windows.nonEmpty, s"$name lost its histogram windows entirely")
      for (w <- windows) {
        val spec = w.substring(w.indexOf("windowspecdefinition") + 21)
        val firstField = spec.split(",")(0).trim
        val partitioned = !firstField.contains(" ASC") && !firstField.contains(" DESC")
        assert(partitioned || firstField.startsWith("__bk"),
          s"$name has an unpartitioned window over a non-bucket table: $w")
      }
      // the old row_number-over-the-row-table shape must not reappear
      // unpartitioned (q141's straddle ranks are partitioned by value)
      for (w <- windows if w.contains("row_number")) {
        val spec = w.substring(w.indexOf("windowspecdefinition") + 21)
        val firstField = spec.split(",")(0).trim
        assert(!firstField.contains(" ASC") && !firstField.contains(" DESC"),
          s"$name ranks rows through an unpartitioned window: $w")
      }
    }
  }

  test("rrf fusion serves its lexical leg from the stored postings index — corpus text never scanned") {
    val p = plan("q114_rrf_fusion")
    // round 11: the BM25 leg is a FileScan of the term-bucketed postings
    // artifact (pruned to the query terms' buckets), not a corpus rescan
    assert(p.contains("graft_postings_index"),
      "lexical leg must FileScan the stored postings index")
    val read = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(!read.exists(_.contains("text:")),
      s"the corpus text column must not appear in any scan: $read")
  }

  test("k-anonymity: class table broadcasts into the per-k cross; rows shuffle once") {
    val p = plan("q149_k_anonymity")
    // the per-k rollup crosses the k list with the BOUNDED class table —
    // a broadcast nested loop over 125 rows, never the customer rows
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
    assert(!p.contains("CartesianProduct"),
      "per-k rollup must broadcast, not cartesian")
    // (the customer scan itself sits behind the class table's eager
    // localCheckpoint, so its pruning is not visible in this plan — the
    // pre-aggregate projects the three census columns explicitly)
  }

  test("dedup eval: banding and truth stay keyed joins, never a row-table cross") {
    val p = plan("q150_dedup_eval")
    assert(!p.contains("CartesianProduct"),
      "all-pairs truth must come from the shingle inverted index, not a cross")
    // the final 1-row census is the ONLY nested-loop (1x1 crossJoins)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("substring dedup: ONE window-digest exchange, doc-partitioned windows, no pairwise join") {
    val p = plan("q153_substring_dedup")
    assert(!p.contains("CartesianProduct"), "no pairwise term exists in this op")
    // the rolling-window digest table (~1 row per token) must cross the
    // wire exactly once — a second consumer of the marked frame would
    // replay the whole digest pipeline (the reviewed fold)
    val hExchanges = p.split("\n").count(l =>
      l.contains("Exchange hashpartitioning(h#"))
    assert(hExchanges == 1, s"digest exchange count $hExchanges != 1:\n" +
      p.split("\n").filter(_.contains("Exchange")).mkString("\n"))
    // island windows run partitioned by doc, never unpartitioned
    assert(unpartitionedWindows(p).isEmpty,
      "span merge must stay doc-partitioned")
  }

  test("PII scrub is map-only: no exchange before the output sort") {
    val p = plan("q152_pii_scrub")
    val exchanges = p.split("\n").filter(l => l.contains("Exchange") &&
      !l.contains("rangepartitioning"))
    assert(exchanges.isEmpty,
      s"release-gate scrub must be one narrow pass: ${exchanges.mkString("\n")}")
  }

  // An unpartitioned window in PLAN TEXT: a windowspecdefinition whose
  // FIRST field carries a sort direction — a partitioned spec renders its
  // partition columns (no direction) before the ORDER fields. (The naive
  // `Window && SinglePartition` same-line check is VACUOUS: SinglePartition
  // prints on the child Exchange line, never the Window line — it was, and
  // this helper replaced it.) All window exprs in one Window op share one
  // partition spec, so the first spec per line is representative.
  private def unpartitionedWindows(p: String): Seq[String] =
    p.split("\n").filter(_.contains("windowspecdefinition")).flatMap { w =>
      val spec = w.substring(w.indexOf("windowspecdefinition") + 21)
      val firstField = spec.split(",")(0).trim
      if (firstField.contains(" ASC") || firstField.contains(" DESC"))
        Some(firstField)
      else None
    }.toSeq

  // Queries whose unpartitioned windows are PROVABLY BOUNDED — each runs
  // strictly after a limit, so the single task holds ≤ k rows (the same
  // funnel TakeOrderedAndProject plans deliberately). Every other query
  // must keep a clean sweep; a new entry here needs its bound argued.
  private val boundedWindowExemptions: Map[String, String] = Map(
    "q114_rrf_fusion" -> "ranks two post-limit top-100 retrieval lists",
    "q224_anchor_fusion" -> ("ranks three post-limit top-100 retrieval " +
      "lists (lex/sem/anchor) — each window input is ≤100 rows by the " +
      "limit directly below it, the q114 bound with one more leg"),
    "q214_retrieval_metrics" -> ("position numbering over each query's " +
      "post-limit top-10 page — ≤10 rows by construction"),
    "q46_pq_codes" -> "row_number over the post-limit ksub-row codebook seeds",
    "q94_importance_select" -> "rank over the post-limit top-k selection",
    "q181_quality_yield" -> ("cumulative sums over the post-aggregation " +
      "bucket census — bucket = least(qm div 100000, 9) has a 10-value " +
      "domain, so the window input is ≤10 rows by construction (the " +
      "OrderStats __bk class, keyed differently)"),
    "q198_filter_ordering" -> ("rank over the per-ordering cost aggregate " +
      "— the ordering key is a 6-literal table (3! gate permutations), so " +
      "the window input is ≤6 rows by construction"))

  test("registry sweep: NO query plans a CartesianProduct or an unbounded unpartitioned window") {
    // the global form of every pin above, over the ENTIRE query surface:
    // a cartesian or an unpartitioned row window anywhere is a 100 TB
    // scale defect regardless of which query grew it. Exemptions:
    // `__bk`-ordered windows (OrderStats' ≤`buckets`-row bucket-offset
    // pass — bounded by construction) and the argued post-limit list in
    // boundedWindowExemptions.
    val offenders = graft.queries.Registry.all.map(_.name).sorted.flatMap { n =>
      spark.catalog.clearCache()
      val p = Registry.byName(n).run(spark, sf()).queryExecution.executedPlan.toString
      val cart = p.contains("CartesianProduct")
      val wins = unpartitionedWindows(p).filterNot(_.startsWith("__bk"))
      val single = wins.nonEmpty && !boundedWindowExemptions.contains(n)
      if (cart || single)
        Some(s"$n${if (cart) ":cartesian" else ""}" +
          s"${if (single) s":unpartitioned-window(${wins.mkString(";")})" else ""}")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("binary ANN: Hamming prefilter is group-limited, rerank fetch broadcasts the survivor set") {
    val p = plan("q208_binary_ann")
    // phase 1: per-probe top-m over the narrow code scan must prune
    // map-side (WindowGroupLimit), never shuffle the corpus×probes product
    assert(p.contains("WindowGroupLimit"),
      "Hamming prefilter lost the window-group-limit pushdown")
    // phase 2: the bounded survivor set joins back to the corpus as a
    // broadcast hash join — the corpus itself never shuffles for the fetch
    assert(p.contains("BroadcastHashJoin"),
      "vector fetch for the rerank must broadcast the survivors")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("hard negatives broadcast the probe side; per-probe rank is group-limited") {
    val p = plan("q154_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the bounded probe set must broadcast against one corpus scan")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("WindowGroupLimit"),
      "per-probe top-k must prune map-side, not rank everything")
  }

  test("link consumers FileScan the build-once artifact — the WARC walk never re-runs per query") {
    // the round-10 finding: q210/q211/q212/q215/q216 each re-ran the
    // fixture walk + tag parse. Now every uncheckpointed consumer plan
    // must scan graft_cluster_artifacts parquet and must NOT contain the
    // fixture path (the gzip-walk/extraction subtree lives under it).
    // (q211/q212/q215/q216 materialize eagerly inside Graph ops, so the
    // pin runs on the two consumers whose full tree stays lazy plus the
    // artifact frame itself.)
    for (n <- Seq("q210_anchor_text", "q217_anchor_index")) {
      val p = plan(n)
      assert(p.contains("graft_cluster_artifacts"), s"$n must read the link artifact")
      assert(!p.contains("graft_html_fixture"),
        s"$n re-runs the WARC extraction:\n${p.take(800)}")
    }
    spark.catalog.clearCache()
    val edges = graft.queries.ClusterArtifacts.htmlLinkEdges(spark, sf())
      .queryExecution.executedPlan.toString
    assert(edges.contains("graft_cluster_artifacts") &&
      !edges.contains("graft_html_fixture"),
      s"the graph feed must be a FileScan of the artifact:\n${edges.take(800)}")
  }

  test("q45 BM25 serves from the stored postings index — corpus text never scanned, buckets pruned") {
    val p = plan("q45_bm25")
    assert(p.contains("graft_postings_index"),
      "lexical ranking must FileScan the stored postings index")
    val read = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(!read.exists(_.contains("text:")),
      s"the corpus text column must not appear in any scan: $read")
    val pf = p.split("\n").find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("bucket"), s"no bucket partition filter:\n${p.take(800)}")
  }

  test("q143/q214 lexical rankings ride the postings index; only the bounded top-k resolves to text") {
    for (n <- Seq("q143_snippets", "q214_retrieval_metrics")) {
      val p = plan(n)
      assert(p.contains("graft_postings_index"),
        s"$n must rank off the stored postings index")
    }
  }

  test("politeness schedule ranks inside host partitions — the queue window never globalizes") {
    val p = plan("q213_politeness_schedule")
    assert(p.contains("hashpartitioning(host"),
      s"per-host rank must exchange on host:\n${p.take(800)}")
    assert(unpartitionedWindows(p).isEmpty,
      "an unpartitioned window leaked into the schedule")
  }

  test("HITS half-iteration max-normalization broadcasts the 1-row max back (no second shuffle)") {
    spark.catalog.clearCache()
    val scores = spark.range(100).selectExpr("id as node", "id * 7 % 13 as authority")
    val p = graft.ops.Graph.maxNormalized(scores, "authority")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the scalar max must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("token shard deal: exactly ONE exchange (by shard), sort stays in-partition") {
    spark.catalog.clearCache()
    val docs = graft.sources.Tables.documents(spark, sf())
    val p = graft.ops.TokenShards.dealtFrame(docs, "doc_id", "text", 16, "epoch1")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllMatchIn(p).size
    assert(exchanges == 1, s"shard deal grew to $exchanges exchanges:\n${p.take(800)}")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      "a global sort leaked into the shard deal")
  }

  test("media consumers FileScan the decode-once feature artifacts — no codec kernel re-runs per query") {
    // the round-11 finding: q73/q74/q89/q109/q110/q119/q127/q128/q131/
    // q145/q146/q186 each re-decoded their media fixture (q131 twice).
    // Every uncheckpointed consumer plan must scan graft_media_features
    // parquet and must NOT contain the decode kernel subtree (the
    // mapPartitions decode renders as DeserializeToObject/MapPartitions
    // over the source table).
    for (n <- Seq("q73_image_decode", "q74_audio_decode", "q89_video_frames",
        "q109_image_phash", "q119_audio_qc", "q127_scene_cuts",
        "q128_image_qc", "q186_crossmodal_alignment")) {
      val p = plan(n)
      assert(p.contains("graft_media_features"),
        s"$n must read the media feature artifact:\n${p.take(500)}")
      assert(!p.contains("MapPartitions"),
        s"$n re-runs the decode kernel:\n${p.take(800)}")
    }
  }

  test("co-purchase graph queries ride the build-once edge artifact — the lineitem self-join never re-runs") {
    spark.catalog.clearCache()
    val edges = graft.queries.ClusterArtifacts.copurchaseEdges(spark, sf())
      .queryExecution.executedPlan.toString
    assert(edges.contains("graft_cluster_artifacts") && !edges.contains("lineitem"),
      s"the edge feed must be a FileScan of the artifact:\n${edges.take(800)}")
    // q77's registered plan stays lazy end-to-end; the other three
    // materialize inside Graph ops (the link-consumer pin's caveat)
    val p = plan("q77_triangles")
    assert(!p.contains("lineitem.parquet"),
      s"q77 re-runs the co-purchase self-join:\n${p.take(800)}")
  }

  test("media census + sample gate: artifact FileScans + hash aggs — codec never runs") {
    for (n <- Seq("q220_media_census", "q221_sample_gate")) {
      val p = plan(n)
      assert(p.contains("graft_media_features"),
        s"$n must read the feature artifacts:\n${p.take(500)}")
      assert(!p.contains("MapPartitions"),
        s"a decode kernel leaked into $n:\n${p.take(800)}")
      assert(!p.contains("SortAggregate"), s"$n aggs must stay hash-based")
    }
    assert(plan("q220_media_census").contains("BroadcastHashJoin"),
      "the doc source map must broadcast")
  }

  test("curation-chain consumers FileScan the build-once stage artifacts — no paragraph window or LM count-table rebuild per query") {
    // the round-11 finding: q87/q100/q125/q160 each re-ran the corpus-wide
    // paragraph first-occurrence window, and q93/q100/q160/q170/q195 each
    // rebuilt the reference-slice bigram count tables. Now one build per
    // corpus (CurationArtifacts); consumers FileScan.
    // q87/q100/q93: pure artifact reads — the corpus itself never rescans.
    for (n <- Seq("q87_paragraph_dedup", "q100_curation_pipeline", "q93_lm_quality")) {
      val p = plan(n)
      assert(p.contains("graft_cluster_artifacts"),
        s"$n must read the curation artifacts:\n${p.take(500)}")
      assert(!p.contains("documents.parquet"),
        s"$n rescans the corpus:\n${p.take(800)}")
      assert(!p.contains("xxhash64"),
        s"the paragraph fingerprint window leaked back into $n")
    }
    // q125/q160/q170/q195 legitimately scan the corpus (map-only split /
    // replica window / row-local gates / token counts) but must not
    // rebuild the windowed/exploded stage subtrees.
    val p125 = plan("q125_dup_matrix")
    assert(p125.contains("graft_cluster_artifacts"), p125.take(500))
    assert(!p125.contains("windowspecdefinition"),
      s"the first-occurrence window leaked back into q125:\n${p125.take(800)}")
    val p160 = plan("q160_curation_log")
    assert(p160.contains("graft_cluster_artifacts"), p160.take(500))
    assert(!p160.contains("xxhash64"),
      s"the paragraph fingerprint window leaked back into q160:\n${p160.take(800)}")
    // q170/q195 checkpoint their census mid-query (registered plans are
    // post-checkpoint scans — the link-consumer pin's caveat), so pin the
    // artifact frame they consume instead.
    spark.catalog.clearCache()
    val lmFeed = graft.queries.CurationArtifacts.lmRawBuckets(spark, sf())
      .queryExecution.executedPlan.toString
    assert(lmFeed.contains("graft_cluster_artifacts") && !lmFeed.contains("Generate"),
      s"the LM bucket feed must be a FileScan of the artifact:\n${lmFeed.take(800)}")
  }

  test("scene cuts fold windows inside per-video partitions off the artifact") {
    val p = plan("q127_scene_cuts")
    assert(p.contains("hashpartitioning(media_id"),
      s"the hamming-lag window must partition on media_id:\n${p.take(800)}")
    assert(unpartitionedWindows(p).isEmpty,
      "an unpartitioned window leaked into scene cuts")
  }

  test("matryoshka recall ranks via the sort-free bounded-heap aggregate (no window sort over the pair explosion)") {
    // the q209 round-11 shape: PrefixTopKAgg under ObjectHashAggregate —
    // the heavy subtree is hidden behind a checkpoint in the registered
    // query, so pin the operator's lazy form
    spark.catalog.clearCache()
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val corpus = emb.select(col("vec_id"),
      graft.ops.Similarity.quantize(col("embedding")).as("qv"))
    val probes = broadcast(emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"),
        graft.ops.Similarity.quantize(col("embedding")).as("pqv")))
    val p = corpus.crossJoin(probes).filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"))
      .agg(graft.functions.NativeExpressions.prefixTopK(
        col("qv"), col("pqv"), col("vec_id"), Seq(8, 16, 32, 64), 10).as("tk"))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"),
      s"prefixTopK must hash-aggregate:\n${p.take(800)}")
    assert(!p.contains("SortAggregate") && !p.contains("WindowGroupLimit"),
      s"the ranking must not sort:\n${p.take(800)}")
  }
}
