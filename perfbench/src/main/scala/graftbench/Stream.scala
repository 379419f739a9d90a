package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions.col
import graft.model._
import graft.pipeline.{Consolidate, Enrichers, StandardEnrichers}
import graft.streaming.Streaming

/** `stream`: an open-loop generator releases pre-written parquet event
  * files on a fixed schedule into a directory that Streaming.fileEvents
  * watches; the files flow through Streaming.consolidate →
  * Streaming.enriched → Streaming.sideEffect, the composition
  * `/startPipeline` wires. Latency runs from an event's due time (its
  * file's release time) to the side effect that emits its record.
  *
  * Each set-up starts the query and warms it with a few files, one
  * trigger at a time; the measured windows release their feeds into the
  * running query of the last set-up, so they time steady-state triggers,
  * not a new query's first ones. After each window, backlogs of files
  * are released all at once; the time to process them gives the
  * sustainable rate (`throughput_per_s`), which the open-loop window,
  * paced by its schedule, cannot show. A traced run measures two windows,
  * each with feeds of its own (fresh keys and file names). */
final class Stream(work: Path, feeds: Int) extends Workload {
  private var dir: Path = _
  private var nFiles = 0
  private var emitted = Seq.empty[(Long, Seq[DataRecord])]
  private var query: StreamingQuery = _
  private var live: Path = _
  private var checkpoint: Path = _
  /** Where the running query's side effect hands its batches. */
  @volatile private var sink: (Long, Seq[DataRecord]) => Unit = (_, _) => ()
  private var runs = 0
  /** The traced window's recorder: each micro-batch's side effect runs
    * in a span of its own. */
  @volatile private var trace: Option[Trace] = None
  /** The last window's feed and backlog, for the check. */
  private var lastFeeds: Seq[Path] = Nil

  /** Writes each directory's files, each file's events as one parquet
    * file `<k>.parquet` in `dir/<name>`, with a single Spark job. */
  private def writeFiles(spark: SparkSession, dirs: Seq[(String, IndexedSeq[IndexedSeq[DataRecordEvent]])]): Unit = {
    import spark.implicits._
    val tmp = dir.resolve("stream_parts")
    spark.createDataset(for ((name, files) <- dirs; (evs, k) <- files.zipWithIndex; e <- evs) yield (s"$name-$k", e))
      .toDF("release", "e").repartition(col("release")).select(col("release"), col("e.*"))
      .write.partitionBy("release").parquet(tmp.toString)
    for ((name, files) <- dirs; k <- files.indices) {
      Files.createDirectories(dir.resolve(name))
      val part = Files.list(tmp.resolve(s"release=$name-$k")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(name).resolve(f"$k%05d.parquet"))
    }
  }

  def generate(spark: SparkSession, dir: Path, seed: Long, seconds: Double): Unit = {
    this.dir = dir
    nFiles = math.ceil(seconds * 1000 / Params.streamIntervalMs).toInt
    writeFiles(spark, ("stream_warm" -> Gen.streamFiles(seed, Params.streamWarmFiles, 1L << 40)) +:
      (0 until feeds).flatMap { k =>
        Seq(s"stream_feed$k" -> Gen.streamFiles(seed + k, nFiles, (k + 1L) << 32),
          s"stream_backlog$k" -> Gen.streamFiles(seed + k, Params.streamBacklogs * Params.streamBacklogFiles,
            ((k + 1L) << 32) + (1L << 31), Params.streamBacklogEventsPerFile))
      })
  }

  def setup(spark: SparkSession, round: Int): Unit = {
    live = dir.resolve(s"stream_live$round")
    Files.createDirectories(live)
    val ckRoot = work.resolve("checkpoints")
    val before = if (Files.exists(ckRoot)) Files.list(ckRoot).iterator().asScala.toSet else Set.empty[Path]
    query = Streaming.sideEffect(
      Streaming.enriched(Streaming.consolidate(Streaming.fileEvents(spark, live.toString)),
        StandardEnrichers.all()),
      (batch: Dataset[DataRecord], id: Long) => {
        def emit(): Unit = sink(id, batch.collect().toSeq)
        trace.fold(emit())(_.span("streaming.sideEffect")(emit()))
      })
    checkpoint = Files.list(ckRoot).iterator().asScala.toSet.diff(before).head
    Files.list(dir.resolve("stream_warm")).iterator().asScala.toSeq.sorted.foreach { f =>
      Files.move(Files.copy(f, live.resolve("." + f.getFileName)), live.resolve(f.getFileName.toString),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }
  }

  def measure(spark: SparkSession, seconds: Double, trace: Option[Trace]): Measured = {
    this.trace = trace
    val feed = dir.resolve(s"stream_feed${runs % feeds}")
    val backlog = dir.resolve(s"stream_backlog${runs % feeds}")
    val prefix = s"m$runs-"
    runs += 1
    val emitNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[DataRecord])]()
    sink = { (id, recs) =>
      out.add((id, recs))
      emitNs.put(id, System.nanoTime())
    }
    val t0 = System.nanoTime() + 200000000L
    val dues = OpenLoop.dueTimes(t0, nFiles, 1000.0 / Params.streamIntervalMs)
    // a release is a copy under a hidden name, then an atomic rename: the
    // source never lists a half-written file
    def stage(from: Path, name: String) = Files.copy(from, live.resolve("." + name))
    def publish(hidden: Path) = Files.move(hidden, hidden.resolveSibling(hidden.getFileName.toString.drop(1)),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val released = OpenLoop.run(dues, OpenLoop.SystemClock) { k =>
      publish(stage(feed.resolve(f"$k%05d.parquet"), f"$prefix$k%05d.parquet"))
    }
    query.processAllAvailable()

    // every file holds Params.streamEventsPerFile events, so the median
    // over files is the median over events; the files are the independent
    // samples
    val batchOf = Stream.fileBatches(checkpoint)
    val lat = released.map(op => (emitNs.get(batchOf(f"$prefix${op.index}%05d.parquet")) - op.dueNs) / 1e6)
    Main.note(s"stream: ${emitNs.size} batches; per-file latency (ms): ${lat.map(x => f"$x%.0f").mkString(" ")}; " +
      s"trigger ms: ${query.recentProgress.takeRight(emitNs.size).map(p => s"${p.numInputRows}/${p.durationMs.get("triggerExecution")}/${p.durationMs.get("addBatch")}").mkString(" ")}")
    val layers = trace.map { tr =>
      tr.drain()
      val ps = tr.streams.progress.asScala.toSeq.filter(_.numInputRows > 0)
      def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, ks: String*) =
        ks.map(k => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)).sum
      def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val jobsAgg = Trace.aggregate(tr, j => j.startNs >= tr.relNs(t0) - 200000000L)
      val backlog = released.map(op => released.count(o => o.firedNs <= op.firedNs &&
        emitNs.get(batchOf(f"$prefix${o.index}%05d.parquet")) > op.firedNs)).max
      val last = tr.streams.progress.asScala.lastOption
      Map(
        "streaming.triggers" -> ps.size.toDouble,
        "streaming.rows_per_trigger_p50" -> p50(ps.map(_.numInputRows.toDouble)),
        "streaming.trigger_ms_p50" -> p50(ps.map(d(_, "triggerExecution"))),
        "streaming.trigger_ms_p99" -> Stats.percentile(ps.map(d(_, "triggerExecution")), 99)
          .getOrElse(ps.map(d(_, "triggerExecution")).maxOption.getOrElse(0.0)),
        "streaming.add_batch_ms_p50" -> p50(ps.map(d(_, "addBatch"))),
        "streaming.planning_ms_p50" -> p50(ps.map(d(_, "latestOffset", "getBatch", "queryPlanning"))),
        "streaming.commit_ms_p50" -> p50(ps.map(d(_, "walCommit", "commitOffsets"))),
        "streaming.state_rows" -> last.flatMap(_.stateOperators.headOption).fold(0.0)(_.numRowsTotal.toDouble),
        "streaming.state_memory_bytes" -> last.flatMap(_.stateOperators.headOption).fold(0.0)(_.memoryUsedBytes.toDouble),
        "streaming.backlog_files_max" -> backlog.toDouble,
        "streaming.gen_late_ms_p99" -> Stats.percentile(released.map(_.lateMs), 99).getOrElse(released.map(_.lateMs).max),
        "streaming.latency_p99_ms" -> Stats.percentile(lat, 99).getOrElse(lat.max),
        "sources.scan_rows" -> jobsAgg.inRecords.toDouble,
        "sources.scan_bytes" -> jobsAgg.inBytes.toDouble,
        "sources.scan_task_ms" -> jobsAgg.scanTaskMs.toDouble,
        "pipeline.fold.events_in" -> ps.map(_.numInputRows.toDouble).sum,
        "pipeline.fold.shuffle_records" -> jobsAgg.shWriteRecords.toDouble,
        "pipeline.fold.shuffle_bytes" -> jobsAgg.shWriteBytes.toDouble,
        "pipeline.fold.task_ms" -> jobsAgg.taskMs.toDouble,
        "pipeline.fold.wall_ms" -> ps.map(d(_, "addBatch")).sum,
        "pipeline.fold.combine_ratio" -> jobsAgg.shWriteRecords / math.max(1.0, ps.map(_.numInputRows.toDouble).sum))
    }.getOrElse(Map.empty)

    // capacity: each backlog is staged hidden, then published at once
    val n = Params.streamBacklogFiles
    val rates = (0 until Params.streamBacklogs).map { b =>
      val hidden = (b * n until (b + 1) * n).map(k => stage(backlog.resolve(f"$k%05d.parquet"), f"${prefix}b$k%05d.parquet"))
      val t = System.nanoTime()
      hidden.foreach(publish)
      query.processAllAvailable()
      n * Params.streamBacklogEventsPerFile / ((System.nanoTime() - t) / 1e9)
    }
    Main.note(s"stream: backlog events/s: ${rates.map(x => f"$x%.0f").mkString(" ")}")
    sink = (_, _) => ()
    this.trace = None
    lastFeeds = Seq(feed, backlog)
    emitted = out.asScala.toSeq
    Measured(lat, Stats.median(rates), layers, released.map(_.lateMs))
  }

  /** The last emitted state per key equals Consolidate.batch (then the same
    * enrichers) over the same event files. The last window's feed and
    * backlog have keys of their own, so its batches hold every update of
    * those keys. */
  def check(spark: SparkSession): Checked = {
    import spark.implicits._
    query.stop()
    val want = Enrichers.enrich(Consolidate.batch(spark.read.parquet(lastFeeds.map(_.toString): _*).as[DataRecordEvent]),
      StandardEnrichers.all()).collect().map(r => r.id -> r).toMap
    val got = emitted.sortBy(_._1).flatMap(_._2).map(r => r.id -> r).toMap
    val bad = want.keySet.union(got.keySet).toSeq.filter(k => want.get(k) != got.get(k))
    Checked(want.size, bad.size, bad.take(3).map(id => s"stream: key $id: last emitted record differs from the batch fold"))
  }
}

object Stream {
  /** File name → micro-batch id, read from the file source's log in the
    * query's checkpoint (plain and compacted log files alike). */
  def fileBatches(checkpoint: Path): Map[String, Long] = {
    val logDir = checkpoint.resolve("sources").resolve("0")
    Files.list(logDir).iterator().asScala.toSeq.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1))
      .flatMap { line =>
        val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(line).map(_.group(1))
        val batch = "\"batchId\":(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong)
        for (p <- path; b <- batch) yield p.split('/').last -> b
      }.groupMapReduce(_._1)(_._2)(math.min)
  }
}
