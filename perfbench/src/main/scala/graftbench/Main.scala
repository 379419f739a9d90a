package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one workload's measured phase yields. `latencyMs` are the
  * per-operation latencies whose median is `latency_p50_ms`; `layers` is
  * filled only by a traced phase. */
final case class Measured(
    latencyMs: Seq[Double],
    throughputPerSec: Double,
    layers: Map[String, Double] = Map.empty,
    genLateMs: Seq[Double] = Nil)

/** Outcome of the correctness checks, run outside the timed section. */
final case class Checked(attempted: Int, failed: Int, notes: Seq[String] = Nil)

trait Workload {
  /** Writes the seeded inputs under `dir`; not part of set-up time. */
  def generate(spark: SparkSession, dir: Path, seed: Long, seconds: Double): Unit
  /** Readies the workload in a fresh session (warm-up, index builds). */
  def setup(spark: SparkSession, round: Int): Unit
  def measure(spark: SparkSession, seconds: Double, trace: Option[Trace]): Measured
  def check(spark: SparkSession): Checked
  /** `,"oracle":[...]`: results the launcher checks against DuckDB. */
  def oracleJson: String = ""
}

/** Benchmark JVM: `--workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Writes DIR/result.json; `run.py` turns it into the result line. */
object Main {

  def session(threads: Int, work: Path): SparkSession = {
    val s = graft.GraftSession.tune(
      SparkSession.builder().master(s"local[$threads]").appName("graftbench"), threads)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr (the launcher keeps it in the run's log). */
  def note(msg: String): Unit = System.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def loadAvg: Double =
    Files.readString(Paths.get("/proc/loadavg")).split(" ").head.toDouble

  /** Fixed calibration job (a data-independent hash fold), so figures from
    * different boxes or days can be related. */
  def calibrate(spark: SparkSession): Double = {
    val t = System.nanoTime()
    spark.range(30000000L).selectExpr("bit_xor(xxhash64(id))").collect()
    (System.nanoTime() - t) / 1e9
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def workload(name: String, work: Path, traced: Boolean): Workload = name match {
    case "stream" => new Stream(work, if (traced) 2 else 1)
    case "curate" => new Curate(work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val threads = Runtime.getRuntime.availableProcessors
    val loadStart = loadAvg
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w = workload(a("workload"), work, traced)

    // Set-up, repeated: each round stops the previous session and readies
    // the workload in a new one. Round 0 counts from JVM start and excludes
    // input generation.
    var spark: SparkSession = null
    var genS = 0.0
    val setupS = (0 until Params.setups).map { round =>
      val t0Ms = if (round == 0) jvmStartMs.toDouble else System.currentTimeMillis().toDouble
      if (spark != null) spark.stop()
      spark = session(threads, work)
      if (round == 0) {
        val g = System.nanoTime()
        w.generate(spark, work.resolve("inputs"), seed, seconds)
        genS = (System.nanoTime() - g) / 1e9
        note(f"inputs generated in $genS%.2f s")
      }
      w.setup(spark, round)
      note(s"set-up round $round done")
      (System.currentTimeMillis() - t0Ms) / 1000.0 - (if (round == 0) genS else 0.0)
    }
    val gc0 = gcMs

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    var genLate: Seq[Double] = Nil
    if (!traced) {
      val m = w.measure(spark, seconds, None)
      genLate = m.genLateMs
      metrics("setup_s") = (Stats.median(setupS), "s")
      metrics("latency_p50_ms") = (Stats.median(m.latencyMs), "ms")
      metrics("throughput_per_s") = (m.throughputPerSec, "1/s")
    } else {
      // traced, then untraced: the overhead is the traced window's median
      // against the untraced one's (the later, slightly warmer window, so
      // it errs towards overstating the overhead)
      val trace = new Trace(spark)
      trace.attach()
      val mt = w.measure(spark, seconds, Some(trace))
      trace.detach()
      val untracedMs = Stats.median(w.measure(spark, seconds, None).latencyMs)
      genLate = mt.genLateMs
      val tracedMs = Stats.median(mt.latencyMs)
      trace.write(work.resolve("spans.jsonl"))
      val layers = Layers.defaults ++ mt.layers ++ Map(
        "jvm.gc_ms" -> (gcMs - gc0).toDouble,
        "jvm.peak_rss_mb" -> rssPeakMb,
        "trace.spans" -> trace.spans.size.toDouble,
        "trace.overhead_ms" -> (tracedMs - untracedMs),
        "trace.overhead_share" -> (tracedMs - untracedMs) / untracedMs)
      layers.foreach { case (k, v) => metrics(k) = (v, Layers.unit(k)) }
    }
    note("measured")
    val checked = w.check(spark)
    note(s"checked: ${checked.attempted} attempted, ${checked.failed} failed")
    // after the measured windows, so it cannot disturb their warm JIT state
    val calibS = calibrate(spark)
    spark.stop()

    val validity = Seq(
      "nproc" -> threads.toDouble, "loadavg_start" -> loadStart,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0, "calib_s" -> calibS,
      "gen_s" -> genS, "peak_rss_mb" -> rssPeakMb,
      "gen_late_ms_p99" -> Stats.percentile(genLate, 99).orElse(genLate.maxOption).getOrElse(0.0),
      "gen_late_ms_max" -> genLate.maxOption.getOrElse(0.0))
    val json = new StringBuilder("{")
    json ++= s""""attempted":${checked.attempted},"failed":${checked.failed},"""
    json ++= metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString(""""metrics":{""", ",", "},")
    json ++= validity.map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString(""""validity":{""", ",", s""","setup_rounds_s":[${setupS.map(num).mkString(",")}]},""")
    json ++= checked.notes.map(jstr).mkString(""""notes":[""", ",", "]")
    json ++= w.oracleJson
    json ++= "}"
    Files.writeString(work.resolve("result.json"), json.toString)
    // no lingering server or Spark thread may keep the JVM alive
    System.exit(0)
  }

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
