package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftSession

/** Loaders for the driver-generated parquet tables (see /root/repo/TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst gets parquet
  * filter pushdown and column pruning for free; callers should `select`
  * only what they need so `ReadSchema` stays narrow.
  *
  * The reference engine's "tables" are Kafka topics
  * (reference: pipeline/src/main/kotlin/pipeline/impl/KafkaIntelligencePipeline.kt:42-47);
  * here the batch surface is parquet and the streaming surface is
  * `graft.streaming` over the same schemas.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Stable cache-directory key for a corpus dir: readable basename plus
    * 4 MD5 bytes of the FULL canonical path — two corpora whose dirs
    * share a basename must never share a derived cache (fixtures,
    * serving indexes). One definition for every cache in the repo. */
  def dirCacheKey(dir: String): String = {
    val f = new java.io.File(dir)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(f.getCanonicalPath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    s"${f.getName}_$digest"
  }

  /** Build-once on-disk artifact discipline — ONE implementation for
    * every derived /tmp cache (serving indexes, cluster chains, token
    * shards, the WARC/JSONL/directory ingest fixtures): keyed on the FULL
    * canonical corpus path; `name` is the VERSION CONTRACT (any change to
    * parameters, layout, or hash convention MUST bump it — a stale
    * same-named artifact would serve silently wrong data); idempotent via
    * `_COMPLETE` marker, overwrite-mode builds make a crash before the
    * marker rebuild cleanly. Assumes an immutable corpus dir.
    *
    * Scope is ONE JVM: the path carries a per-process token, so every
    * fresh invocation (bench, verify, the driver's harness) computes
    * its artifacts from the parquet inputs — no run ever reads an
    * intermediate a previous process persisted. Within the process the
    * in-memory map + marker keep the build-once sharing across all
    * consumer queries (the 100 TB posture: one paragraph shuffle / LM
    * build / link extraction per corpus, not one per query). A shutdown
    * hook deletes the run's artifact trees, and each `/tmp/<root>` left
    * empty by that, so repeated runs don't accumulate in /tmp. */
  private val builtOnce = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val runToken: String =
    java.lang.Long.toHexString(new java.security.SecureRandom().nextLong())
  private val runRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => runRoots.forEach(deleteRunTree(_))))

  /** Deletes one run's artifact subtree, then its parent root when that
    * is left empty. A root another live run still writes into is not
    * empty, so the directory delete refuses it and it stays. Best effort:
    * this runs in a shutdown hook, so every failure is swallowed. */
  private[graft] def deleteRunTree(dir: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f =>
            try java.nio.file.Files.deleteIfExists(f) catch { case _: Throwable => () })
      java.nio.file.Files.deleteIfExists(p.getParent)
    } catch { case _: Throwable => () }

  /** The per-run directory an artifact lives in (exposed for tests). */
  def artifactDir(root: String, dir: String, name: String): String =
    s"/tmp/$root/${dirCacheKey(dir)}_$runToken/$name"

  def buildOnce(root: String, dir: String, name: String)(build: String => Unit): String = {
    val canon = new java.io.File(dir).getCanonicalPath
    builtOnce.computeIfAbsent(s"$canon#$root#$name", { _ =>
      cleanupHook
      val out = artifactDir(root, canon, name)
      runRoots.add(out.stripSuffix(s"/$name"))
      val marker = java.nio.file.Paths.get(out, "_COMPLETE")
      if (!java.nio.file.Files.exists(marker)) {
        build(out)
        java.nio.file.Files.write(marker, Array.emptyByteArray)
      }
      out
    })
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events.ts` normalized to a Long of epoch-NANOSECONDS, whatever the
    * parquet physical form. We keep it as a Long on purpose: all event-time
    * operators (sessionization gap math, interval joins) then run on exact
    * integer arithmetic, matching the DuckDB oracle's `epoch_ns(ts)`
    * bit-for-bit.
    *
    * Two generator schemas exist in the wild:
    *   - legacy: parquet TIMESTAMP(NANOS), loaded as an ns Long via the
    *     `nanosAsLong` conf. DuckDB reads that column at µs resolution, so
    *     for oracle parity we truncate to µs while staying in ns units.
    *     Integer `div` — a double division would lose precision at 1.7e18.
    *   - current: parquet timestamp[us] (TIMESTAMP or TIMESTAMP_NTZ in
    *     Spark). `unix_micros * 1000` is already µs-truncated by
    *     construction; the NTZ→TZ cast is value-preserving because the
    *     session timezone is pinned to UTC (GraftSession), matching
    *     DuckDB's naive-timestamp `epoch_ns`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    GraftSession.ensureRuntimeConfs(s)
    val raw = load(s, d, "events")
    raw.withColumn("ts", normalizeEventTime(raw, "ts"))
  }

  /** Epoch-ns Long from either events-time schema form (see [[events]]).
    * Exposed so streaming readers and tests over raw frames share the one
    * normalization. Fails loudly on any other type — a silent cast here
    * (e.g. `cast(ts as long)` = epoch-SECONDS on timestamps) would let
    * queries "pass" with coarsened event ordering. */
  def normalizeEventTime(df: DataFrame, colName: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    df.schema(colName).dataType match {
      case LongType =>
        expr(s"($colName div 1000) * 1000")
      case TimestampType | TimestampNTZType =>
        expr(s"unix_micros(cast($colName as timestamp)) * 1000")
      case other =>
        throw new IllegalArgumentException(
          s"events.$colName: expected epoch-ns BIGINT or TIMESTAMP[_NTZ], got $other")
    }
  }
}
