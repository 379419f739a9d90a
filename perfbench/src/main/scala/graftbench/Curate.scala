package graftbench

import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.queries.{ClusterArtifacts, Registry}
import graft.service.GraftService

/** `curate`: a fixed list of registry queries plus requests to an
  * in-process GraftService, over a generated corpus, in a seeded order. */
final class Curate(work: Path) extends Workload {
  import Curate._
  private var corpus: Path = _
  private var order: Seq[String] = Nil
  private var seed = 0L
  /** Passes made so far; each sends the requests generated for its number. */
  private var passes = 0
  private var svc: GraftService = _
  /** The corpus copy the measured windows run on. */
  private var dir: String = _
  /** Every served request with its corpus copy and reply, for the check. */
  private val served = scala.collection.mutable.ArrayBuffer.empty[(String, Gen.Request, Int, String)]
  private lazy val byName = Registry.byName

  def generate(spark: SparkSession, dir: Path, seed: Long, seconds: Double): Unit = {
    corpus = dir.resolve("corpus")
    writeCorpus(spark, corpus, seed)
    order = Gen.shuffle(Ops.map(_._1), Gen.rng(seed, 7))
    this.seed = seed
  }

  def setup(spark: SparkSession, round: Int): Unit = {
    if (svc != null) svc.close()
    svc = GraftService.start(spark, 0)
    Seq("documents", "embeddings", "lineitem").foreach(t =>
      graft.sources.Tables.load(spark, corpus.toString, t).count())
  }

  private def results(name: String) = work.resolve("results").resolve(name).toString

  /** The last result of each query, checked after the measured window. */
  private val outputs = scala.collection.mutable.Map.empty[String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]

  /** One operation; returns its wall time in ms. A query's result rows are
    * collected (and kept for the check); a request is sent and its reply
    * kept. */
  private def exec(spark: SparkSession, op: String, dir: String): Double = {
    val t = System.nanoTime()
    if (op.startsWith("service.")) {
      val r = Gen.requests(seed, passes, Params.corpusVecs)(op.stripPrefix("service."))
      val (status, body) = get(r, dir)
      served += ((dir, r, status, body))
    } else {
      val df = byName(op).run(spark, dir)
      outputs(op) = (df.schema, df.collect())
    }
    val ms = (System.nanoTime() - t) / 1e6
    // as graft.Bench: each execution starts without the caches of the last
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    ms
  }

  private def get(r: Gen.Request, dir: String): (Int, String) = {
    val path = if (r.route == "similar") "/similar" else "/search"
    val c = URI.create(s"http://127.0.0.1:${svc.port}$path?dir=${java.net.URLEncoder.encode(dir, "UTF-8")}&${r.query}")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      (status, new String(in.readAllBytes(), "UTF-8"))
    } finally c.disconnect()
  }

  /** The measured window: warm passes until `seconds` have passed (at
    * least one). The run's first window starts with a cold pass on a fresh
    * corpus copy (every operation's first execution, build-once artifacts
    * included); a later one (the traced run's untraced comparison) makes
    * warm passes only. */
  def measure(spark: SparkSession, seconds: Double, trace: Option[Trace]): Measured = {
    val t0 = System.nanoTime()
    val first = dir == null
    if (first) dir = copyCorpus(corpus, "corpus_copy")
    // (operation, ms, span id)
    def pass(kind: String): Seq[(String, Double, Long)] = {
      val ops = order.map { op =>
        trace match {
          case None => (op, exec(spark, op, dir), 0L)
          case Some(tr) =>
            val ms = tr.span(s"${family(op)}.$op.$kind")(exec(spark, op, dir))
            (op, ms, tr.spans.last.id)
        }
      }
      passes += 1
      ops
    }
    val cold = if (first) pass("cold") else Nil
    val tWarm = System.nanoTime()
    val warm = scala.collection.mutable.ArrayBuffer(pass("warm"))
    while (System.nanoTime() - tWarm < seconds * 1e9) warm += pass("warm")
    val total = (System.nanoTime() - t0) / 1e9
    val warmMs = warm.map(_.map(_._2).sum).toSeq
    Main.note(f"curate: cold pass ${cold.map(_._2).sum}%.0f ms, warm ${warmMs.map(x => f"$x%.0f").mkString(" ")} ms; " +
      order.indices.map(i => f"${order(i)} ${cold.lift(i).fold("-")(c => f"${c._2}%.0f")}/${warm.last(i)._2}%.0f").mkString(", "))
    val layers = trace.map(tr => layersOf(spark, tr, cold, warm.toSeq)).getOrElse(Map.empty)
    Measured(warmMs, (cold.size + warm.map(_.size).sum) / total, layers)
  }

  private def layersOf(spark: SparkSession, tr: Trace, cold: Seq[(String, Double, Long)],
      warm: Seq[Seq[(String, Double, Long)]]): Map[String, Double] = {
    tr.drain()
    val n = warm.size.toDouble
    val spanById = tr.spans.map(s => s.id -> s).toMap
    // a span's jobs: submitted under it (queries) or, for requests served
    // on the server's thread, started while it was open
    def owns(s: Trace.Span)(j: Trace.JobRec) =
      j.span == s.id || (j.span == 0 && j.startNs >= s.startNs && j.startNs <= s.endNs)
    def agg(ids: Seq[Long]) = {
      val ss = ids.map(spanById)
      val a = Trace.aggregate(tr, j => ss.exists(s => owns(s)(j)))
      val wall = ss.map(s => (s.endNs - s.startNs) / 1e6).sum
      val busy = ss.map(s => Trace.aggregate(tr, owns(s), s.startNs, s.endNs).stageBusyMs).sum
      (a, wall, busy)
    }
    val fams = Layers.Families.flatMap { f =>
      val ops = order.filter(family(_) == f)
      val (a, wallW, busy) = agg(warm.flatten.filter(x => ops.contains(x._1)).map(_._3))
      Seq("jobs" -> a.jobs / n, "stages" -> a.stages / n, "tasks" -> a.tasks / n, "task_ms" -> a.taskMs / n,
        "plan_ms" -> a.planMs / n, "driver_ms" -> (wallW - busy) / n, "shuffle_bytes" -> a.shWriteBytes / n,
        "gc_ms" -> a.gcMs / n, "cold_ms" -> cold.filter(x => ops.contains(x._1)).map(_._2).sum,
        "warm_ms" -> wallW / n).map { case (k, v) => s"$f.$k" -> v }
    }
    val routes = Layers.Routes.flatMap { r =>
      val xs = warm.flatten.filter(_._1 == s"service.$r")
      val (a, _, _) = agg(xs.map(_._3))
      val k = math.max(1, xs.size).toDouble
      Seq("requests" -> (xs.size + cold.count(_._1 == s"service.$r")).toDouble,
        "errors" -> served.count(x => x._2.route == r && x._3 != 200).toDouble,
        "latency_p50_ms" -> (if (xs.isEmpty) 0.0 else Stats.median(xs.map(_._2))),
        "jobs_per_req" -> a.jobs / k, "plan_ms_per_req" -> a.planMs / k, "task_ms_per_req" -> a.taskMs / k)
        .map { case (f, v) => s"service.$r.$f" -> v }
    }
    val all = agg(warm.flatten.map(_._3))._1
    // the build-once artifacts the operations touch, timed by calling
    // their builders directly on a corpus copy of their own
    val own = copyCorpus(corpus, "corpus_artifacts")
    def timed(f: => Any) = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
    val artifacts = Seq(
      "queries.artifacts.postings_index.build_ms" -> timed(ClusterArtifacts.postingsIndex(spark, own)),
      "queries.artifacts.ivf_index.build_ms" -> timed(ClusterArtifacts.ivfIndex(spark, own)))
    (fams ++ routes ++ artifacts ++ Seq(
      "queries.curate.cold_s" -> cold.map(_._2).sum / 1000,
      "queries.curate.warm_s" -> Stats.median(warm.map(_.map(_._2).sum)) / 1000,
      "sources.scan_rows" -> all.inRecords / n, "sources.scan_bytes" -> all.inBytes / n,
      "sources.scan_task_ms" -> all.scanTaskMs / n)).toMap
  }

  /** Query results go to the launcher's DuckDB oracle check; served
    * replies are compared here with the direct library result. */
  def check(spark: SparkSession): Checked = {
    import spark.implicits._
    outputs.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1).write.parquet(results(q))
    }
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    var failed = 0
    served.foreach { case (d, r, status, body) =>
      val ps = r.query.split("&").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      val want: Seq[(Long, Double)] = r.route match {
        case "search" =>
          val terms = ps("q").split("\\+").toSeq.filter(_.nonEmpty).distinct
          graft.ops.TextSearch.bm25TopKIndexed(spark, ClusterArtifacts.postingsIndex(spark, d), terms,
              graft.queries.TextQueries.Bm25K)
            .orderBy(col("score_e12").desc, col("doc_id").asc)
            .select(col("doc_id"), col("score_e12").cast("double")).as[(Long, Double)].collect().toSeq
        case _ =>
          val probe = ps("probeDoc").toLong
          val k = ps("k").toInt
          val ivf = ClusterArtifacts.ivfIndex(spark, d)
          val qv = graft.sources.Tables.embeddings(spark, d).filter(col("vec_id") === probe)
            .select(graft.ops.Similarity.quantize(col("embedding"))).as[Seq[Long]].head()
          graft.ops.Similarity.ivfExactTopKMany(spark.read.parquet(s"$ivf/index"),
              spark.read.parquet(s"$ivf/centroids"), Seq((0L, qv)).toDF("query_id", "q"), k + 1, 3)
            .filter(col("id") =!= probe).orderBy(col("cosine").desc, col("id").asc).limit(k)
            .select(col("id"), col("cosine")).as[(Long, Double)].collect().toSeq
      }
      val got = if (status != 200) Nil else replyRows(body).map(x =>
        if (r.route == "search") (x("doc_id").toLong, x("score_e12").toDouble)
        else (x("id").toLong, x("cosine").toDouble))
      if (status != 200 || got != want) {
        failed += 1
        if (notes.size < 3) notes += s"curate: /${r.route}?${r.query} answered $status, not the direct library result"
      }
    }
    Checked(served.size + queries.size, failed, notes.toSeq)
  }

  private def queries = order.filterNot(_.startsWith("service."))

  override def oracleJson: String =
    queries.map { q =>
      s"""{"name":${Main.jstr(q)},"out":${Main.jstr(results(q))},"sql":${Main.jstr(byName(q).oracle.get)}}"""
    }.mkString(""","oracle":[""", ",", "]")
}

object Curate {
  /** The operations with their families: each family's representative
    * registry query, two controls that bypass the dedup and graph
    * mechanisms, and the two served routes. */
  val Ops: Seq[(String, String)] = Seq(
    "q38_curation" -> "queries.curation",
    "q12_minhash_neardup" -> "ops.dedup",
    "q79_ann_ivf_batch" -> "ops.similarity",
    "q45_bm25" -> "ops.textsearch",
    "q47_pagerank" -> "ops.graph",
    "q23_rollup" -> "control", "q21_event_fold" -> "control",
    "service.search" -> "service", "service.similar" -> "service")
  val family: Map[String, String] = Ops.toMap

  /** A fresh copy of the corpus beside it, named `name`. The build-once
    * artifacts are keyed on the corpus path, so a copy starts without any. */
  def copyCorpus(corpus: Path, name: String): String = {
    val to = corpus.resolveSibling(name)
    Files.walk(corpus).iterator().asScala.toSeq.foreach { p =>
      val q = to.resolve(corpus.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    to.toString
  }

  /** documents, embeddings and lineitem tables of the seed's corpus. */
  def writeCorpus(spark: SparkSession, dir: Path, seed: Long): Unit = {
    import spark.implicits._
    Gen.docs(seed, Params.corpusDocs).toDS().coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    Gen.embeddings(seed, Params.corpusVecs).toDS().coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
    Gen.lineitem(seed, Params.corpusLineitems).toDS().coalesce(1).write.parquet(dir.resolve("lineitem.parquet").toString)
  }

  /** The service's JSON rows as field → value text. */
  def replyRows(body: String): Seq[Map[String, String]] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(body) match {
      case JArray(xs) => xs.collect { case JObject(fs) =>
        fs.map { case (k, v) => k -> (v match {
          case JString(s) => s; case JInt(i) => i.toString; case JLong(l) => l.toString
          case JDouble(x) => x.toString; case JDecimal(x) => x.toString; case other => other.toString
        }) }.toMap
      }
      case _ => Nil
    }
  }
}
