package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: spans that the benchmark opens around each
  * call into a layer's public function, plus Spark's own job, stage, task,
  * planning and streaming-progress events. Everything stays in memory
  * until [[write]] at the end of the run. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val t0 = System.nanoTime()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val current = new ThreadLocal[Span]

  /** Runs `body` inside a span. The span joins the calling thread's open
    * span as its child (same trace id) or, with none open, starts a new
    * trace. Spark jobs that `body` submits carry the span id. */
  def span[T](name: String)(body: => T): T = {
    val parent = Option(current.get)
    val id = nextId.getAndIncrement()
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    val s0 = Span(id, parent.map(_.trace).getOrElse(id), name, parent.map(_.id).getOrElse(0L),
      System.nanoTime() - t0, -1L)
    current.set(s0)
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      val done = s0.copy(endNs = System.nanoTime() - t0)
      spans.synchronized(spans += done)
      current.set(parent.orNull)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  def relNs(absNs: Long): Long = absNs - t0

  val engine = new EngineListener(t0)
  val plans = new PlanListener
  val streams = new StreamListener

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Self time per span name: a span's duration minus the part of it that
    * its child spans cover. */
  def selfMs: Map[String, Double] = {
    val kids = spans.toSeq.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)
      s.name -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = spans.sortBy(_.startNs).map(s =>
      f"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f}""") ++
      self.toSeq.sortBy(_._1).map { case (n, ms) => f"""{"self":"$n","self_ms":$ms%.3f}""" }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  val SpanProp = "graftbench.span"

  final case class Span(id: Long, trace: Long, name: String, parent: Long, startNs: Long, endNs: Long)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  final class StageAgg(val stageId: Int) {
    var submitNs = 0L; var doneNs = 0L; var tasks = 0
    var runMs = 0L; var gcMs = 0L
    var inRecords = 0L; var inBytes = 0L
    var shWriteRecords = 0L; var shWriteBytes = 0L
  }
  final case class JobRec(jobId: Int, span: Long, execId: Long, startNs: Long, stageIds: Seq[Int])

  /** Job, stage and task metrics, with each job tagged by the benchmark
    * span (local property) and SQL execution it ran under. Times are
    * nanoseconds relative to the trace start. */
  final class EngineListener(t0: Long) extends SparkListener {
    private def now = System.nanoTime() - t0
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.HashMap.empty[Int, StageAgg]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = JobRec(e.jobId, prop(SpanProp).map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), now, e.stageIds)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg(e.stageInfo.stageId)).submitNs = now
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg(e.stageInfo.stageId)).doneNs = now
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
      st.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.inRecords += m.inputMetrics.recordsRead
        st.inBytes += m.inputMetrics.bytesRead
        st.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        st.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Sums of the engine metrics of the jobs `pick` selects, plus the
    * time any of their stages was running inside [lo, hi]. */
  final case class Agg(jobs: Int, stages: Int, tasks: Int, taskMs: Long, gcMs: Long,
      inRecords: Long, inBytes: Long, scanTaskMs: Long, shWriteRecords: Long, shWriteBytes: Long,
      planMs: Double, stageBusyMs: Double)

  def aggregate(t: Trace, pick: JobRec => Boolean, lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Agg =
    t.engine.synchronized {
      val js = t.engine.jobs.values.filter(pick).toSeq
      val st = js.flatMap(_.stageIds).distinct.flatMap(t.engine.stages.get).filter(_.tasks > 0)
      val execs = js.map(_.execId).filter(_ >= 0).distinct
      Agg(js.size, st.size, st.map(_.tasks).sum, st.map(_.runMs).sum, st.map(_.gcMs).sum,
        st.map(_.inRecords).sum, st.map(_.inBytes).sum, st.filter(_.inRecords > 0).map(_.runMs).sum,
        st.map(_.shWriteRecords).sum,
        st.map(_.shWriteBytes).sum,
        execs.map(e => Option(t.plans.planMs.get(e)).fold(0.0)(_.doubleValue)).sum,
        unionLength(st.map(s => (s.submitNs, s.doneNs)), lo, hi) / 1e6)
    }

  /** Planning time (analysis + optimization + planning phases) per SQL
    * execution id. */
  final class PlanListener extends QueryExecutionListener {
    val planMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    private def rec(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      planMs.merge(qe.id, ms, (a: Double, b: Double) => a + b)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
  }

  /** Streaming progress reports, in arrival order. */
  final class StreamListener extends StreamingQueryListener {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
