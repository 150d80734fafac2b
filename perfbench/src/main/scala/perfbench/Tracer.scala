package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, plus Spark's public
  * listeners. A span's id rides on the `perfbench.span` local property, so
  * every job Spark starts inside it (and every micro-batch job of a stream
  * started inside it) is charged to it. Spans and listener records stay in
  * memory until the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val sc = spark.sparkContext

  /** Runs `body` inside a span named `name` belonging to op `op`. */
  def span[T](name: String, op: Int)(body: Span => T): T = {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  // --- listener records (written by the listener bus thread) ---
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Job]()
  val progress = ArrayBuffer[StreamingQueryProgress]()
  var sqlActions = 0L
  private var listening = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val j = Job(e.jobId, prop(SpanKey).fold(-1)(_.toInt),
        prop("streaming.sql.batchId").fold(-1L)(_.toLong), e.time, e.stageIds.size)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { sqlActions += 1 }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      Tracer.this.synchronized { sqlActions += 1 }
  }

  /** Stream progress is collected in every run of a streaming workload:
    * it is where a micro-batch's latency is read from.
    */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Registers the job and SQL-action listeners (the traced phase). */
  def listen(): Unit = if (!listening) {
    listening = true
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Waits until the listener bus has delivered the end of every job it
    * delivered the start of, and nothing new arrived for 200 ms.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stableSince = System.currentTimeMillis()
    var done = false
    while (!done && System.currentTimeMillis() < deadline) {
      val (open, seen) = synchronized {
        (jobs.valuesIterator.count(_.endMs < 0),
          jobs.size.toLong * 1000003L + progress.size * 7919L + sqlActions)
      }
      if (seen != last) { last = seen; stableSince = System.currentTimeMillis() }
      if (open == 0 && System.currentTimeMillis() - stableSince >= 200) done = true
      else Thread.sleep(20)
    }
  }

  /** Jobs charged to `spanIds`, optionally only one micro-batch's. */
  def jobsOf(spanIds: Set[Int], batch: Option[Long] = None): Seq[Job] = synchronized {
    jobs.valuesIterator.filter(j => spanIds.contains(j.span) &&
      batch.forall(_ == j.batch)).toVector
  }

  /** A span and all spans below it. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSeq
    go(root.id).toSet
  }

  /** Self time: the span's wall minus the part its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    (s.endNs - s.startNs - kids.map(k => k.endNs - k.startNs).sum) / 1e9
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startNs: Long, startMs: Long) {
    var endNs: Long = -1L
    val counters: mutable.Map[String, Double] = mutable.LinkedHashMap()
    def seconds: Double = (endNs - startNs) / 1e9
    def endMs: Long = startMs + (endNs - startNs) / 1000000L
  }

  final case class Job(id: Int, span: Int, batch: Long, startMs: Long, stages: Int) {
    var endMs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  /** Wall of `[from, to]` during which no job of `js` was running. */
  def gapMs(js: Seq[Job], from: Long, to: Long): Double = {
    val iv = js.map(j => (math.max(from, j.startMs),
      math.min(to, if (j.endMs < 0) to else j.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, to - from - covered).toDouble
  }
}
