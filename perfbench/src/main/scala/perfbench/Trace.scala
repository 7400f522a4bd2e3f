package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One recorded span: a call the benchmark made into a layer's public
  * function. `op` groups the spans of one benchmark operation. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Benchmark-side tracing. Disabled, `span` is a plain call. Enabled,
  * every span is kept in memory (written out by [[Trace.dump]] at the
  * end of the run) and tags the Spark jobs it launches through the
  * `perfbench.span` local property, so jobs attribute to spans. */
final class Trace(spark: SparkSession) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private val opOf = new ThreadLocal[Long] { override def initialValue = 0L }

  /** Start a new benchmark operation on this thread. */
  def newOp(): Long = { val o = nextId.getAndIncrement(); opOf.set(o); o }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      val sc = spark.sparkContext
      val prevTag = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", s"$layer.$name")
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        sc.setLocalProperty("perfbench.span", prevTag)
        spans.synchronized {
          spans += Span(id, parents.headOption.getOrElse(0L), opOf.get, layer, name, t0, t1)
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def named(layer: String, name: String): Seq[Span] =
    all.filter(s => s.layer == layer && s.name == name)
  def meanMs(layer: String, name: String): Double = Stats.mean(named(layer, name).map(_.ms))

  /** Self time per layer: span duration minus the time its child spans
    * cover (children of one span run sequentially on its thread). */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.layer).map { case (l, xs) =>
      l -> xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark-side counters for the traced run: jobs, stages, tasks, task
  * busy time, shuffle/spill bytes, GC, and job spans (for driver-only
  * time), each keyed by the benchmark span that launched it. */
final class SparkCounters extends SparkListener {
  @volatile var recording = false
  var jobs, stages, tasks = 0L
  var taskRunMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  val jobsBySpan = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      jobs += 1
      jobStart(e.jobId) = e.time
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      jobsBySpan(tag.getOrElse("untagged")) += 1
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (recording) stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (recording && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      taskRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobUnionMs(from: Long, to: Long): Double = synchronized {
    val iv = jobSpans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble
  }
}

/** Streaming progress per query name. Registered in every run: the
  * dropped-late check needs it; the phase timings feed the traced run. */
final class ProgressLog extends StreamingQueryListener {
  private val byQuery = mutable.Map.empty[String, mutable.ArrayBuffer[StreamingQueryProgress]]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    byQuery.getOrElseUpdate(Option(e.progress.name).getOrElse(""), mutable.ArrayBuffer.empty) += e.progress
  }
  def progresses(prefix: String): Seq[StreamingQueryProgress] =
    synchronized(byQuery.collect { case (n, ps) if n.startsWith(prefix) => ps.toList }.flatten.toSeq)
  /** Progress of the queries named `prefix`* whose trigger started in [from, to] (epoch ms). */
  def within(prefix: String, from: Long, to: Long): Seq[StreamingQueryProgress] =
    progresses(prefix).filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= from && t <= to
    }
  def droppedLate(prefix: String): Long =
    progresses(prefix).map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Nearest-rank percentile, p in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** Samples strictly above the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt
}
