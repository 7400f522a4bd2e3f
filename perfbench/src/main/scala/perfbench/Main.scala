package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A sample of a timed operation; `traced` says which half of a traced
  * run it fell in (untraced runs have only untraced samples). */
final case class Sample(ms: Double, traced: Boolean)

/** What one workload run shares with the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracedRun: Boolean, val work: Path) {
  val trace = new Trace(spark)
  val counters = new SparkCounters
  val progress = new ProgressLog
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own end-to-end figures under their own names. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val attempted = new java.util.concurrent.atomic.AtomicLong
  val failed = new java.util.concurrent.atomic.AtomicLong
  val notes = mutable.ArrayBuffer.empty[String]

  /** Wall-clock bounds (epoch ms) of the measured window and of its
    * traced half: Spark counters cover the traced half, streaming
    * progress the whole window. */
  var measuredFromMs = 0L
  var measuredToMs = 0L
  var tracedFromMs = 0L
  var tracedToMs = 0L

  private val born = System.nanoTime()
  /** Progress line on stderr (the run log), stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%7.2f s $msg")

  def ok(cond: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!cond) { failed.incrementAndGet(); notes += s"FAILED: $what" }
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Run `body` over the measured window. A traced run measures its
    * first half untraced and its second half traced; `body` gets the
    * deadline (System.nanoTime) and must stop at it. */
  def measure(body: Long => Unit): Unit = {
    trace.enabled = false
    measuredFromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val end = t0 + seconds * 1000000000L
    if (tracedRun) {
      val flip = new Thread(() => {
        val mid = t0 + (end - t0) / 2
        while (System.nanoTime() < mid) Thread.sleep(1)
        tracing(true)
      })
      flip.setDaemon(true)
      flip.start()
      body(end)
      flip.join()
      tracedToMs = System.currentTimeMillis()
      counters.recording = false
    } else body(end)
    measuredToMs = System.currentTimeMillis()
  }

  private def tracing(on: Boolean): Unit = {
    tracedFromMs = System.currentTimeMillis()
    trace.enabled = on
    counters.recording = on
  }

  def e(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def l(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
  def n(name: String, v: Double, unit: String): Unit = named(name) = (v, unit)

  /** Per-op Spark figures over the traced half. */
  def sparkLayer(ops: Long): Unit = {
    val c = counters
    val per = math.max(1L, ops).toDouble
    val wallMs = math.max(1L, tracedToMs - tracedFromMs).toDouble
    c.synchronized {
      l("spark.jobs", c.jobs / per, "count")
      l("spark.stages", c.stages / per, "count")
      l("spark.tasks", c.tasks / per, "count")
      l("spark.driver_only_ms", (wallMs - c.jobUnionMs(tracedFromMs, tracedToMs)) / per, "ms")
      l("spark.task_busy_share", c.taskRunMs / (wallMs * spark.sparkContext.defaultParallelism), "ratio")
      l("spark.shuffle_write_mb", c.shuffleWrite / 1e6 / per, "MB")
      l("spark.shuffle_read_mb", c.shuffleRead / 1e6 / per, "MB")
      l("spark.spill_mb", c.spill / 1e6 / per, "MB")
      l("spark.gc_ms", c.gcMs / per, "ms")
    }
  }
}

object Main {
  val Workloads = Seq("trending", "lakehouse", "ingest_dedup")

  /** Per-layer metric names, in the order BENCHMARK.json lists them.
    * Every traced run reports all of them: a layer a workload does not
    * touch reads 0 there. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_only_ms" -> "ms", "spark.task_busy_share" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_ms" -> "ms",
    "streaming.triggers" -> "count", "streaming.latest_offset_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mem_mb" -> "MB", "streaming.state_commit_ms" -> "ms",
    "streaming.rows_dropped_late" -> "count", "streaming.sink_write_ms" -> "ms",
    "model.decode_ms" -> "ms", "functions.hashtags_ms" -> "ms",
    "core.data_write_ms" -> "ms", "core.commit_append_ms" -> "ms",
    "core.merge_cow_ms" -> "ms", "core.compact_ms" -> "ms", "core.files_at_ms" -> "ms",
    "core.jobs_per_commit" -> "count", "core.manifest_parts" -> "count",
    "core.meta_bytes_per_commit" -> "bytes", "core.bytes_written_per_user_byte" -> "ratio",
    "sql.time_travel_plan_ms" -> "ms", "sql.time_travel_exec_ms" -> "ms",
    "sources.feed_triggers" -> "count", "sources.feed_latest_offset_ms" -> "ms",
    "sources.feed_get_batch_ms" -> "ms", "sources.feed_versions_per_trigger" -> "count",
    "core.index_build_ms" -> "ms", "core.index_load_ms" -> "ms",
    "functions.shingle_minhash_ms" -> "ms", "functions.lsh_keys_ms" -> "ms",
    "operators.text_pairs_ms" -> "ms", "operators.emb_pairs_ms" -> "ms",
    "operators.candidate_precision" -> "ratio", "operators.planted_recall" -> "ratio",
    "bench.gen_late_p99_ms" -> "ms", "bench.backlog_max_events" -> "count",
    "bench.tracing_overhead_pct" -> "%", "bench.self_ms_model" -> "ms",
    "bench.self_ms_functions" -> "ms", "bench.self_ms_operators" -> "ms",
    "bench.self_ms_streaming" -> "ms", "bench.self_ms_core" -> "ms",
    "bench.self_ms_sources" -> "ms", "bench.self_ms_sql" -> "ms")

  /** The gated end-to-end metrics every workload reports. */
  val E2eMetrics = Seq("latency_p50_ms", "latency_tail_ms", "work_per_s", "setup_s", "peak_rss_mb")

  def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\n" +
      "usage: perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage("--workload missing"))
    if (!Workloads.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage("--seed must be an integer"))
    val seconds = opts.get("seconds").flatMap(_.toIntOption).filter(_ > 0).getOrElse(usage("--seconds must be > 0"))
    val traced = opts.getOrElse("trace", "0") match {
      case "0" => false; case "1" => true; case t => usage(s"--trace must be 0 or 1, got $t")
    }
    val root = Paths.get(opts.getOrElse("root", usage("--root missing")))
    val work = Files.createDirectories(root.resolve("work"))

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.build(master = s"local[$cores]", shufflePartitions = cores)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    spark.conf.set("spark.sql.catalog.graft_lake", classOf[graft.sql.SnapshotCatalog].getName)
    val ctx = new Ctx(spark, seed, seconds, traced, work)
    ctx.log(f"session up ${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s after JVM start")
    ctx.trace.enabled = traced // set-up spans; [[Ctx.measure]] re-arms per half
    if (traced) spark.sparkContext.addSparkListener(ctx.counters)
    spark.streams.addListener(ctx.progress)

    val t0 = System.nanoTime()
    try workload match {
      case "trending" => Trending.run(ctx)
      case "lakehouse" => Lakehouse.run(ctx)
      case "ingest_dedup" => IngestDedup.run(ctx)
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        ctx.failed.incrementAndGet(); ctx.attempted.incrementAndGet()
        ctx.notes += s"FAILED: run aborted: $t"
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    }
    if (traced) {
      val self = ctx.trace.selfMsByLayer
      Seq("model", "functions", "operators", "streaming", "core", "sources", "sql").foreach(l =>
        ctx.l(s"bench.self_ms_$l", self.getOrElse(l, 0.0), "ms"))
      ctx.trace.dump(root.resolve("spans.jsonl"))
    }
    ctx.e("peak_rss_mb", peakRssMb(), "MB")
    System.err.println(f"perfbench: $workload run took ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val correct = ctx.failed.get == 0
    val metrics =
      if (traced) LayerMetrics.map { case (n, u) => n -> ctx.layer.getOrElse(n, (0.0, u)) }
      else E2eMetrics.flatMap(n => ctx.e2e.get(n).map(n -> _))
    ctx.notes.foreach(n => println(s"[perfbench] $n"))
    ctx.named.foreach { case (n, (v, u)) => println(f"[perfbench] $workload%s $n%s = $v%.4f $u%s") }
    val fr = ctx.failed.get.toDouble / math.max(1L, ctx.attempted.get)
    println(f"[perfbench] $workload%s fail_ratio = $fr%.4f ratio")
    val m = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, ctx.attempted.get)}, """ +
      s""""failed": ${ctx.failed.get}, "metrics": {${m.mkString(", ")}}}""")
    System.out.flush()
    spark.stop()
    ctx.log("stopped")
    Dirs.delete(work)
    sys.props.get("graft.index.dir").foreach(d => Dirs.delete(Paths.get(d)))
    sys.exit(0)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** Recursive delete for benchmark-owned directories. Retries: a stopped
  * stream's state-store maintenance can still be writing for a moment. */
object Dirs {
  def delete(p: Path): Unit = {
    var tries = 0
    while (Files.exists(p) && tries < 20) {
      try Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => Thread.sleep(50) }
      tries += 1
    }
  }
}
