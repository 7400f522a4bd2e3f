package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ConcurrentSkipListSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.SnapshotStore

/** Writes beside reads on one SnapshotStore table. Closed loop: one
  * writer (epoch append = data write + commitAppend; every MergeEvery-th
  * op a mergeCow upsert, every CompactEvery-th op a compact), one reader
  * (HEAD aggregate via readAt, SQL VERSION AS OF an older version,
  * changesBetween, in turn), and one graft-snapshot feed on a
  * ProcessingTime trigger. Every read is checked against the harness's
  * own model of the table at the version read. */
object Lakehouse {
  val SeedRows = 10000
  val AppendRows = 500
  val CompactEvery = 6             // M: every 6th writer op is a compact
  val MergeEvery = 7               // N: every 7th writer op is a mergeCow upsert
  val UpsertUpdates = 150
  val UpsertInserts = 50
  val CompactFiles = 4
  val FeedTriggerMs = 100L
  val MaxTravelBack = 8
  val TailPct = 75.0               // ~13 appends a 25 s run: no percentile leaves 10 beyond
  val Setups = 3
  val CatchUpTimeoutMs = 60000L

  /** Model of one version: id -> v, plus the ids it changed. */
  final case class Version(rows: Map[Long, Long], changed: Set[Long]) {
    lazy val count: Long = rows.size.toLong
    lazy val checksum: Long = rows.iterator.map { case (id, v) => id * 1000003L + v }.sum
  }

  private def checksumCol = sum(col("id") * 1000003L + col("v"))

  final class Table(ctx: Ctx, val base: Path) {
    private val spark = ctx.spark
    import spark.implicits._
    val root: Path = Files.createDirectories(base.resolve("table"))
    val model = new ConcurrentHashMap[Long, Version]()
    @volatile var head = 0L
    var nextId = 0L
    var userBytes = 0L
    /** append version -> first id; commit acknowledgement; feed batch end */
    val appends = new ConcurrentHashMap[Long, Long]()
    val ackAt = new ConcurrentHashMap[Long, Long]()
    val feedDoneAt = new ConcurrentHashMap[Long, Long]()
    val appendSamples, mergeSamples, compactSamples, readSamples =
      new ConcurrentLinkedQueue[Sample]()
    // feed state
    private val pending = new ConcurrentSkipListSet[java.lang.Long]()
    private val seenRows = new ConcurrentHashMap[Long, Int]()
    val seenIds = new ConcurrentHashMap[Long, Int]()
    @volatile private var feed: StreamingQuery = _
    private var feedGen = 0

    private def write(op: Long, rows: Seq[Gen.LakeRow]): Seq[String] = {
      val rel = s"data/app_$op"
      ctx.trace.span("core", "data_write") {
        spark.createDataFrame(rows).write.parquet(root.resolve(rel).toString)
      }
      Files.list(root.resolve(rel)).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).map(f => s"$rel/$f").toSeq.sorted
    }

    private def userSize(rows: Seq[Gen.LakeRow]): Long =
      rows.map(r => s"${r.id}\t${r.grp}\t${r.v}\t${r.payload}\n".length.toLong).sum

    /** Register the model of the next version before committing it, so
      * a reader never sees a version the model lacks. */
    private def expect(rows: Map[Long, Long], changed: Set[Long]): Long = {
      model.put(head + 1, Version(rows, changed)); head + 1
    }
    private def committed(expected: Long, v: Long, what: String): Unit = {
      ctx.ok(v == expected, s"$what committed v$v, expected v$expected")
      head = v
    }
    private def current: Map[Long, Long] = if (head == 0) Map.empty else model.get(head).rows

    def append(op: Long, n: Int, traceSample: Boolean = true): Unit = {
      val rows = Gen.Lake.append(ctx.seed, op, nextId, n)
      nextId += n
      userBytes += userSize(rows)
      val ex = expect(current ++ rows.map(r => r.id -> r.v), rows.map(_.id).toSet)
      appends.put(ex, rows.head.id)
      if (feed != null) pending.add(ex)
      val t0 = System.nanoTime()
      val files = write(op, rows)
      val v = ctx.trace.span("core", "commit_append") {
        SnapshotStore.commitAppend(spark, root, files,
          statsCols = if (head == 0) Seq("id") else Nil)
      }
      val t1 = System.nanoTime()
      committed(ex, v, "append")
      if (traceSample) appendSamples.add(Sample((t1 - t0) / 1e6, ctx.trace.enabled))
      ackAt.put(v, t1)
    }

    def merge(op: Long): Unit = {
      awaitFeed()
      val rows = Gen.Lake.upsert(ctx.seed, op, nextId, UpsertUpdates, UpsertInserts)
      nextId += UpsertInserts
      userBytes += userSize(rows)
      val changes = spark.createDataFrame(rows).withColumn("_delete", lit(false))
      val ex = expect(current ++ rows.map(r => r.id -> r.v), rows.map(_.id).toSet)
      val t0 = System.nanoTime()
      val v = ctx.trace.span("core", "merge_cow") { SnapshotStore.mergeCow(spark, root, changes, "id") }
      mergeSamples.add(Sample((System.nanoTime() - t0) / 1e6, ctx.trace.enabled))
      committed(ex, v, "mergeCow")
      // a content rewrite ends an incremental feed: restart it above the merge
      startFeed(v)
    }

    def compact(): Unit = {
      val ex = expect(current, Set.empty)
      val t0 = System.nanoTime()
      val v = ctx.trace.span("core", "compact") { SnapshotStore.compact(spark, root, CompactFiles) }
      compactSamples.add(Sample((System.nanoTime() - t0) / 1e6, ctx.trace.enabled))
      committed(ex, v, "compact")
    }

    def writerOp(op: Long): Unit =
      if (op % CompactEvery == CompactEvery - 1) compact()
      else if (op % MergeEvery == MergeEvery - 1) merge(op)
      else append(op, AppendRows)

    // ---- reader -------------------------------------------------------

    def readerOp(i: Long, r: java.util.SplittableRandom): Unit = {
      val h = head
      val t0 = System.nanoTime()
      val ok = (i % 3) match {
        case 0 =>
          if (ctx.trace.enabled) ctx.trace.span("core", "files_at") { SnapshotStore.filesAt(spark, root, h) }
          val row = SnapshotStore.readAt(spark, root, Some(h)).agg(count(lit(1)), checksumCol).head()
          row.getLong(0) == model.get(h).count && row.getLong(1) == model.get(h).checksum
        case 1 =>
          val vv = math.max(1L, h - 1 - r.nextInt(MaxTravelBack))
          val df = spark.sql(s"SELECT count(*) AS n, sum(id * 1000003 + v) AS s " +
            s"FROM graft_lake.`$root` VERSION AS OF $vv")
          ctx.trace.span("sql", "time_travel_plan") { df.queryExecution.executedPlan }
          val row = ctx.trace.span("sql", "time_travel_exec") { df.head() }
          row.getLong(0) == model.get(vv).count && row.getLong(1) == model.get(vv).checksum
        case _ =>
          val from = math.max(1L, h - 1 - r.nextInt(4))
          val got = SnapshotStore.changesBetween(spark, root, from, h, "id")
            .groupBy("change_type").agg(count(lit(1)), checksumCol).collect()
            .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
          got == expectedChanges(from, h)
      }
      readSamples.add(Sample((System.nanoTime() - t0) / 1e6, ctx.trace.enabled))
      ctx.ok(ok, s"read ${i % 3} at head v$h differs from the model")
    }

    /** changesBetween as the model sees it: per change type, the row
      * count and the (id, v) checksum. */
    private def expectedChanges(from: Long, to: Long): Map[String, (Long, Long)] = {
      val pre = model.get(from).rows
      val post = model.get(to).rows
      val keys = ((from + 1) to to).flatMap(v => model.get(v).changed).toSet
      val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
      def add(t: String, id: Long, v: Long): Unit = {
        val (n, s) = out.getOrElse(t, (0L, 0L)); out(t) = (n + 1, s + id * 1000003L + v)
      }
      keys.foreach { k =>
        (pre.get(k), post.get(k)) match {
          case (None, Some(b)) => add("insert", k, b)
          case (Some(a), None) => add("delete", k, a)
          case (Some(a), Some(b)) if a != b => add("update_preimage", k, a); add("update_postimage", k, b)
          case _ =>
        }
      }
      out.toMap
    }

    // ---- feed ---------------------------------------------------------

    def startFeed(from: Long): Unit = {
      if (feed != null) feed.stop()
      pending.clear()
      feedGen += 1
      feed = spark.readStream.format("graft-snapshot")
        .option("path", root.toString).option("startVersion", from.toString)
        .option("skipRewrites", "true").load()
        .writeStream.queryName("feed")
        .option("checkpointLocation", base.resolve(s"feed_ckpt_$feedGen").toString)
        .trigger(Trigger.ProcessingTime(FeedTriggerMs))
        .foreachBatch { (df: DataFrame, _: Long) =>
          val ids = df.select("id").as[Long].collect()
          val end = System.nanoTime()
          ids.foreach(id => seenIds.merge(id, 1, _ + _))
          val firstIds = appends.asScala.toSeq.map { case (v, lo) => (lo, v) }.sortBy(_._1)
          ids.groupBy(id => firstIds.lastIndexWhere(_._1 <= id)).foreach { case (ix, xs) =>
            if (ix >= 0) {
              val v = firstIds(ix)._2
              if (seenRows.merge(v, xs.length, _ + _) >= AppendRows && pending.remove(v))
                feedDoneAt.put(v, end)
            }
          }
        }.start()
    }

    /** Block until the feed has drained every append committed so far. */
    def awaitFeed(): Boolean = {
      val limit = System.currentTimeMillis() + CatchUpTimeoutMs
      while (!pending.isEmpty && System.currentTimeMillis() < limit) {
        feed.exception.foreach(e => throw e)
        Thread.sleep(1)
      }
      pending.isEmpty
    }

    def stopFeed(): Unit = if (feed != null) feed.stop()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val setups = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      val t = new Table(ctx, ctx.dir(s"lakehouse_$i"))
      t.append(-1, SeedRows, traceSample = false)
      t.startFeed(t.head)
      val ms = (System.nanoTime() - t0) / 1e6
      if (i < Setups - 1) { t.stopFeed(); Dirs.delete(t.base) }
      (ms, t)
    }
    val t = setups.last._2
    ctx.e("setup_s", Stats.median(setups.map(_._1)) / 1000.0, "s")
    ctx.log(s"set-up done: ${setups.map(_._1.toInt).mkString(", ")} ms")
    // warm-up, untimed: the first append, merge and reads of the JVM
    val wr = new java.util.SplittableRandom(ctx.seed)
    t.append(-2, AppendRows, traceSample = false)
    t.merge(-3)
    (0 until 3).foreach(k => t.readerOp(k, wr))
    Seq(t.mergeSamples, t.compactSamples, t.readSamples).foreach(_.clear())
    val warmVersions = t.head
    ctx.log("warm-up done")

    // per loop: ops completed, and their rate over the time to the last completion
    val loopRates = new ConcurrentHashMap[String, (Long, Double)]()
    ctx.measure { deadline =>
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      def loop(name: String)(body: Long => Unit): Thread = {
        val th = new Thread(() => {
          val t0 = System.nanoTime()
          var i = 0L
          try while (System.nanoTime() < deadline && failure.get == null) {
            ctx.trace.newOp(); body(i); i += 1
          } catch { case e: Throwable => failure.compareAndSet(null, e) }
          loopRates.put(name, (i, i * 1e9 / (System.nanoTime() - t0)))
        }, s"perfbench-$name")
        th.start(); th
      }
      val rr = new java.util.SplittableRandom(ctx.seed * 31 + 7)
      val threads = Seq(loop("writer")(t.writerOp), loop("reader")(i => t.readerOp(i, rr)))
      threads.foreach(_.join())
      Option(failure.get).foreach(e => throw e)
    }
    val writerOps = loopRates.get("writer")._1
    ctx.log(s"measured: $writerOps writer ops, ${t.readSamples.size} reads; append ms " +
      t.appendSamples.asScala.map(_.ms.toInt).mkString(" ") + "; read ms " +
      t.readSamples.asScala.map(_.ms.toInt).mkString(" "))
    ctx.ok(t.awaitFeed(), "feed did not catch up")
    t.stopFeed()

    // the feed saw every appended row exactly once (seed rows predate it)
    val appendedIds = t.appends.asScala.toSeq.filter(_._1 > warmVersions).flatMap { case (_, lo) =>
      lo until lo + AppendRows }
    val dup = t.seenIds.asScala.count(_._2 != 1)
    val missing = appendedIds.count(id => !t.seenIds.containsKey(id))
    ctx.ok(dup == 0 && missing == 0, s"feed: $missing appended rows missing, $dup seen more than once")
    // final HEAD equals the model
    val fin = SnapshotStore.readAt(spark, t.root, Some(t.head)).agg(count(lit(1)), checksumCol).head()
    ctx.ok(fin.getLong(0) == t.model.get(t.head).count && fin.getLong(1) == t.model.get(t.head).checksum,
      "final HEAD differs from the model")

    val app = t.appendSamples.asScala.map(_.ms).toSeq
    val reads = t.readSamples.asScala.map(_.ms).toSeq
    ctx.e("latency_p50_ms", Stats.median(app), "ms")
    ctx.e("latency_tail_ms", Stats.pct(app, TailPct), "ms")
    // closed-loop throughput: writer and reader ops completed per second,
    // each loop over the time to its last completion, summed
    ctx.e("work_per_s", loopRates.values.asScala.map(_._2).sum, "1/s")
    ctx.n("append_p50_ms", Stats.median(app), "ms")
    ctx.n(s"append_tail_ms (p${TailPct.toInt}, n=${app.size}, ${Stats.beyond(app.size, TailPct)} beyond)",
      Stats.pct(app, TailPct), "ms")
    ctx.n(s"merge_p50_ms (n=${t.mergeSamples.size})", Stats.median(t.mergeSamples.asScala.map(_.ms).toSeq), "ms")
    ctx.n("read_p50_ms", Stats.median(reads), "ms")
    ctx.n(s"read_tail_ms (p${TailPct.toInt}, n=${reads.size}, ${Stats.beyond(reads.size, TailPct)} beyond)",
      Stats.pct(reads, TailPct), "ms")
    val lags = t.feedDoneAt.asScala.toSeq.map { case (v, end) => (end - t.ackAt.get(v)) / 1e6 }
    ctx.n(s"feed_lag_p50_ms (n=${lags.size})", Stats.median(lags), "ms")
    ctx.n(s"compact_p50_ms (n=${t.compactSamples.size})", Stats.median(t.compactSamples.asScala.map(_.ms).toSeq), "ms")

    if (ctx.tracedRun) traceLayers(ctx, t)
  }

  private def traceLayers(ctx: Ctx, t: Table): Unit = {
    val tr = ctx.trace
    Seq("data_write", "commit_append", "merge_cow", "compact", "files_at").foreach(n =>
      ctx.l(s"core.${n}_ms", tr.meanMs("core", n), "ms"))
    ctx.l("core.jobs_per_commit",
      ctx.counters.synchronized(ctx.counters.jobsBySpan("core.commit_append")).toDouble /
        math.max(1, tr.named("core", "commit_append").size), "count")
    val snaps = t.root.resolve("_snapshots")
    val lists = (1L to t.head).map(v => snaps.resolve(s"v=$v").resolve("_list.tsv")).filter(Files.exists(_))
    ctx.l("core.manifest_parts", Stats.mean(lists.map(p =>
      Files.readAllLines(p).asScala.count(_.trim.nonEmpty).toDouble)), "count")
    def bytes(p: Path): Long = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    ctx.l("core.meta_bytes_per_commit", bytes(snaps).toDouble / math.max(1L, t.head), "bytes")
    ctx.l("core.bytes_written_per_user_byte", bytes(t.root).toDouble / t.userBytes, "ratio")
    ctx.l("sql.time_travel_plan_ms", tr.meanMs("sql", "time_travel_plan"), "ms")
    ctx.l("sql.time_travel_exec_ms", tr.meanMs("sql", "time_travel_exec"), "ms")
    val ps = ctx.progress.within("feed", ctx.measuredFromMs, ctx.tracedToMs)
    def phase(k: String) = Stats.mean(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val withData = ps.filter(_.numInputRows > 0)
    ctx.l("sources.feed_triggers", withData.size.toDouble, "count")
    ctx.l("sources.feed_latest_offset_ms", phase("latestOffset"), "ms")
    ctx.l("sources.feed_get_batch_ms", phase("getBatch"), "ms")
    ctx.l("sources.feed_versions_per_trigger", Stats.mean(withData.flatMap(p => p.sources.headOption.flatMap(s =>
      for (a <- Option(s.startOffset).flatMap(_.trim.toLongOption); b <- Option(s.endOffset).flatMap(_.trim.toLongOption))
        yield (b - a).toDouble))), "count")
    val ops = (t.appendSamples.asScala ++ t.mergeSamples.asScala ++ t.compactSamples.asScala ++
      t.readSamples.asScala).count(_.traced)
    ctx.sparkLayer(ops)
    val (a, b) = t.appendSamples.asScala.toSeq.partition(!_.traced)
    ctx.l("bench.tracing_overhead_pct", 100.0 * (Stats.median(b.map(_.ms)) / Stats.median(a.map(_.ms)) - 1.0), "%")
  }
}
