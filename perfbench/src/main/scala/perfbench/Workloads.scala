package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.{FileStreamIO, TradePipeline}

/** Metrics both trade workloads report from their timed phase. */
object Phase {

  /** Files of the transport directory the stream can see. */
  def visibleFiles(dir: Path): Seq[String] =
    scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.toList)
      .map(_.getFileName.toString).filter(n => !n.startsWith(".") && !n.startsWith("_"))

  /** End-to-end metrics; under `--trace 1` the same numbers are reported
    * with a `traced.` prefix, to be set against the untraced runs' medians.
    */
  def endToEnd(c: Ctx, setupS: Double, batches: Seq[StreamingQueryProgress],
      latencies: Seq[Double], trades: Long, fromMs: Long, toMs: Long): Unit = {
    Telemetry.settle()
    val cpu = c.cost.sum(fromMs, toMs)
    val rows = batches.map(_.numInputRows).sum
    val busyS = batches.map(_.batchDuration).sum / 1000.0
    val pre = if (c.args.trace) "traced." else ""
    val r = c.result
    if (!c.args.trace) r.put("setup_s", setupS, "s")
    r.put(pre + "drain_trades_per_s", rows / busyS, "1/s")
    r.put(pre + "latency_p50_s", Stats.median(latencies), "s")
    r.put(pre + "latency_p95_s", Stats.tail(latencies, 0.95), "s")
    r.put(pre + "cpu_s_per_mtrade", cpu.cpuS / (trades / 1e6), "s")
    r.put(pre + "live_heap_mb", Telemetry.liveHeapMb(), "MiB")
    if (c.args.trace) {
      r.put("traced.setup_s", setupS, "s")
      r.put("latency.samples", latencies.length, "count")
      for (phase <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"))
        r.put(s"microbatch.${phase}_ms",
          Stats.median(batches.map(b => Option(b.durationMs.get(phase)).map(_.toDouble).getOrElse(0.0))), "ms")
      r.put("microbatch.batches", batches.length, "count")
      r.put("microbatch.rows_per_batch", Stats.median(batches.map(_.numInputRows.toDouble)), "count")
      val state = batches.map(_.stateOperators.head)
      r.put("state.commit_ms", Stats.median(state.map(_.commitTimeMs.toDouble)), "ms")
      r.put("state.rows_total", state.map(_.numRowsTotal).max, "count")
      r.put("state.memory_bytes", state.map(_.memoryUsedBytes).max, "bytes")
      r.put("state.rows_dropped_by_watermark", state.map(_.numRowsDroppedByWatermark).sum, "count")
      val wallS = (toMs - fromMs) / 1000.0
      r.put("executor.cpu_s", cpu.cpuS, "s")
      r.put("executor.run_s", cpu.runS, "s")
      r.put("executor.gc_s", cpu.gcS, "s")
      r.put("exchange.shuffle_read_bytes", cpu.shuffleRead, "bytes")
      r.put("exchange.shuffle_write_bytes", cpu.shuffleWrite, "bytes")
      r.put("driver.overhead_s", wallS - cpu.runS / Main.Cores, "s")
      r.put("spark.jobs", cpu.jobs, "count")
    }
  }

  /** Count the `trades` that memory table `memoryTable` misses or
    * double-counts against the recount `want`.
    */
  def check(c: Ctx, memoryTable: String, trades: Long, want: Map[String, (Long, Long)]): Unit = {
    c.result.attempted += trades
    c.result.failed += Trades.failures(want, Trades.counted(c.spark, memoryTable))
  }
}

/** Closed loop: generate a backlog through the program's encoder into the
  * file transport, then drain it with `TradePipeline.consume` under
  * `Trigger.AvailableNow`; repeat for the run's length. Codec-bound, large
  * batches (16 files of [[PerFile]] trades each).
  */
object Catchup {
  val PerFile = 8000
  /** 5 batches at the 16-file cap; 3 rounds give 240 latency samples. */
  val BacklogFiles = 80
  /** Warm round: 3 batches at the 16-file cap, so per-batch code is
    * compiled too before the timed rounds.
    */
  val WarmFiles = 48
  /** About one round's wall time on a 4-core host. */
  val SecondsPerRound = 10

  final case class Round(startMs: Long, producedMs: Long, drainedMs: Long,
      batches: Seq[StreamingQueryProgress], latencies: Seq[Double], unread: Int)

  def round(c: Ctx, name: String, files: Int): Round = c.tracer.span("round") {
    val dir = c.work.resolve("catchup").resolve(name)
    val start = c.now
    c.tracer.span("produce") { Trades.produce(c.spark, dir, files.toLong * PerFile, files, c.seed) }
    val produced = c.now
    val q = c.tracer.span("drain") {
      val q = Trades.consume(c.spark, dir, name, Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    val drained = c.now
    q.exception.foreach(e => throw e)
    val data = Trades.dataBatches(q)
    val read = Stats.batchOf(Telemetry.fileOffsets(c.checkpoint(name)), data.map(Stats.Batch.of))
    val visible = Phase.visibleFiles(dir)
    val lat = Stats.fileLatencies(visible.map(_ -> start).toMap, read, data.map(Stats.Batch.of))
    System.err.println(s"perfbench round $name: produce ${produced - start} ms, drain ${drained - produced} ms, " +
      s"batches ${data.map(b => s"${b.numInputRows}/${b.batchDuration}ms").mkString(" ")}")
    Round(start, produced, drained, data, lat.values.toSeq,
      visible.count(f => !read.contains(f)))
  }

  def run(c: Ctx): Unit = {
    round(c, "warm", WarmFiles)
    val from = c.now
    val setupS = c.setupSeconds(from)
    // A fixed number of rounds for the run length (one per SecondsPerRound),
    // so every run does the same work whatever the host's speed.
    val rounds = (0 until math.max(1, c.args.seconds / SecondsPerRound))
      .map(i => round(c, s"r$i", BacklogFiles))
    val to = c.now
    Phase.endToEnd(c, setupS, rounds.flatMap(_.batches), rounds.flatMap(_.latencies),
      rounds.length.toLong * BacklogFiles * PerFile, from, to)
    if (c.args.trace) {
      val r = c.result
      // The backlog is due when its round starts; the program's own
      // producer releases it once the produce leg ends.
      r.put("producer.late_p99_ms", rounds.map(x => (x.producedMs - x.startMs).toDouble).max, "ms")
      r.put("transport.backlog_files_end", rounds.map(_.unread).sum, "count")
    }
    val want = Trades.expected(BacklogFiles.toLong * PerFile, c.seed)
    for (i <- rounds.indices) Phase.check(c, s"r$i", BacklogFiles.toLong * PerFile, want)
  }
}

/** Open loop at a fixed 20k trades/s: one producer thread releases
  * [[FilesPerTrigger]] files of [[PerFile]] trades evenly over every
  * trigger interval, each record stamped with its file's due time, while
  * `TradePipeline.consume` runs with its default 2 s trigger. Per-batch
  * overhead sets latency here.
  */
object Paced {
  val TriggerMs = 2000L
  /** Files released per trigger interval: under the file source's 16-file
    * cap, and enough for 200 latency samples in a 30 s run.
    */
  val FilesPerTrigger = 14
  val PerFile = 2857 // × 7 files/s ≈ 20k trades/s
  /** Releases sit this far after each epoch-aligned 2 s boundary, where
    * `ProcessingTime` fires, so every run meets the same trigger phase.
    */
  val OffsetMs = 100L
  val WarmMs = 2000L
  /** Backlog drained by a throwaway query first, so the JIT has compiled
    * the drain path, per-row and per-batch code alike, before the measured
    * query starts: 4 batches at the file source's 16-file cap.
    */
  val WarmUpFiles = 64
  val WarmUpPerFile = 2000

  def run(c: Ctx): Unit = {
    val lines = new EnvelopeLines(Trades.shardIds(c.spark), c.seed)
    val warmUp = c.work.resolve("paced").resolve("warm-up")
    Files.createDirectories(warmUp)
    for (k <- 0 until WarmUpFiles)
      Files.write(warmUp.resolve(f"part-$k%03d.json"),
        lines.render(k.toLong * WarmUpPerFile + 1, WarmUpPerFile, c.now).getBytes(StandardCharsets.UTF_8))
    Trades.consume(c.spark, warmUp, "paced_warm_up", Trigger.AvailableNow()).awaitTermination()
    // The first trigger reads one trigger's worth of files released at
    // once, paying the cold start before the schedule begins: a cold batch
    // outlasts the trigger, and once 20 or more files wait, the file source
    // serves its cached leftovers on alternate batches and keeps a standing
    // backlog for the rest of the run.
    val dir = c.work.resolve("paced").resolve("stream")
    Files.createDirectories(dir)
    val name = "paced"
    val warm = (0 until FilesPerTrigger).map(k => f"part-warm$k%02d.json")
    for ((f, k) <- warm.zipWithIndex)
      Files.write(dir.resolve(f),
        lines.render(k.toLong * PerFile + 1, PerFile, c.now).getBytes(StandardCharsets.UTF_8))
    val q = TradePipeline.consume(c.spark, new FileStreamIO(dir.toString), name)
    def read = Stats.batchOf(Telemetry.fileOffsets(c.checkpoint(name)), q.recentProgress.toSeq.map(Stats.Batch.of))
    awaitBatch(q, read.size == warm.length)
    val ready = c.now
    val boundary = (ready / TriggerMs + 1) * TriggerMs + (if (ready % TriggerMs > TriggerMs - 200) TriggerMs else 0)
    val from = boundary + WarmMs
    val to = from + c.args.seconds * 1000L
    val producer = c.tracer.span("paced.window") {
      val p = new PacedProducer(dir, lines, warm.length, PerFile, FilesPerTrigger, TriggerMs,
        boundary + OffsetMs, to, c.tracer)
      p.start()
      p.join()
      p
    }
    producer.failure.foreach(e => throw e)
    // Backlog left once the first trigger after the last release has run.
    awaitBatch(q, q.recentProgress.exists(p => Stats.Batch.of(p).startMs >= to))
    val backlog = warm.length + producer.releases.length - read.size
    // Then wait until the batch that read the last file has reported.
    val lastFile = producer.releases.last.name
    awaitBatch(q, read.contains(lastFile))
    q.stop()
    q.exception.foreach(e => throw e)

    val batchOf = read
    val inWindow = producer.releases.filter(r => r.dueMs >= from && r.dueMs < to)
    val lat = Stats.fileLatencies(inWindow.map(r => r.name -> r.dueMs).toMap, batchOf,
      q.recentProgress.toSeq.map(Stats.Batch.of))
    val batchIds = inWindow.map(r => batchOf(r.name)).toSet
    val batches = Trades.dataBatches(q).filter(b => batchIds.contains(b.batchId))
    // The cost window spans the batches that read in-window files: the
    // batch firing at `from` reads only warm-up files.
    Phase.endToEnd(c, c.setupSeconds(from, boundary - ready), batches, lat.values.toSeq,
      inWindow.length.toLong * PerFile, Stats.Batch.of(batches.head).startMs,
      Stats.Batch.of(batches.last).endMs)
    if (c.args.trace) {
      val late = producer.releases.map(_.lateMs).sorted
      c.result.put("producer.late_p99_ms", late(Stats.nearestRank(late.length, 0.99) - 1), "ms")
      c.result.put("transport.backlog_files_end", backlog, "count")
    }
    System.err.println(s"perfbench paced: ${inWindow.length} files in window, batches " +
      batches.map(b => s"${b.numInputRows}/${b.batchDuration}ms").mkString(" "))
    val trades = (warm.length + producer.releases.length).toLong * PerFile
    Phase.check(c, name, trades, Trades.expected(trades, c.seed))
  }

  /** Block until `done` holds while `q` keeps running. */
  private def awaitBatch(q: StreamingQuery, done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 30000L
    while (!done) {
      require(System.currentTimeMillis() < deadline && q.isActive, "the stream stopped reporting progress")
      Thread.sleep(50)
    }
  }
}
