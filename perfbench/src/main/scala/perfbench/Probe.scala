package perfbench

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.sources.TradeSource
import graft.streaming.{Envelope, FileStreamIO, TradePipeline}

/** Traced runs only: splits the produce and drain legs into layers by
  * timing ever longer prefixes of each leg to Spark's `noop` sink and
  * differencing, and drains the same backlog once more on `local[1]` as
  * the single-threaded baseline. Times are seconds per million trades.
  */
object Probe {
  val PerFile = 10000
  val FileCount = 20
  val N: Long = PerFile.toLong * FileCount
  val Takes = 3

  def run(c: Ctx): Unit = c.tracer.span("probe") {
    val spark = c.spark
    val perM = 1e6 / N
    def timed(span: String)(body: => Unit): Double = c.tracer.span(span) {
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e9
    }
    def median(f: Int => Double): Double = Stats.median((0 until Takes).map(f))
    def trades = TradeSource.trades(spark, N, FileCount, c.seed).toDF()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val gen = median(_ => timed("probe.generate")(noop(trades)))
    val enc = median(_ => timed("probe.generate_encode")(noop(Envelope.encode(trades))))
    val dirs = (0 until Takes).map(i => c.work.resolve("probe").resolve(s"w$i"))
    val prod = median(i => timed("probe.produce")(Trades.produce(spark, dirs(i), N, FileCount, c.seed)))
    val dir = dirs.head
    val bytes = Phase.visibleFiles(dir).map(f => Files.size(dir.resolve(f))).sum

    // Stream prefixes over the same backlog; each take is a fresh query.
    def drainTo(span: String, prefix: DataFrame => DataFrame): Double = median { i =>
      timed(span) {
        prefix(new FileStreamIO(dir.toString).read(spark)).writeStream.format("noop")
          .queryName(s"${span.replace('.', '_')}_$i").trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
    }
    val read = drainTo("probe.read", identity)
    val dec = drainTo("probe.read_decode", TradePipeline.ingest)
    val full = median(i => timed("probe.drain")(
      Trades.consume(spark, dir, s"probe_drain_$i", Trigger.AvailableNow()).awaitTermination()))

    val r = c.result
    r.put("sources.generate_s", gen * perM, "s/Mtrade")
    r.put("streaming.envelope.encode_s", (enc - gen) * perM, "s/Mtrade")
    r.put("streaming.stream_io.write_s", (prod - enc) * perM, "s/Mtrade")
    r.put("transport.bytes_per_trade", bytes.toDouble / N, "bytes")
    r.put("streaming.stream_io.read_s", read * perM, "s/Mtrade")
    r.put("streaming.envelope.decode_s", (dec - read) * perM, "s/Mtrade")
    r.put("streaming.trade_pipeline.stats_s", (full - dec) * perM, "s/Mtrade")
    r.put("produce.trades_per_s", N / prod, "1/s")
    r.put("drain.trades_per_s", N / full, "1/s")

    // Single-threaded baseline: same job, same backlog, one core.
    spark.stop()
    val one = Main.session(c.work, 1)
    val local1 = (0 until 2).map(i => timed("probe.drain_local1")(
      Trades.consume(one, dir, s"probe_local1_$i", Trigger.AvailableNow()).awaitTermination())).min
    r.put("drain.local1_trades_per_s", N / local1, "1/s")
    r.put("drain.scaling", local1 / full, "ratio")
  }
}
