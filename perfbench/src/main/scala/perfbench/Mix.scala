package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.TradeSource

/** Traced runs only: the `operators` layer through the registry entries
  * that need no parquet corpus (tr00–tr03, which generate their own
  * trades). Each entry is called through `SparkEntry.queries`, warmed once,
  * then timed [[Takes]] times to the `noop` sink with `clearCache()` between
  * takes, as `graft.Bench` times entries.
  *
  * Outside the timed takes every output is checked: tr00, which has no
  * oracle, against a recount of its input per ticker; the others are
  * written as parquet to `<work>/mix/<entry>` with their
  * `SparkEntry.oracleSql` in `<work>/mix/oracle_sql.json`, which run.py
  * compares in DuckDB.
  */
object Mix {
  val Entries = Seq("tr00_pipeline_throughput", "tr01_trade_stats", "tr02_trade_roundtrip",
    "tr03_trade_display")
  val Takes = 3
  /** The registry's corpus argument. These entries read no corpus; tr00
    * sizes itself from it, to [[Tr00Trades]] off sf0.1.
    */
  val CorpusDir = "trades"
  val Tr00Trades = 100000L

  def run(c: Ctx): Unit = c.tracer.span("mix") {
    val spark = c.spark
    val out = c.work.resolve("mix")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    for (e <- Entries) {
      val entry = SparkEntry.queries(e)
      c.tracer.span(s"mix.$e.warm")(noop(entry(spark, CorpusDir)))
      spark.catalog.clearCache()
      val takes = (0 until Takes).map { _ =>
        Telemetry.settle()
        val from = c.now
        val t = System.nanoTime()
        c.tracer.span(s"mix.$e")(noop(entry(spark, CorpusDir)))
        val wallS = (System.nanoTime() - t) / 1e9
        val to = c.now
        Telemetry.settle()
        val blocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
        spark.catalog.clearCache()
        (wallS, c.cost.sum(from, to), blocks)
      }
      val r = c.result
      r.put(s"operators.$e.wall_s", Stats.median(takes.map(_._1)), "s")
      r.put(s"operators.$e.cpu_s", Stats.median(takes.map(_._2.cpuS)), "s")
      r.put(s"operators.$e.jobs", takes.map(_._2.jobs).max, "count")
      r.put(s"exchange.$e.shuffle_bytes", takes.map(_._2.shuffleWrite).max.toDouble, "bytes")
      r.put(s"cache.$e.leftover_blocks", takes.map(_._3).max, "count")
      System.err.println(s"perfbench mix $e: wall ${takes.map(_._1).mkString(" ")} s, " +
        s"cpu ${takes.map(_._2.cpuS).mkString(" ")} s, jobs ${takes.map(_._2.jobs).mkString(" ")}")
      r.attempted += 1
      if (e == Entries.head) r.failed += tr00Failures(c, entry(spark, CorpusDir))
      else entry(spark, CorpusDir).write.parquet(out.resolve(e).toString)
    }
    val oracles = Entries.tail.map(e => e -> SparkEntry.oracleSql(e)).toMap.asJava
    Files.write(out.resolve("oracle_sql.json"),
      new ObjectMapper().writeValueAsString(oracles).getBytes(StandardCharsets.UTF_8))
  }

  /** 1 when tr00's per-ticker trade and quantity totals differ from those of
    * the trades it generates, else 0.
    */
  private def tr00Failures(c: Ctx, stats: DataFrame): Long = {
    def perTicker(df: DataFrame, n: String, q: String) =
      df.groupBy("tickerSymbol").agg(sum(n).as("n"), sum(q).as("q")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = perTicker(TradeSource.trades(c.spark, Tr00Trades).toDF()
      .withColumn("one", lit(1L)), "one", "quantity")
    if (Trades.failures(want, perTicker(stats, "n_trades", "sum_qty")) == 0) 0 else 1
  }
}
