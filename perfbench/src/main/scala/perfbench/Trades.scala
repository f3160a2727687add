package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.TradeGenerator
import graft.sources.TradeSource
import graft.streaming.{Envelope, FileStreamIO, TradePipeline}

/** The calls into the program both trade workloads share, and the
  * correctness check of their output.
  */
object Trades {

  /** Produce leg: `n` generated trades → `Envelope.encode` → JSON files in
    * `dir`, `files` files of equal size.
    */
  def produce(spark: SparkSession, dir: Path, n: Long, files: Int, seed: Long): Unit =
    Envelope.encode(TradeSource.trades(spark, n, files, seed).toDF())
      .write.json(dir.toString)

  /** Drain leg: `TradePipeline.consume` over the transport directory until
    * the query stops (AvailableNow) or is stopped. Its checkpoint lands at
    * `<spark.sql.streaming.checkpointLocation>/<name>`.
    */
  def consume(spark: SparkSession, dir: Path, name: String, trigger: Trigger): StreamingQuery =
    TradePipeline.consume(spark, new FileStreamIO(dir.toString), name, trigger)

  /** Progress of the batches that read input. */
  def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  /** ticker → (trades, quantity) recounted from the generator for ids 1..n. */
  def expected(n: Long, seed: Long): Map[String, (Long, Long)] = {
    val cnt = new Array[Long](TradeGenerator.Symbols.length)
    val qty = new Array[Long](TradeGenerator.Symbols.length)
    val idx = TradeGenerator.Symbols.zipWithIndex.toMap
    var id = 1L
    while (id <= n) {
      val t = TradeGenerator.at(id, seed)
      val i = idx(t.tickerSymbol)
      cnt(i) += 1
      qty(i) += t.quantity
      id += 1
    }
    TradeGenerator.Symbols.indices.filter(cnt(_) > 0)
      .map(i => TradeGenerator.Symbols(i) -> (cnt(i), qty(i))).toMap
  }

  /** ticker → (trades, quantity) from the update-mode stats in memory table
    * `name`: the last (largest) count of each (window, ticker), summed over
    * windows.
    */
  def counted(spark: SparkSession, name: String): Map[String, (Long, Long)] =
    spark.table(name)
      .groupBy(col("window"), col("tickerSymbol"))
      .agg(max("n_trades").as("n"), max("sum_qty").as("q"))
      .groupBy("tickerSymbol").agg(sum("n").as("n"), sum("q").as("q"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Trades missing or double-counted, plus tickers whose quantity differs. */
  def failures(want: Map[String, (Long, Long)], got: Map[String, (Long, Long)]): Long =
    (want.keySet ++ got.keySet).toSeq.map { k =>
      val (wn, wq) = want.getOrElse(k, (0L, 0L))
      val (gn, gq) = got.getOrElse(k, (0L, 0L))
      math.abs(wn - gn) + (if (wn == gn && wq != gq) 1 else 0)
    }.sum

  /** ticker → `shardId` exactly as `Envelope.encode` assigns it. */
  def shardIds(spark: SparkSession): Map[String, String] = {
    import spark.implicits._
    val trades = TradeGenerator.Symbols.map(s => graft.model.StockTrade(s, "BUY", 1.0, 1L, 1L))
    Envelope.encode(trades.toDF()).select("partitionKey", "shardId").as[(String, String)]
      .collect().toMap
  }
}
