package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TradeSource
import graft.streaming.Envelope

/** The paced producer writes envelope lines by hand; they must read back
  * through the transport and `Envelope.decode` as the same rows that
  * `Envelope.encode` and Spark's JSON writer give for the same trades.
  */
class EnvelopeLinesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("hand-written envelope lines decode like Envelope.encode + the JSON writer") {
    val (n, seed, arrivalMs) = (5000, 11L, 1760000000123L)
    val dir = Files.createTempDirectory("envelope-lines")
    val written = dir.resolve("spark")
    Envelope.encode(TradeSource.trades(spark, n, 3, seed).toDF())
      .withColumn("approximateArrivalTimestamp", timestamp_millis(lit(arrivalMs)))
      .write.json(written.toString)
    val hand = dir.resolve("hand")
    Files.createDirectories(hand)
    val lines = new EnvelopeLines(Trades.shardIds(spark), seed)
    Files.write(hand.resolve("part-0.json"),
      lines.render(1, n, arrivalMs).getBytes(StandardCharsets.UTF_8))

    def read(p: java.nio.file.Path) = spark.read.schema(Envelope.schema).json(p.toString)
    val want = read(written)
    val got = read(hand)
    assert(got.count() == n)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val decoded = Envelope.decode(got)
    assert(decoded.exceptAll(Envelope.decode(want)).isEmpty)
    assert(decoded.filter(col("tickerSymbol").isNull || col("price").isNull || col("id").isNull).isEmpty)
  }
}
