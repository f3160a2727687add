package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.Base64
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.model.{StockTrade, TradeGenerator}

/** Envelope lines written by hand, byte for byte what Spark's JSON writer
  * emits for `Envelope.encode` output, so the paced producer needs no Spark
  * task on its thread.
  *
  * @param shardOf ticker → `shardId` column as `Envelope.encode` computes it.
  */
final class EnvelopeLines(shardOf: Map[String, String], seed: Long) {
  private val stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(ZoneOffset.UTC)
  private val b64 = Base64.getEncoder

  /** The wire payload `to_json(struct(trade.*))` renders. */
  def payload(t: StockTrade): String =
    s"""{"tickerSymbol":"${t.tickerSymbol}","tradeType":"${t.tradeType}","price":${t.price},""" +
      s""""quantity":${t.quantity},"id":${t.id}}"""

  /** Lines for trade ids [firstId, firstId + n), all arriving at `arrivalMs`. */
  def render(firstId: Long, n: Int, arrivalMs: Long): String = {
    val ts = stamp.format(Instant.ofEpochMilli(arrivalMs))
    val sb = new java.lang.StringBuilder(n * 220)
    var id = firstId
    while (id < firstId + n) {
      val t = TradeGenerator.at(id, seed)
      sb.append("{\"partitionKey\":\"").append(t.tickerSymbol)
        .append("\",\"data\":\"").append(b64.encodeToString(payload(t).getBytes(StandardCharsets.UTF_8)))
        .append("\",\"sequenceNumber\":\"").append(id)
        .append("\",\"approximateArrivalTimestamp\":\"").append(ts)
        .append("\",\"shardId\":\"").append(shardOf(t.tickerSymbol))
        .append("\"}\n")
      id += 1
    }
    sb.toString
  }
}

/** Open-loop load generator: one thread releases file k, holding trades
  * [(firstFile+k)·perFile + 1, (firstFile+k+1)·perFile], at its due time whether or not the
  * consumer keeps up; `perCycle` files are due evenly over every `cycleMs`
  * after `firstDueMs`. Each file is written under a hidden name
  * (the file source skips names starting with '.') and renamed into place
  * atomically at its due time, so the stream never sees a partial file.
  */
final class PacedProducer(dir: Path, lines: EnvelopeLines, firstFile: Int, perFile: Int,
    perCycle: Int, cycleMs: Long, firstDueMs: Long, stopDueMs: Long, tracer: Tracer) extends Thread("paced-producer") {
  import PacedProducer.Release

  val released = new ConcurrentLinkedQueue[Release]()
  @volatile var failure: Option[Throwable] = None

  setDaemon(true)

  override def run(): Unit =
    try {
      var k = 0L
      while (dueMs(k) < stopDueMs) {
        val due = dueMs(k)
        val name = f"part-${firstFile + k}%06d.json"
        val tmp = dir.resolve("." + name)
        tracer.span("producer.write") {
          Files.write(tmp, lines.render((firstFile + k) * perFile + 1, perFile, due).getBytes(StandardCharsets.UTF_8))
        }
        var wait = due - System.currentTimeMillis()
        while (wait > 0) { Thread.sleep(wait); wait = due - System.currentTimeMillis() }
        tracer.span("producer.rename") {
          Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        }
        released.add(Release(name, due, (System.nanoTime() / 1e6) - (due - epochToNanoMs)))
        k += 1
      }
    } catch { case t: Throwable => failure = Some(t) }

  def dueMs(k: Long): Long = firstDueMs + (k / perCycle) * cycleMs + (k % perCycle) * cycleMs / perCycle

  // Offset from epoch ms to System.nanoTime ms, fixed once, so lateness is
  // read from the monotonic clock.
  private val epochToNanoMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  def releases: Seq[Release] = released.asScala.toSeq
}

object PacedProducer {
  final case class Release(name: String, dueMs: Long, lateMs: Double)
}
