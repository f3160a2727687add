package perfbench

import java.time.Instant

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Order statistics and the progress-event latency arithmetic. */
object Stats {

  /** Fewest samples a reported tail percentile must leave beyond it. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-based nearest rank of percentile `p` (0 < p ≤ 1) among `n` samples. */
  def nearestRank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** The highest percentile that leaves at least [[MinBeyond]] samples
    * beyond it among `n`, capped at `p`: the rank a tail percentile may be
    * read at without resting on a handful of outliers.
    */
  def tailRank(n: Int, p: Double): Int = {
    require(n > MinBeyond, s"$n samples cannot support a tail percentile (need > $MinBeyond)")
    math.min(nearestRank(n, p), n - MinBeyond)
  }

  def tail(xs: Seq[Double], p: Double): Double = xs.sorted.apply(tailRank(xs.length, p) - 1)

  /** A micro-batch as the latency arithmetic needs it: id, trigger start,
    * duration, input rows, and the file source's (start, end] log offsets.
    */
  final case class Batch(id: Long, startMs: Long, durationMs: Long, rows: Long,
      fromOffset: Long, toOffset: Long) {
    def endMs: Long = startMs + durationMs
  }

  object Batch {
    def of(p: StreamingQueryProgress): Batch =
      Batch(p.batchId, Instant.parse(p.timestamp).toEpochMilli, p.batchDuration, p.numInputRows,
        logOffset(p.sources.head.startOffset), logOffset(p.sources.head.endOffset))
  }

  /** `logOffset` of a file-source offset as progress events print it;
    * -1 before the first batch.
    */
  def logOffset(json: String): Long =
    if (json == null) -1L else """\d+""".r.findFirstIn(json).get.toLong

  /** Query batch that read each file, given the file source's log offset
    * of each file: the data batch whose (from, to] offset range holds it.
    * Source offsets advance only when new files are listed, so they drift
    * from batch ids once a batch without input runs.
    */
  def batchOf(fileOffsets: Map[String, Long], batches: Seq[Batch]): Map[String, Long] = {
    val data = batches.filter(_.rows > 0)
    fileOffsets.flatMap { case (file, o) =>
      data.collectFirst { case b if b.fromOffset < o && o <= b.toOffset => file -> b.id }
    }
  }

  /** Latency of every input file, in seconds: from the moment it was due to
    * the end of the micro-batch that read it. Fails if a file has no
    * consuming batch, so a dropped file cannot pass silently.
    */
  def fileLatencies(dueMs: Map[String, Long], batchOf: Map[String, Long],
      batches: Seq[Batch]): Map[String, Double] = {
    val endOf = batches.map(b => b.id -> b.endMs).toMap
    dueMs.map { case (file, due) =>
      val batch = batchOf.getOrElse(file, sys.error(s"file $file was never read by the stream"))
      val end = endOf.getOrElse(batch, sys.error(s"no progress event for batch $batch"))
      file -> (end - due) / 1000.0
    }
  }
}
