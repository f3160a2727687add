package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Executor-side cost of every finished task, read from Spark's own
  * listener bus; the harness sums it over a wall-clock window.
  */
final class TaskCost extends SparkListener {
  import TaskCost._

  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    tasks.add(Task(e.taskInfo.finishTime, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)

  /** Totals over tasks that ended in [fromMs, toMs]. The listener bus is
    * asynchronous, so callers let it drain (see [[Telemetry.settle]]) first.
    */
  def sum(fromMs: Long, toMs: Long): Sum = {
    val in = tasks.asScala.filter(t => t.endMs >= fromMs && t.endMs <= toMs).toSeq
    Sum(in.map(_.cpuNs).sum / 1e9, in.map(_.runMs).sum / 1e3, in.map(_.gcMs).sum / 1e3,
      in.map(_.shuffleRead).sum, in.map(_.shuffleWrite).sum, in.length,
      jobs.asScala.count(t => t >= fromMs && t <= toMs))
  }
}

object TaskCost {
  final case class Task(endMs: Long, cpuNs: Long, runMs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long)

  final case class Sum(cpuS: Double, runS: Double, gcS: Double, shuffleRead: Long,
      shuffleWrite: Long, tasks: Int, jobs: Int)
}

/** Spans around the harness's calls into each layer: name, start, end, the
  * causing span and the run id. Held in memory, written out once at exit.
  */
final class Tracer(runId: String, enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  // Inherited, so a thread started inside a span records it as the cause.
  private val stack = new InheritableThreadLocal[List[Int]] { override def initialValue = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val start = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, start, System.nanoTime(), Thread.currentThread.getName))
        stack.set(stack.get.tail)
      }
    }

  def count: Int = spans.size

  def write(path: Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map(s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"thread":"${s.thread}"}""")
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, thread: String)
}

object Telemetry {

  /** Wait for the asynchronous listener bus to deliver task-end events of
    * jobs that already returned.
    */
  def settle(): Unit = Thread.sleep(300)

  /** Driver old-generation occupancy right after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    pools.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** Host canaries: a fixed single-thread integer loop and a fixed random
    * walk over a 32 MiB array. Both do the same work on every run, so a
    * reading well above its usual value marks a take hit by a co-tenant
    * stall burst.
    */
  def aluMs(): Double = {
    val t = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    sink ^= x
    (System.nanoTime() - t) / 1e6
  }

  def dramMs(): Double = {
    val a = new Array[Int](1 << 23) // 32 MiB, far above any last-level cache
    val mask = a.length - 1
    val t = System.nanoTime()
    var p = 0
    var i = 0
    // Each index depends on the value just loaded, so the loads cannot overlap.
    while (i < 2000000) { p = ((p * 0x9E3779B1 + i) ^ a(p)) & mask; i += 1 }
    sink ^= p
    (System.nanoTime() - t) / 1e6
  }

  @volatile private var sink = 0L

  /** Files the file source has listed, from its own offset log in the
    * query checkpoint (`sources/0`): file name → source log offset.
    */
  def fileOffsets(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    val mapper = new ObjectMapper()
    val out = mutable.Map.empty[String, Long]
    if (Files.isDirectory(dir)) {
      val logs = scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.toList)
        .filterNot(_.getFileName.toString.startsWith("."))
      for (log <- logs; line <- Files.readAllLines(log).asScala.drop(1) if line.startsWith("{")) {
        val e = mapper.readTree(line)
        val path = e.get("path").asText
        out(path.substring(path.lastIndexOf('/') + 1)) = e.get("batchId").asLong
      }
    }
    out.toMap
  }
}
