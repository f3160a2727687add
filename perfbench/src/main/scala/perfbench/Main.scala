package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per process:
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload trade-catchup|trade-paced
  *   --seed N --seconds S --trace 0|1 --work DIR --out FILE --t0-ms EPOCH_MS
  * }}}
  *
  * `--t0-ms` is when the launching process started, so set-up time covers
  * JVM start. The result (correct/attempted/failed/metrics) is written to
  * `--out` as one JSON object; spans of a traced run go next to it.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, t0Ms: Long)

  /** Cores of the measured session; the host has four. */
  val Cores = 4

  final class Result {
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

    def json: String = {
      val ms = metrics.map { case (k, (v, u)) =>
        require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
        s""""$k":{"value":$v,"unit":"$u"}"""
      }
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
    }
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("out")).toAbsolutePath,
      get("t0-ms").toLong)
  }

  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("chk").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", 100000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case t: Throwable =>
        t.printStackTrace()
        System.exit(1) // Spark's non-daemon threads would keep the JVM alive
    }

  private def run(a: Args): Unit = {
    val tracer = new Tracer(s"${a.workload}-seed${a.seed}", a.trace)
    val canary0 = System.nanoTime()
    val alu0 = Telemetry.aluMs()
    val dram0 = Telemetry.dramMs()
    val canaryMs = (System.nanoTime() - canary0) / 1e6
    val spark = session(a.work, Cores)
    System.err.println(s"perfbench session ready ${System.currentTimeMillis() - a.t0Ms} ms after start, host canary ${canaryMs.round} ms")
    val cost = new TaskCost
    spark.sparkContext.addSparkListener(cost)
    val result = new Result
    val ctx = Ctx(spark, cost, tracer, a, result, canaryMs)
    a.workload match {
      case "trade-catchup" => Catchup.run(ctx)
      case "trade-paced" => Paced.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    if (a.trace) {
      Mix.run(ctx)
      Probe.run(ctx)
    }
    SparkSession.active.stop()
    val (alu1, dram1) = (Telemetry.aluMs(), Telemetry.dramMs())
    val stall = alu1 > 1.5 * alu0 || dram1 > 1.5 * dram0
    println(f"""host {"alu_ms_before":$alu0%.1f,"alu_ms_after":$alu1%.1f,""" +
      f""""dram_ms_before":$dram0%.1f,"dram_ms_after":$dram1%.1f,"stall":$stall}""")
    if (a.trace) {
      result.put("host.alu_ms_before", alu0, "ms")
      result.put("host.alu_ms_after", alu1, "ms")
      result.put("host.dram_ms_before", dram0, "ms")
      result.put("host.dram_ms_after", dram1, "ms")
      result.put("host.stall", if (stall) 1 else 0, "flag")
      result.put("trace.spans", tracer.count, "count")
      tracer.write(a.out.resolveSibling(a.out.getFileName.toString + ".spans.jsonl"))
    }
    Files.write(a.out, result.json.getBytes(StandardCharsets.UTF_8))
  }
}

/** What every workload runner needs. */
final case class Ctx(spark: SparkSession, cost: TaskCost, tracer: Tracer, args: Main.Args,
    result: Main.Result, canaryMs: Double) {
  def work: Path = args.work
  def seed: Long = args.seed
  def checkpoint(query: String): Path = work.resolve("chk").resolve(query)
  def now: Long = System.currentTimeMillis()

  /** Set-up time when the first timed operation starts at `firstTimedMs`:
    * process start to then, less the host canary and any idle `waitedMs`.
    */
  def setupSeconds(firstTimedMs: Long, waitedMs: Long = 0L): Double =
    (firstTimedMs - args.t0Ms - waitedMs - canaryMs) / 1000.0
}
