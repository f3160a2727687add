package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats.Batch

class StatsSpec extends AnyFunSuite {

  test("a tail percentile leaves at least ten samples beyond it") {
    assert(Stats.tailRank(200, 0.95) == 190)
    // One sample short: the rank falls back so ten samples stay beyond it.
    assert(Stats.tailRank(199, 0.95) == 189)
    assert(Stats.tailRank(1000, 0.99) == 990)
    assert(Stats.tailRank(11, 0.5) == 1)
    assertThrows[IllegalArgumentException](Stats.tailRank(10, 0.5))
    val xs = (1 to 200).map(_.toDouble).reverse
    assert(Stats.tail(xs, 0.95) == 190.0)
    assert(Stats.median(xs) == 100.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("file-source offsets parse from progress events") {
    assert(Stats.logOffset("{\"logOffset\":12}") == 12)
    assert(Stats.logOffset(null) == -1)
  }

  // Batch 1 had no input (the watermark moved), so source log offsets lag
  // batch ids from then on.
  private val batches = Seq(
    Batch(0, 0, 900, 10, -1, 0),
    Batch(1, 2000, 50, 0, 0, 0),
    Batch(2, 4004, 600, 20, 0, 2),
    Batch(3, 6000, 700, 10, 2, 3))

  test("files map to the data batch whose source offset range holds them") {
    assert(Stats.batchOf(Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L), batches) ==
      Map("a" -> 0L, "b" -> 2L, "c" -> 2L, "d" -> 3L))
  }

  test("a file's latency runs from its due time to the end of the batch that read it") {
    val due = Map("a" -> -1500L, "b" -> 1900L, "c" -> 2100L, "d" -> 5000L)
    val read = Map("a" -> 0L, "b" -> 2L, "c" -> 2L, "d" -> 3L)
    assert(Stats.fileLatencies(due, read, batches) ==
      Map("a" -> 2.4, "b" -> 2.704, "c" -> 2.504, "d" -> 1.7))
    assertThrows[RuntimeException](Stats.fileLatencies(due + ("e" -> 0L), read, batches))
    assertThrows[RuntimeException](Stats.fileLatencies(due, read + ("d" -> 4L), batches))
  }
}
