package graft

import scala.collection.mutable.ArrayBuffer

import graft.plans.{KeyArena, SortCountExec}
import org.apache.spark.memory.SparkOutOfMemoryError
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** [[KeyArena]], the sort kernel of [[graft.plans.SortCountExec]]: each
  * run it holds comes out in unsigned byte order, a prefix before the
  * keys it starts, one row per distinct key with its count. */
class KeyArenaSpec extends AnyFunSuite {

  private val byteOrder: Ordering[Seq[Byte]] =
    (a, b) => java.util.Arrays.compareUnsigned(a.toArray, b.toArray)

  /** `keys` added in order, a run sorted and emitted as `(key, count)`s
    * whenever the arena refuses one, as the operator does. */
  private def runs(keys: Seq[Seq[Byte]], capBytes: Long): Seq[Seq[(Seq[Byte], Long)]] = {
    val arena = new KeyArena(capBytes, _ => true)
    val out = ArrayBuffer.empty[Seq[(Seq[Byte], Long)]]
    def emit(): Unit = {
      arena.sort()
      out += Iterator.continually(arena.nextRun()).takeWhile(identity)
        .map(_ => (arena.runKey.getBytes.toSeq, arena.runCount)).toList
      arena.clear()
    }
    for (k <- keys.map(k => UTF8String.fromBytes(k.toArray))) if (!arena.add(k)) {
      emit()
      assert(arena.add(k), "an empty arena takes any key")
    }
    if (arena.size > 0) emit()
    out.toSeq
  }

  // bytes at both ends of the unsigned range, lengths on both sides of the
  // 8-byte word, shared prefixes up to three words long, many duplicates
  private val byte = Gen.frequency(4 -> Gen.oneOf(Seq[Byte](0, -1, 'a', 'b')),
    1 -> Gen.choose(Byte.MinValue, Byte.MaxValue))
  private def bytes(len: Gen[Int]) = len.flatMap(Gen.listOfN(_, byte))
  private val key = for {
    prefix <- Gen.oneOf(Seq.empty[Byte], "shared16byteskey".getBytes.toSeq,
      Seq.fill(24)(0.toByte), Seq.fill(9)(-1.toByte))
    tail <- bytes(Gen.frequency(3 -> Gen.oneOf(0, 1, 7, 8, 9, 16, 17), 1 -> Gen.choose(0, 40)))
  } yield prefix ++ tail
  private val keys = for {
    pool <- Gen.nonEmptyListOf(key)
    picks <- Gen.listOf(Gen.oneOf(pool))
  } yield picks ++ pool

  test("property: every run in unsigned byte order, counts as a groupBy counts") {
    val prop = Prop.forAll(keys, Gen.oneOf(Long.MaxValue, 4096L, 1L)) { (ks, capBytes) =>
      val got = runs(ks, capBytes)
      val whole = got.flatten.groupMapReduce(_._1)(_._2)(_ + _)
      got.forall(r => r.nonEmpty && r.map(_._1).sliding(2).forall {
        case Seq(a, b) => byteOrder.lt(a, b); case _ => true
      }) &&
        whole == ks.groupBy(identity).map { case (k, v) => k -> v.size.toLong } &&
        (capBytes != Long.MaxValue || got.size == 1 &&
          got.head == ks.distinct.sorted(byteOrder).map(k => k -> ks.count(_ == k).toLong))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("a refused grant ends the run; the cap holds for any non-empty arena") {
    var granted = 0L
    val arena = new KeyArena(Long.MaxValue, bytes => { granted += bytes; granted <= 8192 })
    var added = 0
    while (arena.add(UTF8String.fromString(f"key$added%06d"))) added += 1
    assert(added > 100 && arena.heldBytes <= 8192)
    // a 1-byte cap still fills the first allocation, then ends each run
    val capped = runs(Seq.fill(1000)("0123456789".getBytes.toSeq), 1L)
    assert(capped.size > 1 && capped.forall(_.size == 1) && capped.map(_.head._2).sum == 1000)
  }

  /** The operator's per-task output over `keys`, the arena's `grant` asked
    * as the task's memory manager would be. */
  private def counts(keys: Seq[String], grant: Long => Boolean): List[(String, Long)] = {
    val arena = new KeyArena(Long.MaxValue, grant)
    SortCountExec.counts(keys.iterator.map(UTF8String.fromString), arena, () => arena.clear())
      .map(r => (r.getUTF8String(0).toString, r.getLong(1))).toList
  }

  private val keyList = (0 until 1000).map(i => f"key${i % 700}%06d")

  test("a key refused mid-run is counted in the next run") {
    var asks = 0
    val got = counts(keyList, _ => { asks += 1; asks != 3 }) // the third grant, mid-run, is refused
    assert(asks > 3, "the refusal was never reached")
    assert(got.groupMapReduce(_._1)(_._2)(_ + _) == keyList.groupBy(identity).map { case (k, v) => k -> v.size.toLong })
  }

  test("an empty arena that refuses the carried key fails the task, not drops its rows") {
    var asks = 0
    // the first run's two allocations are granted, then every grant is
    // refused, also the retry of the carried key once the run is freed
    intercept[SparkOutOfMemoryError](counts(keyList, _ => { asks += 1; asks <= 2 }))
    assert(asks > 3, "no run ended before the refusal")
  }
}
