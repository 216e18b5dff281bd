package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CorpusStore
import graft.operators.CorpusStore.StoreLayout

/** The corpus store's creation sizing rule: every bucket count is the
  * smallest power of two that keeps a file at or below the target rows.
  */
class StoreLayoutSizingSpec extends AnyFunSuite {

  test("sizedLayout: one bucket up to the target, the next power of two " +
    "above it") {
    val t = CorpusStore.TargetRowsPerFile.toLong
    def n(keepers: Long): Int = {
      val l = CorpusStore.sizedLayout(keepers)
      assert(l.md5Buckets == l.bandValBuckets, s"counts differ: $l")
      l.md5Buckets
    }
    assert(CorpusStore.sizedLayout(0L) == StoreLayout(1, 1))
    assert(Seq(1L, 170L, t - 1, t).map(n) == Seq(1, 1, 1, 1))
    assert(Seq(t + 1, 2 * t, 2 * t + 1, 4 * t, 5 * t).map(n) ==
      Seq(2, 2, 4, 4, 8))
    assert(n(1000L * t) == 1024)
  }
}
