package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Each output check accepts the right output and rejects a perturbed one.
  * Run with `cd perfbench && sbt test`.
  */
class ChecksSpec extends AnyFunSuite {

  test("snapshot check: exact match passes, any changed, missing, extra or duplicated row fails") {
    val gen = new CdcGen(7L, 2, 50)
    (0 until 4).foreach(_ => gen.tranche())
    val expected = gen.images.map { case (pk, img) =>
      pk -> img.drop(1).map(v => if (v == null) null else v.toString)
    }.toMap
    val right = expected.toSeq
    assert(Checks.snapshot(expected, right) == 0)
    val (pk, row) = right.head
    assert(Checks.snapshot(expected, right.tail :+ (pk -> row.updated(0, "0.01"))) == 1)
    assert(Checks.snapshot(expected, right.tail) == 1)
    assert(Checks.snapshot(expected, right :+ (pk + 1000000L -> row)) == 1)
    assert(Checks.snapshot(expected, right :+ right.head) == 1)
  }

  test("routed-count check fails on one record too many or too few") {
    val want = Map("mq_a" -> 40L, "mq_b" -> 75L)
    assert(Checks.counts(want, want) == 0)
    assert(Checks.counts(want, want.updated("mq_a", 41L)) == 1)
    assert(Checks.counts(want, want - "mq_b") == 75)
  }

  test("corpus check: a stale text, a deleted doc present, a novel doc missing all fail") {
    val gen = new CorpusGen(3L)
    (0 until 4).foreach(_ => gen.tranche())
    val expected = gen.expected.toMap
    assert(gen.deleted > 0 && expected.size > 0)
    val right = expected.toSeq
    assert(Checks.corpus(expected, right) == 0)
    val (id, text) = right.head
    assert(Checks.corpus(expected, right.tail :+ (id -> (text + " x"))) == 1)
    assert(Checks.corpus(expected, right.tail) == 1)
    assert(Checks.corpus(expected, right :+ (-1L -> "deleted")) == 1)
  }
}
