package graft.tools

import graft.SparkTestBase

/** Measured-skew evidence (SURVEY §9.4): the salted topology must not
  * just pass its oracle and plan pin — on a planted-hot-key slice it
  * must demonstrably SPLIT the hot task. Wall clock is ±30% ambient on
  * this box, so the pin is the join-stage task histogram (max
  * shuffle-read records), which is deterministic for a fixed fixture,
  * hash, and partition count. */
class SkewBenchSpec extends SparkTestBase {
  lazy val sf001 = "/root/testdata/sf0.01"

  test("salted join splits the planted hot task; all variants agree") {
    // 80% of event rows on ONE user, ×8 amplification: at 4 shuffle
    // partitions the plain join serializes ~64k hot rows into one task
    val Seq(plain, salted, aqe) =
      SkewBench.run(spark, sf001, hotTenths = 8, amplify = 8)

    // a speedup that changes the answer is not a speedup
    assert(plain.checksum.nonEmpty)
    assert(salted.checksum === plain.checksum)
    assert(aqe.checksum === plain.checksum)

    // the hot task exists in the plain topology...
    assert(plain.maxRec > 3L * plain.medRec,
      s"fixture not skewed enough: ${plain.line}")
    // ...and salting flattens the histogram: max/median collapses (the
    // primary signal — measured 12.5 -> 1.7 here, 32.3 -> 8.6 at the
    // bench's 32 partitions). The absolute max-task reduction is capped
    // at 4 test partitions by salt-bucket collisions (4 of the 8
    // (hot, salt) combos hash into one partition), so it gets the
    // looser pin; at 32 partitions the measured reduction is 3.6x.
    assert(salted.ratio * 3 < plain.ratio,
      s"salted max/med not improved:\n${plain.line}\n${salted.line}")
    assert(salted.maxRec < (plain.maxRec * 7L) / 10L,
      s"salting did not split the hot task:\n${plain.line}\n${salted.line}")
  }

  test("slice variants built at one sfDir all survive") {
    // each (hotTenths, amplify) variant is its own artifact family: the
    // stale-generation sweep of one build never retires another variant
    val a = SkewBench.slicePath(spark, sf0001, hotTenths = 1, amplify = 1)
    val b = SkewBench.slicePath(spark, sf0001, hotTenths = 2, amplify = 1)
    assert(a != b)
    Seq(a, b).foreach(p =>
      assert(graft.flow.DirTarget(p).exists, s"slice variant missing: $p"))
  }
}
