package graft

import org.scalatest.concurrent.TimeLimits
import org.scalatest.time.{Seconds, Span}

/** Pins the two r21 seam hardenings (r20 verdict item 7 / ADVICE):
  * [[graft.core.Par]]'s reentrancy guard (a nested `jobs` call must run
  * inline, never deadlock the fixed pool) and
  * [[graft.ops.Widen.forHeavyRows]]'s size budget (an over-budget frame
  * must be left alone). */
class ParWidenSpec extends SparkSpec with TimeLimits {

  test("Par.jobs: nested calls run inline instead of deadlocking the pool") {
    // 7 outer closures (> pool size 6), each nesting another Par.jobs:
    // without the reentrancy guard every pool thread blocks on inner
    // tasks the same pool can never schedule — a deadlock. failAfter
    // turns a regression into a failure, not a hung suite.
    val r = failAfter(Span(120, Seconds)) {
      graft.core.Par.jobs(spark)((1 to 7).map(i => () =>
        graft.core.Par.jobs(spark)(() => i, () => 10 * i).sum): _*)
    }
    assert(r == (1 to 7).map(i => 11 * i))
  }

  test("Widen.forHeavyRows: applies the size budget; bad conf falls back") {
    val df = spark.range(1000).toDF("id")
    try {
      // over budget -> left alone (same object, no exchange added)
      spark.conf.set("graft.widen.maxInputBytes", "1")
      assert(graft.ops.Widen.forHeavyRows(df) eq df)
      // within the default budget -> widened to defaultParallelism
      spark.conf.unset("graft.widen.maxInputBytes")
      val widened = graft.ops.Widen.forHeavyRows(df)
      assert(widened.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
      // malformed value -> default budget, no crash
      spark.conf.set("graft.widen.maxInputBytes", "not-a-number")
      assert(graft.ops.Widen.forHeavyRows(df).rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
    } finally spark.conf.unset("graft.widen.maxInputBytes")
  }
}
