package graft

import graft.tools.Profile

/** Profile's layers add up to the wall time on a registry query, with
  * analysis inside construction and the action's planning inside execution. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("Profile.measure splits q_region_revenue into consistent layers") {
    val fn = SparkEntry.queries("q_region_revenue")
    val rec = new Profile.Recorder(spark)
    try {
      fn(spark, sf).count() // warm rep, as Profile.main runs one
      val l = Profile.measure(spark, rec)(fn(spark, sf))
      assert(l.jobs >= 1, l)
      assert(l.anaMs <= l.conMs, l)
      assert(math.abs(l.conMs + l.exeMs - l.wallMs) <= 0.05 * l.wallMs, l)
      assert(l.optMs + l.planMs <= l.exeMs, l)
    } finally rec.close()
  }
}
