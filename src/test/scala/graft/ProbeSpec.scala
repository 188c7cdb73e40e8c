package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** graft.Probe reads a write's AQE-final plan as a tree, not as text. */
class ProbeSpec extends SparkTestBase {

  test("Probe: q04_routing prints parseable JSON with its row count, shuffles and phases") {
    val probe = new Probe(spark)
    // q02's root sorts through a range exchange (whose sampling pass runs
    // its input twice); q55's root is a top-k
    try Seq("q04_routing", "q02_parse", "q55_top_ngrams").foreach { q =>
      val query = SparkEntry.queries(q)
      val json = new ObjectMapper().readTree(probe("test", q)(query(spark, smallSfDir)))
      assert(json.get("name").asText == q)
      assert(json.get("rows_out").asLong == query(spark, smallSfDir).count(), q)
      assert(json.get("shuffles").asInt >= 1, q)
      assert(json.get("wall_s").asDouble > 0, q)
      Seq("analysis_s", "optimization_s", "planning_s").foreach(k => assert(json.has(k), s"$q $k"))
    } finally probe.close()
  }
}
