package graft

import org.apache.spark.sql.functions.col

/** The harness mains' shared pieces: the one task-metrics listener and
  * the JSON string escaper.
  */
class HarnessSpec extends SparkSpec {

  private def drain(): Unit = org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)

  test("WorkStats: a two-stage aggregate shows tasks, shuffle write and both stages") {
    drain()
    val w = WorkStats.register(spark)
    try {
      spark.range(0, 10000, 1, 4).groupBy(col("id") % 10).count().collect()
      drain()
      val s = w.snapshot()
      assert(s.tasks > 0)
      assert(s.shWrite > 0)
      assert(s.shRead > 0)
      assert(s.jobs > 0)
      val keys = "\"([a-z_]+)\":".r.findAllMatchIn(w.snapshotJson()).map(_.group(1)).toSeq
      assert(keys == Seq("in_rows", "in_bytes", "sh_read", "sh_write", "tasks", "peak_mem"))
      val (_, _, stages, tasks) = w.skewSummary()
      assert(stages == 2, "map stage + reduce stage")
      assert(tasks == s.tasks)

      w.reset()
      assert(w.snapshot().productIterator.forall(_ == 0L), w.snapshot())
      assert(w.skewSummary() == ((0L, 0.0, 0, 0)))
    } finally {
      spark.sparkContext.removeSparkListener(w)
      spark.listenerManager.unregister(w)
    }
  }

  test("Json.quote: quote, backslash, newline and control chars parse back exactly") {
    val raw = "say \"hi\" \\ path\nnext\u0001end\ttab"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s"""{"note":${Json.quote(raw)}}""")
    assert(parsed.get("note").asText() == raw)
  }
}
