package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The harness shared by Bench, Explain, Verify and ScaleProbe: its JSON
  * escaper and the per-measurement metrics delta. */
class QueryRunSpec extends SparkSpec {

  test("json escaper round-trips quote, backslash and control characters") {
    val s = "say \"hi\" C:\\tmp\tcol\r\nend\u0001"
    val parsed = new ObjectMapper().readValue(QueryRun.json(s), classOf[String])
    assert(parsed == s)
  }

  test("collector delta holds only the job since the previous read") {
    val sc = spark.sparkContext
    val c = new QueryRun.Collector(sc)
    def sleepJob(ms: Long): Unit =
      sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(ms))
    try {
      sleepJob(500)
      c.delta()
      sleepJob(100)
      // 4 tasks x 100 ms; any of the first job's 500 ms tasks leaking in
      // would push it past 900
      val ms = c.delta().taskMs
      assert(ms >= 400 && ms < 900, s"task ms $ms")
    } finally sc.removeSparkListener(c)
  }
}
