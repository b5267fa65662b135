package graft

/** Bench's timing policy: a run that throws is a failure, never a sample. */
class BenchSpec extends SparkSuite {

  private def throwingQuery(): Unit = {
    spark.sql("SELECT raise_error('boom') AS x").collect(); ()
  }

  test("a query that throws on every run is recorded as failed, with no time") {
    val r = Bench.robust { () =>
      val (sec, error) = Bench.timeOnce(() => throwingQuery())
      Bench.Sample(sec, (), error)
    }
    assert(r.median.isEmpty)
    assert(r.secs.isEmpty)
    assert(r.failures.size == 3) // the recorded runs; the warm-up is not one
    assert(r.failures.forall(_.getMessage.contains("boom")))
  }

  test("a run that throws is left out of the median and counted as a failure") {
    var calls = 0
    val r = Bench.robust { () =>
      calls += 1
      // the second recorded run throws; the others take ~20 ms
      val (sec, error) = Bench.timeOnce(() =>
        if (calls == 3) throwingQuery() else Thread.sleep(20))
      Bench.Sample(sec, (), error)
    }
    // sub-second runs extend to 5 recorded runs, one of which failed
    assert(calls == 6)
    assert(r.failures.size == 1)
    assert(r.secs.size == 4)
    assert(r.secs.forall(_ >= 0.019))
    assert(r.median.exists(m => m >= 0.019 && r.secs.contains(m)))
  }
}
