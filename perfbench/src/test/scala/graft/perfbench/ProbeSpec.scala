package graft.perfbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("a two-call sequence attributes each call's jobs and tasks to that call") {
    val probe = new Probe(spark)
    val sc = spark.sparkContext
    val before = probe.unattributedJobs
    val a = probe.call("a")(sc.parallelize(1 to 100, 2).count())
    val b = probe.call("b") {
      sc.parallelize(1 to 100, 3).map(_ * 2).count()
      sc.parallelize(1 to 100, 3).filter(_ % 2 == 0).count()
    }
    val ca = probe.countersOf(a.group)
    val cb = probe.countersOf(b.group)
    assert((ca.jobs.get, ca.tasks.get) == ((1L, 2L)))
    assert((cb.jobs.get, cb.tasks.get) == ((2L, 6L)))
    assert(ca.cpuNs.get > 0 && cb.cpuNs.get > 0)
    assert(probe.unattributedJobs == before)
  }

  test("SQL jobs, shuffles and broadcasts stay with the call that ran them") {
    val probe = new Probe(spark)
    val before = probe.unattributedJobs
    val big = spark.range(0, 200000, 1, 4).withColumn("k", col("id") % 1000)
    val small = spark.range(0, 1000).withColumnRenamed("id", "k")
    val j = probe.call("join") {
      big.join(broadcast(small), "k").groupBy("k").count().collect().length
    }
    val n = probe.call("count")(big.distinct().count())
    assert(j.value == 1000 && n.value == 200000)
    val cj = probe.countersOf(j.group)
    val cn = probe.countersOf(n.group)
    assert(cj.jobs.get >= 2 && cj.shuffleWriteBytes.get > 0)
    assert(cn.jobs.get >= 1 && cn.shuffleWriteBytes.get > 0)
    assert(probe.unattributedJobs == before)
  }
}
