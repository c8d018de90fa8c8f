package graft.queries

import graft.SparkSpec
import org.apache.spark.SparkException
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._

class DriverJobsSpec extends SparkSpec {

  test("awaitOrCancel returns on a future that never completes and cancels its group") {
    val group = s"driver-jobs-spec-${java.util.UUID.randomUUID}"
    val t0 = System.nanoTime()
    DriverJobs.awaitOrCancel(spark, group, Future.never, 200.millis) shouldBe false
    (System.nanoTime() - t0) / 1e9 should be < 10.0
    // the group is cancelled, including jobs submitted to it afterwards
    val sc = spark.sparkContext
    val job = Future {
      sc.setJobGroup(group, "spec")
      try sc.parallelize(1 to 4, 2).count() finally sc.clearJobGroup()
    }(ExecutionContext.global)
    val e = intercept[SparkException](Await.result(job, 60.seconds))
    e.getMessage should include("cancel")
  }

  test("awaitOrCancel reports a completed future without cancelling") {
    DriverJobs.awaitOrCancel(spark, "unused", Future.successful(1), 1.second) shouldBe true
  }

  test("overlap returns both results; a main-side exception propagates unchanged") {
    DriverJobs.overlap(spark, "spec", 60.seconds)(spark.range(3).count())(
      spark.range(5).count()) shouldBe ((3L, 5L))
    @volatile var sideDone = false
    val e = intercept[IllegalStateException] {
      DriverJobs.overlap(spark, "spec", 60.seconds) {
        Thread.sleep(200); sideDone = true
      }(throw new IllegalStateException("main failed"))
    }
    e.getMessage shouldBe "main failed"
    sideDone shouldBe true
  }

  test("overlap names the chain when its side outlives the bound") {
    val e = intercept[TimeoutException] {
      DriverJobs.overlap(spark, "wedged_row", 200.millis)(Thread.sleep(2000))(())
    }
    e.getMessage should include("wedged_row")
  }
}
