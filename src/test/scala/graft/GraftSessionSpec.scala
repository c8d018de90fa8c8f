package graft

/** Pins the shared session configuration: the specs run under the same
  * conf set as the bench, Verify and the dev tools.
  */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries GraftSession's conf set") {
    spark.sparkContext.master shouldBe s"local[${SharedSpark.Cpus}]"
    GraftSession.confs(SharedSpark.Cpus).foreach { case (k, v) =>
      withClue(s"$k: ") { spark.conf.get(k) shouldBe v }
    }
  }
}
