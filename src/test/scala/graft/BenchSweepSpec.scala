package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The bench parent's sweep of CDS temp files leaked by killed runs. */
class BenchSweepSpec extends AnyFunSuite with Matchers {

  test("sweep deletes dead and pre-pid CDS files, keeps live and unrelated ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-sweep").toFile
    val live = ProcessHandle.current.pid
    // no process can hold pid Long.MaxValue
    val dead = Long.MaxValue
    val names = Seq(
      s"graft-bench-cp-$dead-1.jar", s"graft-bench-cds-$dead-2.jsa",
      "graft-bench-cp1234.jar", "graft-bench-cds5678.jsa",
      s"graft-bench-cp-$live-3.jar", s"graft-bench-cds-$live-4.jsa",
      "graft-bench-notes.txt", "other.jar")
    names.foreach(n => new java.io.File(dir, n).createNewFile())
    Bench.sweepLeakedTemp(dir)
    dir.list().toSet shouldBe Set(
      s"graft-bench-cp-$live-3.jar", s"graft-bench-cds-$live-4.jsa",
      "graft-bench-notes.txt", "other.jar")
    dir.listFiles().foreach(_.delete()); dir.delete()
  }
}
