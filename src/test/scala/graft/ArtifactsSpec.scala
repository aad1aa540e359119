package graft

import java.nio.file.Files

import graft.queries.Artifacts

/** The query registry's artifact store: memos nest, and a failed
  * compute or write is retried on the next lookup.
  */
class ArtifactsSpec extends SparkSpec {
  private def corpus(): String = {
    val d = Files.createTempDirectory("graft-artifacts-")
    Files.writeString(d.resolve("t.txt"), "x")
    d.toString
  }

  test("a memo compute may look up another kind of the same store") {
    val d = corpus()
    var outerRuns = 0
    def outer() = Artifacts.memo("spec_outer", spark, d) {
      outerRuns += 1
      Artifacts.memo("spec_inner", spark, d)(20) + 1
    }
    assert(outer() == 21 && outer() == 21)
    assert(outerRuns == 1)
  }

  test("a failed memo compute or dir write is retried on the next lookup") {
    val d = corpus()
    var runs = 0
    intercept[IllegalStateException] {
      Artifacts.memo("spec_flaky", spark, d) { runs += 1; throw new IllegalStateException("boom") }
    }
    assert(Artifacts.memo("spec_flaky", spark, d) { runs += 1; 7 } == 7)
    assert(runs == 2)

    var writes = 0
    intercept[IllegalStateException] {
      Artifacts.dir("spec_flaky", spark, d) { _ => writes += 1; throw new IllegalStateException("boom") }
    }
    val p = Artifacts.dir("spec_flaky", spark, d) { p =>
      writes += 1; spark.range(3).write.mode("overwrite").parquet(p)
    }
    assert(spark.read.parquet(p).count() == 3)
    assert(Artifacts.dir("spec_flaky", spark, d)(_ => writes += 1) == p)
    assert(writes == 2)
  }

  test("a memo is recomputed once a file under its dir is rewritten") {
    val d = corpus()
    var runs = 0
    def lookup() = Artifacts.memo("spec_rewrite", spark, d) { runs += 1; runs }
    assert(lookup() == 1 && lookup() == 1)
    Files.writeString(java.nio.file.Paths.get(d, "t.txt"), "yy")
    assert(lookup() == 2 && lookup() == 2)
  }
}
