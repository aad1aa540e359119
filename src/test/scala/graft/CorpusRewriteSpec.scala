package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.col

import graft.queries.ExtQueries

/** A corpus rewritten at the same path is never served the previous
  * corpus's session artifacts: both a session-materialized parquet
  * artifact (q137's base index and stream input) and an in-memory memo
  * (the trained PQ codebook) follow the rewrite.
  */
class CorpusRewriteSpec extends SparkSpec {

  /** A fresh copy of every sf0.001 table. */
  private def copyCorpus(): Path = {
    val dst = Files.createTempDirectory("graft-artifacts-")
    Files.list(Paths.get(sf0001)).forEach(f =>
      Files.copy(f, dst.resolve(f.getFileName)): Unit)
    dst
  }

  /** Replaces `d`'s embeddings with the even-vec_id half (a strict
    * subset) and returns the subset's parquet dir, for seeding a second
    * copy. */
  private def shrinkEmbeddings(d: Path): Path = {
    val stage = Files.createTempDirectory("graft-emb-subset-").resolve("e")
    graft.util.Tables.embeddings(spark, d.toString).filter(col("vec_id") % 2 === 0)
      .write.parquet(stage.toString)
    val target = d.resolve("embeddings.parquet")
    Files.delete(target)
    copyTree(stage, target)
    stage
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Files.list(src).forEach(f => Files.copy(f, dst.resolve(f.getFileName)): Unit)
  }

  /** `run` on a corpus rewritten in place, and on a fresh copy of the
    * rewritten corpus at a new path. */
  private def afterRewrite[T](run: String => T): (T, T, T) = {
    val d = copyCorpus()
    val before = run(d.toString)
    val subset = shrinkEmbeddings(d)
    val fresh = copyCorpus()
    Files.delete(fresh.resolve("embeddings.parquet"))
    copyTree(subset, fresh.resolve("embeddings.parquet"))
    (before, run(d.toString), run(fresh.toString))
  }

  test("q137 on a corpus rewritten in place equals q137 on a fresh copy") {
    def q137(d: String) = SparkEntry.queries("q137_stream_index_ingest")(spark, d)
      .collect().map(_.toString).sorted.toSeq
    val (before, rewritten, fresh) = afterRewrite(q137)
    assert(fresh.nonEmpty && fresh.length < before.length)
    assert(rewritten == fresh)
  }

  test("pqRefinedCodebook on a corpus rewritten in place equals a fresh copy's") {
    val (before, rewritten, fresh) =
      afterRewrite(d => ExtQueries.pqRefinedCodebook(spark, d))
    assert(fresh.nonEmpty && fresh != before)
    assert(rewritten == fresh)
  }
}
