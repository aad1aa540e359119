package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare
  * (`scripts/verify_local.py`), and failures.json naming every query
  * that failed to dump. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [query ...] — trailing names restrict the
    // dump to a subset (dev iteration); the driver passes exactly two.
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the shared engine config (round 19, VERDICT r18 #8): correctness
    // is dumped under EXACTLY the session the bench times — same
    // JIT-aligned codegen cap, same broadcast threshold. The config
    // moves join strategies, never values: the full-registry sf0.01
    // oracle is green under both this and the r18 10MB-default
    // session, and the two sf0.001 rows with any history of
    // fold-order sensitivity (q212/q214) dump byte-identically under
    // both (checked this round).
    val spark = graft.util.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dump(spark, sfDir, outDir, args.drop(2).toSet) finally spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in an oracle's SQL would otherwise make the reader's
  // json.load fail and silently drop every oracle comparison.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes each registered query (or only those named in `only`, when
    * non-empty) to `<outDir>/<name>` as parquet, then oracle_sql.json
    * and failures.json: one {query, class, message} object per query
    * that threw. Returns the failures; the session stays open.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String] = Set.empty): Seq[(String, Throwable)] = {
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e)
        }
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"), failures.map {
      case (name, e) =>
        s"{${q("query")}: ${q(name)}, ${q("class")}: ${q(e.getClass.getName)}, " +
          s"${q("message")}: ${q(String.valueOf(e.getMessage))}}"
    }.mkString("[", ",\n", "]\n"))
    failures
  }
}
