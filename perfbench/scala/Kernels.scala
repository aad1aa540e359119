package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Functions
import graft.ext.{Dedup, Similarity}

/** Kernel micro-harness: `spark.range` -> input projection -> kernel
  * through its public Column function -> noop. The cost per row is the
  * kernel run minus the same pipeline without the kernel, each the
  * fastest of three interleaved runs (host noise only ever adds time).
  */
object Kernels {
  private val dim = 64

  private def vec(salt: Int): Column =
    array((0 until dim).map(j => ((col("id") * (j + salt)) % 97).cast("double") / 97.0): _*)

  private val coarse: Seq[(Int, Seq[Double])] =
    (0 until 16).map(c => c -> (0 until dim).map(j => Similarity.centroidVal(c, j)))

  private def cases: Seq[(String, Long, Seq[Column], Seq[Column] => Column)] =
    Seq(
      ("strip_accents", 400000L,
        Seq(concat(lit("Électro Fête à l'Opéra n°"), col("id").cast("string"))),
        (in: Seq[Column]) => Functions.stripAccents(in.head)),
      ("parse_fr_datetime", 400000L,
        Seq(concat(lit("ven. "), (col("id") % 28 + 1).cast("string"),
          lit(" oct. 2025 19:"), lpad((col("id") % 60).cast("string"), 2, "0"))),
        (in: Seq[Column]) => Functions.parseFrDatetime(in.head)),
      ("minhash_bands", 40000L,
        Seq(concat_ws(" ", (1 to 12).map(j =>
          concat(lit("mot"), ((col("id") * j) % 1009).cast("string"))): _*)),
        (in: Seq[Column]) => Dedup.minhashBands(in.head, 8)),
      ("dot_fold", 400000L, Seq(vec(3), vec(7)),
        (in: Seq[Column]) => Similarity.dotFold(in(0), in(1))),
      ("best_cells", 40000L, Seq(vec(5)),
        (in: Seq[Column]) => Similarity.bestCellOf(in.head, coarse)))

  def run(spark: SparkSession, cores: Int): Map[String, Double] =
    cases.map { case (name, n, inputs, kernel) =>
      val base = spark.range(0L, n, 1L, cores)
        .select(inputs.zipWithIndex.map { case (c, j) => c.as(s"in$j") }: _*)
      val ins = inputs.indices.map(j => col(s"in$j"))
      def time(df: DataFrame): Double = {
        val t0 = System.nanoTime()
        Workload.noop(df)
        (System.nanoTime() - t0).toDouble
      }
      // the baseline keeps every input column alive, so it pays the same
      // input projection and noop sink the kernel run pays
      val keep = base.schema.fields.toSeq.map(f =>
        if (f.dataType.typeName == "array") size(col(f.name)) else length(col(f.name)))
      val runs = (1 to 3).map(_ => (time(base.select(keep: _*)),
        time(base.select(kernel(ins).as("k") +: keep: _*))))
      s"kernel.$name.ns_per_row" -> (runs.map(_._2).min - runs.map(_._1).min) / n
    }.toMap
}
