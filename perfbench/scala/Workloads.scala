package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{Consolidate, Normalize, Pipeline}
import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.util.Tables

/** One benchmark workload. `run` is the timed part of an iteration and
  * returns its own timed milliseconds (a workload may leave untimed
  * gaps inside an iteration, as the registry protocol does between
  * queries); `capture` records the iteration's outputs for the checker,
  * untimed. With a [[Trace]], `run` also opens spans and materialises
  * fused layers once, and `layers` turns the recording into per-layer
  * numbers.
  */
trait Workload {
  def audit(): Map[String, Any]
  def run(i: Int, tr: Option[Trace]): (Double, Map[String, Any])
  def capture(i: Int): Map[String, Any]
  def layers(i: Int, tr: Trace, startMs: Long, endMs: Long): Map[String, Double]
}

object Workload {
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e6, r)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def spanned[T](tr: Option[Trace], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  /** Row count of `df` taken in the same pass as a noop write. */
  def countedNoop(df: DataFrame): Long = {
    val ob = Observation()
    noop(df.observe(ob, count(lit(1)).as("n")))
    ob.get("n").asInstanceOf[Long]
  }

  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f).filter(_.getName.startsWith("part-"))
    }
}

import Workload._

/** E1 daily run: raw DICE and Shotgun rows through Normalize and
  * Pipeline.run (consolidate, K1 overwrite, K2 append, K4 preview).
  * `today` and the run id advance with the iteration.
  */
final class E1Daily(spark: SparkSession, in: String, out: String,
    firstToday: java.time.LocalDate, hotKeyBound: Long) extends Workload {
  private def runId(i: Int) = f"run-$i%04d"
  private def today(i: Int) = firstToday.plusDays(i.toLong).toString
  private def sources(i: Int): (DataFrame, DataFrame) = (
    Normalize.shotgunNormalize(spark.read.parquet(s"$in/shotgun.parquet"), runId(i)),
    Normalize.diceNormalize(spark.read.parquet(s"$in/dice.parquet"), runId(i)))
  // Pipeline.run's input-order column, rebuilt so that the traced run can
  // materialise the very consolidation plan the pipeline then reuses
  private def withOrder(df: DataFrame) =
    df.withColumn("__ord", abs(xxhash64(col("event_id_provider"))))
  private var result: DataFrame = _
  private var audited = Map.empty[String, Any]
  private var normalized = (0L, 0L)
  private var matched = 0L

  def audit(): Map[String, Any] = {
    val (sg, dc) = sources(-1)
    def ids(df: DataFrame) = df.agg(count(lit(1)), countDistinct(col("event_id_provider")))
      .head()
    val sgIds = ids(sg)
    val dcIds = ids(dc)
    require(sgIds.getLong(0) == sgIds.getLong(1), s"duplicate Shotgun event ids: $sgIds")
    require(dcIds.getLong(0) == dcIds.getLong(1), s"duplicate DICE event ids: $dcIds")
    val hot = Consolidate.hotTokenKeys(sg, dc, minPairs = 1L)
      .agg(coalesce(max(col("pairs")), lit(0L)), coalesce(sum(col("pairs")), lit(0L)))
      .head()
    require(hot.getLong(0) <= hotKeyBound,
      s"a (day, token) key joins ${hot.getLong(0)} pairs, over the bound $hotKeyBound")
    audited = Map("sg_ids" -> sgIds.getLong(0), "dice_ids" -> dcIds.getLong(0),
      "hot_key_pairs_max" -> hot.getLong(0), "token_pairs" -> hot.getLong(1))
    audited
  }

  def run(i: Int, tr: Option[Trace]): (Double, Map[String, Any]) = timed {
    val (sg, dc) = sources(i)
    tr.foreach { t =>
      val (a, b) = t.span("etl.Normalize")((countedNoop(sg), countedNoop(dc)))
      normalized = (a, b)
      t.span("etl.Consolidate") {
        noop(Consolidate.consolidate(withOrder(sg), withOrder(dc), today(i),
          col("__ord"), col("__ord")).cache())
      }
    }
    result = spanned(tr, "etl.Pipeline")(
      Pipeline.run(spark, sg, dc, today(i), out, runId(i)))
    Map.empty[String, Any]
  }

  /** The consolidated counts, from the cached result. The sinks' files
    * are checked after the run: every K2 run partition, the last K1 and
    * K4.
    */
  def capture(i: Int): Map[String, Any] = {
    val c = result.agg(
      count(when(col("shotgun_event_id").isNotNull && col("dice_event_id").isNotNull, 1)),
      count(when(col("shotgun_event_id").isNotNull && col("dice_event_id").isNull, 1)),
      count(when(col("shotgun_event_id").isNull && col("dice_event_id").isNotNull, 1)),
      count(lit(1))).head()
    matched = c.getLong(0)
    Map("matched" -> matched, "sg_only" -> c.getLong(1), "dice_only" -> c.getLong(2),
      "rows" -> c.getLong(3), "run_id" -> runId(i))
  }

  def layers(i: Int, tr: Trace, startMs: Long, endMs: Long): Map[String, Double] = {
    val w = tr.window(startMs, endMs, 1)
    def sink(frame: String) = tr.jobsAt(startMs, endMs, s"graft.etl.Sinks$$.$frame")
    val (k1, b1) = sink("overwriteSnapshot")
    val (k2, b2) = sink("appendHistorized")
    val (k4, b4) = sink("jsonPreview")
    val tokenPairs = audited("token_pairs").asInstanceOf[Long].toDouble
    val written = files(new File(s"$out/consolidated")).size +
      files(new File(s"$out/historized/ingestion_run_id=${runId(i)}")).size +
      files(new File(s"$out/preview")).size
    Map(
      "etl.Normalize.ms" -> w.getOrElse("span:etl.Normalize", 0.0),
      "etl.Normalize.rows_out" -> (normalized._1 + normalized._2).toDouble,
      "etl.Normalize.dropped" -> (spark.read.parquet(s"$in/shotgun.parquet").count() +
        spark.read.parquet(s"$in/dice.parquet").count() - normalized._1 - normalized._2).toDouble,
      "etl.Consolidate.ms" -> w.getOrElse("span:etl.Consolidate", 0.0),
      "etl.Consolidate.token_pairs" -> tokenPairs,
      "etl.Consolidate.matched" -> matched.toDouble,
      "etl.Consolidate.matched_per_pair" -> (if (tokenPairs > 0) matched / tokenPairs else 0.0),
      "etl.Consolidate.hot_key_pairs_max" ->
        audited("hot_key_pairs_max").asInstanceOf[Long].toDouble,
      "etl.Sinks.k1_ms" -> k1, "etl.Sinks.k2_ms" -> k2, "etl.Sinks.k4_ms" -> k4,
      "etl.Sinks.bytes_written" -> (b1 + b2 + b4),
      "etl.Sinks.files_written" -> written.toDouble)
  }
}

/** Corpus curation: quality features, MinHash near-dup components,
  * semantic dedup and IVF top-k over generated documents and vectors,
  * then the registry leg (streaming index maintenance through the query
  * registry on a fixed fixture). Each iteration writes its curated
  * outputs under its own directory, where the checker reads them.
  */
final class Curation(spark: SparkSession, in: String, out: String, nQueries: Int,
    topK: Int, tau: Double, bucketCap: Int, cellCap: Int, registry: RegistryLeg, cores: Int)
    extends Workload {
  private val nCells = 16
  private val nProbe = 4
  private def docs = Tables.table(spark, in, "documents")
  private def emb = Tables.table(spark, in, "embeddings")
  private def kept = docs.filter(TextAnalysis.tokenCount(col("text")) >= 8)
  private def dir(i: Int, part: String) = s"$out/iter_$i/$part"
  private var audited = Map.empty[String, Any]
  private var counts = Map.empty[String, Double]

  /** Every bucket and cell size (the audits with a zero cap), so the
    * maxima are recorded as well as checked against the caps.
    */
  def audit(): Map[String, Any] = {
    val sig = Dedup.bandedSignatures(kept, "text", "doc_id")
    val bucketMax = Dedup.hotBuckets(sig, maxBucket = 0)
      .agg(max(col("bucket_size"))).head().getLong(0)
    require(bucketMax <= bucketCap,
      s"a MinHash bucket holds $bucketMax documents, over the cap $bucketCap")
    val cells = Similarity.hotCells(emb, "vec_id", "embedding", nCells, cellCap = 0)
      .select(col("cell_size")).collect().map(_.getLong(0))
    require(cells.max <= cellCap, s"an IVF cell holds ${cells.max} vectors, over the cap $cellCap")
    audited = Map("bucket_max" -> bucketMax, "cell_max" -> cells.max,
      "semdedup_pairs" -> cells.map(n => n * (n - 1) / 2).sum) ++ registry.audit()
    audited
  }

  def run(i: Int, tr: Option[Trace]): (Double, Map[String, Any]) = {
    val (chainMs, _) = timed(chain(i, tr))
    val (registryMs, queries) = registry.run(i, tr)
    (chainMs + registryMs, Map("queries" -> queries))
  }

  private def chain(i: Int, tr: Option[Trace]): Unit = {
    spanned(tr, "ext.TextAnalysis") {
      docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.langId(col("text")).as("lang"),
          TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"))
        .write.mode("overwrite").parquet(dir(i, "quality"))
    }
    val sig = Dedup.bandedSignatures(kept, "text", "doc_id")
    val cands = Dedup.minhashCandidates(sig, bucketCap)
    val edges = cands.filter(col("n_bands") >= 2)
    tr.foreach { t =>
      t.span("ext.Dedup.signature")(noop(sig.cache()))
      val (nc, ne) = t.span("ext.Dedup.candidate") {
        cands.cache()
        (cands.count(), edges.count())
      }
      counts = Map("candidate_pairs" -> nc.toDouble, "edges" -> ne.toDouble)
    }
    spanned(tr, "ext.Dedup.components") {
      Dedup.connectedComponents(edges, "a_id", "b_id")
        .write.mode("overwrite").parquet(dir(i, "components"))
    }
    spanned(tr, "ext.Similarity.semdedup") {
      Similarity.semanticDedup(emb, "vec_id", "embedding", tau, nCells, cellCap)
        .write.mode("overwrite").parquet(dir(i, "semdedup"))
    }
    val queries = emb.filter(col("vec_id") <= nQueries)
    spanned(tr, "ext.Similarity.ivf") {
      Similarity.ivfTopK(queries, emb, "vec_id", "embedding", topK, nCells, nProbe)
        .write.mode("overwrite").parquet(dir(i, "topk"))
    }
    tr.foreach { t =>
      val scored = t.span("ext.Similarity.ivf_pairs")(
        Similarity.ivfCandidatePairs(queries, emb, "vec_id", "embedding", nCells, nProbe)
          .count())
      counts += "ivf_pairs" -> scored.toDouble
    }
    // the chain's cached frames go before the registry leg starts
    spark.catalog.clearCache()
  }

  def capture(i: Int): Map[String, Any] = Map("dir" -> s"$out/iter_$i")

  def layers(i: Int, tr: Trace, startMs: Long, endMs: Long): Map[String, Double] = {
    val w = tr.window(startMs, endMs, 1)
    def span(n: String) = w.getOrElse(s"span:$n", 0.0)
    val topRows = spark.read.parquet(dir(i, "topk")).count().toDouble
    val cand = counts.getOrElse("candidate_pairs", 0.0)
    val ivfPairs = counts.getOrElse("ivf_pairs", 0.0)
    Map(
      "ext.TextAnalysis.ms" -> span("ext.TextAnalysis"),
      "ext.Dedup.signature_ms" -> span("ext.Dedup.signature"),
      "ext.Dedup.candidate_ms" -> span("ext.Dedup.candidate"),
      "ext.Dedup.candidate_pairs" -> cand,
      "ext.Dedup.kept_per_candidate" ->
        (if (cand > 0) counts.getOrElse("edges", 0.0) / cand else 0.0),
      "ext.Dedup.bucket_max" -> audited("bucket_max").asInstanceOf[Long].toDouble,
      "ext.Dedup.components_ms" -> span("ext.Dedup.components"),
      "ext.Dedup.components_rounds" ->
        tr.actionsIn("ext.Dedup.components", "head", startMs, endMs).toDouble,
      "ext.Similarity.semdedup_ms" -> span("ext.Similarity.semdedup"),
      "ext.Similarity.semdedup_pairs" -> audited("semdedup_pairs").asInstanceOf[Long].toDouble,
      "ext.Similarity.ivf_ms" -> span("ext.Similarity.ivf"),
      "ext.Similarity.ivf_pairs_scored" -> ivfPairs,
      "ext.Similarity.ivf_results_per_pair" -> (if (ivfPairs > 0) topRows / ivfPairs else 0.0),
      "ext.Similarity.cell_max" -> audited("cell_max").asInstanceOf[Long].toDouble) ++
      registry.layers(tr, startMs, endMs, cores)
  }
}

/** Registry leg: named queries through `SparkEntry.queries` on a fixed
  * fixture, following the bench protocol (noop sink; clearCache and an
  * untimed GC between queries). Each query's row count and an
  * order-insensitive digest are observed in the timed pass; the first
  * iteration also writes each result for the oracle comparison, untimed.
  */
final class RegistryLeg(spark: SparkSession, fixture: String, out: String,
    names: Seq[String]) {
  private var last = Map.empty[String, Map[String, Any]]

  def audit(): Map[String, Any] = {
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val sql = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), Json(sql))
    Map("queries" -> names, "oracle" -> sql.keys.toSeq.sorted)
  }

  private def digest(df: DataFrame): Column =
    sum(pmod(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*),
      lit(1000000007L)))

  /** Timed milliseconds of the leg and each query's record. */
  def run(i: Int, tr: Option[Trace]): (Double, Map[String, Map[String, Any]]) = {
    var total = 0.0
    last = names.map { n =>
      val ob = Observation()
      val (ms, df) = timed {
        spanned(tr, s"queries.$n") {
          val df = SparkEntry.queries(n)(spark, fixture)
          noop(df.observe(ob, count(lit(1)).as("rows"), digest(df).as("digest")))
          df
        }
      }
      total += ms
      if (i == 0) df.write.mode("overwrite").parquet(s"$out/results/$n")
      spark.catalog.clearCache()
      System.gc()
      val m = ob.get
      n -> Map[String, Any]("ms" -> ms, "rows" -> m("rows"),
        "digest" -> Option(m("digest")).map(_.toString).getOrElse("0"))
    }.toMap
    (total, last)
  }

  def layers(tr: Trace, startMs: Long, endMs: Long, cores: Int): Map[String, Double] = {
    val w = tr.window(startMs, endMs, 1)
    names.flatMap { n =>
      val (busy, opt) = tr.spanSplit(s"queries.$n", startMs, endMs, cores)
      Seq(s"queries.$n.ms" -> last(n)("ms").asInstanceOf[Double],
        s"queries.$n.jobs" -> w.getOrElse(s"jobs:queries.$n", 0.0),
        s"queries.$n.busy_share" -> busy,
        s"queries.$n.optimization_ms" -> opt)
    }.toMap
  }
}
