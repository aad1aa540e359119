package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark process: one fresh JVM, one SparkSession on local[cores],
  * one closed-loop caller. Runs the workload's audit, then iterations
  * until the measuring window has passed and enough warm samples exist,
  * and writes one JSON record for the launcher (perfbench/run.py).
  *
  * Usage: perfbench.Main <workload> <params.json> <record.json>
  * where params holds seconds, trace, cores, the directories and the
  * workload's settings.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, paramsPath, recordPath) = args
    val p = Params.read(paramsPath)
    val cores = p.int("cores")
    val spark = graft.util.GraftSession.builder(cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    val trace = if (p.int("trace") == 1) Some(new Trace(spark)) else None

    val work = p.str("work")
    val workload: Workload = name match {
      case "e1_daily" => new E1Daily(spark, p.str("input"), s"$work/sinks",
        java.time.LocalDate.parse(p.str("first_today")), p.long("hot_key_bound"))
      case "curation" => new Curation(spark, p.str("input"), s"$work/curated",
        p.int("queries"), p.int("top_k"), p.double("tau"), p.int("bucket_cap"),
        p.int("cell_cap"), new RegistryLeg(spark, p.str("fixture"), work,
          p.str("registry").split(",").toSeq), cores)
    }

    val record = mutable.LinkedHashMap.empty[String, Any]
    record("ready_ms") = readyMs
    val (auditMs, audit) = Workload.timed(workload.audit())
    record("audit") = audit
    record("audit_s") = auditMs / 1000
    val cal = Calibration(spark, cores)
    record("cal_pre") = cal.probe()
    record("load_pre") = cal.load()

    val seconds = p.double("seconds")
    val minWarm = if (trace.isDefined) 2 else p.int("min_warm")
    val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var i = 0
    while (i == 0 || (elapsed < seconds || i - 1 < minWarm) && elapsed < p.double("max_loop_s")) {
      // the cold iteration and every second warm one run untraced, so the
      // traced run measures its own overhead
      val traced = trace.filter(_ => i > 0 && i % 2 == 1)
      val startMs = System.currentTimeMillis()
      val it = mutable.LinkedHashMap[String, Any]("i" -> i, "traced" -> traced.isDefined)
      try {
        val (ms, extra) = workload.run(i, traced)
        val endMs = System.currentTimeMillis()
        it("ms") = ms
        it ++= extra
        it("out") = workload.capture(i)
        traced.foreach { t =>
          t.settle()
          layers += t.window(startMs, endMs, cores)
            .filterNot { case (k, _) => k.contains(":") } ++
            workload.layers(i, t, startMs, endMs)
        }
      } catch {
        case NonFatal(e) =>
          it("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      spark.catalog.clearCache()
      System.gc()
      iterations += it.toMap
      i += 1
    }
    record("iterations") = iterations
    record("loop_end_ms") = System.currentTimeMillis()
    record("cal_post") = cal.probe()
    record("load_post") = cal.load()

    trace.foreach { t =>
      record("kernels") = Kernels.run(spark, cores)
      record("layers") = layers
      record("spans") = t.spanRecords
    }
    record("peak_rss_mb") = peakRssMb()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(recordPath), Json(record))
    spark.stop()
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }
}

/** Host-noise record: the bench calibration probe (a fixed range sum,
  * independent of repo code and data) and the 1-min load average.
  */
final case class Calibration(spark: org.apache.spark.sql.SparkSession, cores: Int) {
  def probe(): Double = {
    val t0 = System.nanoTime()
    Workload.noop(spark.range(0L, 50000000L, 1L, cores)
      .selectExpr("sum(id % 1000007 * 31 + id) as s"))
    (System.nanoTime() - t0) / 1e9
  }
  def load(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

/** Flat JSON object of strings and numbers written by the launcher. */
final class Params(m: Map[String, String]) {
  def str(k: String): String = m.getOrElse(k, sys.error(s"missing parameter $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def double(k: String): Double = str(k).toDouble
}

object Params {
  private val pair = "\"([^\"]+)\"\\s*:\\s*(\"((?:[^\"\\\\]|\\\\.)*)\"|[-0-9.eE+]+)".r
  def read(path: String): Params = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    new Params(pair.findAllMatchIn(text).map { m =>
      m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))
    }.toMap)
  }
}
