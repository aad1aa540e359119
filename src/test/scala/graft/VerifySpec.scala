package graft

import java.nio.file.{Files, Paths}

/** `Verify.dump` names every query that failed to dump, and leaves the
  * session open. */
class VerifySpec extends SparkSpec {
  test("Verify.dump on a missing sfDir names the failed query in failures.json") {
    val out = Files.createTempDirectory("graft-verify-").toString
    val failures = Verify.dump(spark, s"$out/no_such_sf", out,
      only = Set("q01_pricing_summary"))
    assert(failures.map(_._1) == Seq("q01_pricing_summary"))
    val json = Files.readString(Paths.get(s"$out/failures.json"))
    assert(json.contains("\"query\": \"q01_pricing_summary\""))
    assert(json.contains(s"\"class\": \"${failures.head._2.getClass.getName}\""))
    assert(Files.exists(Paths.get(s"$out/oracle_sql.json")))
    assert(spark.range(2).count() == 2)
  }
}
