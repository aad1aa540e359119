package graft

import java.time.LocalDateTime

import org.apache.spark.sql.functions._

import graft.etl.{Consolidate, NormalizedEvent}

/** J1/J2 pipeline fixtures (FIXTURES.md §B.1/§B.3). The full
  * reference-diff runs via scripts/ref_consolidate_fixture.py +
  * VerifyConsolidate; these goldens pin the same behavior in sbt test.
  */
class ConsolidateSpec extends SparkSpec {
  import spark.implicits._

  private def ev(eid: String, name: String, dt: Option[LocalDateTime],
      artist: Option[String] = None, tickets: Option[Long] = None): NormalizedEvent =
    NormalizedEvent(provider = "p", event_id_provider = eid, event_name = name,
      event_datetime_local = dt, artist_name = artist, tickets_sold_total = tickets)

  private def frame(evs: Seq[NormalizedEvent]) =
    evs.zipWithIndex.map { case (e, i) => (e, i.toLong) }
      .toDF("e", "ord").select(col("e.*"), col("ord"))

  private val d = LocalDateTime.of(2026, 9, 10, 19, 30)

  test("J1: match + greedy conflict + unmatched unions + filters") {
    val sg = frame(Seq(
      ev("sg1", "Alpha Omega Night", Some(d), tickets = Some(100L)),
      ev("sg2", "Beta Show", Some(d.plusDays(1)), tickets = Some(50L)),
      ev("sg3", "No Date", None),
      ev("sg4", "Past Gig", Some(LocalDateTime.of(2020, 1, 1, 20, 0)))))
    val dc = frame(Seq(
      ev("dc1", "Alpha Live", Some(d.plusHours(1)), tickets = Some(90L)),
      ev("dc2", "Omega Alpha", Some(d.plusMinutes(5)), tickets = Some(80L)),
      ev("dc3", "Gamma", Some(d), tickets = Some(10L))))
    val out = Consolidate.consolidate(sg, dc, "2026-01-01", col("ord"), col("ord"))
      .collect().map(r => (r.getAs[String]("event_name"),
        r.getAs[String]("shotgun_event_id"), r.getAs[String]("dice_event_id")))
    // dc1 (overlap {alpha}=1) processed first? No — dc2 has overlap 2
    // ({alpha,omega}); per-DICE argmax both pick sg1; SG granted to the
    // EARLIEST DICE (dc1). dc2 then goes unmatched (documented
    // divergence: sequential greedy would also give sg1 to dc1 first).
    assert(out.contains(("Alpha Omega Night", "sg1", "dc1")))
    assert(out.contains(("Omega Alpha", null, "dc2")))
    assert(out.contains(("Gamma", null, "dc3")))
    assert(out.contains(("Beta Show", "sg2", null)))
    assert(!out.exists(_._1 == "No Date"))
    assert(!out.exists(_._1 == "Past Gig"))
  }

  test("J1: best-overlap wins over input order") {
    val sg = frame(Seq(
      ev("sg1", "Alpha Solo", Some(d)),
      ev("sg2", "Alpha Omega Gamma", Some(d))))
    val dc = frame(Seq(ev("dc1", "Alpha Omega Gamma Fest", Some(d))))
    val out = Consolidate.consolidate(sg, dc, "2026-01-01", col("ord"), col("ord"))
      .collect().map(r => (r.getAs[String]("shotgun_event_id"),
        r.getAs[String]("dice_event_id")))
    assert(out.contains(("sg2", "dc1"))) // overlap 3 beats overlap 1
  }

  test("J1: same tokens on different days do NOT match") {
    val sg = frame(Seq(ev("sg1", "Alpha Night", Some(d))))
    val dc = frame(Seq(ev("dc1", "Alpha Live", Some(d.plusDays(3)))))
    val out = Consolidate.consolidate(sg, dc, "2026-01-01", col("ord"), col("ord"))
    assert(out.filter(col("shotgun_event_id").isNotNull &&
      col("dice_event_id").isNotNull).count() == 0)
  }

  test("J1 exact greedy: conflict loser takes its next-best unused SG") {
    // both DICE prefer sg1 (overlap 2); sequential greedy: dc1 (earlier)
    // takes sg1, dc2 falls through to sg2 (overlap 1) — the case the
    // declarative window variant cannot express (its dc2 goes unmatched)
    val sg = frame(Seq(
      ev("sg1", "Gamma Delta Night", Some(d), artist = Some("Gamma Delta")),
      ev("sg2", "Gamma Solo", Some(d.plusHours(1)), artist = Some("Gamma"))))
    val dc = frame(Seq(
      ev("dc1", "Gamma Delta", Some(d.plusMinutes(5))),
      ev("dc2", "Gamma Delta Show", Some(d.plusMinutes(30)))))
    val exact = Consolidate.consolidateGreedy(sg, dc, "2026-01-01", col("ord"), col("ord"))
      .collect().map(r => (r.getAs[String]("shotgun_event_id"),
        r.getAs[String]("dice_event_id"))).toSet
    assert(exact == Set(("sg1", "dc1"), ("sg2", "dc2")))
    val windowed = Consolidate.consolidate(sg, dc, "2026-01-01", col("ord"), col("ord"))
      .collect().map(r => (r.getAs[String]("shotgun_event_id"),
        r.getAs[String]("dice_event_id"))).toSet
    assert(windowed == Set(("sg1", "dc1"), ("sg2", null), (null, "dc2")))
  }

  test("J1 exact greedy: Python-or falls through on EMPTY strings, not just null") {
    // reference: event_name = sg.event_name or dc.event_name or ""
    // ('' is falsy in Python) — consolidate_events.py:111
    val sg = frame(Seq(ev("sg1", "", Some(d), artist = Some("Alpha"))))
    val dc = frame(Seq(ev("dc1", "Alpha Live", Some(d), artist = Some("Alpha"))))
    val out = Consolidate.consolidateGreedy(sg, dc, "2026-01-01", col("ord"), col("ord"))
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("event_name") == "Alpha Live")
  }

  test("J1 exact greedy agrees with declarative variant when conflict-free") {
    val sg = frame(Seq(
      ev("sg1", "Alpha Omega Night", Some(d), tickets = Some(100L)),
      ev("sg2", "Beta Show", Some(d.plusDays(1)), tickets = Some(50L)),
      ev("sg3", "No Date", None)))
    val dc = frame(Seq(
      ev("dc1", "Alpha Omega Live", Some(d.plusHours(1)), tickets = Some(90L)),
      ev("dc2", "Beta Gig", Some(d.plusDays(1)), tickets = Some(80L)),
      ev("dc3", "Gamma", Some(d), tickets = Some(10L))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("event_name"),
        r.getAs[String]("shotgun_event_id"), r.getAs[String]("dice_event_id"))).toSet
    val exact = rows(Consolidate.consolidateGreedy(sg, dc, "2026-01-01", col("ord"), col("ord")))
    val windowed = rows(Consolidate.consolidate(sg, dc, "2026-01-01", col("ord"), col("ord")))
    assert(exact == windowed)
  }

  /** Seeded J1 inputs: a six-word vocabulary over three days, so
    * overlaps tie, several DICE pick one SG and the same token recurs
    * on other days; null/empty names, null venues with a city, past
    * days and dateless rows ride along. Ords are a shuffled permutation,
    * so input order is not ord order.
    */
  private def j1Case(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    val words = Vector("alpha", "omega", "gamma", "delta", "zeta", "kappa")
    def pick() = words(rnd.nextInt(words.length))
    def opt[T](v: => T, pNone: Double): Option[T] =
      if (rnd.nextDouble() < pNone) None else Some(v)
    def side(p: String) = {
      val evs = (0 until n).map { i =>
        val dt = rnd.nextInt(12) match {
          case 0 => None
          case 1 => Some(d.minusDays(400L + rnd.nextInt(2)))
          case _ => Some(d.plusDays(rnd.nextInt(3).toLong).plusMinutes(rnd.nextInt(600).toLong))
        }
        val name = rnd.nextInt(10) match {
          case 0 => null
          case 1 => ""
          case _ => Seq.fill(1 + rnd.nextInt(3))(pick()).mkString(" ")
        }
        NormalizedEvent(provider = p, event_id_provider = s"$p$i", event_name = name,
          event_datetime_local = dt, artist_name = opt(pick(), 0.5),
          venue_name = opt(s"Venue ${rnd.nextInt(4)}", 0.5),
          city = opt(s"City ${rnd.nextInt(3)}", 0.3),
          tickets_sold_total = opt(rnd.nextInt(500).toLong, 0.2))
      }
      evs.zip(rnd.shuffle((0 until n).map(_.toLong)))
        .toDF("e", "ord").select(col("e.*"), col("ord"))
    }
    (side("sg"), side("dc"))
  }

  test("J1: day-keyed cogroup returns the two-window model's row multiset") {
    def full(eid: String, name: String, dt: Option[LocalDateTime], artist: Option[String] = None,
        venue: Option[String] = None, city: Option[String] = None) =
      NormalizedEvent(provider = "p", event_id_provider = eid, event_name = name,
        event_datetime_local = dt, artist_name = artist, venue_name = venue, city = city,
        tickets_sold_total = Some(eid.length.toLong))
    def framed(evs: Seq[(NormalizedEvent, Long)]) =
      evs.toDF("e", "ord").select(col("e.*"), col("ord"))
    val edges = (
      framed(Seq(
        full("sg0", "Alpha Omega", Some(d)) -> 1L,
        full("sg1", "Omega Alpha", Some(d)) -> 0L, // ties sg0, smaller ord
        full("sg2", null, Some(d.plusDays(1)), artist = Some("Kappa"), city = Some("Lyon")) -> 2L,
        full("sg3", "", Some(d.plusDays(1)), artist = Some("Zeta")) -> 3L,
        full("sg4", "Gamma", None) -> 4L,
        full("sg5", "Delta", Some(d.minusYears(2))) -> 5L)),
      framed(Seq(
        full("dc0", "Alpha Omega Live", Some(d), venue = Some("Olympia")) -> 5L,
        full("dc1", "Alpha Omega", Some(d)) -> 2L, // claims sg1 first
        full("dc2", "Alpha", Some(d.plusDays(2))) -> 0L, // same token, other day
        full("dc3", "Kappa", Some(d.plusDays(1)), city = Some("Paris")) -> 1L,
        full("dc4", null, Some(d.plusDays(1)), artist = Some("Zeta")) -> 3L,
        full("dc5", "Delta", Some(d.minusYears(2))) -> 4L,
        full("dc6", "Gamma", None) -> 6L)))
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val cases = edges +: Seq(11L, 12L, 13L).map(j1Case(_, 80))
    cases.zipWithIndex.foreach { case ((sg, dc), i) =>
      val fast = Consolidate.consolidate(sg, dc, "2026-01-01", col("ord"), col("ord"))
      val model = J1WindowModel.consolidate(sg, dc, "2026-01-01", col("ord"), col("ord"))
      assert(fast.schema.map(f => (f.name, f.dataType)) ==
        model.schema.map(f => (f.name, f.dataType)), s"case $i schema")
      val got = bag(fast)
      assert(got == bag(model), s"case $i rows")
      if (i == 0) {
        val ids = got.keys.map(r => (r(6), r(7))).toSet
        assert(ids == Set(("sg1", "dc1"), ("sg0", null), (null, "dc0"), (null, "dc2"),
          ("sg2", "dc3"), ("sg3", "dc4")))
        assert(got.keys.exists(r => r(6) == "sg2" && r(0) == "Kappa" && r(3) == "Lyon"))
        assert(got.keys.exists(r => r(6) == "sg3" && r(0) == "" && r(2) == "Zeta"))
      }
    }
  }

  test("hot-token audit flags only the planted ubiquitous token") {
    val sg = frame((1 to 20).map(i =>
      ev(s"sg$i", s"Headliner$i Night", Some(d), artist = Some("ubiqband"))))
    val dc = frame((1 to 20).map(i =>
      ev(s"dc$i", s"Support$i Gig", Some(d), artist = Some("ubiqband"))))
    val hot = Consolidate.hotTokenKeys(sg, dc, minPairs = 100L)
      .collect().map(r => (r.getAs[String]("tok"), r.getAs[Long]("pairs")))
    // the shared artist token co-occurs 20x20; per-row name tokens
    // never appear on both sides, so nothing else crosses the bar
    assert(hot.toSeq == Seq(("ubiqband", 400L)))
  }

  test("J2: ±30-min + similarity threshold edges") {
    val sg = frame(Seq(
      ev("sg1", "DJ Snake", Some(d), tickets = Some(200L)),
      ev("sg2", "Jazz Quartet", Some(d.plusHours(3)), tickets = Some(40L))))
    val dc = frame(Seq(
      ev("dc1", "DJ Snoke", Some(d.plusMinutes(10)), tickets = Some(55L)),  // sim .875 < .90 → no
      ev("dc2", "DJ Snake", Some(d.plusMinutes(29)), tickets = Some(60L)),  // Δ29min sim 1 → yes
      ev("dc3", "Jazz Quartet", Some(d.plusHours(4)), tickets = Some(7L)))) // Δ60min → no
    val out = Consolidate.mergeSimilarity(sg, dc, col("ord"), col("ord"))
      .collect().map(r => (r.getAs[String]("canonical_event_key"),
        r.getAs[Long]("tickets_sold_total_shotgun"),
        r.getAs[Long]("tickets_sold_total_dice"))).toSet
    assert(out.contains(("dj snake|2026-09-10T19:30", 200L, 60L)))
    assert(out.exists(t => t._1 == "dj snoke|2026-09-10T19:40" && t._3 == 55L))
    assert(out.exists(t => t._1 == "jazz quartet|2026-09-10T23:30" && t._3 == 7L))
  }

  test("J2: null names behave like empty strings (ratio('','')==1.0 matches)") {
    // reference maps None → '' via _norm_name(s or ''), and
    // SequenceMatcher('','').ratio() == 1.0 >= 0.90 — null-named rows
    // within tolerance must therefore match, not null out of the score
    val sg = frame(Seq(ev("sg1", null, Some(d), tickets = Some(5L))))
    val dc = frame(Seq(ev("dc1", null, Some(d.plusMinutes(3)), tickets = Some(9L))))
    val out = Consolidate.mergeSimilarity(sg, dc, col("ord"), col("ord")).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("tickets_sold_total_shotgun") == 5L)
    assert(out(0).getAs[Long]("tickets_sold_total_dice") == 9L)
  }

  test("J2: dateless branch broadcasts ONLY the dateless slice (oversized SG side)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft

    // 5000 dated SG rows vs ONE dateless DICE row: the broadcast payload
    // of every nested-loop (dateless) branch must be the dateless slice,
    // never the 5000-row frame — one dateless row at corpus scale must
    // not force an OOM-sized broadcast of the opposing side.
    val sg = frame((1 to 5000).map(i =>
      ev(s"sg$i", s"Band Number $i", Some(d.plusMinutes((i % 600).toLong)),
        tickets = Some(i.toLong))))
    val dc = frame(Seq(
      ev("dc1", "Band Number 1", None, tickets = Some(1L)),
      ev("dc2", "Band Number 2", Some(d), tickets = Some(2L))))
    val out = Consolidate.mergeSimilarity(sg, dc, col("ord"), col("ord"))
    out.collect()

    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case r: ReusedExchangeExec => r +: flatten(r.child)
      // mergeSimilarity persists `best`; the join lives in the cached plan
      case c: InMemoryTableScanExec => c +: flatten(c.relation.cachedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val bnljs = flatten(out.queryExecution.executedPlan)
      .collect { case b: BroadcastNestedLoopJoinExec => b }
    assert(bnljs.nonEmpty, "expected the dateless branch to plan as BNLJ")
    for (b <- bnljs) {
      val build = if (b.buildSide == BuildLeft) b.left else b.right
      val broadcastRows = flatten(build)
        .flatMap(_.metrics.get("numOutputRows").map(_.value))
      assert(broadcastRows.nonEmpty, s"no broadcast row metric under:\n$build")
      assert(broadcastRows.forall(_ <= 10),
        s"broadcast payload is not the dateless slice (rows=$broadcastRows):\n$build")
    }
  }

  test("J2: canonical-key last-wins dedup on SG side") {
    val sg = frame(Seq(
      ev("sg1", "Same Key", Some(d), tickets = Some(1L)),
      ev("sg2", "Same Key", Some(d.plusMinutes(2)), tickets = Some(2L)))) // rounds to same 5-min bucket
    val out = Consolidate.mergeSimilarity(sg, frame(Seq.empty), col("ord"), col("ord"))
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("tickets_sold_total_shotgun") == 2L) // last wins
  }
}
