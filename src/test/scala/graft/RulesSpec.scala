package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** B49/B50 rule engine (promql/Rules.scala): the gated queries
  * hash-compare one alerting rule and one recording rule against
  * DuckDB; this spec pins the rule-engine invariants the oracle can't
  * see — `for`-duration semantics against the raw evaluation grid, and
  * the recorded-store read-back being exactly the direct evaluation.
  */
class RulesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  val expr = """sum by (usr) (count_over_time({typ="purchase"}[2d])) > 0"""
  val (start, end, step) = ("2024-01-03 00:00:00", "2024-01-31 00:00:00", 86400L)

  private def idx = index.TagIndex.forEvents(spark, dir)

  test("alerts: for=0 makes every active step firing immediately") {
    val a = promql.Rules.alerts(idx, expr, start, end, step, 0L, "A")
    assert(a.count() > 0)
    assert(a.filter(col("alertstate") =!= "firing").count() == 0)
  }

  test("alerts: active set = the evaluated grid; firing ⇔ run length covers `for`") {
    val forSec = 2 * 86400L
    val a = promql.Rules.alerts(idx, expr, start, end, step, forSec, "A")
      .collect().map(r => (r.getAs[String]("usr"), r.getAs[Long]("t_sec"),
        r.getAs[String]("alertstate")))
    val active = promql.PromQl.evalRange(spark, dir, expr, start, end, step)
      .select("usr", "t_sec").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // presence parity: one alert row per active grid point, no extras
    assert(a.map(x => (x._1, x._2)).toSet == active)
    // for-semantics: firing iff every step back through forSec is active
    for ((usr, t, st) <- a) {
      val covered = (step to forSec by step).forall(d => active((usr, t - d)))
      assert((st == "firing") == covered, s"$usr@$t: $st but covered=$covered")
    }
  }

  test("alerts keep_firing_for ≡ the sequential Prometheus state " +
      "machine (chaining, synthetic gap rows, trailing windows, " +
      "pending resets)") {
    val forSec = 2 * 86400L
    val keep = 2 * 86400L
    val kexpr = """sum by (usr) (count_over_time({typ="purchase"}[2d])) > 1"""
    val got = promql.Rules.alerts(idx, kexpr, start, end, step, forSec,
        "K", keepFiringSec = keep)
      .collect().map(r => (r.getAs[String]("usr"), r.getAs[Long]("t_sec"),
        r.getAs[String]("alertstate"))).toSet
    val active = promql.PromQl.evalRange(spark, dir, kexpr, start, end, step)
      .select("usr", "t_sec").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(active.nonEmpty, "fixture must produce active steps")
    // literal rules/alerting.go re-derivation: ActiveAt resets on
    // absence while pending; once firing, KeepFiringSince = the first
    // failed evaluation, the alert emits firing rows while
    // t - KeepFiringSince < keep and resumes (still firing) if the
    // condition returns inside that window
    def sec(ts: String): Long =
      java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
        .toEpochSecond(java.time.ZoneOffset.UTC)
    val endSec = sec(end)
    val expected = scala.collection.mutable.Set[(String, Long, String)]()
    for (usr <- active.map(_._1)) {
      var activeAt = -1L; var firing = false; var lastHold = -1L
      var t = sec(start)
      while (t <= endSec) {
        if (active((usr, t))) {
          if (!firing) {
            if (activeAt < 0) activeAt = t
            if (t - activeAt >= forSec) firing = true
          }
          expected += ((usr, t, if (firing) "firing" else "pending"))
          lastHold = t
        } else {
          if (firing && t - (lastHold + step) < keep) {
            expected += ((usr, t, "firing"))
          } else { firing = false; activeAt = -1L }
        }
        t += step
      }
    }
    assert(got == expected.toSet,
      s"missing=${(expected.toSet -- got).take(5)} " +
        s"extra=${(got -- expected).take(5)}")
  }

  test("recording rule: store read-back ≡ direct evaluation") {
    val rule = """sum by (usr) (count_over_time({typ="purchase"}[1d]))"""
    val ri = promql.Rules.recordedIndex(spark, dir, "spec_rule_purch1d",
      rule, "2024-01-01 00:00:00", "2024-01-30 00:00:00", step)
    // the recorded series answer max_over_time exactly like computing
    // the max over the direct range evaluation
    val viaStore = promql.PromQl.evalIndexed(ri,
        """max_over_time({typ="spec_rule_purch1d"}[30d])""",
        "2024-01-30 00:00:00")
      .select("usr", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    val direct = promql.PromQl.evalRange(spark, dir, rule,
        "2024-01-01 00:00:00", "2024-01-30 00:00:00", step)
      .groupBy("usr").agg(max("value").as("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(viaStore == direct)
    // and the full matcher algebra runs over the derived series
    val some = promql.PromQl.evalIndexed(ri,
      """count_over_time({typ="spec_rule_purch1d", usr>="1"}[30d])""",
      "2024-01-30 00:00:00")
    assert(some.count() > 0)
  }

  test("rule group: declaration order is load-bearing — rule 2 reads " +
      "rule 1's recorded series, the alert reads rule 2's") {
    val (gs, ge) = ("2024-01-04 00:00:00", "2024-01-30 00:00:00")
    // the chained metric does NOT exist in the base index: evaluating
    // rule 2's expression against raw events alone yields nothing —
    // only the group's intra-group ingest makes it resolvable
    val unchained = promql.PromQl.evalRange(spark, dir,
      """avg_over_time({typ="spec_g.r1"}[3d])""", gs, ge, step)
    assert(unchained.count() == 0)
    val out = promql.Rules.evalGroup(spark, dir, "spec_group",
      Seq(
        promql.Rules.Record("spec_g.r1",
          """sum by (usr) (count_over_time({typ="purchase"}[1d]))"""),
        promql.Rules.Record("spec_g.r2",
          """avg_over_time({typ="spec_g.r1"}[3d])"""),
        promql.Rules.Alert("SpecGroupAlert",
          """{typ="spec_g.r2"} > 0""", 0L)),
      gs, ge, step)
    // for=0 ⇒ firing wherever rule 2's series exists and is > 0; rule
    // 2 exists at every grid point within 3d of a rule-1 sample —
    // cross-check one stage deep: the firing set equals the grid
    // points whose 3d-trailing window holds ≥1 recorded daily count
    val r1 = promql.PromQl.evalRange(spark, dir,
        """sum by (usr) (count_over_time({typ="purchase"}[1d]))""",
        gs, ge, step)
      .select(col("usr"), col("t_sec")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val expected = r1.flatMap { case (u, t) =>
      (0 to 3).map(d => (u, t + d * 86400L))
    }.filter(_._2 <= 1706572800L)
    val got = out.collect()
      .map(r => (r.getAs[String]("usr"), r.getAs[Long]("t_sec"))).toSet
    assert(out.collect().forall(_.getAs[String]("alertstate") == "firing"))
    assert(got == expected)
  }

  test("limit: an evaluation step producing more than `limit` series " +
      "is discarded ENTIRELY; surviving steps are untouched") {
    val unlimited = promql.Rules.alerts(idx, expr, start, end, step, 0L, "A")
      .select("usr", "t_sec").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val perStep = unlimited.groupBy(_._2).view.mapValues(_.length).toMap
    // pick a limit that some steps exceed and some do not, from the
    // data itself (sf0.001 is small enough that counts vary per day)
    val counts = perStep.values.toSeq.sorted
    val lim = counts(counts.size / 2).toLong
    assume(counts.exists(_ > lim) && counts.exists(_ <= lim))
    val limited = promql.Rules.alerts(idx, expr, start, end, step, 0L, "A",
        limit = lim)
      .select("usr", "t_sec").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val expected = unlimited.filter(x => perStep(x._2) <= lim).toSet
    assert(limited == expected)
  }

  test("limit on a RECORD rule: capped steps record nothing — the " +
      "recorded store has no sample at any over-limit step") {
    val rule = """sum by (usr) (count_over_time({typ="purchase"}[1d]))"""
    val (gs, ge) = ("2024-01-01 00:00:00", "2024-01-30 00:00:00")
    val full = promql.PromQl.evalRange(spark, dir, rule, gs, ge, step)
      .select("t_sec").collect().map(_.getLong(0))
    val perStep = full.groupBy(identity).view.mapValues(_.length).toMap
    val counts = perStep.values.toSeq.sorted
    val lim = counts(counts.size / 2).toLong
    assume(counts.exists(_ > lim) && counts.exists(_ <= lim))
    val out = promql.Rules.evalGroupDef(spark, dir,
      promql.Rules.Group("spec_limgrp", step, Seq(
        promql.Rules.Record("spec_lim.r1", rule, limit = lim),
        promql.Rules.Alert("SpecLimAlert",
          """{typ="spec_lim.r1"} > 0""", 0L))),
      gs, ge, lookbackSec = 3600L)
    val got = out.select("t_sec").collect().map(_.getLong(0)).toSet
    assert(got == perStep.filter(_._2 <= lim).keySet)
  }

  test("evalGroup memo key folds the rule DEFINITIONS: a same-named " +
      "group with different rules is re-evaluated, not served stale") {
    def run(forSec: Long) = promql.Rules.evalGroup(spark, dir, "spec_memo",
      Seq(promql.Rules.Alert("M", expr, forSec)), start, end, step)
    val immediate = run(0L)
    val delayed = run(5 * 86400L)
    assert(immediate.filter(col("alertstate") === "pending").count() == 0)
    assert(delayed.filter(col("alertstate") === "pending").count() > 0,
      "second evalGroup call with different rules returned the first's frame")
  }

  test("alert grid: untagged indexes over different data each get their own " +
      "rows, and nothing is memoized on them") {
    // recordedIndex evaluates over the memoized events index: pin it first
    index.TagIndex.forEvents(spark, dir).seriesCatalog.count()
    val untouched = spark.sparkContext.getPersistentRDDs.keySet
    val raw = Tables.eventsRaw(spark, dir)
    val ev = raw.select(col("event_id"), col("ts_ns"), Tables.tsCol(raw).as("ts"),
      col("value"), col("user_id").cast("string").as("usr"), col("event_type").as("typ"))
    val Seq(evenIdx, oddIdx) = Seq(0, 1).map { parity =>
      val i = new index.TagIndex(ev.filter(pmod(col("usr").cast("long"), lit(2)) === parity),
        Seq("usr", "typ"))
      assert(i.memoTag.isEmpty)
      i.seriesCatalog.count()
      i
    }
    def alertUsers(i: index.TagIndex): Set[String] =
      promql.Rules.alerts(i, expr, start, end, step, 0L, "P")
        .select("usr").collect().map(_.getString(0)).toSet
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val even = alertUsers(evenIdx)
    val odd = alertUsers(oddIdx)
    assert(even.nonEmpty && even.forall(_.toLong % 2 == 0), s"even index served $even")
    assert(odd.nonEmpty && odd.forall(_.toLong % 2 == 1), s"odd index served $odd")
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned,
      "an alert grid was pinned for an untagged index")
    // per-call indexes resolve over the unpersisted catalog plan: a
    // fresh TagIndex and a recorded-rule StoreTagIndex pin nothing
    val recorded = promql.Rules.recordedIndex(spark, dir, "spec_unpinned",
      """sum by (usr) (count_over_time({typ="purchase"}[1d]))""",
      start, end, step)
    for (i <- Seq(evenIdx, oddIdx, recorded))
      assert(i.resolveMatchers(Seq(index.LabelMatcher("usr", index.MatchOp.Gte, "1")))
        .count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == untouched,
      "a per-call index pinned its series catalog")
  }

  test("Group.intervalSec IS the evaluation grid step") {
    val out = promql.Rules.evalGroupDef(spark, dir,
      promql.Rules.Group("spec_ivl", 2 * 86400L, Seq(
        promql.Rules.Alert("I", expr, 0L))),
      start, end)
    val ts = out.select("t_sec").distinct().collect().map(_.getLong(0))
    val t0 = 1704240000L // 2024-01-03 00:00:00 UTC
    assert(ts.nonEmpty && ts.forall(t => (t - t0) % (2 * 86400L) == 0))
  }

  test("round 12: dependency batches — chains serialize, independents " +
      "share a batch, regex selectors depend on everything") {
    import promql.Rules.{Record, Alert, dependencyBatches}
    val r1 = Record("a_cnt", """sum by (usr) (count_over_time({typ="purchase"}[1d]))""")
    val r2 = Record("b_cnt", """sum by (usr) (count_over_time({typ="click"}[1d]))""")
    val dep = Record("a_avg", """avg_over_time({typ="a_cnt"}[3d])""")
    val al = Alert("A", """{typ="a_avg"} > 2""", 0L)
    val rx = Alert("R", """{typ=~"a_.*"} > 2""", 0L)
    // two independents + a dependent chain → [r1 r2][dep][al]
    assert(dependencyBatches(Seq(r1, r2, dep, al))
      .map(_.map(promql.Rules.ruleName)) ==
      Seq(Seq("a_cnt", "b_cnt"), Seq("a_avg"), Seq("A")))
    // a regex selector cannot be proven independent → closes the batch
    assert(dependencyBatches(Seq(r1, rx))
      .map(_.size) == Seq(1, 1))
    // …but leads its own batch fine when nothing is open
    assert(dependencyBatches(Seq(rx, r1)).map(_.size) == Seq(2))
  }

  test("round 12: concurrent rule evaluation ≡ sequential (independent " +
      "records in parallel threads; chained groups unaffected)") {
    import promql.Rules.{Group, Record, Alert}
    val rules = Seq(
      Record("cc_p1d", """sum by (usr) (count_over_time({typ="purchase"}[1d]))"""),
      Record("cc_c1d", """sum by (usr) (count_over_time({typ="click"}[1d]))"""),
      Alert("CP", """{typ="cc_p1d"} > 2""", 172800L),
      Alert("CC", """{typ="cc_c1d"} > 40""", 172800L))
    val seqOut = promql.Rules.evalGroupDef(spark, dir,
      Group("spec_conc", 86400L, rules), start, end).collect().toSet
    val parOut = promql.Rules.evalGroupDef(spark, dir,
      Group("spec_conc", 86400L, rules, concurrentEvals = 4),
      start, end).collect().toSet
    assert(seqOut == parOut, "concurrent evaluation diverged")
    assert(seqOut.nonEmpty)
  }

  test("round 12: query_offset shifts every evaluation timestamp into " +
      "the past — grid, windows and emitted t_sec all carry the shift") {
    import promql.Rules.{Group, Alert}
    // query_offset Q ≡ evaluating the plain group Q earlier: the
    // offset run over [start, end] must equal the plain group run
    // over [start−Q, end−Q] EXACTLY (windows, values, islands and
    // emitted timestamps all shifted together)
    val off = promql.Rules.evalGroupDef(spark, dir,
      Group("spec_qoff1", 86400L, Seq(Alert("Q", expr, 0L)),
        queryOffsetSec = 86400L),
      start, end).collect()
    val shifted = promql.Rules.evalGroupDef(spark, dir,
      Group("spec_qoff2", 86400L, Seq(Alert("Q", expr, 0L))),
      "2024-01-02 00:00:00", "2024-01-30 00:00:00").collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("usr"), r.getAs[Long]("t_sec"),
        r.getAs[String]("alertstate"))
    assert(off.nonEmpty)
    assert(off.map(key).toSet == shifted.map(key).toSet,
      "offset run ≠ the plain run evaluated Q earlier")
    // and the emitted grid really is in the past
    val maxOff = off.map(_.getAs[Long]("t_sec")).max
    assert(maxOff == 1706572800L, // 2024-01-30 = end − 1d offset
      s"unexpected newest offset step $maxOff")
  }
}
