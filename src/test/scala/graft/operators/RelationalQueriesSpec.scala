package graft.operators

import graft.SparkSessionSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RelationalQueriesSpec extends AnyFunSuite with SparkSessionSpec {
  import spark.implicits._

  /** (event_id, event_type, ts_ms) rows with hand-placed times. */
  private def ev(rows: (Long, String, Long)*) =
    rows.toDF("event_id", "event_type", "ts_ms")

  test("rangeJoinNearby counts refs in [t-w, t) across bucket edges") {
    val w = 300000L
    val events = ev(
      (1L, "purchase", 1000000L),
      // in-window clicks for purchase 1: one in the same bucket, one
      // in the previous bucket (1000000-w = 700000)
      (2L, "click", 999999L),
      (3L, "click", 700000L), // exactly t-w: INCLUDED (>=)
      (4L, "click", 1000000L), // exactly t: EXCLUDED (<)
      (5L, "click", 699999L), // just before t-w: excluded
      (6L, "purchase", 5000000L), // no clicks near
      (7L, "view", 999998L)) // wrong type
    val out = RelationalQueries.rangeJoinNearby(events, windowMs = w)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 6L -> 0L))
  }

  test("rangeJoinNearby floors buckets for pre-epoch timestamps") {
    val w = 300000L
    // purchase just after a negative bucket edge; click just before
    // the purchase, in the previous (more negative) bucket
    val events = ev(
      (1L, "purchase", -w + 1000L),  // bucket -1
      (2L, "click", -w - 1000L),     // bucket -2, within [t-w, t)
      (3L, "click", -2 * w - 1000L)) // outside the window
    val out = RelationalQueries.rangeJoinNearby(events, windowMs = w)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L))
  }

  test("rangeJoinNearby plans a hash join on the bucket, not a cartesian") {
    val events = ev((1L, "purchase", 1000000L), (2L, "click", 999999L))
    val plan = RelationalQueries.rangeJoinNearby(events)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("pivot/unpivot round-trip: counts per (source, lang) survive") {
    val docs = Seq(
      (1L, "the the", "en", "web"),
      (2L, "der und", "de", "web"),
      (3L, "el y es", "es", "books"))
      .toDF("doc_id", "text", "lang", "source")
    val p = RelationalQueries.docsPivot(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(p("web") == ((1L, 1L, 0L)))   // n_de, n_en, n_es
    assert(p("books") == ((0L, 0L, 1L)))
    val u = RelationalQueries.langScoresUnpivot(docs)
    // 4 score rows per doc, lang_code prefix stripped
    assert(u.count() == 12)
    assert(u.select("lang_code").distinct().as[String].collect().sorted
      .sameElements(Array("de", "en", "es", "fr")))
  }

  test("rollingUserStats frames and distribution functions") {
    val events = Seq(
      (10L, 1L, 1000L, 1.0), (10L, 2L, 2000L, 2.0),
      (10L, 3L, 3000L, 3.0), (10L, 4L, 4000L, 4.0),
      (10L, 5L, 5000L, 5.0), (20L, 6L, 1000L, 7.0))
      .toDF("user_id", "event_id", "ts_ms", "value")
    val out = RelationalQueries.rollingUserStats(events).collect()
      .map(r => r.getLong(1) ->
        (r.getDouble(4), r.getDouble(5), r.getLong(6), r.getDouble(7)))
      .toMap
    assert(out(1L)._1 == 1.0)            // frame = first row only
    assert(out(4L)._1 == 10.0)           // 1+2+3+4
    assert(out(5L)._1 == 14.0)           // 2+3+4+5 (3 PRECEDING cap)
    assert(out(5L)._2 == 3.5)
    assert(out(1L)._3 == 1L && out(5L)._3 == 4L) // quartiles by value
    assert(out(6L)._4 == 0.0)            // single-row partition
  }

  test("sketch aggregates track their exact twins within tolerance") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.01")
    val rows = RelationalQueries.typeStatsApprox(events).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (approxU, exactU) = (r.getLong(2), r.getLong(3))
      // HLL++ default rsd = 5%; allow 3 sigma
      assert(math.abs(approxU - exactU) <= math.max(3, 0.15 * exactU),
        s"HLL estimate $approxU vs exact $exactU")
      val (approxP, exactP) = (r.getDouble(4), r.getDouble(5))
      // approx_percentile returns a genuine data value near the rank;
      // values span ~[0, 20], tolerate a small rank slip
      assert(math.abs(approxP - exactP) <= 0.5,
        s"p50 estimate $approxP vs exact $exactP")
    }
  }

  test("typeStatsApproxChecked emits all-TRUE bound booleans") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.01")
    val rows = RelationalQueries.typeStatsApproxChecked(events).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("users_ok")),
        s"HLL out of bound for ${r.getString(0)}")
      assert(r.getBoolean(r.fieldIndex("p50_ok")),
        s"approx p50 out of p45-p55 band for ${r.getString(0)}")
    }
  }

  test("regionalRevenue: same-nation star join, dims broadcast") {
    val sf = "/root/testdata/sf0.001"
    val out = RelationalQueries.regionalRevenue(
      spark.read.parquet(s"$sf/customer.parquet"),
      spark.read.parquet(s"$sf/orders.parquet"),
      spark.read.parquet(s"$sf/lineitem.parquet"),
      spark.read.parquet(s"$sf/supplier.parquet"),
      spark.read.parquet(s"$sf/nation.parquet"),
      spark.read.parquet(s"$sf/region.parquet")).collect()
    assert(out.nonEmpty && out.forall(_.getDouble(1) > 0))
    // every returned nation belongs to the filtered region
    val asiaNations = spark.read
      .parquet("/root/testdata/sf0.001/nation.parquet")
      .join(spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        .filter(org.apache.spark.sql.functions.col("r_name") ===
          RelationalQueries.RevenueRegion),
        org.apache.spark.sql.functions.col("n_regionkey") ===
          org.apache.spark.sql.functions.col("r_regionkey"))
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(out.map(_.getString(0)).toSet.subsetOf(asiaNations))
  }

  test("typeHourGroupingSets: three strata, grand total row correct") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.001")
    val rows = RelationalQueries.typeHourGroupingSets(events).collect()
    val byGid = rows.groupBy(_.getLong(2))
    assert(byGid.keySet == Set(1L, 2L, 3L))
    // gid=1: per event_type (hour null); gid=2: per hour; gid=3: total
    assert(byGid(1L).forall(r => !r.isNullAt(0) && r.isNullAt(1)))
    assert(byGid(2L).forall(r => r.isNullAt(0) && !r.isNullAt(1)))
    val total = byGid(3L) match { case Array(t) => t }
    assert(total.getLong(3) == events.count())
    assert(byGid(1L).map(_.getLong(3)).sum == events.count())
  }

  test("trailingHourStats: RANGE frame spans time, ties mutual") {
    import spark.implicits._
    // user 1: events at 0, 30m, 65m; the 65m event sees only 30m+65m
    // user 2: two events at the SAME ts — each sees both (tie rule)
    val events = Seq(
      (1L, 10L, 0L, 1.0), (1L, 11L, 1800000L, 2.0),
      (1L, 12L, 3900000L, 4.0),
      (2L, 20L, 500L, 8.0), (2L, 21L, 500L, 16.0))
      .toDF("user_id", "event_id", "ts_ms", "value")
    val out = graft.operators.EventsQueries.trailingHourStats(events)
      .collect().map(r => r.getLong(1) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    assert(out(10L) == (1L, 1.0))
    assert(out(11L) == (2L, 3.0))   // 0 is 65 min back? no: 30m window
    assert(out(12L) == (2L, 6.0))   // 30m and 65m within one hour
    assert(out(20L) == (2L, 24.0) && out(21L) == (2L, 24.0))
  }

  test("quantizeInt8: symmetric int8, peak at ±127, zero-safe") {
    import spark.implicits._
    val raw = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.quantizeInt8(raw)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    // maxabs = 1.0 → q = round(v * 127)
    assert(out((1L, 0)) == 64 && out((1L, 1)) == -127 &&
      out((1L, 2)) == 32)
    assert(Seq(0, 1, 2).forall(i => out((2L, i)) == 0))
    // corpus-wide: every value inside [-127, 127] and every vector
    // with a nonzero element peaks at exactly ±127
    val corpus = graft.operators.Similarity.quantizeInt8(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val stats = corpus.groupBy("vec_id")
      .agg(max(abs(col("q"))).as("peak"))
      .collect()
    assert(stats.forall(_.getInt(1) == 127))
  }

  test("propsStats extracts $.k and aggregates per type") {
    val events = Seq(
      ("click", """{"k": 5}"""),
      ("click", """{"k": 7}"""),
      ("click", """{"k": 5}"""),
      ("view", """{"nope": 1}"""))
      .toDF("event_type", "props")
    val out = RelationalQueries.propsStats(events).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          Option(r.get(4)), r.getLong(5)))
      .toMap
    assert(out("click") == ((3L, Some(17L), Some(5L), Some(7L), 2L)))
    assert(out("view") == ((0L, None, None, None, 0L)))
  }

  test("click→purchase sequence: window hits, misses, and ms ties") {
    import spark.implicits._
    val H = graft.operators.EventsQueries.SequenceWindowMs
    val events = Seq(
      // user 1: click at 1000 converts (purchase 30 min later);
      // click at exactly-window-edge converts; click past edge not
      (1L, "click", 1000L), (1L, "purchase", 1000L + H / 2),
      (1L, "click", 5000000L), (1L, "purchase", 5000000L + H),
      (1L, "click", 99999999L),
      // user 2: purchase BEFORE the click only -> no conversion
      (2L, "purchase", 500L), (2L, "click", 1000L),
      // user 3: same-millisecond purchase counts (>= semantics)
      (3L, "click", 7000L), (3L, "purchase", 7000L),
      // user 4: no clicks at all -> absent from output
      (4L, "purchase", 1L))
      .toDF("user_id", "event_type", "ts_ms")
    val out = graft.operators.EventsQueries.clickToPurchase(events)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((3L, 2L)))
    assert(out(2L) == ((1L, 0L)))
    assert(out(3L) == ((1L, 1L)))
    assert(!out.contains(4L))
  }

  test("cohort retention counts distinct users per week offset") {
    import spark.implicits._
    val W = graft.operators.EventsQueries.CohortWeekMs
    val events = Seq(
      // users 1, 2 sign up week 0; 1 active weeks 0+1, 2 only week 0
      (1L, "signup", 0L), (1L, "click", W + 5),
      (2L, "signup", 100L), (2L, "view", 200L),
      // user 3 signs up week 1, active weeks 1 and 3
      (3L, "signup", W + 1), (3L, "click", 3 * W + 1),
      // user 4 never signs up -> excluded entirely
      (4L, "click", 0L),
      // activity BEFORE signup doesn't create a negative offset
      (5L, "view", 0L), (5L, "signup", W))
      .toDF("user_id", "event_type", "ts_ms")
    val out = graft.operators.EventsQueries.cohortRetention(events)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((0L, 0L)) == 2) // users 1 and 2 in week 0
    assert(out((0L, 1L)) == 1) // only user 1 returns
    assert(out((1L, 0L)) == 2) // users 3 and 5
    assert(out((1L, 2L)) == 1) // user 3 in week 3
    assert(!out.keys.exists(_._2 < 0))
    assert(!out.contains((0L, 2L)))
  }

  test("inter-arrival gaps: exact deltas with event_id tiebreak") {
    import spark.implicits._
    val events = Seq(
      (1L, 1L, 100L), (1L, 2L, 400L), (1L, 3L, 1000L), // gaps 300, 600
      (2L, 4L, 50L), // single event: no gap row
      (3L, 6L, 10L), (3L, 5L, 10L)) // same ts: id order, gap 0
      .toDF("user_id", "event_id", "ts_ms")
    val out = graft.operators.EventsQueries.interArrivalStats(events)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ((2L, 300L, 600L, 900L)))
    assert(!out.contains(2L))
    assert(out(3L) == ((1L, 0L, 0L, 0L)))
  }

  test("dailyMixEntropy: uniform mix reaches evenness 1, a " +
      "single-type day scores exactly 0") {
    import spark.implicits._
    val day = 86400000L
    val types = graft.operators.EventsQueries.MixTypes
    // day 0: one event of each of the 5 types (uniform);
    // day 1: clicks only (collapse)
    val events = (types.zipWithIndex.map { case (t, i) =>
      (i.toLong, 0L * day + i, i.toLong, t)
    } ++ (1 to 4).map(i =>
      (10L + i, 1L * day + i, 10L + i, "click")))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val out = graft.operators.EventsQueries.dailyMixEntropy(events)
      .collect().map(r => r.getAs[Long]("day") ->
        ((r.getAs[Double]("h_nats"), r.getAs[Double]("evenness"))))
      .toMap
    assert(math.abs(out(0L)._2 - 1.0) < 1e-12,
      s"uniform evenness ${out(0L)._2}")
    assert(out(1L)._1 == 0.0 && out(1L)._2 == 0.0)
    assert(math.abs(out(0L)._1 - math.log(5.0)) < 1e-12)
  }

  test("cohortLtv: exact hand trajectory — cumulative per-member " +
      "revenue by offset, pre-signup purchases excluded") {
    import spark.implicits._
    val wk = graft.operators.EventsQueries.CohortWeekMs
    // cohort week 0: users 1,2 sign up; u1 buys 10.00 in week 0 and
    // 20.00 in week 1; u2 buys 5.00 in week 1.
    // u3 signs up week 1, buys 8.00 in week 0 (PRE-signup: dropped).
    val events = Seq(
      (1L, 0L * wk + 1, 1L, "signup", 0.0),
      (2L, 0L * wk + 2, 2L, "signup", 0.0),
      (1L, 0L * wk + 3, 3L, "purchase", 10.0),
      (1L, 1L * wk + 1, 4L, "purchase", 20.0),
      (2L, 1L * wk + 2, 5L, "purchase", 5.0),
      (3L, 1L * wk + 3, 6L, "signup", 0.0),
      (3L, 0L * wk + 4, 7L, "purchase", 8.0))
      .toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    val out = graft.operators.EventsQueries.cohortLtv(events)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          r.getAs[Double]("ltv_per_user")))).toMap
    assert(out.keySet == Set((0L, 0L), (0L, 1L)))
    assert(out((0L, 0L)) == ((2L, 1L, 1000L, 5.0)))
    assert(out((0L, 1L)) == ((2L, 2L, 2500L, 17.5)))
  }

  test("cohortLtv fixture: LTV non-decreasing within each cohort") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.001")
    val out = graft.operators.EventsQueries.cohortLtv(events)
      .collect()
      .groupBy(_.getLong(0))
    assert(out.nonEmpty)
    out.foreach { case (cw, rows) =>
      val ltv = rows.sortBy(_.getLong(1))
        .map(_.getAs[Double]("ltv_per_user"))
      ltv.zip(ltv.tail).foreach { case (a, b) =>
        assert(b >= a, s"cohort $cw LTV dipped") }
    }
  }

  test("giniLorenz: equal revenues give gini exactly 0; a whale " +
      "concentrates it; Lorenz curve rises to 1") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, i.toLong + 1, i.toLong + 1, "purchase", v)
    }.toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    val equal = graft.operators.EventsQueries.giniLorenz(
      mk(Seq.fill(10)(5.0))).collect()
    assert(equal.forall(_.getAs[Double]("gini") == 0.0))
    assert(equal.length == 10)
    val whale = graft.operators.EventsQueries.giniLorenz(
      mk(Seq.fill(9)(0.01) :+ 999.99)).collect()
      .sortBy(_.getAs[Long]("decile"))
    // reference gini replay on the sorted cents
    val cents = (Seq.fill(9)(1L) :+ 99999L).sorted
    val n = cents.length
    val s = cents.sum.toDouble
    val six = cents.zipWithIndex.map { case (c, i) =>
      (i + 1L) * c }.sum.toDouble
    val gRef = 2.0 * six / (n * s) - (n + 1.0) / n
    assert(math.abs(whale.head.getAs[Double]("gini") - gRef) < 1e-12)
    assert(whale.head.getAs[Double]("gini") > 0.85)
    val cum = whale.map(_.getAs[Double]("cum_share"))
    cum.zip(cum.tail).foreach { case (a, b) => assert(b >= a) }
    assert(math.abs(cum.last - 1.0) < 1e-12)
    assert(math.abs(whale.map(_.getAs[Double]("decile_share")).sum
      - 1.0) < 1e-12)
  }

  test("ksTest: exact D against a reference ECDF scan; disjoint " +
      "supports give D = 1, identical samples D = 0") {
    import spark.implicits._
    def arm(u: Long): Long = (u * 2654435761L / 1048576L) % 2
    val users = (1L to 40L)
    def mk(vals: Long => Double) = users.map(u =>
      (u, u, u, "x", vals(u)))
      .toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    // disjoint supports: D must be exactly 1 and significant
    val dis = graft.operators.EventsQueries.ksTest(
      mk(u => if (arm(u) == 0) 1.0 + u % 3 else 100.0 + u % 3))
      .collect().head
    assert(dis.getAs[Double]("d") == 1.0)
    assert(dis.getAs[Boolean]("significant"))
    // identical value function on both arms: reference D replay
    val vals: Long => Double = u => (u % 5) * 2.0
    val r = graft.operators.EventsQueries.ksTest(mk(vals))
      .collect().head
    val data = users.map(u => (arm(u), math.round(vals(u) * 100)))
    val na = data.count(_._1 == 0L).toDouble
    val nb = data.count(_._1 == 1L).toDouble
    val support = data.map(_._2).distinct.sorted
    val dRef = support.map { v =>
      val fa = data.count(x => x._1 == 0L && x._2 <= v) / na
      val fb = data.count(x => x._1 == 1L && x._2 <= v) / nb
      math.abs(fa - fb)
    }.max
    assert(math.abs(r.getAs[Double]("d") - dRef) < 1e-12,
      s"D ${r.getAs[Double]("d")} vs $dRef")
  }

  test("mannWhitney: matches a reference rank computation with " +
      "ties; separated arms reach significance, identical arms " +
      "score z = 0") {
    import spark.implicits._
    def arm(u: Long): Long = (u * 2654435761L / 1048576L) % 2
    val users = (1L to 40L)
    // separated: arm-0 values low (with ties), arm-1 high
    def mk(vals: Long => Double) = users.map(u =>
      (u, u, u, "x", vals(u)))
      .toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    val sep = graft.operators.EventsQueries.mannWhitney(
      mk(u => if (arm(u) == 0) (u % 3 + 1) * 1.0 else 100.0 + u % 3))
      .collect().head
    assert(sep.getAs[Boolean]("significant"),
      s"z = ${sep.getAs[Double]("z")}")
    // reference replay (average ranks over the same data)
    val data = users.map(u => (arm(u),
      math.round((if (arm(u) == 0) (u % 3 + 1) * 1.0
        else 100.0 + u % 3) * 100)))
    val byV = data.groupBy(_._2).map { case (v, xs) =>
      (v, xs.size.toLong, xs.count(_._1 == 0L).toLong)
    }.toSeq.sortBy(_._1)
    var belowAcc = 0L; var r2a = 0L
    byV.foreach { case (_, t, ta) =>
      r2a += ta * (2 * belowAcc + t + 1); belowAcc += t
    }
    val na = data.count(_._1 == 0L).toLong
    val uA = (r2a - na * (na + 1)) / 2.0
    assert(sep.getAs[Double]("u_a") == uA)
    // identical distributions across arms -> U = mu exactly, z = 0
    val flat = graft.operators.EventsQueries.mannWhitney(
      mk(u => (u % 4) * 1.0)).collect().head
    assert(math.abs(flat.getAs[Double]("z")) < 1.0,
      s"flat z = ${flat.getAs[Double]("z")}")
    // all-tied: the variance vanishes and the guard pins z to 0
    val tied = graft.operators.EventsQueries.mannWhitney(
      mk(_ => 5.0)).collect().head
    assert(tied.getAs[Double]("sigma_u") == 0.0)
    assert(tied.getAs[Double]("z") == 0.0)
  }

  test("conversionWilson: brackets p_hat, stays inside [0,1] where " +
      "Wald collapses, and matches a reference computation") {
    import spark.implicits._
    val day = 86400000L
    // day 0: 1 purchase of 2 events (p=0.5, n tiny);
    // day 1: 0 purchases of 5 (p=0 — Wald width 0, the failure mode)
    val events = Seq(
      (1L, 1L, 1L, "purchase"), (2L, 2L, 2L, "click"),
      (3L, day + 1, 3L, "click"), (4L, day + 2, 4L, "click"),
      (5L, day + 3, 5L, "view"), (6L, day + 4, 6L, "click"),
      (7L, day + 5, 7L, "error"))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val out = graft.operators.EventsQueries.conversionWilson(events)
      .collect().map(r => r.getAs[Long]("day") -> r).toMap
    val z = graft.operators.EventsQueries.WilsonZ
    val d0 = out(0L)
    assert(d0.getAs[Double]("wilson_lo") <= 0.5 &&
      0.5 <= d0.getAs[Double]("wilson_hi"))
    // reference Wilson for k=1, n=2
    val p = 0.5; val n = 2.0
    val center = (p + z * z / (2 * n)) / (1 + z * z / n)
    val half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) /
      (1 + z * z / n)
    assert(math.abs(d0.getAs[Double]("wilson_lo") - (center - half))
      < 1e-12)
    val d1 = out(1L)
    // p_hat = 0: Wald degenerates to [0, 0]; Wilson stays informative
    assert(d1.getAs[Double]("wald_lo") == 0.0 &&
      d1.getAs[Double]("wald_hi") == 0.0)
    assert(d1.getAs[Double]("wilson_hi") > 0.3,
      s"Wilson upper ${d1.getAs[Double]("wilson_hi")}")
    assert(d1.getAs[Double]("wilson_lo") >= 0.0)
  }

  test("pointInTimeJoin: events see the dimension row valid AT " +
      "their timestamp — including a foreign probe stream between " +
      "change points") {
    import spark.implicits._
    // dimension for user 1: tier 0 on [1000, 3000), tier 1 open
    val dim = Seq((1L, 0L, 1000L, Some(3000L), 2L, false),
      (1L, 1L, 3000L, None, 1L, true))
      .map(t => (t._1, t._2, t._3, t._4.map(Long.box).orNull, t._5,
        t._6))
      .toDF("user_id", "tier", "valid_from_ms", "valid_to_ms",
        "n_events", "is_current")
    // probes at boundary and interior points (NOT the events the
    // dimension was built from — the serving case)
    val probes = Seq((1L, 1000L, 10L), (1L, 2999L, 11L),
      (1L, 3000L, 12L), (1L, 9999L, 13L))
      .toDF("user_id", "ts_ms", "event_id")
    val out = graft.operators.EventsQueries
      .pointInTimeJoin(probes, dim).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    // valid_from inclusive: the probe AT the change sees the NEW row
    assert(out == Map(10L -> 0L, 11L -> 0L, 12L -> 1L, 13L -> 1L))
  }

  test("pointInTimeJoin closure: enriching events against their " +
      "own dimension reproduces every event's direct attribute") {
    val ev = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.001")
    val dim = graft.operators.EventsQueries.scd2Dimension(ev)
    val out = graft.operators.EventsQueries.pointInTimeJoin(ev, dim)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val direct = ev.select(col("event_id"),
        (get_json_object(col("props"), "$.k").cast("long") % 4)
          .as("tier"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == direct)
  }

  test("hourlyAcf: a period-2 alternating series shows acf(2) near " +
      "+1 and acf(1) near -1; expansion matches the centered form") {
    import spark.implicits._
    val hr = 3600000L
    // 48 hours alternating 10/30 events for one type
    val events = (0 until 48).flatMap { h =>
      val k = if (h % 2 == 0) 10 else 30
      (1 to k).map(i => (h * 10L + i, h * hr + i, h * 100L + i, "X"))
    }.toDF("user_id", "ts_ms", "event_id", "event_type")
    val out = graft.operators.EventsQueries.hourlyAcf(events)
      .collect().map(r => r.getAs[Long]("lag") ->
        r.getAs[Double]("acf")).toMap
    assert(out(2L) > 0.9, s"acf(2)=${out(2L)}")
    assert(out(1L) < -0.9, s"acf(1)=${out(1L)}")
    // centered-form replay (sequential, small): expansion must agree
    val xs = (0 until 48).map(h => if (h % 2 == 0) 10.0 else 30.0)
    val mu = xs.sum / xs.length
    val den = xs.map(x => (x - mu) * (x - mu)).sum
    (1 to 24).foreach { k =>
      val num = (0 until 48 - k)
        .map(t => (xs(t) - mu) * (xs(t + k) - mu)).sum
      assert(math.abs(out(k.toLong) - num / den) < 1e-9, s"lag $k")
    }
  }

  test("benfordScreen: a log-uniform sample passes the chi-square " +
      "line, a uniform sample fails it loudly") {
    import spark.implicits._
    val chi2crit = 15.507 // chi-square(8), alpha = 0.05
    def mk(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, i.toLong, i.toLong, "x", v)
    }.toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    // powers of 1.05 spread log-uniformly over many decades ->
    // Benford holds
    val benford = graft.operators.EventsQueries.benfordScreen(
      mk((1 to 500).map(k => math.pow(1.05, k))))
      .collect().sortBy(_.getAs[Long]("digit"))
    assert(benford.length == 9)
    assert(benford.last.getAs[Double]("cum_chi2") < chi2crit,
      s"log-uniform chi2 ${benford.last.getAs[Double]("cum_chi2")}")
    // uniform 100..999 -> uniform first digits, wildly non-Benford
    val uniform = graft.operators.EventsQueries.benfordScreen(
      mk((100 to 999).map(_.toDouble)))
      .collect().sortBy(_.getAs[Long]("digit"))
    assert(uniform.last.getAs[Double]("cum_chi2") > 10 * chi2crit,
      s"uniform chi2 ${uniform.last.getAs[Double]("cum_chi2")}")
    val fracs = uniform.map(_.getAs[Double]("observed_frac")).sum
    assert(math.abs(fracs - 1.0) < 1e-12)
  }

  test("bootstrapCiMean: the band brackets the full mean, narrows " +
      "with more data, and is exactly reproducible") {
    import spark.implicits._
    def mk(n: Int) = (1 to n).map(i =>
      (i.toLong, i.toLong, i.toLong, "x", (i % 100) * 1.0))
      .toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    val small = graft.operators.EventsQueries.bootstrapCiMean(mk(200))
      .collect().head
    val big = graft.operators.EventsQueries.bootstrapCiMean(mk(5000))
      .collect().head
    Seq(small, big).foreach { r =>
      val (m, lo, hi) = (r.getAs[Double]("mean_value"),
        r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
      assert(lo <= m && m <= hi, s"band [$lo, $hi] vs mean $m")
      assert(r.getAs[Long]("n_replicas") ==
        graft.operators.EventsQueries.BootstrapB)
    }
    val wS = small.getAs[Double]("ci_hi") - small.getAs[Double]("ci_lo")
    val wB = big.getAs[Double]("ci_hi") - big.getAs[Double]("ci_lo")
    assert(wB < wS, s"width $wB should shrink from $wS with 25x data")
    val again = graft.operators.EventsQueries.bootstrapCiMean(mk(200))
      .collect().head
    assert(again.getAs[Double]("ci_lo") == small.getAs[Double]("ci_lo")
      && again.getAs[Double]("ci_hi") == small.getAs[Double]("ci_hi"),
      "deterministic membership -> identical band on re-run")
  }

  test("sprtDaily: an elevated purchase share drives the walk to " +
      "accept_h1 and the decision sticks; a null share continues") {
    import spark.implicits._
    val day = 86400000L
    // 30% purchases (above p1=0.22): LLR climbs ~0.05/event — with
    // 100 events/day the boundary (~2.94) falls within a few days
    def mk(share: Double, days: Int) = (0 until days).flatMap { d =>
      (0 until 100).map { i =>
        val tpe = if (i < (share * 100).toInt) "purchase" else "click"
        (d.toLong * 100 + i, d * day + i, d.toLong * 100 + i, tpe)
      }
    }.toDF("user_id", "ts_ms", "event_id", "event_type")
    val hot = graft.operators.EventsQueries.sprtDaily(mk(0.30, 10))
      .collect().sortBy(_.getAs[Long]("day"))
    assert(hot.last.getString(4) == "accept_h1")
    // once decided, later rows keep the decision
    val firstIdx = hot.indexWhere(_.getString(4) == "accept_h1")
    assert(firstIdx >= 0)
    hot.drop(firstIdx).foreach(r => assert(r.getString(4) == "accept_h1"))
    // at the null p0 the walk drifts to accept_h0 eventually
    val cold = graft.operators.EventsQueries.sprtDaily(mk(0.10, 10))
      .collect().sortBy(_.getAs[Long]("day"))
    assert(cold.last.getString(4) == "accept_h0")
    // llr is the exact running sum of the two increments
    val incP = math.log(0.22 / 0.18)
    val incN = math.log(0.78 / 0.82)
    var acc = 0.0
    hot.foreach { r =>
      acc += r.getLong(2) * incP + (r.getLong(1) - r.getLong(2)) * incN
      assert(math.abs(r.getAs[Double]("llr") - acc) < 1e-12)
    }
  }

  test("kaplanMeier: hand cohort — censoring removes users from " +
      "the risk set instead of counting them churned") {
    import spark.implicits._
    val day = 86400000L
    def ev(u: Long, d: Long, id: Long) = (u, d * day, id, "click")
    // u1,u2: t=10 churned; u3: t=20 churned; u4: t=20 CENSORED
    // (last event at the corpus max day); u5: t=0 churned;
    // u6: t=0 censored (inside the 7-day horizon)
    val events = Seq(
      ev(1, 0, 1), ev(1, 10, 2), ev(2, 0, 3), ev(2, 10, 4),
      ev(3, 0, 5), ev(3, 20, 6), ev(4, 80, 7), ev(4, 100, 8),
      ev(5, 0, 9), ev(6, 96, 10))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val out = graft.operators.EventsQueries.kaplanMeier(events)
      .collect().sortBy(_.getAs[Long]("t_days"))
      .map(r => (r.getAs[Long]("t_days"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("n_churned"), r.getAs[Long]("n_censored"),
        r.getAs[Double]("survival")))
    assert(out.map(t => (t._1, t._2, t._3, t._4)).toSeq ==
      Seq((0L, 6L, 1L, 1L), (10L, 4L, 2L, 0L), (20L, 2L, 1L, 1L)))
    val surv = out.map(_._5)
    assert(math.abs(surv(0) - 5.0 / 6) < 1e-12)
    assert(math.abs(surv(1) - 5.0 / 12) < 1e-12)
    assert(math.abs(surv(2) - 5.0 / 24) < 1e-12)
  }

  test("kaplanMeier: a time where everyone remaining churns pins " +
      "the curve to exactly 0") {
    import spark.implicits._
    val day = 86400000L
    // u1,u2 churn at t=5; u3's single late event provides max_day
    // and is censored at t=0
    val events = Seq(
      (1L, 0L, 1L, "x"), (1L, 5 * day, 2L, "x"),
      (2L, 0L, 3L, "x"), (2L, 5 * day, 4L, "x"),
      (3L, 50 * day, 5L, "x"))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val out = graft.operators.EventsQueries.kaplanMeier(events)
      .collect().sortBy(_.getAs[Long]("t_days"))
    assert(out.last.getAs[Double]("survival") == 0.0)
    assert(out.head.getAs[Double]("survival") == 1.0,
      "a zero-churn time keeps survival exactly 1")
  }

  test("kaplanMeier fixture: risk-set identity, monotone curve in " +
      "[0,1]") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.001")
    val out = graft.operators.EventsQueries.kaplanMeier(events)
      .collect().sortBy(_.getAs[Long]("t_days"))
    val users = events.select("user_id").distinct().count()
    assert(out.head.getAs[Long]("n_risk") == users)
    assert(out.map(r => r.getAs[Long]("n_churned") +
      r.getAs[Long]("n_censored")).sum == users)
    val surv = out.map(_.getAs[Double]("survival"))
    surv.foreach(s => assert(s >= 0.0 && s <= 1.0))
    surv.zip(surv.tail).foreach { case (a, b) => assert(b <= a) }
  }

  test("cusumAnomalies: closed form equals the clamped recursion; a " +
      "sustained shift raises an alarm a single spike would not") {
    import spark.implicits._
    val hr = 3600000L
    // 20 calm hours of exactly 10 events, then 5 hours of 50 — the
    // sustained-shift case CUSUM exists for
    val events = (0 until 20).flatMap(h =>
      (1 to 10).map(i => (h * 10L + i, h * hr + i, h * 10L + i, "X"))
    ) ++ (20 until 25).flatMap(h =>
      (1 to 50).map(i => (h * 100L + i, h * hr + i, h * 100L + i, "X")))
    val df = events.toDF("user_id", "ts_ms", "event_id", "event_type")
    val out = graft.operators.EventsQueries.cusumAnomalies(df)
      .collect().sortBy(_.getAs[Long]("hour_id"))
    assert(out.length == 25)
    // recursion replay
    val xs = out.map(_.getAs[Long]("n_events").toDouble)
    val n = xs.length
    val sx = xs.sum; val sq = xs.map(x => x * x).sum
    val mu = sx / n
    val sigma = math.sqrt(n * sq - sx * sx) / n
    var s = 0.0
    out.zip(xs).foreach { case (r, x) =>
      s = math.max(0.0, s + (x - (mu + 0.5 * sigma)))
      assert(math.abs(r.getAs[Double]("cusum") - s) < 1e-9,
        s"hour ${r.getAs[Long]("hour_id")}")
    }
    // calm prefix quiet, shifted tail alarmed
    assert(!out.take(20).exists(_.getAs[Boolean]("alarm")))
    assert(out.takeRight(3).forall(_.getAs[Boolean]("alarm")),
      "sustained shift must accumulate past h·sigma")
  }

  test("cusumAnomalies fixture: non-negative, starts clamped, " +
      "recursion parity per type") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.001")
    val out = graft.operators.EventsQueries.cusumAnomalies(events)
      .collect()
      .groupBy(_.getAs[String]("event_type"))
    out.foreach { case (tpe, rows0) =>
      val rows = rows0.sortBy(_.getAs[Long]("hour_id"))
      val xs = rows.map(_.getAs[Long]("n_events").toDouble)
      val n = xs.length
      val mu = xs.sum / n
      val sigma = math.sqrt(n * xs.map(x => x * x).sum -
        xs.sum * xs.sum) / n
      var s = 0.0
      rows.zip(xs).foreach { case (r, x) =>
        s = math.max(0.0, s + (x - (mu + 0.5 * sigma)))
        val got = r.getAs[Double]("cusum")
        assert(got >= 0.0)
        assert(math.abs(got - s) < 1e-6 * math.max(1.0, s),
          s"$tpe hour ${r.getAs[Long]("hour_id")}: $got vs $s")
      }
    }
  }

  test("rfmSegments: hand fixture — exact metrics, quintiles, code") {
    import spark.implicits._
    import java.sql.Date
    // 10 customers, one order each on consecutive days with rising
    // spend: r/f/m quintiles are fully determined
    val orders = (1 to 10).map { c =>
      (c.toLong, Date.valueOf(f"2024-01-${c}%02d"), 100.0 * c)
    }.toDF("o_custkey", "o_orderdate", "o_totalprice")
    val out = RelationalQueries.rfmSegments(orders).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))).toMap
    assert(out.size == 10)
    // customer 10 ordered last (recency 0) and spent most
    assert(out(10L) == ((0L, 1L, 1000.0, 5L, 5L, 5L, 555L)))
    // customer 1 ordered first (recency 9 days) and spent least
    assert(out(1L)._1 == 9L && out(1L)._4 == 1L && out(1L)._6 == 1L)
    // f is uniform (all one order): ntile splits 2-2-2-2-2 by
    // custkey tiebreak
    assert((1 to 10).map(c => out(c.toLong)._5) ==
      Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L, 5L, 5L))
  }

  test("rfmSegments fixture: customer conservation, scores in 1..5, " +
      "quintiles balanced within 1") {
    val orders = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
    val out = RelationalQueries.rfmSegments(orders).collect()
    assert(out.length ==
      orders.select("o_custkey").distinct().count())
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val counts = out.groupBy(_.getAs[Long](c)).map {
        case (s, rows) => s -> rows.length
      }
      assert(counts.keySet == (1L to 5L).toSet, s"$c buckets")
      assert(counts.values.max - counts.values.min <= 1,
        s"$c balance: $counts")
    }
  }

  test("frequentItemPairs: support floor, exact lift, rank order") {
    import spark.implicits._
    // baskets: {A,B,C}, {A,B}, {A,B}, {C,D} -> only (A,B) clears
    // support >= 3; lift = 4*3/(3*3) = 4/3
    val li = Seq((1L, 100L), (1L, 200L), (1L, 300L),
      (2L, 100L), (2L, 200L), (3L, 100L), (3L, 200L),
      (3L, 200L), // duplicate lineitem: baskets are DISTINCT parts
      (4L, 300L), (4L, 400L)).toDF("l_orderkey", "l_partkey")
    val out = RelationalQueries.frequentItemPairs(li).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("ia") == 100L && r.getAs[Long]("ib") == 200L)
    assert(r.getAs[Long]("support") == 3L)
    assert(math.abs(r.getAs[Double]("lift") - 4.0 / 3) < 1e-15)
    assert(r.getAs[Long]("rank") == 1L)
  }

  test("frequentItemPairs: null-key lineitems form no basket") {
    import spark.implicits._
    // baskets: {A,B} x3, {C,D}; the null-key rows A, B, C belong to
    // no order, so they add no support, item count or basket
    val li = Seq[(Option[Long], Long)](
      (Some(1L), 100L), (Some(1L), 200L), (Some(2L), 100L),
      (Some(2L), 200L), (Some(3L), 100L), (Some(3L), 200L),
      (Some(4L), 300L), (Some(4L), 400L),
      (None, 100L), (None, 200L), (None, 300L))
      .toDF("l_orderkey", "l_partkey")
    val out = RelationalQueries.frequentItemPairs(li).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("ia") == 100L && r.getAs[Long]("ib") == 200L)
    assert(r.getAs[Long]("support") == 3L)
    // lift = 4 baskets * 3 / (3 * 3)
    assert(math.abs(r.getAs[Double]("lift") - 4.0 / 3) < 1e-15)
  }

  test("frequentItemPairs fixture: every pair clears the floor, " +
      "ranks contiguous, support non-increasing") {
    val li = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
    val out = RelationalQueries.frequentItemPairs(li).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("support") >=
        RelationalQueries.BasketMinSupport)
      assert(r.getAs[Long]("ia") < r.getAs[Long]("ib"))
      assert(r.getAs[Double]("lift") > 0.0)
    }
    val sup = out.map(_.getAs[Long]("support"))
    sup.zip(sup.tail).foreach { case (a, b) => assert(a >= b) }
  }

  test("hourlySeasonality: exact hand profile — hot hour above 1, " +
      "cold hour below, count-weighted indices average to 1") {
    import spark.implicits._
    val hr = 3600000L
    // type X: hour 0 values 1.00+3.00 (mean 2), hour 1 value 4.00
    val events = Seq(
      (1L, 0L * hr + 1, 1L, "X", 1.00),
      (2L, 0L * hr + 2, 2L, "X", 3.00),
      (3L, 1L * hr + 1, 3L, "X", 4.00))
      .toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    val out = graft.operators.EventsQueries.hourlySeasonality(events)
      .collect().map(r => r.getAs[Long]("hour") ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("mean_value"),
          r.getAs[Double]("seasonal_idx")))).toMap
    assert(out(0L)._1 == 2L && out(0L)._2 == 2.0)
    assert(out(1L)._1 == 1L && out(1L)._2 == 4.0)
    assert(math.abs(out(0L)._3 - 0.75) < 1e-12)
    assert(math.abs(out(1L)._3 - 1.5) < 1e-12)
    // count-weighted mean of indices is 1 by construction
    val w = out.values.map(v => v._1 * v._3).sum / 3
    assert(math.abs(w - 1.0) < 1e-12)
  }

  test("conversionChiSq: perfect association gives chi2 = N exactly; " +
      "identical rates give chi2 = 0") {
    import spark.implicits._
    def arm(u: Long): Long = (u * 2654435761L / 1048576L) % 2
    val users = 1L to 8L
    assert(users.map(arm).toSet == Set(0L, 1L), "both arms present")
    // perfect association: arm-0 users purchase, arm-1 users click
    val perfect = users.map { u =>
      (u, 1000L * u, u, if (arm(u) == 0) "purchase" else "click")
    }.toDF("user_id", "ts_ms", "event_id", "event_type")
    val r1 = graft.operators.EventsQueries.conversionChiSq(perfect)
      .collect().head
    assert(r1.getAs[Double]("chi2") == 8.0)
    assert(r1.getAs[Boolean]("significant"))
    // identical rates: everyone purchases
    val flat = users.map(u => (u, 1000L * u, u, "purchase"))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val r2 = graft.operators.EventsQueries.conversionChiSq(flat)
      .collect().head
    assert(r2.getAs[Double]("chi2") == 0.0)
    assert(!r2.getAs[Boolean]("significant"))
    assert(r2.getAs[Double]("cvr0") == 1.0 &&
      r2.getAs[Double]("cvr1") == 1.0)
  }

  test("sessionPaths: gap splits sessions, order inside a session " +
      "is (ts, event_id), identical paths count together") {
    import spark.implicits._
    val gap = graft.operators.EventsQueries.SessionGapMs
    val events = Seq(
      // user 1, session 1: A>B ; session 2 (after the gap): A>B
      (1L, 1000L, 1L, "A"), (1L, 2000L, 2L, "B"),
      (1L, 2000L + gap, 3L, "A"), (1L, 3000L + gap, 4L, "B"),
      // user 2: same-ms tie broken by event_id -> B>A
      (2L, 5000L, 6L, "A"), (2L, 5000L, 5L, "B"))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val out = graft.operators.EventsQueries.sessionPaths(events)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == Map("A>B" -> ((2L, 1L)), "B>A" -> ((1L, 2L))))
  }

  test("sessionPaths fixture: k rows, session conservation against " +
      "the q15 sessionizer") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.001")
    val out = graft.operators.EventsQueries.sessionPaths(events)
      .collect()
    assert(out.length == graft.operators.EventsQueries.SessionPathsK)
    val ranks = out.map(_.getAs[Long]("rank")).sorted
    assert(ranks.sameElements(1L to out.length))
    // counts are non-increasing in rank order
    val byRank = out.sortBy(_.getAs[Long]("rank"))
      .map(_.getAs[Long]("n_sessions"))
    byRank.zip(byRank.tail).foreach { case (a, b) => assert(a >= b) }
  }

  test("attributionCredits: U-shaped weights, single-touch takes " +
      "all, post-purchase and windowless touches uncredited") {
    import spark.implicits._
    val day = 24L * 3600 * 1000
    val events = Seq(
      (1L, 1L * day, 1L, "click"), (1L, 2L * day, 2L, "view"),
      (1L, 3L * day, 3L, "click"), (1L, 4L * day, 4L, "purchase"),
      (1L, 5L * day, 5L, "view"), (1L, 6L * day, 6L, "purchase"),
      // next purchase is 9 days out -> outside the 7-day window
      (1L, 7L * day, 7L, "click"), (1L, 16L * day, 8L, "purchase"),
      // trailing touch with no purchase after it
      (1L, 17L * day, 9L, "view"))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val out = graft.operators.EventsQueries.attributionCredits(events)
      .collect()
      .map(r => r.getAs[Long]("touch_id") ->
        ((r.getAs[Long]("purchase_id"), r.getAs[Long]("pos"),
          r.getAs[Long]("k_touches"), r.getAs[Double]("credit"))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 5L))
    assert(out(1L) == ((4L, 1L, 3L, 0.4)))
    assert(out(2L) == ((4L, 2L, 3L, 0.2)))
    assert(out(3L) == ((4L, 3L, 3L, 0.4)))
    assert(out(5L) == ((6L, 1L, 1L, 1.0)))
  }

  test("attributionCredits fixture: credits per purchase sum to 1, " +
      "touches never outrank their window") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.001")
    val out = graft.operators.EventsQueries.attributionCredits(events)
      .collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("k_touches"), r.getAs[Double]("credit")))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (pid, rows) =>
      val k = rows.head._3
      assert(rows.forall(_._3 == k))
      assert(rows.length == k, s"purchase $pid rows ${rows.length}")
      assert(rows.map(_._2).sorted.sameElements(1L to k))
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9,
        s"purchase $pid credit sum")
    }
  }

  test("markovTransitions: hand sequence — exact counts, row-" +
      "stochastic probabilities, self-loops, last event emits none") {
    import spark.implicits._
    // user 1: A A B A   user 2: B A
    val events = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (1L, 30L, 3L, "B"),
      (1L, 40L, 4L, "A"), (2L, 10L, 5L, "B"), (2L, 20L, 6L, "A"))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val out = graft.operators.EventsQueries.markovTransitions(events)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // pairs: u1 A→A, A→B, B→A; u2 B→A
    assert(out == Map(
      ("A", "A") -> ((1L, 0.5)), ("A", "B") -> ((1L, 0.5)),
      ("B", "A") -> ((2L, 1.0))))
  }

  test("markovTransitions fixture: rows sum to 1 per source type, " +
      "pair conservation") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.001")
    val out = graft.operators.EventsQueries.markovTransitions(events)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    out.groupBy(_._1).foreach { case (src, rows) =>
      val total = rows.map(_._4).sum
      assert(math.abs(total - 1.0) < 1e-9, s"$src rows sum to $total")
    }
    val nPairs = out.map(_._3).sum
    val perUser = events.groupBy("user_id").count().collect()
      .map(_.getLong(1))
    assert(nPairs == perUser.map(n => math.max(0L, n - 1)).sum,
      "each user contributes n_events - 1 transitions")
  }

  test("cupedLift: a perfectly predictive covariate yields theta " +
      "exactly 2 and removes ALL between-arm noise") {
    import spark.implicits._
    // each user: one pre event (value v) and one post event (2v) —
    // y = 2x exactly in cents, so theta = cov/var = 2 and the
    // adjusted means collapse to the same value in both arms
    val pre = 1000L; val post = 1000000000L
    // v = u³/100: the hash-parity arm split balances linear and
    // square user sums exactly (a Thue–Morse partition), so cubes
    // are the first power with genuine between-arm noise
    val events = (1L to 8L).flatMap { u =>
      val v = u * u * u * 0.01
      Seq((u, pre, u * 10, f"$v%.2f".toDouble),
        (u, post, u * 10 + 1, f"${2 * v}%.2f".toDouble))
    }.toDF("user_id", "ts_ms", "event_id", "value")
    val out = graft.operators.EventsQueries.cupedLift(events).collect()
    assert(out.length == 2, "both arms present")
    out.foreach(r => assert(r.getAs[Double]("theta") == 2.0))
    val adj = out.map(_.getAs[Double]("mean_y_cuped"))
    assert(math.abs(adj(0) - adj(1)) < 1e-9,
      s"CUPED left residual arm difference: ${adj.mkString(", ")}")
    val raw = out.map(_.getAs[Double]("mean_y"))
    assert(math.abs(raw(0) - raw(1)) > 1e-6,
      "raw means differ (there IS noise to remove)")
  }

  test("cupedLift fixture: user conservation, shared theta, finite " +
      "adjusted means") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.001")
    val out = graft.operators.EventsQueries.cupedLift(events).collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Long]("n_users")).sum ==
      events.select("user_id").distinct().count())
    val thetas = out.map(_.getAs[Double]("theta")).distinct
    assert(thetas.length == 1 && !thetas.head.isNaN)
    out.foreach { r =>
      assert(!r.getAs[Double]("mean_y_cuped").isNaN)
      assert(math.abs(r.getAs[Double]("mean_y_cuped") -
        r.getAs[Double]("mean_y")) <
        math.abs(r.getAs[Double]("mean_y")) + 1e3)
    }
  }

  test("scd2Dimension: runs collapse, re-opened attribute starts a " +
      "NEW row, close-out chains, one current row") {
    import spark.implicits._
    // user 100: tier 0,0 | 1,1 | 0 — the tier-0 return must be a new
    // third row, not a merge with the first (type-2 history)
    val events = Seq(
      (100L, 1000L, 1L, """{"k": 0}"""),
      (100L, 2000L, 2L, """{"k": 4}"""),
      (100L, 3000L, 3L, """{"k": 1}"""),
      (100L, 4000L, 4L, """{"k": 5}"""),
      (100L, 5000L, 5L, """{"k": 0}"""))
      .toDF("user_id", "ts_ms", "event_id", "props")
    val out = graft.operators.EventsQueries.scd2Dimension(events)
      .collect().sortBy(_.getAs[Long]("valid_from_ms"))
    assert(out.length == 3)
    val rows = out.map(r => (r.getAs[Long]("tier"),
      r.getAs[Long]("valid_from_ms"),
      Option(r.getAs[Any]("valid_to_ms")).map(_.asInstanceOf[Long]),
      r.getAs[Long]("n_events"), r.getAs[Boolean]("is_current")))
    assert(rows(0) == ((0L, 1000L, Some(3000L), 2L, false)))
    assert(rows(1) == ((1L, 3000L, Some(5000L), 2L, false)))
    assert(rows(2) == ((0L, 5000L, None, 1L, true)))
  }

  test("scd2Dimension fixture invariants: per-user interval chain, " +
      "event conservation, adjacent tiers differ") {
    val events = graft.operators.EventsQueries
      .events(spark, "/root/testdata/sf0.001")
    val out = graft.operators.EventsQueries.scd2Dimension(events)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("tier"),
        r.getAs[Long]("valid_from_ms"),
        Option(r.getAs[Any]("valid_to_ms")).map(_.asInstanceOf[Long]),
        r.getAs[Long]("n_events")))
    val totalEvents = events.count()
    assert(out.map(_._5).sum == totalEvents, "every event in one run")
    out.groupBy(_._1).foreach { case (u, rows) =>
      val sorted = rows.sortBy(_._3)
      // exactly one open row, and it is the last
      assert(sorted.count(_._4.isEmpty) == 1, s"user $u current rows")
      assert(sorted.last._4.isEmpty)
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._4.contains(b._3), s"user $u chain break")
        assert(a._2 != b._2, s"user $u adjacent equal tiers")
      }
    }
  }

  test("mannKendallTrend: monotone series hit the critical value in " +
      "the right direction, an all-tie series zeroes the variance, " +
      "the even-pair median averages the two middles") {
    import spark.implicits._
    def ev(id: Long, t: String, day: Long, v: Double) =
      (1L, day * 86400000L + 1000L, id, t, v)
    // A: strictly rising 5 days -> S=10, var=300/18, z≈2.205
    // B: constant 5 days -> one tie group of 5, var18=0, trend none
    // C: strictly falling 5 days -> z≈-2.205
    // D: 4 days 1,3,2,4 -> 6 slopes sorted [-100,50,50,100,200,200],
    //    median (50+100)/2 = 75 cents/day; S=4, z≈1.019 -> none
    val rows =
      (0 until 5).map(d => ev(d, "A", d, 1.0 + d)) ++
      (0 until 5).map(d => ev(10 + d, "B", d, 2.0)) ++
      (0 until 5).map(d => ev(20 + d, "C", d, 9.0 - d)) ++
      Seq(1.0, 3.0, 2.0, 4.0).zipWithIndex.map { case (v, d) =>
        ev(30 + d, "D", d, v) }
    val events = rows
      .toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    val out = graft.operators.EventsQueries.mannKendallTrend(events)
      .collect()
      .map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("s_stat") == 10L)
    assert(a.getAs[Double]("var_s") == 300.0 / 18.0)
    assert(a.getAs[String]("trend") == "increasing")
    assert(a.getAs[Double]("theil_sen") == 100.0)
    val b = out("B")
    assert(b.getAs[Long]("s_stat") == 0L)
    assert(b.getAs[Double]("var_s") == 0.0)
    assert(b.getAs[String]("trend") == "none")
    assert(b.getAs[Double]("theil_sen") == 0.0)
    val c = out("C")
    assert(c.getAs[Long]("s_stat") == -10L)
    assert(c.getAs[String]("trend") == "decreasing")
    assert(c.getAs[Double]("theil_sen") == -100.0)
    val d = out("D")
    assert(d.getAs[Long]("s_stat") == 4L)
    assert(d.getAs[Long]("n_pairs") == 6L)
    assert(d.getAs[Double]("theil_sen") == 75.0)
    assert(d.getAs[String]("trend") == "none")
    // z sanity: continuity-corrected, symmetric A vs C
    assert(math.abs(a.getAs[Double]("z") +
      c.getAs[Double]("z")) < 1e-12)
    assert(a.getAs[Double]("z") == 9.0 / math.sqrt(300.0 / 18.0))
  }

  test("changepoint: a planted level shift is located exactly with " +
      "zero residual SSE; a constant series never flags; noise " +
      "without a shift stays under the gain gate") {
    import spark.implicits._
    def ev(id: Long, t: String, day: Long, v: Double) =
      (1L, day * 86400000L + 1000L, id, t, v)
    // A: 4 days at 1.00 then 4 days at 9.00 -> split at t=4 (day 3),
    //    cost_split = 0, cost_nosplit = 8 * 4² = 128 (cents² = 160000·8)
    // B: constant -> cost_nosplit = 0, significant must be FALSE
    // C: alternating 1/2 -> best split trims variance < 30%
    val rows =
      (0 until 8).map(d => ev(d, "A", d, if (d < 4) 1.0 else 9.0)) ++
      (0 until 8).map(d => ev(10 + d, "B", d, 5.0)) ++
      (0 until 8).map(d => ev(20 + d, "C", d, 1.0 + (d % 2)))
    val events = rows
      .toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    val out = graft.operators.EventsQueries.changepoint(events)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("split_t") == 4L)
    assert(a.getAs[Long]("split_day") == 3L)
    assert(a.getAs[Double]("cost_split") == 0.0)
    // no-split SSE of {100×4, 900×4}: mean 500, 8·400² = 1,280,000
    assert(a.getAs[Double]("cost_nosplit") == 1280000.0)
    assert(a.getAs[Boolean]("significant"))
    val b = out("B")
    assert(b.getAs[Double]("cost_nosplit") == 0.0)
    assert(!b.getAs[Boolean]("significant"),
      "zero-variance series must not flag")
    val c = out("C")
    assert(!c.getAs[Boolean]("significant"),
      s"alternating noise flagged: gain ${c.getAs[Double]("gain")} " +
        s"of ${c.getAs[Double]("cost_nosplit")}")
  }

  test("conformalIntervals: exact rank pick on a hand calibration " +
      "series, holdout coverage counted exactly, q_hat covers the " +
      "right residual quantile") {
    import spark.implicits._
    def ev(id: Long, day: Long, v: Double) =
      (1L, day * 86400000L + 1000L, id, "A", v)
    // calibration: 20 days, cents 100+i (i=0..19) -> mu = 109.5,
    // residuals |100+i-109.5| sorted: 0.5,0.5,1.5,1.5,...,9.5,9.5
    // k = ceil(21*0.9) = 19 -> q_hat = 19th smallest = 9.5
    // holdout: 10 days, 5 inside mu±9.5 (cents 105) and 5 far (500)
    val rows =
      (0 until 20).map(i => ev(i.toLong, i.toLong, (100 + i) / 100.0)) ++
      (0 until 5).map(i => ev(100L + i, 20L + i, 1.05)) ++
      (0 until 5).map(i => ev(200L + i, 25L + i, 5.00))
    val events = rows
      .toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    val out = graft.operators.EventsQueries.conformalIntervals(events)
      .collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("n_cal") == 20L)
    assert(r.getAs[Double]("mu") == 109.5)
    assert(r.getAs[Double]("q_hat") == 9.5)
    assert(r.getAs[Long]("n_test") == 10L)
    assert(r.getAs[Long]("n_covered") == 5L)
    assert(r.getAs[Double]("coverage") == 0.5)
  }
}
