package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Inference

/** Gen-17 inference battery (q279–q288): closed-form expectations on
  * hand fixtures — every assertion below is integer arithmetic done in
  * the test comment, not a recorded engine output.
  */
class InferenceSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (String, String, Long)*): DataFrame =
    rows.toDF("lang", "source", "n_chars")

  test("anovaF: closed-form two-group F, eta2, significance; " +
      "degenerate slices NULL") {
    // a={2,2,4,4} b={6,6,8,8}: SSB=32, SSW=8, F=(32/1)/(8/6)=24,
    // eta2=32/40=0.8; dfb=1 crit~3.84 -> significant
    val df = docs(
      (Seq(2L, 2L, 4L, 4L).map(v => ("x", "a", v))
        ++ Seq(6L, 6L, 8L, 8L).map(v => ("x", "b", v))
        // slice y: single group -> F NULL
        ++ Seq(1L, 2L).map(v => ("y", "a", v))
        // slice z: zero within-variance -> SSW=0 -> F NULL
        ++ Seq(3L, 3L).map(v => ("z", "a", v))
        ++ Seq(5L, 5L).map(v => ("z", "b", v))): _*)
    val r = Inference.anovaF(df, "lang", "source", "n_chars")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("x").getAs[Double]("f_stat") === 24.0)
    assert(r("x").getAs[Double]("eta2") === 0.8)
    assert(r("x").getAs[Boolean]("significant"))
    assert(r("y").isNullAt(r("y").fieldIndex("f_stat")))
    assert(r("z").isNullAt(r("z").fieldIndex("f_stat")))
    assert(r("z").getAs[Double]("eta2") === 1.0)
  }

  test("brownForsythe: spread difference via |v - lower median|") {
    // a={5,5,5,5} (z all 0), b={1,5,5,9} (m=5, z={4,0,0,4}):
    // z-ANOVA: S_a=0 Q_a=0; S_b=8 Q_b=32; A6=16e6, C6=8e6,
    // SSB6=8e6, SSW6=16e6 -> W=(8/1)/(16/6)=3.0, not significant
    val df = docs(
      (Seq(5L, 5L, 5L, 5L).map(v => ("x", "a", v))
        ++ Seq(1L, 5L, 5L, 9L).map(v => ("x", "b", v))): _*)
    val r = Inference.brownForsythe(df, "lang", "source", "n_chars")
      .collect().head
    assert(r.getAs[Double]("w_stat") === 3.0)
    assert(!r.getAs[Boolean]("significant"))
  }

  test("cohensD: closed-form pooled-SD effect size + Hedges correction") {
    val df = docs(
      (Seq(2L, 2L, 4L, 4L).map(v => ("x", "a", v))
        ++ Seq(6L, 6L, 8L, 8L).map(v => ("x", "b", v))): _*)
    val r = Inference.cohensD(df, "source", "n_chars")
      .collect().map(x => x.getString(0) -> x).toMap
    // d_a = (3-7)/sqrt((4+4)/6) = -4/sqrt(4/3); replay the exact chain
    val d = (12.0 / 4.0 - 28.0 / 4.0) / math.sqrt((4.0 + 4.0) / 6.0)
    assert(r("a").getAs[Long]("cohens_d6") === math.floor(d * 1e6).toLong)
    assert(r("a").getAs[String]("magnitude") === "large")
    val corr = 1.0 - 3.0 / (4.0 * 6.0 - 1.0)
    assert(r("a").getAs[Long]("hedges_g6")
      === math.floor(d * corr * 1e6).toLong)
    // symmetric pair: b vs rest is the mirror image
    assert(r("b").getAs[Long]("cohens_d6")
      === math.floor(-d * 1e6).toLong)
  }

  test("cliffsDelta: full separation = ±1, ties shrink |delta|") {
    val df = docs(("x", "a", 1L), ("x", "a", 2L),
      ("x", "b", 3L), ("x", "b", 4L))
    val r = Inference.cliffsDelta(df, "source", "n_chars")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("a").getAs[Long]("cliffs_delta6") === -1000000L)
    assert(r("b").getAs[Long]("cliffs_delta6") === 1000000L)
    assert(r("a").getAs[String]("magnitude") === "large")
    // a={1,2} b={2,3}: pairs (1,2)<,(1,3)<,(2,2)=,(2,3)< -> delta_a=-3/4
    val df2 = docs(("x", "a", 1L), ("x", "a", 2L),
      ("x", "b", 2L), ("x", "b", 3L))
    val r2 = Inference.cliffsDelta(df2, "source", "n_chars")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r2("a").getAs[Long]("cliffs_delta6") === -750000L)
  }

  test("hellinger: identical = (1, 0), disjoint = (0, 1), " +
      "disjoint pairs still appear") {
    // x and y identical over two buckets (p=.5 each): BC=1, H=0;
    // z disjoint from both (values 21 -> its own decile)
    val df = docs(
      ((1 to 5).map(_ => ("l", "x", 1L)) ++ (1 to 5).map(_ => ("l", "x", 11L))
        ++ (1 to 5).map(_ => ("l", "y", 1L))
        ++ (1 to 5).map(_ => ("l", "y", 11L))
        ++ (1 to 10).map(_ => ("l", "z", 21L))): _*)
    val r = Inference.hellingerMatrix(df, "source", "n_chars")
      .collect().map(x => (x.getString(0), x.getString(1)) -> x).toMap
    assert(r(("x", "y")).getAs[Double]("bc") === 1.0)
    assert(r(("x", "y")).getAs[Double]("hellinger") === 0.0)
    assert(r(("x", "z")).getAs[Double]("bc") === 0.0)
    assert(r(("x", "z")).getAs[Double]("hellinger") === 1.0)
    assert(r.size === 3, "all pairs present, including disjoint")
  }

  private def events(rows: (String, String)*): DataFrame =
    rows.toDF("event_type", "_ts")
      .select(col("event_type"), to_timestamp(col("_ts")).as("ts"))

  /** n events of type `t` on day d (2024-03-0d). */
  private def day(t: String, d: Int, n: Int): Seq[(String, String)] =
    (1 to n).map(_ => (t, f"2024-03-$d%02d 12:00:00"))

  test("runsTest: closed-form z on a hand sequence; degenerate NULL") {
    // daily counts [2,9,2,9,5,9]: value set {2:2,5:1,9:3}, lower median
    // (cum >= 3) = 5 -> the 5-day drops; signs -+-++ -> R=4, n1=3, n2=2
    // mu = 12/5+1 = 3.4, var = 12*(12-5)/(25*4) = 0.84
    val e = events((day("a", 1, 2) ++ day("a", 2, 9) ++ day("a", 3, 2)
      ++ day("a", 4, 9) ++ day("a", 5, 5) ++ day("a", 6, 9)
      // type b: all days equal -> everything tied at the median -> no
      // signed days -> the group vanishes (no runs to test)
      ++ day("b", 1, 3) ++ day("b", 2, 3)): _*)
    val r = Inference.runsTest(e, "event_type", "ts").collect()
    assert(r.map(_.getString(0)).toSet === Set("a"))
    val a = r.head
    assert(a.getAs[Long]("runs") === 4L)
    assert(a.getAs[Long]("n_above") === 3L && a.getAs[Long]("n_below") === 2L)
    val z = (4.0 - (2.0 * 3 * 2 / 5.0 + 1.0)) /
      math.sqrt((2.0 * 3 * 2 * (2.0 * 3 * 2 - 5)) / (5.0 * 5 * 4.0))
    assert(a.getAs[Double]("z") === math.floor(z * 1e6) / 1e6)
    assert(a.getAs[Boolean]("consistent_with_random"))
  }

  test("acf: exact integer lags on a period-2 series; constant NULL") {
    // x=[1,3,1,3,1,3]: den=n2Q-nS2=216; lag1 num=-180 -> -833334e-6
    // (truncation toward zero of -180e6/216 = -833333.33 -> -833333);
    // lag2 num=144 -> 666666e-6
    val e = events((day("a", 1, 1) ++ day("a", 2, 3) ++ day("a", 3, 1)
      ++ day("a", 4, 3) ++ day("a", 5, 1) ++ day("a", 6, 3)
      ++ day("c", 1, 2) ++ day("c", 2, 2) ++ day("c", 3, 2)): _*)
    val r = Inference.acf(e, "event_type", "ts", maxLag = 2)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x).toMap
    assert(r(("a", 1L)).getAs[Long]("acf6") === -833333L)
    assert(r(("a", 2L)).getAs[Long]("acf6") === 666666L)
    assert(r(("c", 1L)).isNullAt(r(("c", 1L)).fieldIndex("acf6")))
  }

  test("changepoint: locates the step, exact gain and segment means, " +
      "gap days count as zero") {
    // series [0,0,0,10,10] via days 1..5 with day 1-3 absent for type
    // a EXCEPT day 1 present with 0? -> use explicit: days 1,2,3 have
    // 0 events is impossible to land as rows; instead [1,1,1,11,11]:
    // S=25, n=5; tau=3: T(3,3)=3e6, T(22,2)=242e6, T(25,5)=125e6 ->
    // gain6 = 3+242-125 = 120e6; tau=1: T(1,1)=1 + T(24,4)=144 - 125
    // = 20; tau=2: T(2,2)=2+T(23,3)=176.333->176333333e-6... compute:
    // 23*23=529, 529e6 div 3 = 176333333, +2e6 = 178333333; -125e6 =
    // 53.333; tau=4: T(14,4)=49+T(11,1)=121-125=45 -> best tau=3,
    // change_day=day3, mean_before=1, mean_after=11
    val e = events((day("a", 1, 1) ++ day("a", 2, 1) ++ day("a", 3, 1)
      ++ day("a", 4, 11) ++ day("a", 5, 11)): _*)
    val r = Inference.changepoint(e, "event_type", "ts").collect().head
    assert(r.getAs[java.sql.Date]("change_day").toString === "2024-03-03")
    assert(r.getAs[Double]("gain") === 120.0)
    assert(r.getAs[Double]("mean_before") === 1.0)
    assert(r.getAs[Double]("mean_after") === 11.0)
    // gap day counts as ZERO: [5,_,5] -> spine [5,0,5]; best split
    // cannot see the gap as absence-of-data
    val e2 = events((day("b", 1, 5) ++ day("b", 3, 5)): _*)
    val r2 = Inference.changepoint(e2, "event_type", "ts").collect().head
    assert(r2.getAs[Long]("n_days") === 3L)
  }

  test("dunn: closed-form pairwise z from doubled midranks") {
    // a={1,1} b={3,3}: rank2(1)=3, rank2(3)=7; R2a=6, R2b=14; N=4,
    // T=12; varTerm=20/12-12/36=4/3; z=(1.5-3.5)/sqrt(4/3*1)= -1.7320..
    val df = docs(("x", "a", 1L), ("x", "a", 1L),
      ("x", "b", 3L), ("x", "b", 3L))
    val r = Inference.dunnPosthoc(df, "source", "n_chars").collect().head
    val z = (6.0 / 4.0 - 14.0 / 4.0) / math.sqrt(
      (4.0 * 5.0 / 12.0 - 12.0 / (12.0 * 3.0)) * (1.0 / 2.0 + 1.0 / 2.0))
    assert(r.getAs[Double]("z") === math.floor(z * 1e6) / 1e6)
    assert(r.getAs[Long]("bonferroni_m") === 1L)
    assert(!r.getAs[Boolean]("significant_unadj"))
  }

  test("jonckheereTerpstra: perfect ordered separation, tie halves " +
      "counted exactly") {
    // g0={1,2} g1={3,4} g2={5,6}: J=12 (J2=24); mu=6, var=6.3333
    val df = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L), (2L, 5L),
      (2L, 6L)).toDF("bucket", "cents")
    val r = Inference.jonckheereTerpstra(df, "bucket", "cents")
      .collect().head
    assert(r.getAs[Double]("j_stat") === 12.0)
    val z = (24.0 - 12.0) / (2.0 * math.sqrt(
      (36.0 * 36.0 * 15.0 / 36.0 - (3 * 4.0 * 7.0)) / 72.0))
    assert(r.getAs[Double]("z") === math.floor(z * 1e6) / 1e6)
    assert(r.getAs[Boolean]("trend"))
    // tie case: g0={1,2} g1={2,3}: U = 3.5 -> j_stat 3.5 (J2=7)
    val df2 = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L))
      .toDF("bucket", "cents")
    val r2 = Inference.jonckheereTerpstra(df2, "bucket", "cents")
      .collect().head
    assert(r2.getAs[Double]("j_stat") === 3.5)
  }

  test("weekdaySeasonality: exact F/eta2 of the weekday factor, " +
      "peak and trough located") {
    // 2024-03-04 is a Monday. Two weeks: Mondays 5 and 7 events, all
    // other days 1 -> SSB6=42857143, SSW6=2e6, F=25.0 exactly
    val e = events(((4 to 17).flatMap { d =>
      val n = if (d == 4) 5 else if (d == 11) 7 else 1
      day("a", d, n)
    }): _*)
    val r = Inference.weekdaySeasonality(e, "event_type", "ts")
      .collect().head
    assert(r.getAs[Double]("f_stat") === 25.0)
    assert(r.getAs[Double]("seasonal_strength") > 0.9)
    assert(r.getAs[Boolean]("significant"))
    assert(r.getAs[Int]("peak_weekday") === 1)
    assert(r.getAs[Int]("trough_weekday") === 2)
  }

  test("friedman: perfect concordance hits Q = n(k-1), W = 1") {
    // 3 types, 3 days, same within-day order every day
    val e = events((day("a", 1, 3) ++ day("b", 1, 2) ++ day("c", 1, 1)
      ++ day("a", 2, 30) ++ day("b", 2, 20) ++ day("c", 2, 10)
      ++ day("a", 3, 5) ++ day("b", 3, 4) ++ day("c", 3, 2)): _*)
    val r = Inference.friedman(e, "event_type", "ts").collect().head
    assert(r.getAs[Long]("k") === 3L && r.getAs[Long]("n_days") === 3L)
    assert(r.getAs[Double]("friedman_q") === 6.0)
    assert(r.getAs[Double]("kendalls_w") === 1.0)
    assert(r.getAs[Boolean]("differs"), "6.0 > WH chi2(2) ~ 5.937")
  }

  test("dispersion: exact index on a hand series, constant = 0") {
    // a: [1,5] -> D = chi2 = 16/6 = 2.666666 (n-1 = 1); b constant
    val e = events((day("a", 1, 1) ++ day("a", 2, 5)
      ++ day("b", 1, 3) ++ day("b", 2, 3)): _*)
    val r = Inference.dispersionAudit(e, "event_type", "ts")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("a").getAs[Double]("dispersion") === 2.666666)
    assert(r("a").getAs[Double]("chi2") === 2.666666)
    assert(!r("a").getAs[Boolean]("overdispersed"), "2.67 < chi2(1)=3.84")
    assert(r("b").getAs[Double]("dispersion") === 0.0)
    assert(!r("b").getAs[Boolean]("overdispersed"))
  }

  test("ljungBox: exact double-floor Q on the period-2 series, " +
      "constant series NULL, short series NULL") {
    // 'a' = the acf spec series [1,3,1,3,1,3]: acf6(1) = -833333,
    // acf6(2) = 666666 (pinned there); t1 = 833333^2 div 5, t2 =
    // 666666^2 div 4; Q6 = 6*8*(t1+t2) div 1e6 = 11999983
    val e = events((day("a", 1, 1) ++ day("a", 2, 3) ++ day("a", 3, 1)
      ++ day("a", 4, 3) ++ day("a", 5, 1) ++ day("a", 6, 3)
      ++ day("c", 1, 2) ++ day("c", 2, 2) ++ day("c", 3, 2)): _*)
    val r = Inference.ljungBox(e, "event_type", "ts", maxLag = 2)
      .collect().map(x => x.getString(0) -> x).toMap
    val t1 = 833333L * 833333L / 5L
    val t2 = 666666L * 666666L / 4L
    assert(r("a").getAs[Long]("lb_q6") === 6L * 8L * (t1 + t2) / 1000000L)
    assert(r("a").getAs[Long]("lb_q6") === 11999983L)
    assert(r("a").getAs[Boolean]("autocorrelated"), "12.0 > WH chi2(2)")
    // constant series: acf6 NULL at every lag -> Q NULL
    assert(r("c").isNullAt(r("c").fieldIndex("lb_q6")))
    // n <= maxLag: the 3-day series at h = 7 has no testable lags
    val short = Inference.ljungBox(e, "event_type", "ts", maxLag = 7)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(short("c").isNullAt(short("c").fieldIndex("lb_q6")))
  }

  test("turningPoints: strict extrema counted, monotone reads nonrandom, " +
      "ties break neither way, short series NULL") {
    val e = events((
      // a: [2,9,2,9,5] -> interior days 2,3,4 all strict turns (T=3)
      day("a", 1, 2) ++ day("a", 2, 9) ++ day("a", 3, 2)
      ++ day("a", 4, 9) ++ day("a", 5, 5)
      // b: monotone 1..7 -> T=0, far too few turns -> nonrandom
      ++ (1 to 7).flatMap(d => day("b", d, d))
      // t: [2,2,5,2] -> the plateau day 2 (2,2,5) and day 3 (2,5,2):
      // only day 3 is a STRICT turn; day 2's tie breaks neither way
      ++ day("t", 1, 2) ++ day("t", 2, 2) ++ day("t", 3, 5)
      ++ day("t", 4, 2)
      // s: 3 days -> below the n >= 4 floor -> NULL
      ++ day("s", 1, 1) ++ day("s", 2, 5) ++ day("s", 3, 1)): _*)
    val r = Inference.turningPoints(e, "event_type", "ts")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("a").getAs[Long]("n_turns") === 3L)
    assert(r("a").getAs[Long]("tp_z6") ===
      math.floor((3.0 * 3 - 2 * 3) * 1e6
        / math.sqrt((16.0 * 5 - 29) / 10.0)).toLong)
    assert(!r("a").getAs[Boolean]("nonrandom"))
    assert(r("b").getAs[Long]("n_turns") === 0L)
    assert(r("b").getAs[Long]("tp_z6") ===
      math.floor(-10.0 * 1e6 / math.sqrt((16.0 * 7 - 29) / 10.0)).toLong)
    assert(r("b").getAs[Boolean]("nonrandom"), "monotone = no turns")
    assert(r("t").getAs[Long]("n_turns") === 1L)
    assert(r("s").isNullAt(r("s").fieldIndex("tp_z6")))
  }

  test("pettitt: exact k2/cp on hand series, 50-day step significant, " +
      "constant flat") {
    def dayN(t: String, d: Int, n: Int): Seq[(String, String)] =
      (1 to n).map(_ => (t, java.time.LocalDate.of(2024, 3, 1)
        .plusDays(d - 1).toString + " 12:00:00"))
    // s: [1,1,1,9,9] -> doubled ranks [4,4,4,9,9], 2U_t = R2_t - 6t =
    // [-2,-4,-6,-3]; k2 = 6 at day 3, far from significance at n = 5
    // c: constant -> every 2U_t = 0, cp = first day, not significant
    // j: 25 low days then 25 high -> k2 = 25*25 = 625 at day 25,
    // 3*625^2*1e6 > 2*3688879*(50^3+50^2) -> significant
    val e = ((1 to 3).flatMap(d => dayN("s", d, 1))
      ++ (4 to 5).flatMap(d => dayN("s", d, 9))
      ++ (1 to 3).flatMap(d => dayN("c", d, 2))
      ++ (1 to 25).flatMap(d => dayN("j", d, 1))
      ++ (26 to 50).flatMap(d => dayN("j", d, 9)))
    val df = e.toDF("event_type", "_ts")
      .select(col("event_type"), to_timestamp(col("_ts")).as("ts"))
    val r = Inference.pettitt(df, "event_type", "ts")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("s").getAs[Long]("k2") === 6L)
    assert(r("s").getAs[java.sql.Date]("cp_day").toString === "2024-03-03")
    assert(!r("s").getAs[Boolean]("significant"))
    assert(r("c").getAs[Long]("k2") === 0L)
    assert(r("c").getAs[java.sql.Date]("cp_day").toString === "2024-03-01")
    assert(r("j").getAs[Long]("k2") === 625L)
    assert(r("j").getAs[java.sql.Date]("cp_day").toString === "2024-03-25")
    assert(r("j").getAs[Boolean]("significant"))
  }

  test("kpss: ramp reads nonstationary, alternating stays level, " +
      "constant NULL — exact one-division eta") {
    val e = events((
      // r: counts 1..8 -> eta6 = 17472e6 div 21504 = 812500 > 463000
      (1 to 8).flatMap(d => day("r", d, d))
      // a: [3,1,3,1] -> eta6 = 32e6 div 256 = 125000
      ++ day("a", 1, 3) ++ day("a", 2, 1) ++ day("a", 3, 3)
      ++ day("a", 4, 1)
      // c: constant -> variance 0 -> NULL
      ++ day("c", 1, 2) ++ day("c", 2, 2)): _*)
    val r = Inference.kpss(e, "event_type", "ts")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("r").getAs[Long]("kpss6") === 812500L)
    assert(r("r").getAs[Boolean]("nonstationary"))
    assert(r("a").getAs[Long]("kpss6") === 125000L)
    assert(!r("a").getAs[Boolean]("nonstationary"))
    assert(r("c").isNullAt(r("c").fieldIndex("kpss6")))
  }

  test("pageTrend: perfect name-ordered trend reads increasing, the " +
      "mirror decreasing, k = 2 NULL") {
    // 12 days, every day a < b < c in volume: per-day j*rank2 sum = 28,
    // L2 = 336, E2 = 288, Var2 = 384 -> z6 = 2449489, one-sided sig
    val up = (1 to 12).flatMap(d =>
      day("a", d, 1) ++ day("b", d, 2) ++ day("c", d, 3))
    val r = Inference.pageTrend(events(up: _*), "event_type", "ts")
      .collect().head
    assert(r.getAs[Long]("k") === 3L && r.getAs[Long]("n_days") === 12L)
    assert(r.getAs[Long]("l2") === 336L)
    assert(r.getAs[Long]("page_z6") === 2449489L)
    assert(r.getAs[String]("trend") === "increasing")
    val down = (1 to 12).flatMap(d =>
      day("a", d, 3) ++ day("b", d, 2) ++ day("c", d, 1))
    val r2 = Inference.pageTrend(events(down: _*), "event_type", "ts")
      .collect().head
    assert(r2.getAs[Long]("page_z6") === -2449490L,
      "mirror truncates toward zero from the negative side")
    assert(r2.getAs[String]("trend") === "decreasing")
    val two = (1 to 4).flatMap(d => day("a", d, 1) ++ day("b", d, 2))
    val r3 = Inference.pageTrend(events(two: _*), "event_type", "ts")
      .collect().head
    assert(r3.isNullAt(r3.fieldIndex("page_z6")))
    assert(r3.isNullAt(r3.fieldIndex("trend")))
  }

  test("burrowsDelta: mirror-image sources replay the exact z chain") {
    // a = 'x x y', b = 'x y y': f6 = {666666, 333333} mirrored
    val df = Seq(("a", "x x y"), ("b", "x y y")).toDF("source", "text")
    val r = Inference.burrowsDelta(df, "source", "text", topM = 30)
      .collect().head
    assert(r.getAs[Long]("n_words") === 2L)
    val s6 = 999999.0
    val q6 = 666666.0 * 666666.0 + 333333.0 * 333333.0
    val det = 2.0 * q6 - s6 * s6
    val dz = (2.0 * 666666.0 - s6) / math.sqrt(det) -
      (2.0 * 333333.0 - s6) / math.sqrt(det)
    val d6 = math.floor(math.abs(dz) * 1e6)
    assert(r.getAs[Long]("delta6") === d6.toLong)
  }

  test("wilson: bounds bracket p_hat, replay the exact chain, and " +
      "survive the p=0 edge Wald dies at") {
    val df = docs(("x", "a", 400L), ("x", "a", 100L), ("x", "a", 100L),
      ("x", "a", 100L), ("x", "b", 100L))
    val r = Inference.wilsonInterval(df, "source", col("n_chars") >= 306)
      .collect().map(x => x.getString(0) -> x).toMap
    val a = r("a")
    assert(a.getAs[Double]("p_hat") === 0.25)
    val z = 1.959964; val z2 = z * z; val n = 4.0; val p = 0.25
    val den = 1.0 + z2 / n
    val ctr = p + z2 / (2.0 * n)
    val rad = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    assert(a.getAs[Double]("wilson_lo")
      === math.floor((ctr - rad) / den * 1e6) / 1e6)
    assert(a.getAs[Double]("wilson_hi")
      === math.floor((ctr + rad) / den * 1e6) / 1e6)
    assert(a.getAs[Double]("wilson_lo") > 0.0, "Wilson lo > 0 at p=0.25 n=4")
    // p = 0: lo must be 0-ish and hi strictly positive (the Wald
    // interval would be the degenerate [0,0])
    val b = r("b")
    assert(b.getAs[Double]("p_hat") === 0.0)
    assert(b.getAs[Double]("wilson_hi") > 0.0)
  }

  test("cochranQ: closed-form Q on a hand 4x3 outcome matrix; " +
      "saturated slice NULL") {
    // tasks x models (m0,m1,m2): t1=110, t2=100, t3=111, t4=000
    // G=(3,2,1) T=6 L=(2,1,3,0) sumL2=14 k=3
    // den = k(kT - sumL2) = 3*(18-14) = 12
    // sum(kG - T)^2 = 9 + 0 + 9 = 18 -> Q = (k-1)*18/12 = 3.0
    val rows = Seq(
      (1L, "s", "m0", true), (1L, "s", "m1", true), (1L, "s", "m2", false),
      (2L, "s", "m0", true), (2L, "s", "m1", false), (2L, "s", "m2", false),
      (3L, "s", "m0", true), (3L, "s", "m1", true), (3L, "s", "m2", true),
      (4L, "s", "m0", false), (4L, "s", "m1", false), (4L, "s", "m2", false),
      // saturated slice: every task solved by every model -> kT = sumL2
      (1L, "z", "m0", true), (1L, "z", "m1", true),
      (2L, "z", "m0", true), (2L, "z", "m1", true))
      .toDF("task_id", "source", "model", "ok")
    val r = Inference.cochranQ(rows, "source", "task_id", "model", "ok")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("s").getAs[Long]("k") === 3L)
    assert(r("s").getAs[Long]("n_tasks") === 4L)
    assert(r("s").getAs[Long]("q6") === 3000000L)
    // chi2(2) crit ~ 5.99: Q=3 not significant
    assert(!r("s").getAs[Boolean]("differs"))
    assert(r("z").isNullAt(r("z").fieldIndex("q6")))
  }

  test("moodMedian: complete 2-group separation = chi2 n; " +
      "constant corpus NULL") {
    // a={1,2,3} b={4,5,6}: med2=7 (median 3.5); above = (0,3)
    // each cell term (O*N - row*col)^2*1e6/(N*row*col) = 81e6/54 = 1.5e6
    // -> chi6 = 4 * 1.5e6 = 6e6 = n (the 2x2 full-separation identity)
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val r = Inference.moodMedian(df, "g", "v").collect().head
    assert(r.getAs[Long]("k") === 2L && r.getAs[Long]("n") === 6L)
    assert(r.getAs[Long]("median_x2") === 7L)
    assert(r.getAs[Long]("chi6") === 6000000L)
    assert(r.getAs[Boolean]("differs"), "chi2=6 > 3.84 at df=1")
    // all values equal: nothing above the median -> NULL, not a crash
    val z = Seq(("a", 5L), ("b", 5L)).toDF("g", "v")
    val zr = Inference.moodMedian(z, "g", "v").collect().head
    assert(zr.isNullAt(zr.fieldIndex("chi6")))
    assert(zr.isNullAt(zr.fieldIndex("differs")))
  }

  test("durbinWatson: alternating = 3.0, gap-day step = 1.5, " +
      "constant NULL") {
    // x=[1,3,1,3]: S=8 Q=20 den=4*20-64=16; D=3*4=12
    // dw6 = 4*12*1e6/16 = 3,000,000 -> 'negative' (boundary inclusive)
    val e1 = events((day("a", 1, 1) ++ day("a", 2, 3) ++ day("a", 3, 1)
      ++ day("a", 4, 3)
      // x=[10,10,0,0,10,10] via gap days: days 3-4 absent -> spine zeros
      ++ day("b", 1, 10) ++ day("b", 2, 10) ++ day("b", 5, 10)
      ++ day("b", 6, 10)
      ++ day("c", 1, 2) ++ day("c", 2, 2) ++ day("c", 3, 2)): _*)
    val r = Inference.durbinWatson(e1, "event_type", "ts")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("a").getAs[Long]("dw6") === 3000000L)
    assert(r("a").getAs[String]("reading") === "negative")
    // b: x=[10,10,0,0,10,10]: S=40 Q=400 den=6*400-1600=800
    // D=100+0+100+0+0... diffs: 0,-10,0,10,0 -> 200; dw6=6*200e6/800=1.5e6
    assert(r("b").getAs[Long]("dw6") === 1500000L)
    assert(r("b").getAs[String]("reading") === "none")
    assert(r("c").isNullAt(r("c").fieldIndex("dw6")))
    assert(r("c").getAs[String]("reading") === null)
  }

  test("pacf: Durbin-Levinson fixed-point replay on the period-2 " +
      "series; constant NULL") {
    // same series as the acf test: r1 = -833333, r2 = 666666 (x1e6).
    // Replay the recursion independently in JVM longs (/ truncates
    // toward zero, same as Spark div / DuckDB //):
    def fm(a: Long, b: Long): Long = a * b / 1000000L
    val r1 = -833333L
    val r2 = 666666L
    val p11 = r1
    val num2 = r2 - fm(p11, r1)
    val den2 = 1000000L - fm(p11, r1)
    val p22 = num2 * 1000000L / den2
    val e = events((day("a", 1, 1) ++ day("a", 2, 3) ++ day("a", 3, 1)
      ++ day("a", 4, 3) ++ day("a", 5, 1) ++ day("a", 6, 3)
      ++ day("c", 1, 2) ++ day("c", 2, 2) ++ day("c", 3, 2)): _*)
    val r = Inference.pacf(e, "event_type", "ts", maxLag = 2)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x).toMap
    assert(r(("a", 1L)).getAs[Long]("pacf6") === p11)
    assert(r(("a", 2L)).getAs[Long]("pacf6") === p22)
    // PACF(1) must equal ACF(1) by construction
    assert(p11 === -833333L)
    // constant series: all ACF NULL -> all PACF NULL
    assert(r(("c", 1L)).isNullAt(r(("c", 1L)).fieldIndex("pacf6")))
    assert(r(("c", 2L)).isNullAt(r(("c", 2L)).fieldIndex("pacf6")))
  }

  test("div on DECIMAL(38,0): BIGINT result, truncation toward zero, " +
      "silent 64-bit wrap past the BIGINT range") {
    // the fixed-point contract of pacf and the mannWhitney/logRank
    // variance terms: -7 div 2 = -3 (toward zero, not floor), 25 div 4 =
    // 6; 6e36 div 2.7e15 = 2222222222222222222222 does not fit a BIGINT
    // and comes back as its low 64 bits, with no ANSI overflow error
    val q = spark.sql(
      """SELECT CAST(6e36 AS DECIMAL(38,0)) div CAST(2.7e15 AS DECIMAL(38,0)) AS big,
                CAST(-7 AS DECIMAL(38,0)) div CAST(2 AS DECIMAL(38,0)) AS neg,
                CAST(25 AS DECIMAL(38,0)) div CAST(4 AS DECIMAL(38,0)) AS small""")
    assert(q.schema.map(_.dataType) ===
      Seq.fill(3)(org.apache.spark.sql.types.LongType))
    val row = q.collect().head
    val quotient = BigInt("6" + "0" * 36) / BigInt("27" + "0" * 14)
    assert(quotient === BigInt("2222222222222222222222"))
    assert(row.getLong(0) === quotient.longValue)
    assert(row.getLong(0) === 8612933377076028302L)
    assert(row.getLong(1) === -3L)
    assert(row.getLong(2) === 6L)
  }

  test("sprt: H1 crossing, H0 crossing, and continue, with exact " +
      "frozen-constant LLR sums") {
    // 10 successes/day: +2876820/day -> crosses A6=2944438 on day 2;
    // 10 failures/day: -1541510/day -> crosses B6=-2944439 on day 2;
    // 1 success total: +287682, no crossing -> continue
    val rows =
      (1 to 2).flatMap(d => (1 to 10).map(_ =>
        ("a", f"2024-03-$d%02d 12:00:00", 200.0))) ++
      (1 to 2).flatMap(d => (1 to 10).map(_ =>
        ("b", f"2024-03-$d%02d 12:00:00", 1.0))) ++
      Seq(("c", "2024-03-01 12:00:00", 200.0))
    val df = rows.toDF("event_type", "_ts", "value")
      .select(col("event_type"), to_timestamp(col("_ts")).as("ts"),
        col("value"))
    val r = Inference.sprt(df, "event_type", "ts",
        col("value") >= 100.0)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("a").getAs[String]("decision") === "accept_h1")
    assert(r("a").getAs[java.sql.Date]("decision_day").toString
      === "2024-03-02")
    assert(r("a").getAs[Long]("final_llr6") === 2L * 10L * 287682L)
    assert(r("b").getAs[String]("decision") === "accept_h0")
    assert(r("b").getAs[Long]("final_llr6") === 2L * 10L * -154151L)
    assert(r("c").getAs[String]("decision") === "continue")
    assert(r("c").isNullAt(r("c").fieldIndex("decision_day")))
    assert(r("c").getAs[Long]("final_llr6") === 287682L)
  }

  test("kr20: closed-form alpha on the Cochran hand matrix; zero " +
      "total-variance NULL") {
    // same 4x3 matrix as cochranQ: G=(3,2,1) N=4 T=6 sumL2=14
    // D = 4*14 - 36 = 20; sum G(N-G) = 3+4+3 = 10
    // alpha6 = 3*(20-10)*1e6 div (2*20) = 750000
    val rows = Seq(
      (1L, "s", "m0", true), (1L, "s", "m1", true), (1L, "s", "m2", false),
      (2L, "s", "m0", true), (2L, "s", "m1", false), (2L, "s", "m2", false),
      (3L, "s", "m0", true), (3L, "s", "m1", true), (3L, "s", "m2", true),
      (4L, "s", "m0", false), (4L, "s", "m1", false), (4L, "s", "m2", false),
      // all tasks summed score 2: zero total-score variance -> NULL
      (1L, "z", "m0", true), (1L, "z", "m1", true),
      (2L, "z", "m0", true), (2L, "z", "m1", true))
      .toDF("task_id", "source", "model", "ok")
    val r = Inference.kr20(rows, "source", "task_id", "model", "ok")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("s").getAs[Long]("alpha6") === 750000L)
    assert(r("s").getAs[String]("consistency") === "acceptable")
    assert(r("z").isNullAt(r("z").fieldIndex("alpha6")))
    assert(r("z").getAs[String]("consistency") === null)
  }
}
