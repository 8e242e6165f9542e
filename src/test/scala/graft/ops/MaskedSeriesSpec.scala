package graft.ops

import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The masked-series spike and streak cores against a small sequential model of the
  * rules in the [[SpikeOps]] / [[StreakOps]] scaladoc, over generated series that are
  * unique on (key, time) and carry null values, random in-series masks, sparse months,
  * series shorter than 5 points and long constant runs. */
class MaskedSeriesSpec extends SparkSpec {
  import spark.implicits._
  import MaskedSeriesSpec._

  private def toDf(obs: Seq[Obs]): DataFrame =
    obs.map(o => (o.key, new Timestamp(o.t * 1000L), o.v, o.in)).toDF("k", "t", "v", "in")

  private def flags(df: DataFrame, out: String): Map[(String, Long), Boolean] =
    df.select(col("k"), unix_timestamp(col("t")), col(out)).as[(String, Long, Boolean)]
      .collect().map { case (k, t, f) => (k, t) -> f }.toMap

  /** Runs `body` over generated cases; `body` returns its number of flagged rows,
    * and the generator must reach some (an all-false model would prove nothing). */
  private def check(name: String, gen: Gen[Case])(body: Case => Int): Unit = {
    var flagged = 0
    val prop = Prop.forAllNoShrink(gen) { c => flagged += body(c); true }
    val params = Test.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(Seed(20261018L)).withWorkers(1)
    val res = Test.check(params, prop)
    assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
    assert(flagged > 0, s"$name: no generated case flags a row")
  }

  test("property: masked spike flags and detectSpikes equal the sequential model") {
    check("spikes", caseGen) { c =>
      val df = toDf(c.obs)
      val got = flags(SpikeOps.spikeFlags(df, Seq("k"), "t", "v", col("in"),
        iqrThresh = c.iqrThresh, minDatapoints = c.minPoints), "spike")
      assert(got == spikeModel(c.obs, c.iqrThresh, c.minPoints), c.params)
      val all = c.obs.map(_.copy(in = true))
      val rows = flags(SpikeOps.detectSpikes(df, Seq("k"), "t", "v",
        iqrThresh = c.iqrThresh, minDatapoints = c.minPoints), "spike")
      assert(rows == spikeModel(all, c.iqrThresh, c.minPoints, seriesOnly = true), c.params)
      got.count(_._2) + rows.count(_._2)
    }
  }

  test("property: masked streak flags and straightRepeats equal the sequential model") {
    check("streaks", caseGen) { c =>
      val df = toDf(c.obs)
      val got = flags(StreakOps.straightRepeatFlags(df, Seq("k"), "t", "v", col("in"),
        c.nValues, c.nDays, c.minValue, c.minSeqLen), "straight_streak")
      assert(got == streakModel(c.obs, c), c.params)
      val all = c.obs.map(_.copy(in = true))
      val rows = flags(StreakOps.straightRepeats(df, Seq("k"), "t", "v",
        c.nValues, c.nDays, c.minValue, c.minSeqLen), "straight_streak")
      assert(rows == streakModel(all, c, seriesOnly = true), c.params)
      got.count(_._2) + rows.count(_._2)
    }
  }
}

object MaskedSeriesSpec {
  final case class Obs(key: String, t: Long, v: Option[Double], in: Boolean)

  /** Generated series plus the check parameters of one property evaluation. */
  final case class Case(obs: Seq[Obs], iqrThresh: Double, minPoints: Long,
                        nValues: Long, nDays: Long, minValue: Option[Double],
                        minSeqLen: Long) {
    def params: String = s"iqr=$iqrThresh min=$minPoints nValues=$nValues " +
      s"nDays=$nDays minValue=$minValue minSeqLen=$minSeqLen"
  }

  private val T0 = 1611792000L // 2021-01-28 00:00 UTC: series cross month ends

  /** One series: a walk of noisy short segments and long constant runs, with
    * +100 spikes of 1–3 points and nulls, at 1–14 h steps (steps over 12 h leave the
    * spike series). */
  private def seriesGen(key: String, pIn: Double): Gen[Seq[Obs]] = for {
    n <- Gen.frequency(1 -> Gen.choose(0, 4), 4 -> Gen.choose(5, 140))
    start <- Gen.choose(0L, 40L)
    steps <- Gen.listOfN(n, Gen.frequency(8 -> Gen.choose(1L, 3L), 1 -> Gen.choose(4L, 14L)))
    segs <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 3), Gen.frequency(6 -> Gen.const(1),
      2 -> Gen.const(2), 1 -> Gen.choose(3, 25)),
      Gen.frequency(4 -> Gen.const(0), 1 -> Gen.choose(1, 3))))
    noise <- Gen.listOfN(n, Gen.choose(0, 4))
    nulls <- Gen.listOfN(n, Gen.choose(0.0, 1.0))
    ins <- Gen.listOfN(n, Gen.choose(0.0, 1.0))
  } yield {
    // segment = (level, run length, spike width); runs of up to 2 points get noise,
    // longer ones stay constant
    val vals = segs.iterator.flatMap { case (lvl, len, sp) =>
      Seq.fill(len)((lvl.toDouble, len <= 2)) ++ Seq.fill(sp)((lvl + 100.0, false))
    }.take(n).toSeq.zip(noise).map { case ((v, noisy), e) => if (noisy) v + e else v }
    val times = steps.scanLeft(T0 + start * 3600L)(_ + _ * 3600L).tail
    times.indices.map(i => Obs(key, times(i), if (nulls(i) < 0.05) None else Some(vals(i)),
      ins(i) < pIn))
  }

  val caseGen: Gen[Case] = for {
    nKeys <- Gen.choose(1, 4)
    pIn <- Gen.oneOf(1.0, 0.85)
    series <- Gen.sequence[List[Seq[Obs]], Seq[Obs]](
      (0 until nKeys).map(i => seriesGen(s"s$i", pIn)))
    iqr <- Gen.oneOf(6.0, 2.0)
    minPoints <- Gen.oneOf(3L, 12L, 50L)
    nValues <- Gen.choose(2L, 8L)
    nDays <- Gen.choose(0L, 2L)
    minValue <- Gen.oneOf(None, Some(0.5))
    minSeqLen <- Gen.choose(2L, 6L)
  } yield Case(series.flatten, iqr, minPoints, nValues, nDays, minValue, minSeqLen)

  /** Spark's exact `percentile`: linear interpolation at position p·(n−1). */
  private def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = p * (sorted.size - 1)
    val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
    if (lo == hi || sorted(lo) == sorted(hi)) sorted(lo)
    else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
  }

  private def month(t: Long): (Int, Int) = {
    val z = Instant.ofEpochSecond(t).atZone(ZoneOffset.UTC)
    (z.getYear, z.getMonthValue)
  }

  /** The spike rules, one series at a time. With `seriesOnly` the result holds only
    * the rows that survive the Δt and month filters (what `detectSpikes` returns). */
  def spikeModel(obs: Seq[Obs], iqrThresh: Double, minPoints: Long,
                 seriesOnly: Boolean = false): Map[(String, Long), Boolean] = {
    val hits = obs.groupBy(_.key).values.flatMap { rows =>
      val s0 = rows.filter(_.in).sortBy(_.t).toIndexedSeq
      val diffs = s0.indices.map { i =>
        if (i == 0) (s0(i), 0.0, 0.0)
        else {
          val d = (s0(i).v, s0(i - 1).v) match {
            case (Some(a), Some(b)) => a - b
            case _ => 0.0
          }
          (s0(i), d, (s0(i).t - s0(i - 1).t).toDouble / 3600.0)
        }
      }
      val s1 = diffs.filter { case (_, _, dt) => dt > 0.0 && dt <= 12.0 }
      val crit = s1.groupBy(r => month(r._1.t)).collect {
        case (m, g) if g.size > minPoints =>
          val ds = g.map(_._2).sorted
          m -> math.ceil(iqrThresh * (percentile(ds, 0.75) - percentile(ds, 0.25))).toLong.toDouble
      }
      val s2 = s1.filter(r => crit.contains(month(r._1.t)))
        .map { case (o, d, _) => (o, d, crit(month(o.t))) }
      val m = s2.size
      def d(j: Int): Option[Double] = if (j >= 0 && j < m) Some(s2(j)._2) else None
      def c(j: Int): Option[Double] = if (j >= 0 && j < m) Some(s2(j)._3) else None
      def cmp(j: Int)(f: (Double, Double) => Boolean): Boolean =
        d(j).zip(c(j)).exists { case (x, y) => f(x, y) }
      def small(j: Int) = cmp(j)((x, y) => math.abs(x) < y * 0.5)
      def big(j: Int) = cmp(j)((x, y) => math.abs(x) > y)
      def flip(j: Int, k: Int) = d(j).zip(d(k)).exists { case (a, b) => math.signum(a) != math.signum(b) }
      def potential(j: Int) = big(j) && j != 1 && m - j >= 5
      def c3(j: Int) = flip(j, j + 2) && small(j - 1) && small(j + 1) && small(j + 2) &&
        big(j + 3) && small(j + 4)
      def c2(j: Int) = flip(j, j + 2) && small(j - 1) && small(j + 1) && big(j + 2) && small(j + 3)
      def c1(j: Int) = flip(j, j + 1) && cmp(j - 1)((x, y) => math.abs(x) < y) && big(j + 1) &&
        cmp(j + 2)((x, y) => math.abs(x) < y)
      def s3(j: Int) = j >= 0 && potential(j) && c3(j)
      def s2f(j: Int) = j >= 0 && potential(j) && !c3(j) && c2(j)
      def s1f(j: Int) = potential(j) && !c3(j) && !c2(j) && c1(j)
      (0 until m).map { i =>
        (s2(i)._1.key, s2(i)._1.t) ->
          (s1f(i) || s2f(i) || s3(i) || s2f(i - 1) || s3(i - 1) || s3(i - 2))
      }
    }.toMap
    if (seriesOnly) hits
    else obs.map(o => (o.key, o.t) -> hits.getOrElse((o.key, o.t), false)).toMap
  }

  /** The straight-repeat rules, one series at a time. With `seriesOnly` the result
    * holds only the filtered series rows (what `straightRepeats` returns). */
  def streakModel(obs: Seq[Obs], c: Case,
                  seriesOnly: Boolean = false): Map[(String, Long), Boolean] = {
    val hits = obs.groupBy(_.key).values.flatMap { rows =>
      // (row, value, position in the pre-minValue series)
      val s0 = rows.filter(o => o.in && o.v.isDefined).sortBy(_.t).zipWithIndex
        .map { case (o, i) => (o, o.v.get, i) }
      val s1 = s0.filter { case (_, v, _) => c.minValue.forall(v > _) }
      val runs = s1.foldLeft(List.empty[List[(Obs, Double, Int)]]) {
        case ((run @ (h :: _)) :: done, r) if h._2 == r._2 => (r :: run) :: done
        case (acc, r) => List(r) :: acc
      }.map(_.reverse)
      runs.flatMap { run =>
        val len = run.size.toLong
        val days = math.floor((run.last._1.t - run.head._1.t).toDouble / 86400.0)
        val bad = len >= c.minSeqLen && (len > c.nValues || days > c.nDays) &&
          run.last._3 - run.head._3 + 1 == len
        run.map(r => (r._1.key, r._1.t) -> bad)
      }
    }.toMap
    if (seriesOnly) hits
    else obs.map(o => (o.key, o.t) -> hits.getOrElse((o.key, o.t), false)).toMap
  }
}
