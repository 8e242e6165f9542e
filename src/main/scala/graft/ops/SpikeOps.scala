package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W6 — spike detection (1–3 point unusual large jumps), flag 23.
  *
  * Re-expression of `detect_spikes` + `potential_spike_check`
  * (`/root/reference/scripts/3_qaqc_data/qaqc_unusual_large_jumps.py:128-299`) as pure
  * window expressions — no driver loop, no join, one shuffle on the series key.
  *
  * The series is a MASK over the input rows ([[spikeFlags]]' `inSeries`); rows outside
  * it are treated as absent and every input row comes back. Over the series:
  *
  *  1. first differences of value (null→0) and time-in-hours (null→0) against the
  *     previous series row (a series row with a null value stays in the series);
  *  2. keep rows with 0 < Δt ≤ 12 h;
  *  3. per (series, year, month) of the kept rows: n > `minDatapoints` rows and critical
  *     value crit = ceil(`iqrThresh` × IQR(diff)) (exact percentile — group size is
  *     bounded by one month of one station's observations, ≤ ~9k rows at 5-min cadence);
  *     rows of smaller months leave the series;
  *  4. |diff| > crit marks a potential spike;
  *  5. neighbor-pattern confirmation over what is left of the series (positional
  *     neighbours, as the reference indexes the filtered frame):
  *     - 3-pt: sign(d)≠sign(d₊₂), |d₋₁|<½c₋₁, |d₊₁|<½c₊₁, |d₊₂|<½c₊₂, |d₊₃|>c₊₃, |d₊₄|<½c₊₄
  *     - 2-pt: sign(d)≠sign(d₊₂), |d₋₁|<½c₋₁, |d₊₁|<½c₊₁, |d₊₂|>c₊₂, |d₊₃|<½c₊₃
  *     - 1-pt: sign(d)≠sign(d₊₁), |d₋₁|<c₋₁,  |d₊₁|>c₊₁,  |d₊₂|<c₊₂
  *     tried in that order; a k-point spike flags rows i..i+k−1;
  *  6. positional guard (`potential_spike_check`, `:171-173`): no spike starts at series
  *     position 2 (1-based) or in the last 4 positions.
  *
  * Departure from the reference (documented): rows whose pattern window runs off either
  * end of the series are never spikes here; the reference's positional indexing
  * wraps -1 to the last element (a numpy indexing artifact), which we do not replicate.
  *
  * Window budget: every `WindowExec` copies the whole (wide) input row, so the core is
  * three window levels under ONE sort — all ordered by `(_ym, time)`, which makes the
  * `(keys, _ym)` monthly aggregate ride the same sort. The neighbours −4..4 come from
  * one level, and the positional guards and the 2/3-point coverage are read off which
  * of those neighbours are null, not from `row_number`, `count` or a further lag level
  * (a one-level-per-lag layout measured ~50% slower on `w6_spikes`).
  *
  * Precondition: the input is unique on (keys, time) — P10 `dedupKeepFirst` runs
  * first in the pipeline. With duplicate keys the row order inside a tie is undefined,
  * and only the copy that lands in the series is flagged.
  */
object SpikeOps {

  /** The masked-series core: every input row plus a boolean `out`, true where the row
    * is in the series and covered by a confirmed spike. `inSeries` selects the series
    * rows (null counts as false). */
  def spikeFlags(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                 inSeries: Column, iqrThresh: Double = 6.0, minDatapoints: Long = 50,
                 out: String = "spike"): DataFrame =
    core(df, keys, timeCol, valueCol, inSeries, iqrThresh, minDatapoints, out)
      .drop("_in")

  /** The rows of `df` that survive the Δt and month-size filters, each with the
    * boolean `out` (true = part of a confirmed spike): [[spikeFlags]] over all rows. */
  def detectSpikes(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                   iqrThresh: Double = 6.0, minDatapoints: Long = 50,
                   out: String = "spike"): DataFrame =
    core(df, keys, timeCol, valueCol, lit(true), iqrThresh, minDatapoints, out)
      .filter(col("_in")).drop("_in")

  /** [[spikeFlags]] plus `_in`: whether the row is in the series after steps 2–3. */
  private def core(df: DataFrame, keys: Seq[String], timeCol: String, valueCol: String,
                   inSeries: Column, iqrThresh: Double, minDatapoints: Long,
                   out: String): DataFrame = {
    val kc = keys.map(col)
    val t = col(timeCol)
    val w = Window.partitionBy(kc: _*).orderBy(col("_ym"), t)
    val wm = Window.partitionBy((kc :+ col("_ym")): _*)
    def prev(c: Column, k: Int): Column = lag(c, k, null, ignoreNulls = true).over(w)
    def next(c: Column, k: Int): Column = lead(c, k, null, ignoreNulls = true).over(w)

    // level 1: differences against the previous series row
    val p = prev(when(col("_s0"), struct(col(valueCol).as("v"), t.as("t"))), 1)
    val dtH = coalesce((t.cast("double") - col("_p.t").cast("double")) / 3600.0, lit(0.0))
    val diffed = df
      .withColumn("_ym", date_trunc("MONTH", t))
      .withColumn("_s0", coalesce(inSeries, lit(false)))
      .withColumn("_p", p)
      .withColumn("_d", coalesce(col(valueCol) - col("_p.v"), lit(0.0)))
      .withColumn("_s1", col("_s0") && dtH > 0.0 && dtH <= 12.0)

    // level 2: the monthly critical value over the kept rows (one select, so both
    // aggregates share one WindowExec)
    val q = percentile(when(col("_s1"), col("_d")), array(lit(0.25), lit(0.75))).over(wm)
    val monthly = diffed.select(col("*"),
      (col("_s1") && count(when(col("_s1"), 1)).over(wm) > minDatapoints).as("_in"),
      ceil(lit(iqrThresh) * (q.getItem(1) - q.getItem(0))).cast("double").as("_crit"))

    // level 3: neighbours −4..4 along the remaining series; n(0) is the row itself
    val nb = when(col("_in"), struct(col("_d").as("d"), col("_crit").as("c")))
    val offsets = (-4 to 4).filter(_ != 0)
    val withNb = monthly.select(col("*") +: offsets.map(k =>
      (if (k < 0) prev(nb, -k) else next(nb, k)).as(s"_n$k")): _*)
    def n(k: Int): Column = if (k == 0) nb else col(s"_n$k")
    def d(k: Int): Column = n(k).getField("d")
    def c(k: Int): Column = n(k).getField("c")
    def small(k: Int): Column = abs(d(k)) < c(k) * 0.5
    def big(k: Int): Column = abs(d(k)) > c(k)
    // a spike candidate starting at offset j: not at series position 2 (it has a
    // predecessor but no second one) and not among the last 4 positions
    def potential(j: Int): Column =
      big(j) && !(n(j - 1).isNotNull && n(j - 2).isNull) && n(j + 4).isNotNull
    def pt3(j: Int): Column = signum(d(j)) =!= signum(d(j + 2)) && small(j - 1) &&
      small(j + 1) && small(j + 2) && big(j + 3) && small(j + 4)
    def pt2(j: Int): Column = signum(d(j)) =!= signum(d(j + 2)) && small(j - 1) &&
      small(j + 1) && big(j + 2) && small(j + 3)
    def pt1(j: Int): Column = signum(d(j)) =!= signum(d(j + 1)) &&
      abs(d(j - 1)) < c(j - 1) && big(j + 1) && abs(d(j + 2)) < c(j + 2)
    def f(e: Column): Column = coalesce(e, lit(false))
    // row i is covered by a spike of any width starting at i, a 2/3-point spike
    // starting at i−1, or a 3-point spike starting at i−2
    val covered = f(potential(0)) && (f(pt3(0)) || f(pt2(0)) || f(pt1(0))) ||
      f(potential(-1)) && (f(pt3(-1)) || f(pt2(-1))) ||
      f(potential(-2)) && f(pt3(-2))
    withNb.withColumn(out, col("_in") && covered)
      .drop((Seq("_ym", "_s0", "_p", "_d", "_s1", "_crit") ++ offsets.map(k => s"_n$k")): _*)
  }
}
