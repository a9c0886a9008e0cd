package graft.analyze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trend analytics over keyed time series: per-group OLS trend lines and
  * lag-1 autocorrelation — the "is this metric drifting / is it sticky"
  * readouts between the rolling windows (q122/q136) and the forecast
  * layer a pipeline hangs off them.
  *
  * Engine-portability contract (the [[Outliers]]/[[Experiment]] moment
  * discipline, extended to second-order cross terms): times are integer
  * seconds CENTERED on the group minimum, values 6-dp quantized longs;
  * every sum (Σx, Σy, Σxy, Σx², …) is an EXACT per-row long product
  * summed in DECIMAL(38,0) — within 128-bit range by construction — and
  * the closed-form slope/correlation formulas run in double only at the
  * end over bit-identical inputs, rounded at 6 dp.
  *
  * Scale shape: [[trendLines]] is ONE group-keyed hash aggregate over the
  * scan (centering needs the group min — a broadcast |groups|-row frame).
  * [[lagAutocorr]] first folds the corpus to per-(group, day) totals (the
  * only corpus-sized shuffle), then lags and moments run on the
  * days×groups frame — thousands of rows however big the input.
  */
object Trend {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Exact cross product: operands lifted to DECIMAL(19,0) FIRST so the
    * multiply runs in decimal space — a long×long per-row product would
    * silently need 2^63 < 10^19·10^19 and ANSI-throw at scale. */
  private def xprod(a: Column, b: Column): Column =
    a.cast("decimal(19,0)") * b.cast("decimal(19,0)")

  /** Per-group OLS line of `valueCol` against time:
    * `(group, n, slope_per_day, mean_val)`, slope in value-units per day
    * (6 dp). Groups with zero time variance report a null slope. */
  def trendLines(df: DataFrame, groupCol: String, tsCol: String,
                 valueCol: String): DataFrame = {
    val mins = df.groupBy(col(groupCol).as("__g"))
      .agg(min(unix_seconds(col(tsCol))).as("__t0"))
    val q = df.join(broadcast(mins), col(groupCol) <=> col("__g"))
      .select(col(groupCol),
        (unix_seconds(col(tsCol)) - col("__t0")).as("xc"),
        round(col(valueCol) * lit(1000000)).cast("long").as("yq"))
    q.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("xc"))).as("sx"),
        sum(dec(col("yq"))).as("sy"),
        sum(xprod(col("xc"), col("yq"))).as("sxy"),
        sum(xprod(col("xc"), col("xc"))).as("sxx"))
      .select(col(groupCol), col("n"),
        round({
          // guard in DOUBLE, same as the oracle: a decimal (38,0)² guard
          // product can overflow and costs far more codegen
          val den = col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")
          when(den =!= 0,
            (col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) / den *
            lit(86400.0) / lit(1000000.0))
        }, 6).as("slope_per_day"),
        round(col("sy").cast("double") / col("n") / lit(1000000.0), 6)
          .as("mean_val"))
      .orderBy(col(groupCol))
  }

  /** Theil-Sen robust slope + Mann-Kendall trend test per group, over
    * DAILY totals — the outlier-proof siblings of [[trendLines]]' OLS
    * (one wild day drags a least-squares slope; the median of pairwise
    * slopes and the sign statistic shrug it off).
    *
    * Exactness: pairwise slopes divide exact integers (IEEE division —
    * identical everywhere), the median is the LOWER rank statistic under
    * `(slope, day_i, day_j)` total order; Mann-Kendall S is a pure
    * integer sign sum; its normal-approximation z uses the no-tie
    * variance n(n−1)(2n+5)/18 in double over exact inputs (daily totals
    * of a continuous measure — exact yq ties are measure-zero and would
    * only shade z, never S).
    *
    * Scale shape: the corpus folds to (group, day) ONCE; the O(T²) pair
    * frame lives on the days-frame (T = study span — hundreds), never
    * the corpus: a deliberate, documented bound, same as the life-table
    * and changepoint ops. */
  def theilSenMannKendall(df: DataFrame, groupCol: String, tsCol: String,
                          valueCol: String): DataFrame = {
    val daily = df.groupBy(col(groupCol).as("g"),
        date_trunc("day", col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val a = daily.select(col("g"), col("day").as("d1"), col("yq").as("y1"))
    val b = daily.select(col("g"), col("day").as("d2"), col("yq").as("y2"))
    val pairs = a.join(b, Seq("g")).filter(col("d1") < col("d2"))
      .select(col("g"), col("d1"), col("d2"),
        ((col("y2") - col("y1")).cast("double") /
          datediff(col("d2"), col("d1")) / 1e6).as("slope"),
        signum((col("y2") - col("y1")).cast("double")).cast("long").as("sgn"))
    val w = Window.partitionBy(col("g")).orderBy(col("slope"), col("d1"), col("d2"))
    val med = pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("rn") === floor((col("np") + 1) / 2))
      .select(col("g"), col("slope").as("ts_slope"))
    val mk = pairs.groupBy(col("g"))
      .agg(sum(col("sgn")).as("s_stat"))
    val nd = daily.groupBy(col("g")).agg(count(lit(1)).as("n_days"))
    mk.join(med, "g").join(nd, "g")
      .select(col("g").as(groupCol), col("n_days"),
        round(col("ts_slope"), 6).as("ts_slope"),
        col("s_stat"),
        round({
          val n = col("n_days").cast("double")
          val v = n * (n - lit(1.0)) * (lit(2.0) * n + lit(5.0)) / lit(18.0)
          when(v > 0,
            (col("s_stat") - signum(col("s_stat"))).cast("double") / sqrt(v))
        }, 4).as("mk_z"))
      .orderBy(col(groupCol))
  }

  /** Dispersion index (variance-to-mean ratio) of DAILY event counts per
    * group: the burstiness detector — ≈1 reads Poisson (steady arrivals),
    * ≫1 reads overdispersed (bursts/incidents), ≪1 reads suspiciously
    * regular (synthetic traffic). `(group, n_days, mean_daily,
    * dispersion)` over OBSERVED days (zero days excluded — compose with
    * gap fill to count them). Population variance from exact integer
    * count sums; two divisions at the end. */
  def dispersionIndex(df: DataFrame, groupCol: String,
                      tsCol: String): DataFrame = {
    val daily = df.groupBy(col(groupCol),
        date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("c"))
    daily.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_days"),
        sum(dec(col("c"))).as("__s"),
        sum(dec(col("c")) * dec(col("c"))).as("__ss"))
      .select(col(groupCol), col("n_days"), {
        val n = col("n_days").cast("double")
        val s = col("__s").cast("double")
        val mean = s / n
        round(mean, 4).as("mean_daily")
      }, {
        val n = col("n_days").cast("double")
        val s = col("__s").cast("double")
        val ss = col("__ss").cast("double")
        val mean = s / n
        val popVar = ss / n - mean * mean
        round(when(s > 0, popVar / mean), 4).as("dispersion")
      })
      .orderBy(col(groupCol))
  }

  /** Lag-1 Pearson autocorrelation of the DAILY total of `valueCol` per
    * group: `(group, n_days, autocorr)` (6 dp; null when undefined).
    * Missing days are skipped, not zero-filled — compose with
    * [[graft.operators.Temporal]] gap fill when zero-filling is wanted. */
  def lagAutocorr(df: DataFrame, groupCol: String, tsCol: String,
                  valueCol: String): DataFrame = {
    val daily = df.groupBy(col(groupCol),
        date_trunc("day", col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("day"))
    val pairs = daily
      .withColumn("yprev", lag(col("yq"), 1).over(w))
      .filter(col("yprev").isNotNull)
    pairs.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_days"),
        sum(dec(col("yq"))).as("sa"),
        sum(dec(col("yprev"))).as("sb"),
        sum(xprod(col("yq"), col("yprev"))).as("sab"),
        sum(xprod(col("yq"), col("yq"))).as("saa"),
        sum(xprod(col("yprev"), col("yprev"))).as("sbb"))
      .select(col(groupCol), col("n_days"),
        round({
          val n = col("n_days").cast("double")
          val cov = n * col("sab").cast("double") -
            col("sa").cast("double") * col("sb").cast("double")
          val va = n * col("saa").cast("double") -
            col("sa").cast("double") * col("sa").cast("double")
          val vb = n * col("sbb").cast("double") -
            col("sb").cast("double") * col("sb").cast("double")
          when(va > 0 && vb > 0, cov / sqrt(va * vb))
        }, 6).as("autocorr"))
      .orderBy(col(groupCol))
  }

  /** Seasonality-strength scan over candidate periods: for each period
    * `p ∈ [2, maxP]`, the share of daily-total variance explained by
    * grouping days into day-of-period classes `b = day_index mod p` —
    * the one-way-ANOVA R² `SSB/SST`, the time-domain periodogram (a
    * weekly cycle peaks at p = 7 AND its harmonics p = 14; the scan
    * surfaces the whole signature where q198's fixed day-of-week index
    * assumes the answer).
    *
    * Exactness: daily totals are exact 6-dp longs; per-class sums and
    * the ΣX² moment are exact DECIMAL; the per-class variance term
    * `(s_b/S)²/n_b` is one pinned double expression 12-dp-quantized
    * before its exact class-sum, and the final ratio
    * `(Σ_b u_b²/n_b − 1/n) / (Q/S² − 1/n)` (the SSB/SST identity
    * normalized by S²) is a single double expression over exact inputs.
    *
    * Scale shape: the corpus folds ONCE to the (group, day) frame;
    * everything after lives on days×(maxP−1) rows. */
  def seasonalityScan(df: DataFrame, groupCol: String, tsCol: String,
                      valueCol: String, maxP: Int = 14): DataFrame = {
    val daily = df
      .groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("vq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wg = Window.partitionBy(col("g"))
    val idx = daily
      .withColumn("di", datediff(col("day"), min(col("day")).over(wg)))
      .withColumn("p", explode(sequence(lit(2), lit(maxP))))
    val byClass = idx
      .groupBy(col("g"), col("p"), pmod(col("di"), col("p")).as("b"))
      .agg(count(lit(1)).as("nb"), sum(dec(col("vq"))).as("sb"))
    val totals = daily.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(dec(col("vq"))).as("s"),
        sum(xprod(col("vq"), col("vq"))).as("qq"))
    byClass.join(broadcast(totals), "g")
      .withColumn("uq",
        round(col("sb").cast("double") * col("sb").cast("double") /
          (col("s").cast("double") * col("s").cast("double")) /
          col("nb").cast("double") * lit(1e12)).cast("long"))
      .groupBy(col("g"), col("p"), col("n"), col("s"), col("qq"))
      .agg(sum(col("uq")).as("ssbq"))
      .select(col("g").as(groupCol), col("p").cast("long").as("period"),
        round({
          val n = col("n").cast("double")
          val num = col("ssbq").cast("double") / lit(1e12) - lit(1.0) / n
          val den = col("qq").cast("double") /
            (col("s").cast("double") * col("s").cast("double")) -
            lit(1.0) / n
          when(den > 0, num / den)
        }, 6).as("strength"))
      .orderBy(col(groupCol), col("period"))
  }

  /** Ljung-Box portmanteau over lags 1..`maxLag` on the GLOBAL daily
    * total series: one row per lag,
    * `(lag, n_days, r, q_stat)` with the cumulative
    * `Q(m) = n(n+2)·Σ_{k≤m} r_k²/(n−k)` — "is there ANY autocorrelation
    * structure left", the whole-ACF upgrade of [[lagAutocorr]]'s single
    * lag (and the residual-whiteness check q149/q167 forecasts need).
    *
    * Exactness: daily totals are exact 6-dp longs; the ACF is computed
    * on the n-SCALED centered series `c_t = n·y_t − S` (exact integers —
    * no float mean subtraction), so every Σc_t·c_{t+k} and Σc_t² is an
    * exact DECIMAL; each r_k is one double division quantized to 12 dp
    * before the Q accumulation. Days are indexed densely by their rank
    * (gaps skip, as in [[lagAutocorr]]).
    *
    * Scale shape: corpus folds once to days; the lag fan-out is a
    * days×maxLag self-join on the day-index offset — thousands of rows. */
  def ljungBox(df: DataFrame, tsCol: String, valueCol: String,
               maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    val daily = df.groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val w = Window.orderBy(col("day"))
    // the day frame is tiny (corpus already folded); a single-task rank
    // window here is the days-count bound, not a corpus hazard
    val idx = daily.withColumn("t", row_number().over(w))
    val tot = idx.agg(count(lit(1)).as("n"), sum(dec(col("yq"))).as("s"))
    val cent = idx.crossJoin(broadcast(tot))
      // c_t = n·y_t − S: DECIMAL — n·y at 1e6 scale exceeds a long fast
      // (19,0) so the c·c / c·c₂ products promote to an exact (38,0);
      // |c| ≤ n·max|y| ~ 1e15 at 6-dp scale — far inside 19 digits
      .select(col("t"), col("n"),
        (col("n").cast("decimal(19,0)") * col("yq").cast("decimal(19,0)")
          - col("s")).cast("decimal(19,0)").as("c"))
    val lags = cent.select(col("t"), col("n"), col("c"))
      .crossJoin(broadcast(
        df.sparkSession.range(1, maxLag + 1).select(col("id").cast("int").as("lag"))))
    val joined = lags.alias("a")
      .join(cent.select(col("t").as("t2"), col("c").as("c2")).alias("b"),
        col("a.t") + col("a.lag") === col("b.t2"))
    val denom = cent.agg(sum((col("c") * col("c")).cast("decimal(38,0)")).as("den"))
    val rk = joined.groupBy(col("lag"), col("n"))
      .agg(sum((col("c") * col("c2")).cast("decimal(38,0)")).as("num"))
      .crossJoin(broadcast(denom))
      .select(col("lag"), col("n"),
        // r_k pinned at 12 dp BEFORE the Q sum — the only double step
        round(when(col("den") > 0,
          col("num").cast("double") / col("den").cast("double")) * lit(1e12))
          .cast("long").as("r12"))
    val wq = Window.orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rk.withColumn("qterm",
        col("r12").cast("double") / 1e12 * (col("r12").cast("double") / 1e12) /
          (col("n") - col("lag")).cast("double"))
      .withColumn("q_cum", sum(col("qterm")).over(wq))
      .select(col("lag").cast("long").as("lag"), col("n").as("n_days"),
        round(col("r12").cast("double") / 1e12, 6).as("r"),
        round(col("n").cast("double") * (col("n") + 2).cast("double") *
          col("q_cum"), 4).as("q_stat"))
      .orderBy(col("lag"))
  }

  /** Durbin-Watson statistic of the residuals from the OLS line of the
    * GLOBAL daily total on the day index: one row
    * `(n_days, slope_per_day, dw)` — `DW = Σ(e_t−e_{t−1})²/Σe_t²`,
    * ≈2 when the trend line's residuals are white, →0 under positive
    * serial correlation (the "my regression's errors are not
    * independent" alarm for every trend readout upstream).
    *
    * Exactness: slope/intercept come from exact DECIMAL moments of the
    * (rank, 6-dp-long) day series; each residual is ONE pinned double
    * expression quantized to a 6-dp long, so both DW sums are exact
    * integers. */
  /** Holdout backtest of the OLS daily-trend forecaster: fit on the
    * first ⌊trainFrac·n⌋ days, score the rest — one row
    * `(n_train, n_test, mae, mape, smape)`. The honesty check the trend
    * family (q167/q204/q255) needs before anyone extrapolates it:
    * in-sample fit says nothing about forward error.
    *
    * Exactness: slope/intercept from exact DECIMAL train moments; each
    * test residual is ONE pinned double quantized to a 6-dp long; MAPE
    * terms guard y = 0 (excluded, reported through n_test vs the mape
    * count is NOT split — zero-actual days simply don't contribute, the
    * standard MAPE convention); the three means are exact integer sums
    * divided once. */
  def forecastBacktest(df: DataFrame, tsCol: String, valueCol: String,
                       trainFrac: Double = 0.8): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1, s"trainFrac in (0,1): $trainFrac")
    val daily = df.groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val idx = daily.withColumn("t", row_number().over(Window.orderBy(col("day"))))
    val nAll = idx.agg(count(lit(1)).as("na"))
    val cut = idx.crossJoin(broadcast(nAll))
      .withColumn("cut", floor(col("na") * lit(trainFrac)).cast("long"))
    val mom = cut.filter(col("t") <= col("cut"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("t"))).as("st"), sum(dec(col("yq"))).as("sy"),
        sum(xprod(col("t"), col("yq"))).as("sty"),
        sum(xprod(col("t"), col("t"))).as("stt"))
    val test = cut.filter(col("t") > col("cut"))
      .crossJoin(broadcast(mom))
      .select(col("yq"), round({
          val n = col("n").cast("double")
          val st = col("st").cast("double"); val sy = col("sy").cast("double")
          val b = (n * col("sty").cast("double") - st * sy) /
            (n * col("stt").cast("double") - st * st)
          val a = (sy - b * st) / n
          a + b * col("t").cast("double")
        }).cast("long").as("fq"))
    test.agg(
        count(lit(1)).as("n_test"),
        sum(abs(col("yq") - col("fq")).cast("decimal(19,0)")).as("sae"),
        // MAPE term pinned per day at 9 dp; zero-actual days excluded
        sum(when(col("yq") =!= 0,
          round(abs(col("yq") - col("fq")).cast("double") /
            abs(col("yq")).cast("double") * lit(1e9)).cast("long"))
          .otherwise(0L)).as("mape9"),
        sum(when(col("yq") =!= 0, 1L).otherwise(0L)).as("nz"),
        sum(when(abs(col("yq")) + abs(col("fq")) > 0,
          round(lit(2.0) * abs(col("yq") - col("fq")).cast("double") /
            (abs(col("yq")) + abs(col("fq"))).cast("double") * lit(1e9))
            .cast("long")).otherwise(0L)).as("smape9"),
        sum(when(abs(col("yq")) + abs(col("fq")) > 0, 1L).otherwise(0L)).as("ns"))
      .crossJoin(broadcast(mom.select(col("n").as("n_train"))))
      .select(col("n_train"), col("n_test"),
        round(col("sae").cast("double") / col("n_test") / 1e6, 6).as("mae"),
        round(when(col("nz") > 0,
          col("mape9").cast("double") / col("nz") / 1e9), 6).as("mape"),
        round(when(col("ns") > 0,
          col("smape9").cast("double") / col("ns") / 1e9), 6).as("smape"))
  }

  /** Seasonal-naive holdout backtest with MASE (Hyndman & Koehler 2006)
    * — the scale-free forecast error every other metric gets compared
    * to: forecast each test day with the value of the latest TRAIN day
    * in the same weekly phase (`ŷ_j = y_{j − m·⌈(j−h)/m⌉}`, h = train
    * length, m = `period`), and scale the holdout MAE by the in-sample
    * one-season-naive MAE (mean |y_t − y_{t−m}| over train). MASE < 1 =
    * beats the naive in-sample yardstick. One row `(n_train, n_test,
    * mae, scale_mae, mase)`; NULL mase when the scale is zero
    * (perfectly periodic train) or the train is shorter than a season.
    *
    * Day-bounded frames throughout: the index window, the (j → source
    * index) equi-join and the lag join all run on one row per day. */
  def seasonalNaiveBacktest(df: DataFrame, tsCol: String, valueCol: String,
                            trainFrac: Double = 0.8, period: Int = 7): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1, s"trainFrac in (0,1): $trainFrac")
    require(period >= 1, s"period >= 1: $period")
    val daily = df.groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val idx = daily
      .withColumn("t", row_number().over(Window.orderBy(col("day"))).cast("long"))
      .select(col("t"), col("yq"))
      .localCheckpoint(true) // feeds the cut, the scale lag, the test join
    val nAll = idx.agg(count(lit(1)).as("na"))
    val h = floor(col("na") * lit(trainFrac)).cast("long")
    val withCut = idx.crossJoin(broadcast(nAll)).withColumn("h", h)
    // in-sample scale: mean |y_t − y_{t−m}| over train (t ≤ h, t > m)
    val scale = withCut.filter(col("t") <= col("h"))
      .join(idx.select((col("t") + period).as("t"), col("yq").as("prev")), "t")
      .agg(count(lit(1)).as("n_scale"),
        sum(abs(col("yq") - col("prev")).cast("decimal(19,0)")).as("sad"))
    // test forecast: source index i = j − m·⌈(j−h)/m⌉ (integer form:
    // ceil(a/b) = -floor(-a/b) = (a + b − 1) div b for a,b > 0)
    val srcIdx = col("t") - lit(period.toLong) *
      floor((col("t") - col("h") + lit(period.toLong) - 1L) / lit(period.toLong))
        .cast("long")
    val test = withCut.filter(col("t") > col("h"))
      .withColumn("src", srcIdx)
      .join(idx.select(col("t").as("src"), col("yq").as("fq")), "src")
    test.agg(count(lit(1)).as("n_test"),
        sum(abs(col("yq") - col("fq")).cast("decimal(19,0)")).as("sae"),
        max(col("h")).as("n_train"))
      .crossJoin(broadcast(scale))
      .select(col("n_train"), col("n_test"),
        round(col("sae").cast("double") / col("n_test") / 1e6, 6).as("mae"),
        round(when(col("n_scale") > 0,
          col("sad").cast("double") / col("n_scale") / 1e6), 6).as("scale_mae"),
        round(when(col("n_scale") > 0 && col("sad") > 0,
          (col("sae").cast("double") / col("n_test")) /
            (col("sad").cast("double") / col("n_scale"))), 6).as("mase"))
  }

  def durbinWatson(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val daily = df.groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val idx = daily.withColumn("t", row_number().over(Window.orderBy(col("day"))))
    val mom = idx.agg(count(lit(1)).as("n"),
      sum(dec(col("t"))).as("st"), sum(dec(col("yq"))).as("sy"),
      sum(xprod(col("t"), col("yq"))).as("sty"),
      sum(xprod(col("t"), col("t"))).as("stt"))
    val resid = idx.crossJoin(broadcast(mom))
      .select(col("t"), col("n"), round({
          val n = col("n").cast("double")
          val st = col("st").cast("double"); val sy = col("sy").cast("double")
          val b = (n * col("sty").cast("double") - st * sy) /
            (n * col("stt").cast("double") - st * st)
          val a = (sy - b * st) / n
          (col("yq").cast("double") - a - b * col("t").cast("double"))
        }).cast("long").as("e"))
    val lagged = resid
      .withColumn("eprev", lag(col("e"), 1).over(Window.orderBy(col("t"))))
    lagged.groupBy(col("n"))
      .agg(
        sum(xprod(col("e"), col("e"))).as("see"),
        sum(when(col("eprev").isNotNull,
          xprod(col("e") - col("eprev"), col("e") - col("eprev")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("sdd"))
      .crossJoin(broadcast(mom.select(col("n").as("n2"), col("st"), col("sy"),
        col("sty"), col("stt"))))
      .select(col("n").as("n_days"),
        round({
          val n = col("n2").cast("double")
          val st = col("st").cast("double"); val sy = col("sy").cast("double")
          (n * col("sty").cast("double") - st * sy) /
            (n * col("stt").cast("double") - st * st) / 1e6
        }, 6).as("slope_per_day"),
        round(when(col("see") > 0,
          col("sdd").cast("double") / col("see").cast("double")), 6).as("dw"))
  }

  /** STL-lite additive decomposition of the daily total series into
    * trend + seasonal + residual — the structural readout the seasonal
    * INDEX (q198) and strength scan (q246) summarize: trend is the
    * centered `period`-day moving average (full windows only — edge
    * days are excluded rather than padded), the seasonal component is
    * the day-of-period mean of the detrended series, the residual is
    * what neither explains.
    *
    * Exactness discipline: daily totals are exact 6-dp longs; the
    * detrended value `d_t = p·y_t − Σwindow` is an exact integer (no
    * float mean), and each reported component is pinned ONCE —
    * `trend6 = round(Σ/p)`, `seasonal6 = round(Σd/(p·m))` — so the
    * residual `y6 − trend6 − seasonal6` is again exact integer
    * arithmetic. Output per full-window day:
    * `(day, y, trend, seasonal, resid)` at 6 dp, ordered by day.
    *
    * Scale shape: corpus folds once to days; every window runs on the
    * days-bounded frame (the [[ljungBox]] bound). */
  def stlDecompose(df: DataFrame, tsCol: String, valueCol: String,
                   period: Int = 7): DataFrame = {
    require(period >= 2 && period % 2 == 1,
      s"period must be odd >= 3 for a centered window: $period")
    val half = period / 2
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val w = Window.orderBy(col("day")).rowsBetween(-half, half)
    val withTrend = daily
      .withColumn("__wsum", sum(col("yq")).over(w))
      .withColumn("__wn", count(lit(1)).over(w))
      .where(col("__wn") === period)
      .withColumn("__trend6",
        round(col("__wsum").cast("double") / period).cast("long"))
      // d_t = p·y_t − Σwindow: exact integer detrending at 6-dp scale ×p
      .withColumn("__d", lit(period) * col("yq") - col("__wsum"))
    val seasonal = withTrend
      .groupBy(dayofweek(col("day")).as("__dow"))
      .agg(count(lit(1)).as("__m"), sum(col("__d")).as("__sd"))
      .select(col("__dow"),
        round(col("__sd").cast("double") / (lit(period.toDouble) * col("__m")))
          .cast("long").as("__season6"))
    withTrend
      .join(broadcast(seasonal), dayofweek(col("day")) === col("__dow"))
      .select(col("day"),
        round(col("yq").cast("double") / 1e6, 6).as("y"),
        round(col("__trend6").cast("double") / 1e6, 6).as("trend"),
        round(col("__season6").cast("double") / 1e6, 6).as("seasonal"),
        round((col("yq") - col("__trend6") - col("__season6")).cast("double")
          / 1e6, 6).as("resid"))
      .orderBy(col("day"))
  }

  /** Siegel repeated-medians slope (Siegel 1982) over the daily series —
    * the 50%-breakdown robust trend (Theil-Sen, q204, breaks at ~29%):
    * for each day i take the MEDIAN of its pairwise slopes to every
    * other day, then the median of those medians. Lower-median
    * convention with (slope, day) tie orders — deterministic and
    * SQL-mirrorable. One row `(n_days, slope)` (slope in value units
    * per day, 6 dp). Day-bounded pair frame, two bounded median folds. */
  def siegelSlope(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val a = daily.select(col("day").as("d1"), col("yq").as("y1"))
    val b = daily.select(col("day").as("d2"), col("yq").as("y2"))
    val slopes = a.join(b, col("d1") =!= col("d2"))
      .select(col("d1"), col("d2"),
        ((col("y2") - col("y1")).cast("double") /
          datediff(col("d2"), col("d1")) / 1e6).as("sl"))
    val wi = Window.partitionBy(col("d1")).orderBy(col("sl"), col("d2"))
    val perDay = slopes
      .withColumn("rn", row_number().over(wi))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("d1"))))
      .filter(col("rn") === floor((col("np") + 1) / 2))
      .select(col("d1"), col("sl").as("med"))
    val wg = Window.orderBy(col("med"), col("d1"))
    perDay
      .withColumn("rn", row_number().over(wg))
      .withColumn("n", count(lit(1)).over(
        Window.orderBy(col("med"), col("d1"))
          .rowsBetween(Long.MinValue, Long.MaxValue)))
      .filter(col("rn") === floor((col("n") + 1) / 2))
      .select(col("n").as("n_days"), round(col("med"), 6).as("slope"))
  }

  /** Trend / seasonal STRENGTH (Hyndman & Athanasopoulos, FPP3 §4.3) of
    * the daily series under the same moving-average decomposition as
    * [[stlDecompose]]: `F_T = max(0, 1 − Var(R)/Var(T+R))`,
    * `F_S = max(0, 1 − Var(R)/Var(S+R))` — the forecastability readout
    * (≈1 strongly trended/seasonal, ≈0 noise). Components stay EXACT
    * 6-dp-scale longs all the way to the variance moments. One row
    * `(n_days, f_trend, f_seasonal)`. */
  def stlStrength(df: DataFrame, tsCol: String, valueCol: String,
                  period: Int = 7): DataFrame = {
    require(period >= 2 && period % 2 == 1,
      s"period must be odd >= 3 for a centered window: $period")
    val half = period / 2
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val w = Window.orderBy(col("day")).rowsBetween(-half, half)
    val withTrend = daily
      .withColumn("__wsum", sum(col("yq")).over(w))
      .withColumn("__wn", count(lit(1)).over(w))
      .where(col("__wn") === period)
      .withColumn("__trend6",
        round(col("__wsum").cast("double") / period).cast("long"))
      .withColumn("__d", lit(period) * col("yq") - col("__wsum"))
    // seasonal class = day index mod period (NOT dayofweek: for
    // period != 7 weekday classes would mix distinct phases; for the
    // default 7 the partition is identical, so oracles are unaffected)
    val sClass = pmod(datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-05"))),
      lit(period))
    val seasonal = withTrend
      .groupBy(sClass.as("__ph"))
      .agg(count(lit(1)).as("__m"), sum(col("__d")).as("__sd"))
      .select(col("__ph"),
        round(col("__sd").cast("double") / (lit(period.toDouble) * col("__m")))
          .cast("long").as("__season6"))
    val comp = withTrend
      .join(broadcast(seasonal), sClass === col("__ph"))
      .select((col("yq") - col("__trend6") - col("__season6")).as("r"),
        (col("yq") - col("__season6")).as("tr"),
        (col("yq") - col("__trend6")).as("sr"))
    def mom(c: Column, p: String) = Seq(
      sum(dec(c)).as(s"s_$p"), sum(dec(c) * dec(c)).as(s"q_$p"))
    val aggs = mom(col("r"), "r") ++ mom(col("tr"), "tr") ++ mom(col("sr"), "sr")
    val m = comp.agg(count(lit(1)).as("n"), aggs: _*)
    val n = col("n").cast("double")
    def va(p: String) = (col(s"q_$p").cast("double") -
      col(s"s_$p").cast("double") * col(s"s_$p").cast("double") / n) / (n - 1)
    m.select(col("n").as("n_days"),
      round(when(col("n") >= 2 && va("tr") > 0,
        greatest(lit(0.0), lit(1.0) - va("r") / va("tr"))), 6).as("f_trend"),
      round(when(col("n") >= 2 && va("sr") > 0,
        greatest(lit(0.0), lit(1.0) - va("r") / va("sr"))), 6).as("f_seasonal"))
  }

  /** Pettitt change-point test (Pettitt 1979) on the daily totals — the
    * NONPARAMETRIC single change-point locator beside the CUSUM scan
    * (q-family) and Page-Hinkley: `U_t = 2·Σ_{i≤t} r_i − t(n+1)` over
    * average ranks, `K = max_{t<n} |U_t|`, changepoint at the first
    * argmax, `p ≈ 2·exp(−6K²/(n³+n²))`. Doubled average ranks
    * (`2r = 2·c_lt + c_eq + 1`) keep every U_t an exact integer; the
    * only double is the closing p. One row
    * `(n_days, k_stat, t_change, p_approx)` — t_change is the 1-based
    * day index of the first maximizing split.
    *
    * Day-bounded frame throughout (value-rank join + one ordered
    * cumulative sum). */
  def pettitt(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val wv = Window.orderBy(col("yq"))
    // doubled average rank from min-rank + tie count (both windowed on
    // the day-bounded frame)
    val ranked = daily
      .withColumn("minr", rank().over(wv))
      .withColumn("ceq", count(lit(1)).over(Window.partitionBy(col("yq"))))
      .withColumn("r2", lit(2) * (col("minr") - 1) + col("ceq") + 1)
    val wd = Window.orderBy(col("day")).rowsBetween(Long.MinValue, 0)
    val u = ranked
      .withColumn("t", row_number().over(Window.orderBy(col("day"))).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.orderBy(col("day")).rowsBetween(Long.MinValue, Long.MaxValue)))
      .withColumn("ut", sum(col("r2")).over(wd) - col("t") * (col("n") + 1))
      .filter(col("t") < col("n")) // U_n ≡ 0 by construction
    val uc = u.select(col("t"), col("n"), col("ut")).localCheckpoint(true)
    val stats = uc.agg(max(col("n")).as("n_days"), max(abs(col("ut"))).as("k_stat"))
    uc.crossJoin(broadcast(stats))
      .filter(abs(col("ut")) === col("k_stat"))
      .groupBy(col("n_days"), col("k_stat"))
      .agg(min(col("t")).as("t_change"))
      .select(col("n_days"), col("k_stat"), col("t_change"),
        round(lit(2.0) * exp(lit(-6.0) * col("k_stat").cast("double") *
          col("k_stat") /
          (col("n_days") * col("n_days") * col("n_days") +
            col("n_days") * col("n_days")).cast("double")), 6).as("p_approx"))
  }

  /** Turning-points randomness test (Kendall): count strict local
    * extrema among the daily totals — an i.i.d. series has
    * `E[T] = 2(n−2)/3`, `Var[T] = (16n−29)/90`; too FEW turning points
    * reads trending/sticky, too many reads alternating. Tied
    * neighbors make a point non-strict and it simply doesn't count
    * (documented; both engines share the convention). One row
    * `(n_days, t_points, expected, z)` — days-bounded lead/lag frame. */
  def turningPoints(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val wd = Window.orderBy(col("day"))
    val t = daily
      .withColumn("p", lag(col("yq"), 1).over(wd))
      .withColumn("f", lead(col("yq"), 1).over(wd))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p").isNotNull && col("f").isNotNull &&
          ((col("yq") > col("p") && col("yq") > col("f")) ||
            (col("yq") < col("p") && col("yq") < col("f"))), 1L)
          .otherwise(0L)).as("t_points"))
    val n = col("n").cast("double")
    val e = (n - 2) * 2 / 3
    val v = (n * 16 - 29) / 90
    t.select(col("n").as("n_days"), col("t_points"),
      round(e, 4).as("expected"),
      round(when(col("n") >= 3 && v > 0,
        (col("t_points") - e) / sqrt(v)), 4).as("z"))
  }

  /** Difference-sign randomness test: count rises among consecutive
    * daily totals — i.i.d. gives `E[S] = (n−1)/2`, `Var[S] = (n+1)/12`;
    * a monotone drift shows immediately. Ties count as non-rises
    * (documented). One row `(n_days, n_rises, expected, z)`. */
  def differenceSign(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val wd = Window.orderBy(col("day"))
    val t = daily
      .withColumn("p", lag(col("yq"), 1).over(wd))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p").isNotNull && col("yq") > col("p"), 1L)
          .otherwise(0L)).as("n_rises"))
    val n = col("n").cast("double")
    val e = (n - 1) / 2
    val v = (n + 1) / 12
    t.select(col("n").as("n_days"), col("n_rises"),
      round(e, 4).as("expected"),
      round(when(col("n") >= 2 && v > 0,
        (col("n_rises") - e) / sqrt(v)), 4).as("z"))
  }

  /** X-bar control chart summary (Shewhart) over daily subgroups of the
    * per-event value — the SPC alarm that complements the SEQUENTIAL
    * detectors (q232 CUSUM reacts to small persistent shifts, q149 EWMA
    * smooths; the Shewhart chart catches single out-of-control days):
    * each day's mean is tested against
    * `grand_mean ± 3·σ/√n_day` with σ the global per-event sample
    * standard deviation (the varying-subgroup-size form).
    *
    * Exactness: per-day and global moments are exact 6-dp-long /
    * DECIMAL sums; each day's test is one double comparison of the
    * UNROUNDED statistic (the report's rounded columns are
    * presentation). One row:
    * `(n_days, n_events, grand_mean, sigma, n_violations, worst_day)`
    * — worst_day = the violating day with the largest |z| (ties to the
    * earliest day), null when in control. */
  def controlChart(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val q = df.select(to_date(col(tsCol)).as("day"),
      round(col(valueCol) * lit(1000000)).cast("long").as("vq"))
    val days = q.groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(dec(col("vq"))).as("s"))
    val tot = q.agg(count(lit(1)).as("nn"), sum(dec(col("vq"))).as("ss"),
      sum(dec(col("vq")) * dec(col("vq"))).as("sqq"))
    val scored = days.crossJoin(broadcast(tot))
      .select(col("day"), col("n"), {
        val nn = col("nn").cast("double")
        val mu = col("ss").cast("double") / nn
        val v = (col("sqq").cast("double") -
          col("ss").cast("double") * col("ss").cast("double") / nn) / (nn - 1)
        val dayMean = col("s").cast("double") / col("n")
        when(v > 0,
          (dayMean - mu) / (sqrt(v) / sqrt(col("n").cast("double"))))
          .as("z")
      })
    val summary = scored.agg(
      count(lit(1)).as("n_days"),
      sum(when(abs(col("z")) > 3, 1L).otherwise(0L)).as("n_violations"))
    val worst = scored.where(abs(col("z")) > 3)
      .orderBy(abs(col("z")).desc, col("day")).limit(1)
      .select(col("day").as("worst_day"))
    summary.crossJoin(broadcast(tot))
      .join(worst, lit(true), "left")
      .select(col("n_days"), col("nn").as("n_events"),
        round(col("ss").cast("double") / col("nn") / 1e6, 6).as("grand_mean"),
        round(sqrt((col("sqq").cast("double") -
          col("ss").cast("double") * col("ss").cast("double") / col("nn")) /
          (col("nn") - 1)) / 1e6, 6).as("sigma"),
        col("n_violations"), col("worst_day"))
  }

  /** Dickey-Fuller stationarity regression on the daily total series —
    * "does the level mean-revert or wander": OLS of `Δy_t` on `y_{t−1}`
    * (with intercept); a coefficient near 0 (t-stat above the DF
    * critical values) reads as a unit root, strongly negative as
    * mean-reversion. The lag-0 (non-augmented) form, documented — the
    * decision input for differencing before the q167/q294 forecast
    * family.
    *
    * Exactness: both regressor (`y_{t−1}`) and response (`Δy`) are
    * exact 6-dp longs off the daily fold; all five OLS moments are
    * exact DECIMAL sums; β, the regression variance and the t-stat are
    * one double expression at the end. One row:
    * `(n_obs, beta, t_stat)` — β per unit level at 6 dp, t at 4 dp. */
  def dickeyFuller(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val w = Window.orderBy(col("day"))
    val obs = daily
      .withColumn("__prev", lag(col("yq"), 1).over(w))
      .where(col("__prev").isNotNull)
      .select(col("__prev").as("x"), (col("yq") - col("__prev")).as("dy"))
    val mom = obs.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("dy"))).as("sy"),
      sum(xprod(col("x"), col("dy"))).as("sxy"),
      sum(xprod(col("x"), col("x"))).as("sxx"),
      sum(xprod(col("dy"), col("dy"))).as("syy"))
    mom.select(col("n").as("n_obs"), round({
        val n = col("n").cast("double")
        val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
        val sxx = col("sxx").cast("double")
        val sxy = col("sxy").cast("double")
        when(n * sxx - sx * sx > 0,
          (n * sxy - sx * sy) / (n * sxx - sx * sx))
      }, 6).as("beta"),
      round({
        val n = col("n").cast("double")
        val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
        val sxx = col("sxx").cast("double"); val sxy = col("sxy").cast("double")
        val syy = col("syy").cast("double")
        val den = n * sxx - sx * sx
        val b = (n * sxy - sx * sy) / den
        // RSS = Syy_c − b·Sxy_c over the centered sums (×n scaling
        // cancels in the t ratio); s² = RSS/(n−2), se² = s²·n/den
        val sxyC = n * sxy - sx * sy
        val syyC = n * syy - sy * sy
        val rss = syyC - b * sxyC
        when(den > 0 && col("n") > 2 && rss > 0,
          b / sqrt(rss / (n - 2) / den))
      }, 4).as("t_stat"))
  }

  /** Lead-lag cross-correlation function between the DAILY event count
    * and the daily value total: `r_k = corr(count_t, value_{t+k})` for
    * `k ∈ [−maxLag, maxLag]` — does volume LEAD value (positive-lag
    * peak) or follow it; the bivariate companion of [[lagAutocorr]].
    * Each lag's Pearson runs over its own overlap window with full
    * per-lag exact moments (no shared-mean approximation). One row per
    * lag: `(lag, n, r)` at 6 dp, ordered by lag.
    *
    * Scale shape: corpus folds to days once; the lag fan-out is a
    * days×(2·maxLag+1) self-join on the dense day index. */
  def crossCorrelation(df: DataFrame, tsCol: String, valueCol: String,
                       maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"),
        sum(round(col(valueCol) * lit(1000000)).cast("long")).as("y"))
    val idx = daily.withColumn("t",
      row_number().over(Window.orderBy(col("day"))))
    val lags = df.sparkSession.range(-maxLag, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val joined = idx.select(col("t"), col("x"))
      .crossJoin(broadcast(lags))
      .join(idx.select((col("t")).as("t2"), col("y").as("y2")),
        col("t") + col("lag") === col("t2"))
    def d(c: Column) = c.cast("decimal(38,0)")
    joined.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("x"))).as("sx"), sum(d(col("y2"))).as("sy"),
        sum(d(col("x")) * d(col("y2"))).as("sxy"),
        sum(d(col("x")) * d(col("x"))).as("sxx"),
        sum(d(col("y2")) * d(col("y2"))).as("syy"))
      .select(col("lag"), col("n"), round({
        val n = col("n").cast("double")
        val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
        val cov = n * col("sxy").cast("double") - sx * sy
        val vx = n * col("sxx").cast("double") - sx * sx
        val vy = n * col("syy").cast("double") - sy * sy
        when(vx > 0 && vy > 0, cov / sqrt(vx * vy))
      }, 6).as("r"))
      .orderBy(col("lag"))
  }

  /** Wald-Wolfowitz runs test on the SIGNS of day-over-day changes of
    * the daily total — "is the series' direction random, or does it
    * streak/alternate": too few runs = momentum, too many = mean
    * reversion; the distribution-free cousin of [[lagAutocorr]] (which
    * measures magnitude, not direction). Zero diffs drop (standard).
    * `z = (R − E)/√V` with `E = 2·n₊·n₋/n + 1`,
    * `V = (E−1)(E−2)/(n−1)`. One row: `(n_pos, n_neg, runs, z)` at 4 dp.
    *
    * Scale shape: corpus folds to days; sign/lag/run windows all run on
    * the days-bounded frame (the [[ljungBox]] bound). */
  def runsTest(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val w = Window.orderBy(col("day"))
    val signs = daily
      .withColumn("__d", col("yq") - lag(col("yq"), 1).over(w))
      .where(col("__d").isNotNull && col("__d") =!= 0)
      .select(col("day"), signum(col("__d")).cast("int").as("s"))
    val runs = signs
      .withColumn("__chg",
        when(lag(col("s"), 1).over(w).isNull ||
          lag(col("s"), 1).over(w) =!= col("s"), 1L).otherwise(0L))
    runs.agg(
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("s") === -1, 1L).otherwise(0L)).as("n_neg"),
        sum(col("__chg")).as("runs"))
      .select(col("n_pos"), col("n_neg"), col("runs"),
        round({
          val np = col("n_pos").cast("double"); val nn = col("n_neg").cast("double")
          val n = np + nn
          val e = lit(2.0) * np * nn / n + 1
          val v = (e - 1) * (e - 2) / (n - 1)
          when(v > 0, (col("runs").cast("double") - e) / sqrt(v))
        }, 4).as("z"))
  }

  /** Holt double-exponential smoothing (level + trend) of the daily
    * total series — the adaptive-forecast sibling of the global OLS
    * family (q167/q277): `l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1})`,
    * `b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}`, initialized `l_1 = y_1`,
    * `b_1 = y_2 − y_1`. Both states are pinned to 6 dp at every step,
    * so the recursion is exact integer-in/integer-out arithmetic around
    * one IEEE expression per step — engine-reproducible by
    * construction.
    *
    * The recursion is inherently sequential, so it runs on the DRIVER
    * over the collected daily frame — a documented-bounded finisher
    * (days of the study window, the same bound every operator in this
    * family folds to; the corpus-scale work is the one daily
    * aggregate). Output per day `t ≥ 2`:
    * `(day, y, level, trend, fitted)` at 6 dp — `fitted` is the
    * one-step-ahead forecast `l_{t−1} + b_{t−1}`. */
  /** Discrete-Fourier periodogram over the per-group daily series: for
    * each candidate period p, the spectral power share — the
    * FREQUENCY-domain seasonality readout next to [[seasonalityScan]]'s
    * phase-ANOVA (that one asks "do phase-class means differ"; this one
    * measures how much of the series' spectral mass sits at each
    * period, and resolves non-integer-phase structure the class means
    * smear). Mean removal is exact (`y' = n·y_d − Σy` — the n-scaled
    * centered series, no double subtraction); each `y'·cos/sin` term is
    * pinned to a COARSE 1e6-granular long (the trig values are libm,
    * engine-equal to ~1 ulp; the coarse quantum makes the pinned term
    * identical with overwhelming margin), so `C_p`/`S_p` are exact sums
    * and `share = (C²+S²)/Σ_p(C²+S²)` is one exact-integer division.
    *
    * Output per (group, period 2..maxP): `(group, period, power_share)`
    * at 6 dp, ordered. Scale: one corpus fold to (group, day); the
    * period explode lives on the days×periods frame. */
  def periodogram(df: DataFrame, groupCol: String, tsCol: String,
                  valueCol: String, maxP: Int = 14): DataFrame = {
    require(maxP >= 2, s"need maxP >= 2: $maxP")
    val daily = df
      .groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("vq"))
    val wg = Window.partitionBy(col("g"))
    val centered = daily
      .withColumn("di", datediff(col("day"), min(col("day")).over(wg)))
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("s", sum(col("vq")).over(wg))
      .withColumn("yp", col("n") * col("vq") - col("s"))
    val terms = centered
      .withColumn("p", explode(sequence(lit(2), lit(maxP))))
      .select(col("g"), col("p"),
        round(col("yp").cast("double") *
          cos(lit(2.0 * math.Pi) * col("di") / col("p")) / 1e6)
          .cast("long").as("c6"),
        round(col("yp").cast("double") *
          sin(lit(2.0 * math.Pi) * col("di") / col("p")) / 1e6)
          .cast("long").as("s6"))
    val pw = terms.groupBy(col("g"), col("p"))
      .agg(sum(col("c6")).as("cp"), sum(col("s6")).as("sp"))
      .select(col("g"), col("p"),
        (col("cp").cast("decimal(38,0)") * col("cp").cast("decimal(38,0)") +
          col("sp").cast("decimal(38,0)") * col("sp").cast("decimal(38,0)"))
          .as("pow"))
    val wTot = Window.partitionBy(col("g"))
    pw.withColumn("tot", sum(col("pow")).over(wTot))
      .select(col("g").as(groupCol), col("p").cast("long").as("period"),
        round(when(col("tot") > 0,
          col("pow").cast("double") / col("tot").cast("double")), 6)
          .as("power_share"))
      .orderBy(col(groupCol), col("period"))
  }

  /** Spectral entropy of the daily series per group — the one-number
    * "how concentrated is the rhythm" readout over [[periodogram]]'s
    * power spectrum: H = −Σ p_i·ln(p_i) / ln(m) over the m = maxP−1
    * period shares (0 = a pure tone, 1 = white noise), plus the peak
    * period and its share. The regularity score a forecasting pipeline
    * uses to route series between seasonal and non-seasonal models.
    *
    * Determinism: shares are the 6-dp-pinned `pow/tot` ratios (exact
    * DECIMAL power sums, identical division on both engines) BEFORE ln
    * touches them, so both engines take ln of bit-identical doubles;
    * zero shares contribute zero. Same scale shape as [[periodogram]]:
    * day-fold, ≤(maxP−1)×groups bounded frames. Peak ties break toward
    * the smaller period. Output per group:
    * `(group, spec_entropy, peak_period, peak_share)`. */
  def spectralEntropy(df: DataFrame, groupCol: String, tsCol: String,
                      valueCol: String, maxP: Int = 14): DataFrame = {
    require(maxP >= 3, s"need maxP >= 3: $maxP")
    val daily = df
      .groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("vq"))
    val wg = Window.partitionBy(col("g"))
    val centered = daily
      .withColumn("di", datediff(col("day"), min(col("day")).over(wg)))
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("s", sum(col("vq")).over(wg))
      .withColumn("yp", col("n") * col("vq") - col("s"))
    val terms = centered
      .withColumn("p", explode(sequence(lit(2), lit(maxP))))
      .select(col("g"), col("p"),
        round(col("yp").cast("double") *
          cos(lit(2.0 * math.Pi) * col("di") / col("p")) / 1e6)
          .cast("long").as("c6"),
        round(col("yp").cast("double") *
          sin(lit(2.0 * math.Pi) * col("di") / col("p")) / 1e6)
          .cast("long").as("s6"))
    val pw = terms.groupBy(col("g"), col("p"))
      .agg(sum(col("c6")).as("cp"), sum(col("s6")).as("sp"))
      .select(col("g"), col("p"),
        (col("cp").cast("decimal(38,0)") * col("cp").cast("decimal(38,0)") +
          col("sp").cast("decimal(38,0)") * col("sp").cast("decimal(38,0)"))
          .as("pow"))
    val wTot = Window.partitionBy(col("g"))
    val shares = pw.withColumn("tot", sum(col("pow")).over(wTot))
      .select(col("g"), col("p"),
        when(col("tot") > 0,
          round(col("pow").cast("double") / col("tot").cast("double"), 6))
          .otherwise(lit(0.0)).as("sh"))
    // per-period −p·ln p pinned to 12-dp longs (order-free sum); the
    // ln(m) normalizer is a Scala-side literal so both engines divide
    // by the same double
    val lnM = math.log((maxP - 1).toDouble)
    shares.groupBy(col("g"))
      .agg(
        round(sum(round(when(col("sh") > 0, -col("sh") * log(col("sh")))
            .otherwise(lit(0.0)) * lit(1e12)).cast("long")) / lit(1e12) /
          lit(lnM), 6).as("spec_entropy"),
        max(struct(col("sh"), (-col("p")).as("np"))).as("pk"))
      .select(col("g").as(groupCol), col("spec_entropy"),
        (-col("pk.np")).cast("long").as("peak_period"),
        col("pk.sh").as("peak_share"))
      .orderBy(col(groupCol))
  }

  /** OLS influence diagnostics over the daily series — which DAYS bend
    * the [[trendLines]] fit: leverage `h_i = 1/n + (x_i−x̄)²/Sxx`,
    * residual, and Cook's distance
    * `D_i = e_i²·h_i / (p·s²·(1−h_i)²)` (p = 2) per day, with the
    * conventional `D > 4/n` influence flag. The regression-audit sibling
    * of the outlier detectors: an extreme VALUE is not influential
    * unless it also sits at extreme leverage.
    *
    * Exactness: daily totals and day indexes are exact integers; all
    * moments (Σx, Σy, Σxy, Σx², Σy²) are exact DECIMAL sums, so α, β,
    * s² = (Syy_c − β·Sxy_c)/(n−2) and every per-day h/e/D are single
    * double expressions over exact inputs — no cross-row float
    * accumulation. Scale: one corpus day-fold; everything downstream is
    * days-bounded. Output per day
    * `(day, daily_value, leverage, resid, cooks_d, influential)`,
    * 6/4 dp, NULLs when n < 3 or zero x-variance. */
  def olsInfluence(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val d0 = daily.agg(min(col("day")).as("day0"))
    val xd = daily.crossJoin(broadcast(d0))
      .select(col("day"), datediff(col("day"), col("day0")).as("x"), col("yq"))
    val mom = xd.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"),
      sum(dec(col("yq"))).as("sy"),
      sum(xprod(col("x"), col("yq"))).as("sxy"),
      sum(xprod(col("x"), col("x"))).as("sxx"),
      sum(dec(col("yq")) * dec(col("yq"))).as("syy"))
    xd.crossJoin(broadcast(mom))
      .select(Seq(col("day"),
        round(col("yq").cast("double") / 1e6, 6).as("daily_value")) ++ {
          val n = col("n").cast("double")
          val sxc = col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") / n
          val xb = col("sx").cast("double") / n
          val h = lit(1.0) / n + (col("x") - xb) * (col("x") - xb) / sxc
          val beta = (col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double") / n) / sxc
          val alpha = (col("sy").cast("double") -
            beta * col("sx").cast("double")) / n
          val e = col("yq").cast("double") - (alpha + beta * col("x"))
          val syc = col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double") / n
          val sxyc = col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double") / n
          val s2 = (syc - beta * sxyc) / (n - 2)
          val dcook = e * e * h / (lit(2.0) * s2 * (lit(1.0) - h) *
            (lit(1.0) - h))
          val ok = col("n") >= 3 && sxc > 0 && s2 > 0
          Seq(round(when(col("n") >= 2 && sxc > 0, h), 6).as("leverage"),
            round(when(col("n") >= 2 && sxc > 0, e / 1e6), 4).as("resid"),
            round(when(ok, dcook), 6).as("cooks_d"),
            when(ok, dcook > lit(4.0) / n).as("influential"))
        }: _*)
      .orderBy(col("day"))
  }

  def holtLinear(df: DataFrame, tsCol: String, valueCol: String,
                 alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"alpha, beta must be in (0,1): $alpha, $beta")
    val spark = df.sparkSession
    import spark.implicits._
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
      .orderBy(col("day"))
      .collect()
      .map(r => (r.getDate(0), r.getLong(1)))
    if (daily.length < 2)
      return Seq.empty[(java.sql.Date, Double, Double, Double, Double)]
        .toDF("day", "y", "level", "trend", "fitted")
    // half-away-from-zero, matching SQL round() in BOTH engines
    // (Scala's math.round is half-toward-+∞ and diverges on negative .5)
    def pin6(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    var l = daily(0)._2
    var b = daily(1)._2 - daily(0)._2
    val out = daily.drop(1).map { case (day, yq) =>
      val fitted6 = l + b
      val lNew = pin6(alpha * yq + (1 - alpha) * (l + b))
      val bNew = pin6(beta * (lNew - l) + (1 - beta) * b)
      l = lNew; b = bNew
      (day, yq / 1e6, lNew / 1e6, bNew / 1e6, fitted6 / 1e6)
    }
    out.toSeq.toDF("day", "y", "level", "trend", "fitted")
      .select(col("day"), round(col("y"), 6).as("y"),
        round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("fitted"), 6).as("fitted"))
      .orderBy(col("day"))
  }

  /** Seasonal Mann-Kendall (Hirsch & Slack 1984): the MK trend test
    * that a weekly cycle does NOT fool — S and its variance are
    * computed WITHIN each weekday stratum and summed, so Monday is only
    * ever compared to Monday. One row
    * `(n_days, s_stat, var_s, z)` with per-stratum tie-corrected
    * `Var_s = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18` — everything an exact
    * integer until the closing z. Pairs are weekday-stratum-bounded
    * (≤ C(n_s,2)·7 over DAILY totals — days-bounded, never row-bound). */
  def seasonalMannKendall(df: DataFrame, tsCol: String,
                          valueCol: String): DataFrame = {
    val daily = df.groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
      .withColumn("wd", dayofweek(col("day")))
    val a = daily.select(col("wd"), col("day").as("d1"), col("yq").as("y1"))
    val b = daily.select(col("wd"), col("day").as("d2"), col("yq").as("y2"))
    val s = a.join(b, Seq("wd")).filter(col("d1") < col("d2"))
      .agg(sum(signum((col("y2") - col("y1")).cast("double")).cast("long"))
        .as("s_stat"))
    // per-stratum sizes and tie groups (ties = equal daily totals
    // within a weekday stratum)
    val strat = daily.groupBy(col("wd")).agg(count(lit(1)).as("ns"))
      .agg(sum(col("ns")).as("n_days"),
        sum(col("ns") * (col("ns") - 1) * (col("ns") * 2 + 5)).as("vraw"))
    val ties = daily.groupBy(col("wd"), col("yq")).agg(count(lit(1)).as("t"))
      .filter(col("t") >= 2)
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)),
        lit(0L)).as("tsum"))
    s.crossJoin(strat).crossJoin(ties)
      .select(col("n_days"), col("s_stat"),
        round((col("vraw") - col("tsum")).cast("double") / 18.0, 4)
          .as("var_s"),
        round({
          val v = (col("vraw") - col("tsum")).cast("double") / 18.0
          when(v > 0,
            (col("s_stat") - signum(col("s_stat"))).cast("double") / sqrt(v))
        }, 4).as("z"))
  }

  /** Bartels rank von Neumann ratio (Bartels 1982) — the rank-based
    * randomness test over the daily series: `RVN = Σ(R_i − R_{i+1})² /
    * Σ(R_i − R̄)²`; ≈2 under randomness, ≪2 for trending/sticky series,
    * ≫2 for alternating ones. `z = (RVN − 2)/√(4(n−2)(5n²−2n−9) /
    * (5n(n+1)(n−1)²))`. Midranks (doubled) for tied daily totals; the
    * lag pairs ride a days-bounded window. One row `(n_days, rvn, z)`. */
  def bartelsRvn(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val daily = df.groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    // doubled midranks over the days frame via range-frame counts
    val wLt = Window.orderBy(col("yq"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.orderBy(col("yq")).rangeBetween(0, 0)
    val ranked = daily
      .withColumn("r2", count(lit(1)).over(wLt) * 2 + count(lit(1)).over(wEq) + 1)
    val lagged = ranked
      .withColumn("r2next", lead(col("r2"), 1).over(Window.orderBy(col("day"))))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val agg = lagged.agg(count(lit(1)).as("n"),
      sum(d38(col("r2"))).as("sr"),
      sum(d38(col("r2")) * d38(col("r2"))).as("srr"),
      sum(when(col("r2next").isNotNull,
        d38(col("r2") - col("r2next")) * d38(col("r2") - col("r2next")))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("sd4"))
    val n = col("n").cast("double")
    // denominators in doubled units cancel: RVN = Σd2²/Σ(r2 − r̄2)²
    val ssd = col("srr").cast("double") -
      col("sr").cast("double") * col("sr").cast("double") / n
    val rvn = col("sd4").cast("double") / ssd
    val varR = (n - 2) * 4 * (n * n * 5 - n * 2 - 9) /
      ((n * (n + 1) * ((n - 1) * (n - 1))) * 5)
    agg.select(col("n").as("n_days"),
      round(when(ssd > 0, rvn), 6).as("rvn"),
      round(when(ssd > 0 && varR > 0, (rvn - 2) / sqrt(varR)), 4).as("z"))
  }

  /** Cox-Stuart trend sign test — the bluntest possible monotone-trend
    * screen: pair day i with day i+⌈n/2⌉ (the middle day of an odd
    * series is unpaired), count rises among the non-tied pairs, and
    * z-test the count against Binomial(m, ½). One row
    * `(n_days, n_pairs, n_rises, z)`. Days-bounded self-join on the
    * daily frame. */
  def coxStuart(df: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val daily = df.groupBy(date_trunc("day", col(tsCol)).as("day"))
      .agg(sum(round(col(valueCol) * lit(1000000)).cast("long")).as("yq"))
    val idx = daily
      .withColumn("i", row_number().over(Window.orderBy(col("day"))))
      .withColumn("n", count(lit(1)).over(
        Window.orderBy(col("day")).rowsBetween(Long.MinValue, Long.MaxValue)))
    val half = idx.select(expr("(n + 1) div 2").as("m"), col("n")).limit(1)
    val pairs = idx.alias("x").crossJoin(broadcast(half.alias("h")))
      .join(idx.alias("y"),
        col("y.i") === col("x.i") + col("h.m"))
      .select(col("x.n").as("n"),
        (col("y.yq") - col("x.yq")).as("d"))
    pairs.agg(max(col("n")).as("n_days"),
        sum(when(col("d") =!= 0, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_rises"))
      .select(col("n_days"), col("n_pairs"), col("n_rises"),
        round(when(col("n_pairs") > 0,
          (col("n_rises") * 2 - col("n_pairs")).cast("double") /
            sqrt(col("n_pairs").cast("double"))), 4).as("z"))
  }
}
