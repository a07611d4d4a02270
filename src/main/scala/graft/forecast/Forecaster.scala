package graft.forecast

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.sql.Date
import java.time.LocalDate

/** Time-series forecaster replacing the reference's Prophet model
  * (src/time_series.py:7-67, orchestration data_processor.py:73-231).
  *
  * Model class: OLS on [intercept, t, day-of-week one-hots] — linear
  * trend + weekly seasonality, which is exactly Prophet's effective
  * model for a short daily series (Taylor & Letham, "Forecasting at
  * Scale", 2017: piecewise-linear trend + Fourier weekly terms; with
  * ~10 points Prophet disables yearly seasonality and fits one trend
  * segment). A tiny ridge term keeps the normal equations solvable
  * when the series is shorter than the feature count.
  *
  * Unlike the reference (which fits on synthetic dates ending "today",
  * time_series.py:21 — nondeterministic), we fit on the series' real
  * dates, so day-of-week effects attach to the actual calendar.
  *
  * The input is one row per day (≤ thousands of rows for years of
  * data): collect-to-driver is the correct distributed design here —
  * the heavy work (building the daily summary from raw events) already
  * ran as distributed aggregation upstream.
  */
object Forecaster {

  final case class Model(coef: Array[Double]) {
    def predict(t: Int, date: LocalDate): Double =
      coef(0) + coef(1) * t + {
        val dow = date.getDayOfWeek.getValue % 7 // Sun=0..Sat=6
        if (dow == 0) 0.0 else coef(1 + dow)
      }
  }

  final case class Metrics(mae: Double, mse: Double)

  private val nFeatures = 8 // intercept, t, dow 1..6 (Sunday baseline)

  private def features(t: Int, date: LocalDate): Array[Double] = {
    val x = new Array[Double](nFeatures)
    x(0) = 1.0
    x(1) = t.toDouble
    val dow = date.getDayOfWeek.getValue % 7
    if (dow != 0) x(1 + dow) = 1.0
    x
  }

  /** Fit by ridge-regularized normal equations, solved with Gaussian
    * elimination + partial pivoting (8×8 — driver-side by design). */
  def fit(dates: Array[LocalDate], y: Array[Double], ridge: Double = 1e-4): Model = {
    require(dates.length == y.length && y.nonEmpty, "non-empty equal-length series required")
    val n = y.length
    val xtx = Array.fill(nFeatures, nFeatures)(0.0)
    val xty = new Array[Double](nFeatures)
    var i = 0
    while (i < n) {
      val x = features(i, dates(i))
      var a = 0
      while (a < nFeatures) {
        xty(a) += x(a) * y(i)
        var b = 0
        while (b < nFeatures) { xtx(a)(b) += x(a) * x(b); b += 1 }
        a += 1
      }
      i += 1
    }
    var d = 0
    while (d < nFeatures) { xtx(d)(d) += ridge; d += 1 }
    Model(solve(xtx, xty))
  }

  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      val tb = b(col); b(col) = b(piv); b(piv) = tb
      val p = a(col)(col)
      require(math.abs(p) > 1e-12, "singular system (increase ridge)")
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / p
        var c = col
        while (c < n) { a(r)(c) -= f * a(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](n)
    var r = n - 1
    while (r >= 0) {
      var s = b(r)
      var c = r + 1
      while (c < n) { s -= a(r)(c) * x(c); c += 1 }
      x(r) = s / a(r)(r)
      r -= 1
    }
    x
  }

  /** In-sample MAE/MSE (reference get_metrics, time_series.py:45-67). */
  def metrics(m: Model, dates: Array[LocalDate], y: Array[Double]): Metrics = {
    val errs = y.indices.map(i => y(i) - m.predict(i, dates(i)))
    Metrics(
      mae = errs.map(math.abs).sum / errs.length,
      mse = errs.map(e => e * e).sum / errs.length)
  }

  /** Forecast the next `horizon` days of sales and profit from a daily
    * summary (schema contract: date, total_sales, total_profit —
    * reference forecast_sales_and_profits, data_processor.py:73-95;
    * output dates = last date + 1..horizon, data_processor.py:205-207).
    */
  def forecast(dailySummary: DataFrame, horizon: Int = 1): DataFrame =
    forecastWithMetrics(dailySummary, horizon).forecast

  final case class Result(forecast: DataFrame,
      salesMetrics: Metrics, profitMetrics: Metrics)

  /** Forecast plus the in-sample MAE/MSE of both fitted models — the
    * reporting surface the reference prints per model after training
    * (data_processor.py:118-142 via time_series.py get_metrics). */
  def forecastWithMetrics(dailySummary: DataFrame, horizon: Int = 1): Result = {
    val spark = dailySummary.sparkSession
    // one row per day: sorted on the driver, not by a range-sort job
    val rows = dailySummary.select("date", "total_sales", "total_profit")
      .collect().sortBy(_.getDate(0).toLocalDate.toEpochDay)
    require(rows.nonEmpty, "empty daily summary")
    val dates = rows.map(_.getDate(0).toLocalDate)
    val sales = rows.map(_.getDouble(1))
    val profit = rows.map(_.getDouble(2))
    val mSales = fit(dates, sales)
    val mProfit = fit(dates, profit)
    val last = dates.last
    val n = dates.length
    val out = (1 to horizon).map { h =>
      val d = last.plusDays(h)
      Row(Date.valueOf(d), mSales.predict(n - 1 + h, d), mProfit.predict(n - 1 + h, d))
    }
    val fc = spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      StructType(Seq(
        StructField("date", DateType),
        StructField("forecasted_sales", DoubleType),
        StructField("forecasted_profit", DoubleType))))
    Result(fc, metrics(mSales, dates, sales), metrics(mProfit, dates, profit))
  }
}
