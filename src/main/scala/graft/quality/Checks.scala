package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Parallel

/** Data-quality checks — ports all 37 declared tests: 35 generic
  * (`dbt/models/{staging,intermediate,marts}/schema.yml`) + 2 singular
  * (`dbt/tests/marts/assert_*.sql`).
  *
  * Each check is declared ONCE, in [[all]], as the model frame it reads
  * plus a failing-aggregate column: true when the test fails. A row
  * check fails when any row violates its predicate; `assert_positive_fare`
  * fails when violating rows are more than 5% of all rows. The same
  * declaration also yields the dbt-convention view of the test, the
  * frame of VIOLATING rows (`dbt test` fails when the compiled SELECT is
  * non-empty, SURVEY.md §3 entry point 3); the public helpers below
  * return exactly those frames.
  *
  * [[failed]] evaluates a whole check set with one `agg(...).head()` per
  * distinct model — all the failing columns over that model side by side
  * — so running every check over one model costs one pass over it, not
  * one job per check, and the per-model aggregates run concurrently.
  */
object Checks {

  /** One declared test over `model`. `failing` is an aggregate over the
    * model that is true when the test fails (NULL counts as passing,
    * like a filter's NULL predicate). `violations` is the test's frame
    * of violating rows, built on first use. */
  final class Check(val name: String, val model: DataFrame, val failing: Column,
                    violationsOf: => DataFrame) {
    lazy val violations: DataFrame = violationsOf
    def passed: Boolean = violations.isEmpty
  }

  // ---- row predicates: a row violates the test when this is TRUE ----

  private def isNull(column: String): Column = col(column).isNull

  private def notAccepted(column: String, values: Seq[String]): Column =
    !col(column).isin(values: _*)

  private def outOfRange(column: String, min: Option[Double] = None,
                         max: Option[Double] = None): Column = {
    val c = col(column)
    val conds: Seq[Column] =
      min.map(m => c < m).toSeq ++ max.map(m => c > m).toSeq
    c.isNotNull && conds.reduce(_ || _)
  }

  private val invalidSpeed: Column =
    col("avg_speed_mph") <= 0 || col("avg_speed_mph") > 100

  private val nonPositiveFare: Column =
    col("fare_amount") <= 0 || col("total_amount") <= 0

  /** `assert_positive_fare`'s share of problem rows, in percent — the
    * reference's `problem_count * 100.0 / total_count`. */
  private def problemPercentage(problem: Column, total: Column): Column =
    problem * 100.0 / total

  private val maxProblemPercentage = 5.0

  /** Generic test: `not_null` — violating rows have a null column. */
  def notNull(df: DataFrame, column: String): DataFrame =
    df.filter(isNull(column))

  /** Generic test: `accepted_values`. dbt compiles this to
    * `GROUP BY col HAVING col NOT IN (...)` where a NULL passes under
    * three-valued logic (nullability is the separate `not_null` test), so
    * NULL rows are NOT violations here. */
  def acceptedValues(df: DataFrame, column: String, values: Seq[String]): DataFrame =
    df.filter(notAccepted(column, values))

  /** Generic test: `dbt_utils.accepted_range` (inclusive bounds; null
    * passes, matching dbt_utils' `where column is not null` template). */
  def acceptedRange(df: DataFrame, column: String,
                    min: Option[Double] = None, max: Option[Double] = None): DataFrame =
    df.filter(outOfRange(column, min, max))

  /** Singular: `assert_positive_fare.sql` — fails only if >5% of fct_trips
    * rows have non-positive fare/total. The two global aggregates are
    * single-row, combined via the reference's 1×1 implicit cross join (J1,
    * SURVEY §2.3) — the only join in the platform. */
  def assertPositiveFare(fctTrips: DataFrame): DataFrame = {
    // Both counts come from ONE aggregate over the input — a conditional
    // count and count(*) in the same pass — so the (possibly expensive)
    // upstream chain is scanned once, not once per side. The 1-row result
    // is collected and rebuilt as two local 1-row frames so the output
    // keeps the reference's 1×1 implicit cross-join shape (J1) with
    // nothing left persisted after the call.
    val spark = fctTrips.sparkSession
    import spark.implicits._
    val row = fctTrips.agg(count_if(nonPositiveFare), count(lit(1))).head()
    val problem = Seq(row.getLong(0)).toDF("problem_count")
    val total = Seq(row.getLong(1)).toDF("total_count")
    problem.crossJoin(total)
      .withColumn("problem_percentage",
        problemPercentage(col("problem_count"), col("total_count")))
      .filter(col("problem_percentage") > maxProblemPercentage)
  }

  /** Singular: `assert_valid_speed.sql` — any row with speed <= 0 or > 100. */
  def assertValidSpeed(fctTrips: DataFrame): DataFrame =
    fctTrips.filter(invalidSpeed)

  /** A check that fails when any row of `model` matches `violating`. */
  private def rowCheck(name: String, model: DataFrame, violating: Column): Check =
    new Check(name, model, count_if(violating) > 0, model.filter(violating))

  private val taxiTypes = Seq("yellow", "green", "fhv", "fhvhv")
  private val timesOfDay = Seq("Morning", "Afternoon", "Evening", "Night")

  /** All 37 declared tests over the built models, keyed by layer. Builds
    * frames only; nothing executes until a check is evaluated. */
  def all(stgYellow: DataFrame, unified: DataFrame, enriched: DataFrame,
          cleaned: DataFrame, fct: DataFrame, daily: DataFrame,
          monthly: DataFrame): Seq[Check] = {

    // staging (12) — declared on the yellow model only (schema.yml:8-63)
    val staging =
      Seq("trip_id", "vendor_id", "pickup_datetime", "dropoff_datetime",
        "pickup_location_id", "dropoff_location_id", "trip_distance_miles",
        "total_amount", "year", "month")
        .map(c => rowCheck(s"stg_yellow.$c.not_null", stgYellow, isNull(c))) ++
      Seq("trip_distance_miles", "total_amount")
        .map(c => rowCheck(s"stg_yellow.$c.accepted_range_min0",
          stgYellow, outOfRange(c, min = Some(0))))

    // intermediate (9) — schema.yml:4-45
    val intermediate = Seq(
      rowCheck("int_unified.trip_id.not_null", unified, isNull("trip_id")),
      rowCheck("int_unified.taxi_type.not_null", unified, isNull("taxi_type")),
      rowCheck("int_unified.taxi_type.accepted_values",
        unified, notAccepted("taxi_type", taxiTypes)),
      rowCheck("int_unified.pickup_datetime.not_null", unified, isNull("pickup_datetime")),
      rowCheck("int_enriched.trip_id.not_null", enriched, isNull("trip_id")),
      rowCheck("int_enriched.is_high_quality_trip.not_null",
        enriched, isNull("is_high_quality_trip")),
      rowCheck("int_enriched.time_of_day.accepted_values",
        enriched, notAccepted("time_of_day", timesOfDay)),
      rowCheck("int_enriched.pickup_hour.accepted_range_0_23",
        enriched, outOfRange("pickup_hour", min = Some(0), max = Some(23))),
      rowCheck("int_cleaned.trip_id.not_null", cleaned, isNull("trip_id")))

    // marts (14) — schema.yml:4-87
    val marts = Seq(
      rowCheck("fct_trips.trip_id.not_null", fct, isNull("trip_id")),
      rowCheck("fct_trips.taxi_type.not_null", fct, isNull("taxi_type")),
      rowCheck("fct_trips.taxi_type.accepted_values",
        fct, notAccepted("taxi_type", taxiTypes)),
      rowCheck("fct_trips.pickup_datetime.not_null", fct, isNull("pickup_datetime")),
      rowCheck("fct_trips.is_high_quality_trip.not_null",
        fct, isNull("is_high_quality_trip")),
      rowCheck("fct_daily.trip_date.not_null", daily, isNull("trip_date")),
      rowCheck("fct_daily.taxi_type.not_null", daily, isNull("taxi_type")),
      rowCheck("fct_daily.total_trips.not_null", daily, isNull("total_trips")),
      rowCheck("fct_daily.total_trips.accepted_range_min0",
        daily, outOfRange("total_trips", min = Some(0))),
      rowCheck("fct_monthly.year.not_null", monthly, isNull("year")),
      rowCheck("fct_monthly.month.not_null", monthly, isNull("month")),
      rowCheck("fct_monthly.taxi_type.not_null", monthly, isNull("taxi_type")),
      rowCheck("fct_monthly.total_trips.not_null", monthly, isNull("total_trips")),
      rowCheck("fct_monthly.total_trips.accepted_range_min0",
        monthly, outOfRange("total_trips", min = Some(0))))

    // singular (2) — dbt/tests/marts/
    val singular = Seq(
      new Check("assert_positive_fare", fct,
        problemPercentage(count_if(nonPositiveFare), count(lit(1))) > maxProblemPercentage,
        assertPositiveFare(fct)),
      rowCheck("assert_valid_speed", fct, invalidSpeed))

    staging ++ intermediate ++ marts ++ singular
  }

  /** Names of the failing checks, in declaration order: one aggregate
    * action per distinct model (told apart by identity — [[all]] shares
    * one frame among a model's checks), the actions run concurrently.
    * Agrees with `!violations.isEmpty` check by check. */
  def failed(checks: Seq[Check]): Seq[String] = {
    val models = checks.foldLeft(Vector.empty[DataFrame]) { (ms, c) =>
      if (ms.exists(_ eq c.model)) ms else ms :+ c.model }
    val verdicts = Parallel.all(models.map { m => () =>
      val own = checks.filter(_.model eq m)
      val row = m.agg(own.head.failing, own.tail.map(_.failing): _*).head()
      own.zipWithIndex.map { case (c, i) => c -> (!row.isNullAt(i) && row.getBoolean(i)) }
    }).flatten
    val failing = verdicts.collect { case (c, true) => c }.toSet
    checks.filter(failing).map(_.name)
  }
}
