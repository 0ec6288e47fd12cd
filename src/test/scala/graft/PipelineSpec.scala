package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Intermediate, Marts, Staging}
import graft.quality.Checks
import graft.schema.TaxiSchemas
import graft.write.IncrementalWriter

/** End-to-end semantics of the medallion pipeline on the edge-case
  * fixtures (SURVEY §7.2 slice and beyond). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val sy = Staging.yellow(TaxiFixturesData.rawYellow(spark))
  private lazy val sg = Staging.green(TaxiFixturesData.rawGreen(spark))
  private lazy val sf = Staging.fhv(TaxiFixturesData.rawFhv(spark))
  private lazy val sh = Staging.fhvhv(TaxiFixturesData.rawFhvhv(spark))
  private lazy val uni = Intermediate.unify(sy, sg, sf, sh)
  private lazy val enr = Intermediate.enrich(uni)
  private lazy val cln = Intermediate.clean(enr)
  private lazy val fct = Marts.fctTrips(cln)

  test("staging validity filter drops exactly the declared bad rows") {
    // yellow: 30 rows, 6 invalid (null ts ×2, equal ts, reversed ts,
    // negative distance, negative total)
    assert(sy.count() == TaxiFixturesData.yellowRows.size - 6)
    assert(sg.count() == TaxiFixturesData.greenRows.size - 1)
    assert(sf.count() == TaxiFixturesData.fhvRows.size - 1)
    assert(sh.count() == TaxiFixturesData.fhvhvRows.size - 1)
  }

  test("unified schema matches the declared 17-column shape") {
    assert(uni.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      TaxiSchemas.unified.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("duplicate (pickup, pu, do) triples share one trip_id") {
    val dupes = sy.groupBy("trip_id").count().filter($"count" > 1)
    assert(dupes.count() == 1) // the intentional duplicate pair
  }

  test("enrichment formulas on a known row") {
    val r = enr.filter($"trip_id".isNotNull &&
        $"pickup_datetime" === java.sql.Timestamp.valueOf("2024-01-01 07:00:00") &&
        $"passenger_count" === 2.0)
      .select("trip_duration_seconds", "trip_duration_minutes",
        "trip_duration_hours", "avg_speed_mph", "cost_per_mile",
        "cost_per_minute", "pickup_hour", "pickup_day_of_week",
        "pickup_day_name", "time_of_day").head()
    assert(r.getLong(0) == 1800L)
    assert(r.getLong(1) == 30L)
    assert(r.getDouble(2) == 0.5)
    assert(r.getDouble(3) == 10.0)   // 5 mi / 0.5 h
    assert(r.getDouble(4) == 5.0)    // 25 / 5
    assert(r.getDouble(5) == 0.83)   // 25 / 30 rounded
    assert(r.getInt(6) == 7)
    assert(r.getInt(7) == 1)         // Monday
    assert(r.getString(8) == "Monday")
    assert(r.getString(9) == "Morning")
  }

  test("cleaned keeps null-speed rows regardless of quality (P4 precedence)") {
    // zero-distance yellow trip: null speed, quality irrelevant → kept
    val nullSpeed = cln.filter($"avg_speed_mph".isNull)
    assert(nullSpeed.count() > 0)
    // all fhv rows have null speed → all kept
    assert(cln.filter($"taxi_type" === "fhv").count() == sf.count())
    // the 90mph trip is dropped
    assert(cln.filter($"trip_distance_miles" === 90.0).count() == 0)
    // invalid-duration WITH non-null speed is dropped (59s trip at 0.5mi has speed>0)
    assert(cln.filter($"trip_duration_seconds" === 59).count() == 0)
  }

  test("fct_trips has the declared 30 columns in order") {
    assert(fct.columns.length == 30)
    assert(fct.columns.take(4).toSeq ==
      Seq("trip_id", "taxi_type", "pickup_location_id", "dropoff_location_id"))
    assert(fct.columns.last == "loaded_at")
  }

  test("fct_trips_daily aggregates a hand-checked group") {
    val daily = Marts.fctTripsDaily(fct)
    val r = daily.filter($"trip_date" === "2024-01-01" && $"taxi_type" === "yellow").head()
    // 2024-01-01 yellow: the 07:00 clean trip + its key-duplicate
    assert(r.getAs[Long]("total_trips") == 2L)
    assert(r.getAs[Long]("unique_pickup_locations") == 1L)
    assert(r.getAs[Double]("total_distance_miles") == 11.0)
    assert(r.getAs[Long]("trips_morning") == 2L)
    assert(r.getAs[Long]("trips_night") == 0L)
  }

  test("fct_trips_monthly pct columns and month_start_date") {
    val monthly = Marts.fctTripsMonthly(fct)
    val r = monthly.filter($"year" === 2024 && $"month" === 1 && $"taxi_type" === "fhv").head()
    assert(r.getAs[java.sql.Date]("month_start_date").toString == "2024-01-01")
    assert(r.getAs[Long]("total_trips") == 2L)
    // fhv pickups: 08:00 Morning + 14:00 Afternoon → 50/50
    assert(r.getAs[Double]("pct_morning") == 50.0)
    assert(r.getAs[Double]("pct_afternoon") == 50.0)
    assert(r.getAs[Double]("pct_weekend") == 0.0)
  }

  test("all 37 quality checks pass on the built models") {
    val daily = Marts.fctTripsDaily(fct)
    val monthly = Marts.fctTripsMonthly(fct)
    val checks = Checks.all(sy, uni, enr, cln, fct, daily, monthly)
    assert(checks.size == 37)
    val failed = checks.filterNot(_.passed).map(_.name)
    assert(failed.isEmpty, s"failed checks: $failed")
  }

  test("lineage doc renders every model node and the full check inventory") {
    val daily = Marts.fctTripsDaily(fct)
    val monthly = Marts.fctTripsMonthly(fct)
    val names = Checks.all(sy, uni, enr, cln, fct, daily, monthly).map(_.name)
    val doc = graft.tools.Lineage.render(names)
    Seq("raw_yellow", "stg_yellow", "stg_green", "stg_fhv", "stg_fhvhv",
      "int_unified", "int_enriched", "int_cleaned",
      "fct_trips", "fct_daily", "fct_monthly").foreach(m =>
      assert(doc.contains(m), s"lineage doc missing node $m"))
    // every check appears as a table row
    names.foreach { n =>
      val model = n.split("\\.", 2).head
      assert(doc.contains(s"| $model |"), s"lineage doc missing check row for $n")
    }
    assert(doc.contains("mermaid"))
    // the DAG edge set mirrors buildModels wiring arity: 4 raw→stg, 4
    // stg→unified, 3 chain edges, fct→daily+monthly = 13 edges
    assert(graft.tools.Lineage.edges.flatMap(_._2).size == 13)
  }

  test("overwritePartitions is dynamic per write: static session conf keeps untouched partitions and is left as it was") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val path = Files.createTempDirectory("graft_dyn_ow").toString + "/t"
    IncrementalWriter.appendPartitioned(sy, path)
    val months = sy.select("month").distinct().as[Int].collect().sorted
    assert(months.length >= 2, "fixture precondition: two months")
    val (untouched, touched) = (months.head, months.last)
    def filesOf(m: Int): Set[String] =
      Option(new java.io.File(s"$path/year=2024/month=$m").listFiles()).toSeq.flatten
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val before = filesOf(untouched)
    assert(before.nonEmpty)
    spark.conf.set(key, "static")
    try {
      IncrementalWriter.overwritePartitions(spark, sy.filter($"month" === touched), path)
      assert(filesOf(untouched) == before, "a static overwrite truncated an untouched partition")
      assert(spark.conf.get(key) == "static")
    } finally spark.conf.unset(key)
    assert(spark.read.parquet(path).count() == sy.count())
  }

  private val feeds = Seq("yellow", "green", "fhv", "fhvhv")

  private def rawFixture(feed: String): DataFrame = feed match {
    case "yellow" => TaxiFixturesData.rawYellow(spark)
    case "green" => TaxiFixturesData.rawGreen(spark)
    case "fhv" => TaxiFixturesData.rawFhv(spark)
    case "fhvhv" => TaxiFixturesData.rawFhvhv(spark)
  }

  /** A warehouse whose raw tables hold the fixture feeds. */
  private def landedLayout(name: String,
                           raw: String => DataFrame = rawFixture): Pipeline.Layout = {
    val layout = Pipeline.Layout(Files.createTempDirectory(name).toString)
    feeds.foreach(f => IncrementalWriter.appendPartitioned(raw(f), layout.raw(f)))
    layout
  }

  private def sameRows(got: DataFrame, want: DataFrame): Boolean = {
    val stamps = Seq("loaded_at", "created_at")
    val w = want.drop(stamps: _*)
    val g = got.select(w.columns.map(col).toIndexedSeq: _*)
    g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty
  }

  test("Pipeline.run: cold run and rerun return the per-check verdicts and write buildModels' marts") {
    val layout = landedLayout("graft_run")
    val raws = feeds.map(f => spark.read.parquet(layout.raw(f)))
    val b = Pipeline.buildModels(raws(0), raws(1), raws(2), raws(3))
    val expected = Checks.all(b.stgYellow, b.unified, b.enriched, b.cleaned,
      b.fctTrips, b.fctDaily, b.fctMonthly).filterNot(_.violations.isEmpty).map(_.name)
    def stagingCounts = feeds.map(f => spark.read.parquet(layout.staging(f)).count())
    def martsMatch(): Unit = Seq(
      "fct_trips" -> b.fctTrips, "fct_trips_daily" -> b.fctDaily,
      "fct_trips_monthly" -> b.fctMonthly).foreach { case (m, want) =>
      assert(sameRows(spark.read.parquet(layout.mart(m)), want), s"mart $m differs from buildModels")
    }

    assert(Pipeline.run(spark, layout) == expected)
    martsMatch()
    val cold = stagingCounts
    assert(cold == Seq(b.stgYellow, b.stgGreen, b.stgFhv, b.stgFhvhv).map(_.count()))

    // the rerun re-stages the latest month of every feed at once: the
    // concurrent delete+inserts must leave each staging table as it was
    assert(Pipeline.run(spark, layout) == expected)
    assert(stagingCounts == cold)
    martsMatch()
  }

  test("Pipeline.run rethrows a staging worker's own exception and leaves no pool thread") {
    val layout = landedLayout("graft_run_fail", {
      case "green" => TaxiFixturesData.rawGreen(spark).drop("lpep_dropoff_datetime")
      case f => rawFixture(f)
    })
    val e = intercept[AnalysisException](Pipeline.run(spark, layout))
    assert(e.getMessage.contains("dropoff_datetime"))
    val live = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-parallel-") && t.isAlive)
    assert(live.isEmpty, s"pool threads left running: ${live.map(_.getName)}")
  }

  // ---- Checks.failed (one aggregate per model) against the per-check frames ----

  private lazy val daily = Marts.fctTripsDaily(fct)
  private lazy val monthly = Marts.fctTripsMonthly(fct)

  private final case class Models(sy: DataFrame, uni: DataFrame, enr: DataFrame,
                                  cln: DataFrame, fct: DataFrame, daily: DataFrame,
                                  monthly: DataFrame) {
    def checks: Seq[Checks.Check] = Checks.all(sy, uni, enr, cln, fct, daily, monthly)
  }
  private lazy val base = Models(sy, uni, enr, cln, fct, daily, monthly)

  /** `column` set to `value` on the rows `where` selects. */
  private def set(df: DataFrame, column: String, value: Column, where: Column): DataFrame =
    df.withColumn(column,
      when(where, value.cast(df.schema(column).dataType)).otherwise(col(column)))

  /** `column` set to `value` on the row(s) of the smallest trip_id. */
  private def setOnOneTrip(df: DataFrame, column: String, value: Column): DataFrame =
    set(df, column, value,
      col("trip_id") === df.select(min("trip_id")).head().getString(0))

  /** `rows` copies of one fct_trips row with a positive total, the first
    * `bad` of them with a negative fare. */
  private def fctWithBadFares(rows: Int, bad: Int): DataFrame = {
    val one = spark.createDataFrame(java.util.List.of(fct.head()), fct.schema)
    one.crossJoin(spark.range(rows).withColumnRenamed("id", "_i"))
      .withColumn("fare_amount", when(col("_i") < bad, -1.0).otherwise(10.0))
      .withColumn("total_amount", lit(12.0))
      .drop("_i")
  }

  test("Checks.failed agrees with violations.isEmpty on every check, for every check kind") {
    val cases: Seq[(String, Models, Seq[String])] = Seq(
      ("fixture", base, Nil),
      ("not_null", base.copy(sy = setOnOneTrip(sy, "dropoff_location_id", lit(null))),
        Seq("stg_yellow.dropoff_location_id.not_null")),
      ("accepted_values", base.copy(uni = setOnOneTrip(uni, "taxi_type", lit("bus"))),
        Seq("int_unified.taxi_type.accepted_values")),
      ("accepted_values passes NULL", base.copy(uni = setOnOneTrip(uni, "taxi_type", lit(null))),
        Seq("int_unified.taxi_type.not_null")),
      ("accepted_range below min", base.copy(daily = set(daily, "total_trips", lit(-1),
        col("taxi_type") === "yellow")),
        Seq("fct_daily.total_trips.accepted_range_min0")),
      ("accepted_range above max", base.copy(enr = setOnOneTrip(enr, "pickup_hour", lit(24))),
        Seq("int_enriched.pickup_hour.accepted_range_0_23")),
      ("accepted_range passes NULL", base.copy(enr = setOnOneTrip(enr, "pickup_hour", lit(null))),
        Nil),
      ("assert_valid_speed", base.copy(fct = setOnOneTrip(fct, "avg_speed_mph", lit(150.0))),
        Seq("assert_valid_speed")),
      ("assert_positive_fare at exactly 5%", base.copy(fct = fctWithBadFares(20, 1)), Nil),
      ("assert_positive_fare just above 5%", base.copy(fct = fctWithBadFares(19, 1)),
        Seq("assert_positive_fare")))
    cases.foreach { case (label, models, want) =>
      val checks = models.checks
      assert(checks.size == 37)
      val byFrame = checks.filterNot(_.violations.isEmpty).map(_.name)
      assert(byFrame == want, s"$label: the mutation did not fail exactly $want")
      assert(Checks.failed(checks) == byFrame, s"$label: fused verdicts differ")
    }
  }

  test("Checks.failed over an empty fct_trips fails as the per-check frames do") {
    // 0 problem rows of 0 is 0 * 100.0 / 0: under ANSI arithmetic the
    // positive-fare percentage divides by zero, so both ways of running
    // the checks throw the same error instead of passing
    val empty = fct.filter(col("trip_id") === "no such trip")
    val checks = base.copy(fct = empty, daily = Marts.fctTripsDaily(empty),
      monthly = Marts.fctTripsMonthly(empty)).checks
    def divideByZero(r: Try[Seq[String]]): Boolean = r match {
      case Failure(e: ArithmeticException with org.apache.spark.SparkThrowable) =>
        e.getCondition == "DIVIDE_BY_ZERO"
      case _ => false
    }
    val byFrame = Try(checks.filterNot(_.violations.isEmpty).map(_.name))
    assert(divideByZero(byFrame), s"per-check frames: $byFrame")
    val fused = Try(Checks.failed(checks))
    assert(divideByZero(fused), s"Checks.failed: $fused")
  }

  test("incremental delete+insert is idempotent and replaces matched keys") {
    val dir = Files.createTempDirectory("graft_stg").toString
    val path = s"$dir/stg_yellow"
    IncrementalWriter.deleteInsert(spark, sy, path, "trip_id")
    val n1 = spark.read.parquet(path).count()
    // re-running the same batch must not grow the table
    IncrementalWriter.deleteInsert(spark, sy, path, "trip_id")
    val n2 = spark.read.parquet(path).count()
    assert(n1 == n2)
    assert(n1 == sy.count())
  }

  test("deleteInsert rewrites only the batch's partitions (round-18 one-pass probe)") {
    val dir = Files.createTempDirectory("graft_di_scope").toString
    val path = s"$dir/t"
    IncrementalWriter.deleteInsert(spark, sy, path, "trip_id") // initial load
    val months = sy.select("month").distinct().as[Int].collect().sorted
    assert(months.length >= 2, "fixture precondition: two months")
    val (untouched, touched) = (months.head, months.last)
    def filesOf(m: Int): Set[String] = {
      val d = new java.io.File(s"$path/year=2024/month=$m")
      Option(d.listFiles()).toSeq.flatten
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val before = filesOf(untouched)
    assert(before.nonEmpty)
    val batch = sy.filter($"month" === touched)
      .withColumn("fare_amount", $"fare_amount" * 2)
    IncrementalWriter.deleteInsert(spark, batch, path, "trip_id")
    // the one-pass probe must scope the rewrite to the batch's
    // (year, month) partitions: the untouched month's files are the
    // SAME files, not a rewrite
    assert(filesOf(untouched) == before)
    // and the touched month's keys were replaced with the doubled fares
    val got = spark.read.parquet(path).filter($"month" === touched)
      .agg(sum($"fare_amount")).head().getDouble(0)
    val want = sy.filter($"month" === touched)
      .agg(sum($"fare_amount" * 2)).head().getDouble(0)
    assert(math.abs(got - want) < 1e-9)
  }

  test("splitsPerPartition=3 stages a multi-file compaction fixture in one append") {
    val dir = Files.createTempDirectory("graft_salted_fix").toString
    val path = s"$dir/t"
    spark.conf.set(graft.write.WriteDistribution.SplitsConf, "3")
    try IncrementalWriter.appendPartitioned(sy, path)
    finally spark.conf.unset(graft.write.WriteDistribution.SplitsConf)
    val nParts = sy.select("year", "month").distinct().count()
    val staged = spark.read.parquet(path).inputFiles.length
    // the salted single append leaves MORE files than partitions —
    // the compaction precondition taxi_compact's fixture relies on
    assert(staged > nParts, s"salted append produced $staged files for $nParts partitions")
    val (b, a) = graft.write.Maintenance.compact(spark, path)
    assert(a < b && a == nParts)
    // content identical to the un-salted source
    val (n0, s0) = (sy.count(), sy.agg(sum($"fare_amount")).head().getDouble(0))
    val rb = spark.read.parquet(path)
    assert(rb.count() == n0)
    assert(math.abs(rb.agg(sum($"fare_amount")).head().getDouble(0) - s0) < 1e-9)
  }

  test("incrementalCut gates source rows by (maxYear, maxMonth)") {
    val dir = Files.createTempDirectory("graft_cut").toString
    val path = s"$dir/t"
    // target holds 2024-01 only
    IncrementalWriter.appendPartitioned(sy.filter($"month" === 1), path)
    val cut = IncrementalWriter.incrementalCut(spark, TaxiFixturesData.rawYellow(spark), path)
    // keeps months >= 1 of 2024 → everything here
    assert(cut.count() == TaxiFixturesData.yellowRows.size)
    // target at 2024-02 → only feb rows survive the cut
    IncrementalWriter.overwriteTablePartitioned(sy.filter($"month" === 2), path)
    val cut2 = IncrementalWriter.incrementalCut(spark, TaxiFixturesData.rawYellow(spark), path)
    assert(cut2.select("month").distinct().as[Int].collect().toSeq == Seq(2))
  }

  test("refreshDailyPartitions drops mart partitions whose facts vanished") {
    val path = Files.createTempDirectory("graft_refresh").toString + "/daily"
    IncrementalWriter.overwriteTablePartitioned(
      Marts.fctTripsDaily(fct).drop("created_at"), path)
    val months = spark.read.parquet(path)
      .select("year", "month").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(months.size >= 2, s"fixture needs >=2 (year,month) partitions, got $months")
    val (gy, gm) = months.head
    // every fact row of one month vanishes (a full retraction); the
    // refresh must delete that mart partition, not leave it stale
    val fct2 = fct.filter(!(col("year") === gy && col("month") === gm))
    Marts.refreshDailyPartitions(spark, fct2,
      col("year") === gy && col("month") === gm, path)
    val after = spark.read.parquet(path)
      .select("year", "month").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(after == months - ((gy, gm)), s"expected ${months - ((gy, gm))}, got $after")
  }

  test("refreshDailyPartitions re-aggregates partially retracted partitions instead of deleting them") {
    val path = Files.createTempDirectory("graft_refresh_part").toString + "/daily"
    IncrementalWriter.overwriteTablePartitioned(
      Marts.fctTripsDaily(fct).drop("created_at"), path)
    // a (year, month) holding more than one taxi type — retracting one
    // type's rows must leave the others' aggregates intact
    val pick = fct.groupBy("year", "month")
      .agg(countDistinct("taxi_type").as("nt")).filter(col("nt") >= 2)
      .select("year", "month").head()
    val (gy, gm) = (pick.getInt(0), pick.getInt(1))
    val types = fct.filter(col("year") === gy && col("month") === gm)
      .select("taxi_type").distinct().as[String].collect().sorted
    val gone = types.head
    val pred = col("year") === gy && col("month") === gm && col("taxi_type") === gone
    val fct2 = fct.filter(!pred)
    val summary = Marts.refreshDailyPartitions(spark, fct2, pred, path)
    assert(summary.deleted.isEmpty,
      s"partition ($gy,$gm) still holds ${types.tail.toSeq} facts — must not be deleted")
    assert(summary.rewritten.contains((gy, gm)))
    val after = spark.read.parquet(path)
      .filter(col("year") === gy && col("month") === gm)
    val expected = Marts.fctTripsDaily(fct2).drop("created_at")
      .filter(col("year") === gy && col("month") === gm)
    val aligned = after.select(expected.columns.map(col).toIndexedSeq: _*)
    assert(expected.count() > 0)
    assert(aligned.exceptAll(expected).isEmpty && expected.exceptAll(aligned).isEmpty,
      "rewritten partition must equal a full rebuild over the surviving facts")
  }

  test("plausible() applies the declared var bounds, nulls pass") {
    import graft.model.Intermediate
    val df = Seq(
      (Some(10.0), Some(2)),    // in range
      (Some(-1.0), Some(2)),    // fare below min
      (Some(1500.0), Some(2)),  // fare above max
      (Some(10.0), Some(0)),    // passengers below min
      (Some(10.0), Some(9)),    // passengers above max
      (None: Option[Double], None: Option[Int])) // nulls pass
      .toDF("fare_amount", "passenger_count")
    assert(Intermediate.plausible(df).count() == 2)
    assert(Intermediate.Vars.MaxFareAmount == 1000.0 &&
      Intermediate.Vars.MaxPassengerCount == 6)
  }

  test("ingest: skip mode is idempotent, overwrite replaces the partition") {
    import graft.ingest.Ingest
    val dir = Files.createTempDirectory("graft_ing").toString
    val src = s"$dir/src.parquet"
    val tbl = s"$dir/raw_yellow"
    TaxiFixturesData.rawYellow(spark).drop("year", "month", "loaded_at").write.parquet(src)
    val r1 = Ingest.ingestMonth(spark, src, tbl, "yellow", 2024, 1)
    assert(r1.action == "appended")
    val r2 = Ingest.ingestMonth(spark, src, tbl, "yellow", 2024, 1)
    assert(r2.action == "skipped_existing")
    val r3 = Ingest.ingestMonth(spark, src, tbl, "yellow", 2024, 1, Ingest.Overwrite)
    assert(r3.action == "overwritten")
    assert(r3.rows == r1.rows)
    val r4 = Ingest.ingestMonth(spark, s"$dir/nope.parquet", tbl, "yellow", 2024, 3)
    assert(r4.action == "skipped_missing_source")
  }
}
