package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{Intermediate, Marts, Staging}
import graft.quality.Checks
import graft.util.Parallel
import graft.write.IncrementalWriter

/** In-process DAG runner — replaces the reference's Airflow + dbt `ref()`
  * graph (`airflow/dags/nyc_taxi_pipeline.py:85`) with ordinary function
  * composition over lazy DataFrames (SURVEY §3: "this whole path collapses
  * to in-process Catalyst").
  *
  * Layers mirror the medallion exactly: raw (partitioned parquet) →
  * staging (incremental delete+insert on trip_id) → intermediate (lazy
  * views — never materialized, Catalyst fuses them) → marts (full-rebuild
  * tables). `fct_trips` is cached before the two aggregate marts since
  * both consume it (the reference materializes it as a table for the same
  * reason).
  *
  * [[run]] runs each group of independent steps concurrently on driver
  * threads ([[graft.util.Parallel]]), as the reference runs its dbt DAG
  * with 4 threads: at these sizes a step is mostly per-job overhead, so
  * steps that wait on each other for no reason add up. The groups:
  *  - the four per-feed staging writes (`incrementalCut` +
  *    `deleteInsert`): each reads only its own raw table and writes only
  *    its own staging path, and the writers set dynamic partition
  *    overwrite per write, never on the shared session;
  *  - the `fct_trips_daily` and `fct_trips_monthly` writes: distinct
  *    output paths, started only after the `fct_trips` write has filled
  *    the cache both read;
  *  - the check aggregates, one per model ([[Checks.failed]]): read-only.
  * A failing step fails the run with its own exception once the steps
  * already running in its group have finished.
  */
object Pipeline {

  final case class Layout(root: String) {
    def raw(feed: String): String = s"$root/raw/${feed}_trips"
    def staging(feed: String): String = s"$root/staging/stg_${feed}_trips"
    def mart(name: String): String = s"$root/marts/$name"
  }

  final case class BuiltModels(
    stgYellow: DataFrame, stgGreen: DataFrame, stgFhv: DataFrame, stgFhvhv: DataFrame,
    unified: DataFrame, enriched: DataFrame, cleaned: DataFrame,
    fctTrips: DataFrame, fctDaily: DataFrame, fctMonthly: DataFrame)

  /** Build every model as a lazy DataFrame from the four raw tables. */
  def buildModels(rawYellow: DataFrame, rawGreen: DataFrame,
                  rawFhv: DataFrame, rawFhvhv: DataFrame): BuiltModels = {
    val sy = Staging.yellow(rawYellow)
    val sg = Staging.green(rawGreen)
    val sf = Staging.fhv(rawFhv)
    val sh = Staging.fhvhv(rawFhvhv)
    val uni = Intermediate.unify(sy, sg, sf, sh)
    val enr = Intermediate.enrich(uni)
    val cln = Intermediate.clean(enr)
    val fct = Marts.fctTrips(cln)
    BuiltModels(sy, sg, sf, sh, uni, enr, cln, fct,
      Marts.fctTripsDaily(fct), Marts.fctTripsMonthly(fct))
  }

  /** Full run with storage: staging incremental write, marts CTAS rebuild,
    * then the 37 quality checks. Returns the failed check names. */
  def run(spark: SparkSession, layout: Layout): Seq[String] = {
    val feeds = Seq[(String, DataFrame => DataFrame)](
      "yellow" -> Staging.yellow, "green" -> Staging.green,
      "fhv" -> Staging.fhv, "fhvhv" -> Staging.fhvhv)

    // staging: incremental cut + delete+insert per feed (S10/P3)
    val staged = Parallel.all(feeds.map { case (feed, transform) => () =>
      val raw = spark.read.parquet(layout.raw(feed))
      val cut = IncrementalWriter.incrementalCut(spark, raw, layout.staging(feed))
      IncrementalWriter.deleteInsert(spark, transform(cut), layout.staging(feed), "trip_id")
      spark.read.parquet(layout.staging(feed))
    })

    val uni = Intermediate.unify(staged(0), staged(1), staged(2), staged(3))
    val enr = Intermediate.enrich(uni)
    val cln = Intermediate.clean(enr)
    val fct = Marts.fctTrips(cln).cache()
    try {
      IncrementalWriter.overwriteTable(fct, layout.mart("fct_trips"))
      Parallel.all(Seq(
        () => IncrementalWriter.overwriteTable(Marts.fctTripsDaily(fct), layout.mart("fct_trips_daily")),
        () => IncrementalWriter.overwriteTable(Marts.fctTripsMonthly(fct), layout.mart("fct_trips_monthly"))))

      val daily = spark.read.parquet(layout.mart("fct_trips_daily"))
      val monthly = spark.read.parquet(layout.mart("fct_trips_monthly"))
      Checks.failed(Checks.all(staged(0), uni, enr, cln, fct, daily, monthly))
    } finally fct.unpersist()
  }
}
