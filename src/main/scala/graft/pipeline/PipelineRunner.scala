package graft.pipeline

import graft.sources.StateStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** In-process replacement for the reference's Airflow DAG
  * (`airflow/.../airbnb-etl-airflow.py:536-551`): sequences the monthly
  * stages against a [[StateStore]], with the same quality gates run as
  * assertions instead of sensor tasks. The weather branch is independent
  * of the listings/reviews chain in the reference DAG; here that shows up
  * as plain data independence (Spark schedules the jobs; nothing blocks).
  *
  * One call = one month's incremental run (`sys.argv[1]` ->
  * `scrapeYearMonth` in the reference, `apps/process_reviews.py:153-156`).
  *
  * Every publish gate starts with [[StateStore.requireNonEmpty]], the
  * reference's `check_redshift_loaded` row-count > 0 check, before the key
  * and schema gates. The DuckDB oracle gates for this sequencer are
  * `q175_airbnb_e2e` (a lazy in-memory store) and
  * `q180_airbnb_e2e_statestore` (a parquet [[StateStore]]): both run two
  * months through [[runMonth]] and read the final join from the store.
  */
class PipelineRunner(spark: SparkSession, store: StateStore) {

  import graft.schema.ModelSchemas

  private def stateOf(name: String): Option[DataFrame] =
    if (store.exists(name)) Some(store.read(name)) else None

  /** Listings + hosts stage (`apps/process_listings_hosts.py`). */
  def runListingsHosts(monthlyListings: DataFrame, hostCols: Seq[String],
                       tsCol: String = "last_scraped"): Unit = {
    val listings = AirbnbStages.mergeLatest(
      stateOf("listings"), monthlyListings, "listing_id", tsCol)
    store.publish(listings, "listings", StateStore.allOf(StateStore.requireNonEmpty,
      StateStore.requireUniqueKey("listing_id"),
      StateStore.requireFields(ModelSchemas.listingsContract(tsCol))))
    val hosts = AirbnbStages.extractHosts(store.read("listings"), hostCols, tsCol)
    store.publish(hosts, "hosts", StateStore.allOf(StateStore.requireNonEmpty,
      StateStore.requireUniqueKey("host_id"),
      StateStore.requireFields(ModelSchemas.hostsContract(tsCol))))
  }

  /** Weather stage (`apps/process_weather.py`) — idempotent: the reference
    * builds weather once, guarded by the existence probe
    * (`apps/preprocess_data.py:119,130`).
    */
  def runWeather(temp: DataFrame, rain: DataFrame, stations: DataFrame): Unit =
    if (!store.exists("weather")) {
      val weather = AirbnbStages.buildWeather(temp, rain, stations)
      store.publish(weather, "weather", StateStore.allOf(StateStore.requireNonEmpty,
        StateStore.requireUniqueKey("weather_id"),
        StateStore.requireSchema(ModelSchemas.weather)))
    }

  /** Reviews stage (`apps/process_reviews.py`): watermark delta -> FK
    * enrich -> NLP scoring -> incremental merge with pk dedup.
    */
  def runReviews(monthlyReviews: DataFrame): Unit = {
    val state = stateOf("reviews")
    val delta = AirbnbStages.reviewsDelta(state, monthlyReviews)
    val enriched = AirbnbStages.enrichReviews(delta, store.read("listings"))
    val scored = AirbnbStages.scoreReviews(enriched)
    val merged = AirbnbStages.mergeReviews(state, scored)
    store.publish(merged, "reviews", StateStore.allOf(StateStore.requireNonEmpty,
      StateStore.requireUniqueKey("review_id"),
      StateStore.requireFields(ModelSchemas.reviewsContract)))
  }

  /** Reviewers stage (`apps/process_reviewers.py`): rebuilt from the full
    * reviews model each run, exactly like the reference (`:83`).
    */
  def runReviewers(): Unit = {
    val reviewers = AirbnbStages.buildReviewers(store.read("reviews"))
    store.publish(reviewers, "reviewers", StateStore.allOf(StateStore.requireNonEmpty,
      StateStore.requireUniqueKey("reviewer_id"),
      StateStore.requireSchema(ModelSchemas.reviewers)))
  }

  /** Full monthly run in reference DAG order. */
  def runMonth(monthlyListings: DataFrame, hostCols: Seq[String],
               monthlyReviews: DataFrame,
               temp: DataFrame, rain: DataFrame, stations: DataFrame): Unit = {
    runListingsHosts(monthlyListings, hostCols)
    runWeather(temp, rain, stations)
    runReviews(monthlyReviews)
    runReviewers()
  }
}
