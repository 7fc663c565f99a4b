package etlbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{CheckpointBlocks, SparkEntry}
import graft.pipeline.{AirbnbStages, ModelQueries, PipelineRunner}
import graft.sources.{Sources, StateStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A benchmark workload. [[setup]] is repeated so its median can be
  * reported; [[pass]] is the timed unit the closed loop repeats. */
trait Workload {
  /** Whether set-up ends with an untimed warm-up pass. */
  def warmup: Boolean
  def setup(rep: Int): Unit
  /** One pass. `verify` marks the checked pass, which runs the output
    * checks that replace the timed sink (operator_mix fingerprints);
    * airbnb_monthly checks every pass, untimed, and ignores it. */
  def pass(verify: Boolean): Unit
  /** Workload-specific end-to-end figures: name -> (value, unit). */
  def extras(untraced: Set[Int]): Seq[(String, Double, String)] = Nil
  /** Layer counters the spans cannot see, summed over `traced` passes. */
  def counters(traced: Set[Int]): Map[String, Double] = Map.empty
}

/** Part I and the store build, shared by both Airbnb workloads. */
object AirbnbLoad {
  val listingsSchema: StructType = StructType(Seq(
    StructField("ID", LongType), StructField("Host ID", LongType),
    StructField("Host Name", StringType), StructField("Host Since", DateType),
    StructField("Host Location", StringType), StructField("Name", StringType),
    StructField("Description", StringType), StructField("Latitude", DoubleType),
    StructField("Longitude", DoubleType), StructField("Room Type", StringType),
    StructField("Price", StringType), StructField("Accommodates", IntegerType),
    StructField("Number Of Reviews", IntegerType), StructField("Review Scores Rating", DoubleType),
    StructField("Last Scraped", TimestampType), StructField("Calendar Updated", StringType)))

  val reviewsSchema: StructType = StructType(Seq(
    StructField("listing_id", LongType), StructField("id", LongType),
    StructField("date", TimestampType), StructField("reviewer_id", LongType),
    StructField("reviewer_name", StringType), StructField("comments", StringType)))

  val hostCols = Seq("host_id", "host_name", "host_since", "host_location")

  /** Part I for month `m`: city CSVs -> preprocess -> city-partitioned
    * parquet under `lake`, read back as the runner's monthly inputs. */
  def part1(spark: SparkSession, tracer: Tracer, feed: Feed, m: Int, lake: String)
      : (DataFrame, DataFrame) = {
    val city = Sources.pathSegment(3)
    val listings = AirbnbStages.preprocessListings(
      Sources.readCsv(spark, feed.listingsGlob(m), listingsSchema).withColumn("city", city),
      Seq("calendar_updated"))
    tracer.span("sources.writeParquet")(
      Sources.writeParquet(listings, s"$lake/listings/${feed.month(m)}", Seq("city")))
    val reviews = Sources.readCsv(spark, feed.reviewsGlob(m), reviewsSchema).withColumn("city", city)
    tracer.span("sources.writeParquet")(
      Sources.writeParquet(reviews, s"$lake/reviews/${feed.month(m)}", Seq("city")))
    (spark.read.parquet(s"$lake/listings/${feed.month(m)}").withColumnRenamed("id", "listing_id"),
      spark.read.parquet(s"$lake/reviews/${feed.month(m)}")
        .withColumnRenamed("id", "review_id").drop("city"))
  }

  def weatherInputs(spark: SparkSession, feed: Feed): (DataFrame, DataFrame, DataFrame) = (
    Sources.readDelimitedLines(spark, feed.tempGlob, Seq("staid", "souid", "date", "tg", "q_tg")),
    Sources.readDelimitedLines(spark, feed.rainGlob, Seq("staid", "souid", "date", "rr", "q_rr")),
    Sources.literal(spark, Feeds.stations, ("staid", "city")))

  /** Review comment text: the `documents` fixture. */
  def documents(spark: SparkSession, fixtures: String): IndexedSeq[String] =
    spark.read.parquet(s"$fixtures/documents.parquet").select("text")
      .collect().map(_.getString(0)).filter(_ != null).toIndexedSeq
}

/** StateStore whose calls are spans; remembers what each month published. */
final class TracedStore(run: Run, val root: String) extends StateStore(run.spark, root) {
  val published = mutable.ArrayBuffer.empty[String]
  override def exists(name: String): Boolean = run.tracer.span("state.exists")(super.exists(name))
  override def read(name: String): DataFrame = run.tracer.span("state.read")(super.read(name))
  override def publish(df: DataFrame, name: String, validate: DataFrame => Unit): Unit = {
    run.tracer.span("state.publish")(super.publish(df, name, validate))
    published += name
  }
}

/** PipelineRunner whose stages are timed operations. */
final class TracedRunner(run: Run, store: StateStore) extends PipelineRunner(run.spark, store) {
  override def runListingsHosts(monthlyListings: DataFrame, hostCols: Seq[String], tsCol: String): Unit =
    run.op("pipeline.listings_hosts")(super.runListingsHosts(monthlyListings, hostCols, tsCol))
  override def runWeather(temp: DataFrame, rain: DataFrame, stations: DataFrame): Unit =
    run.op("pipeline.weather")(super.runWeather(temp, rain, stations))
  override def runReviews(monthlyReviews: DataFrame): Unit =
    run.op("pipeline.reviews")(super.runReviews(monthlyReviews))
  override def runReviewers(): Unit = run.op("pipeline.reviewers")(super.runReviewers())
}

/** The paper's workload, Parts I-III: each pass loads every month into a
  * fresh store (month 1 from scratch, then the incremental months) and
  * then runs the seven analytical cells on the result. */
final class AirbnbMonthly(run: Run, size: FeedSize, fixtures: String) extends Workload {
  private val spark = run.spark
  private var feed: Feed = _
  private lazy val docs = AirbnbLoad.documents(spark, fixtures)
  /** Operations in one pass; a failed pass counts the ones it skipped, so
    * `attempted` stays fixed per run. */
  private val opsPerPass = 5 * size.months + 1 + AirbnbMonthly.cellRounds * ModelCells.cells.size
  /** No warm-up: the load runs in a fresh JVM, as the monthly batch job
    * does; the cell rounds after it show the warm query cost. */
  def warmup = false

  /** (pass, month, wall seconds) */
  private val monthWalls = mutable.ArrayBuffer.empty[(Int, Int, Double)]
  private val storeRatio = mutable.ArrayBuffer.empty[(Int, Double)]
  private val bytesWritten, filesPublished, part1Bytes = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)

  def setup(rep: Int): Unit = feed = Feeds.generate(s"${run.work}/feed", run.seed, size, docs)

  def pass(verify: Boolean): Unit = {
    val p = run.pass
    val root = s"${run.work}/pass$p"
    val store = new TracedStore(run, s"$root/store")
    val runner = new TracedRunner(run, store)
    val (temp, rain, stations) = AirbnbLoad.weatherInputs(spark, feed)
    val before = run.attempted
    try {
      for (m <- 1 to feed.size.months) {
        val n0 = run.latencies.size
        store.published.clear()
        val (li, rv) = run.op("sources.part1")(AirbnbLoad.part1(spark, run.tracer, feed, m, s"$root/lake"))
        runner.runMonth(li, AirbnbLoad.hostCols, rv, temp, rain, stations)
        monthWalls += ((p, m, run.latencies.drop(n0).map(_.wallS).sum))
        checkMonth(m, root, store)
      }
      checkFinal(store.root)
      storeRatio += ((p, Util.treeBytes(new File(store.root)).toDouble / feed.inputBytes))
      run.op("model.register")(ModelQueries.registerModel(spark, store))
      val rng = new scala.util.Random(run.seed * 7919 + p)
      for (round <- 1 to AirbnbMonthly.cellRounds; (name, f) <- rng.shuffle(ModelCells.cells)) {
        val rows = run.op(s"model.$name", key = name, query = true)(f(spark).collect().toSeq)
        ModelCells.verify(name, rows, feed.expected)
          .foreach(why => run.check(s"model.$name@r$round", ok = false, why))
      }
    } catch {
      case NonFatal(_) =>
        // the rest of the pass cannot run on a broken store
        (run.attempted - before until opsPerPass).foreach { k =>
          run.attempted += 1
          run.fail(s"skipped#$k", "earlier operation of the pass failed")
        }
    } finally Util.deleteTree(new File(root))
  }

  private def checkMonth(m: Int, root: String, store: TracedStore): Unit = {
    val e = feed.expected
    val s = store.root
    val tag = s"@m$m"
    def rows(path: String) = Util.parquetRows(spark, path)
    run.check("sources.part1" + tag,
      rows(s"$root/lake/reviews/${feed.month(m)}") == e.reviewLines(m - 1) &&
        rows(s"$root/lake/listings/${feed.month(m)}") == e.listingLines(m - 1),
      "Part I row counts differ from the feed")
    run.check("pipeline.listings_hosts" + tag,
      rows(s"$s/listings") == e.listings(m - 1) && rows(s"$s/hosts") == e.hosts(m - 1),
      "listings/hosts row counts")
    run.check("pipeline.weather" + tag, rows(s"$s/weather") == e.weather, "weather row count")
    run.check("pipeline.reviews" + tag, rows(s"$s/reviews") == e.reviews(m - 1), "reviews row count")
    run.check("pipeline.reviewers" + tag, rows(s"$s/reviewers") == e.reviewers(m - 1),
      "reviewers row count")
    if (run.tracer.enabled) {
      val p = run.pass
      store.published.foreach { n =>
        bytesWritten(p) += Util.treeBytes(new File(s"$s/$n"))
        filesPublished(p) += Util.parquetFiles(new File(s"$s/$n"))
      }
      part1Bytes(p) += Util.treeBytes(new File(s"$root/lake/listings/${feed.month(m)}")) +
        Util.treeBytes(new File(s"$root/lake/reviews/${feed.month(m)}"))
    }
  }

  /** Primary keys unique in every model (so the boundary re-ingest left no
    * duplicate review_id), sentiment in its domain, every review enriched. */
  private def checkFinal(s: String): Unit = {
    val tag = s"@m${feed.size.months}"
    Seq("listings" -> "listing_id", "hosts" -> "host_id", "weather" -> "weather_id",
      "reviews" -> "review_id", "reviewers" -> "reviewer_id").foreach { case (model, key) =>
      val c = spark.read.parquet(s"$s/$model").agg(count(lit(1)), countDistinct(col(key))).head()
      val stage = model match {
        case "listings" | "hosts" => "pipeline.listings_hosts"
        case other => s"pipeline.$other"
      }
      run.check(stage + tag, c.getLong(0) == c.getLong(1), s"$model.$key is not unique")
    }
    val bad = spark.read.parquet(s"$s/reviews")
      .filter(not(coalesce(col("sentiment").isin("pos", "neg", "n/a"), lit(false))) ||
        col("host_id").isNull)
      .count()
    run.check("pipeline.reviews" + tag, bad == 0, s"$bad reviews outside the sentiment domain or unenriched")
  }

  override def extras(untraced: Set[Int]): Seq[(String, Double, String)] = {
    val mw = monthWalls.filter(w => untraced(w._1))
    // share of the load (Part I and the runner stages, all months) spent in
    // the reviews stage, the stage that dominates the reference's run
    val load = run.latencies.filter(l => untraced(l.pass) &&
      (l.name.startsWith("pipeline.") || l.name == "sources.part1"))
    Seq(
      ("reviews_share", load.filter(_.name == "pipeline.reviews").map(_.wallS).sum / load.map(_.wallS).sum, "ratio"),
      ("initial_load_s", Util.median(mw.filter(_._2 == 1).map(_._3).toSeq), "s"),
      ("month_p50_s", Util.median(mw.filter(_._2 > 1).map(_._3).toSeq), "s"),
      ("store_bytes_per_input_byte", Util.median(storeRatio.filter(r => untraced(r._1)).map(_._2).toSeq), "ratio"))
  }

  override def counters(traced: Set[Int]): Map[String, Double] = {
    def sum(m: mutable.Map[Int, Long]) = traced.toSeq.map(m).sum.toDouble
    Map(
      "state.bytes_written" -> sum(bytesWritten),
      "state.files_published" -> sum(filesPublished),
      "state.write_amp" -> sum(bytesWritten) / (feed.inputBytes.toDouble * traced.size),
      "sources.part1_bytes_written" -> sum(part1Bytes))
  }
}

object AirbnbMonthly {
  /** Rounds of the seven cells after each load, in a fresh seeded order. */
  val cellRounds = 5
}

/** Part III: the notebook's analytical cells (35-51), each materialised by
  * collecting its (small) result, which the check then reads. */
object ModelCells {
  val cells: Seq[(String, SparkSession => DataFrame)] = Seq(
    "avg_weather_by_city" -> ModelQueries.avgWeatherByCity,
    "sentiment_share" -> ModelQueries.sentimentShare,
    "sentiment_vs_moving_temp" -> ModelQueries.sentimentVsMovingTemp,
    "sentiment_vs_moving_rain" -> ModelQueries.sentimentVsMovingRain,
    "top_languages" -> (s => ModelQueries.topLanguages(s)),
    "multi_city_hosts" -> (s => ModelQueries.multiCityHosts(s)),
    "cities_visited_histogram" -> ModelQueries.citiesVisitedHistogram)

  private val labels = Set("pos", "neg")

  /** Checks a cell's rows against what the generator knows; the reason
    * when they disagree. */
  def verify(name: String, rows: Seq[Row], e: Expected): Option[String] = {
    val ok = name match {
      case "avg_weather_by_city" =>
        val w = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
        w.keySet == e.avgTemperature.keySet &&
          w.forall { case (c, t) => math.abs(t - e.avgTemperature(c)) <= 1e-9 * math.max(1.0, math.abs(t)) }
      case "sentiment_share" =>
        rows.map(_.getString(0)).toSet.subsetOf(labels) &&
          math.abs(rows.map(_.getDecimal(1).doubleValue).sum - 1.0) < 1e-5
      case "sentiment_vs_moving_temp" | "sentiment_vs_moving_rain" =>
        rows.nonEmpty && rows.forall(r => labels(r.getString(0)) && !r.isNullAt(1))
      case "top_languages" =>
        val shares = rows.map(_.getDecimal(1).doubleValue)
        shares.nonEmpty && shares.size <= 5 && shares == shares.sortBy(-_)
      case "multi_city_hosts" =>
        rows.map(r => (r.getLong(0), r.getLong(1))) == e.topMultiCityHosts
      case "cities_visited_histogram" =>
        rows.map(r => r.getLong(0) -> r.getLong(1)).toMap == e.citiesVisitedHistogram
    }
    if (ok) None else Some(s"unexpected rows ${rows.take(8).mkString(", ")}")
  }
}

/** Fixed SparkEntry QDefs on the fixture tables under Bench's protocol;
  * the seed permutes the order of each pass. */
final class OperatorMix(run: Run, fixtures: String, queries: Seq[String],
                        recorded: Map[String, String]) extends Workload {
  private val spark = run.spark
  def warmup = true
  /** Fingerprints of the checked pass, for recording. */
  val seen = mutable.LinkedHashMap.empty[String, String]

  /** Reads every fixture's footers, so file and page caches are warm. */
  def setup(rep: Int): Unit =
    Seq("customer", "documents", "embeddings", "events", "lineitem", "nation", "orders",
      "part", "region", "supplier").foreach(t => Util.parquetRows(spark, s"$fixtures/$t.parquet"))

  /** One pass in a seeded order. A measured pass times each query exactly
    * as Bench does: build it, then write it to the noop sink. The checked
    * pass (`verify`, the warm-up) uses the fingerprint as the sink instead
    * and compares it with the recorded one; it is never timed as a query. */
  def pass(verify: Boolean): Unit = {
    val order = new scala.util.Random(run.seed * 7919 + run.pass).shuffle(queries)
    order.foreach { q =>
      spark.catalog.clearCache()
      try {
        val df = run.op(s"ops.$q", query = !OperatorMix.heavy(q)) {
          val df = SparkEntry.queries(q)(spark, fixtures)
          if (verify) {
            val fp = Check.fingerprint(df)
            seen.getOrElseUpdate(q, fp)
            run.check(s"ops.$q", recorded.get(q).contains(fp),
              s"fingerprint $fp, recorded ${recorded.getOrElse(q, "none")}")
          } else df.write.mode("overwrite").format("noop").save()
          df
        }
        CheckpointBlocks.release(df)
      } catch { case NonFatal(_) => () } // counted by run.op
      finally System.gc() // untimed, between queries, as Bench does
    }
  }
}

object OperatorMix {
  /** Six short plans and two iterative, multi-job operators; the short
    * plans set short_query_s, the iterative ones most of wall_s. */
  val families: Map[String, Seq[String]] = Map(
    "relational" -> Seq("q01_pricing_summary", "q05_anti_join", "q08_latest_per_key",
      "q14_incremental_merge"),
    "dedup" -> Seq("q101_embedding_dedup_backfill"),
    "similarity" -> Seq("q86_knn_ivf_pq"),
    "search" -> Seq("q22_lang_detect", "q23_sentiment"))
  val heavy = Set("q86_knn_ivf_pq", "q101_embedding_dedup_backfill")
  val all: Seq[String] = families.values.flatten.toSeq.sorted
}
