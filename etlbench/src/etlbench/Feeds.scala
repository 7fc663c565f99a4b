package etlbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Size of one generated InsideAirbnb-shaped feed. `listings` is the
  * month-1 listing count; every later month re-scrapes about a third of
  * the known listings and adds `listings / 20` new ones. */
final case class FeedSize(listings: Int, reviewsPerMonth: Int, months: Int)

/** What the generator knows the pipeline must produce, so each output can
  * be checked exactly. Counts are cumulative after each month (index 0 is
  * month 1); the model-query facts hold for the final month's state. */
final case class Expected(
    listings: Seq[Long], hosts: Seq[Long], reviews: Seq[Long], reviewers: Seq[Long],
    weather: Long,
    listingLines: Seq[Long], reviewLines: Seq[Long],
    avgTemperature: Map[String, Double],
    topMultiCityHosts: Seq[(Long, Long)],
    citiesVisitedHistogram: Map[Long, Long])

/** A generated feed on disk: one multiline-quoted listings CSV and one
  * reviews CSV per city per month under `cities/<City>/<YYYY-MM>/`, plus
  * ECA&D-style temperature and rain TXT per station under `weather/`. */
final case class Feed(dir: String, size: FeedSize, inputBytes: Long, expected: Expected) {
  def month(m: Int): String = f"2023-$m%02d"
  def listingsGlob(m: Int) = s"$dir/cities/*/${month(m)}/listings.csv"
  def reviewsGlob(m: Int) = s"$dir/cities/*/${month(m)}/reviews.csv"
  def tempGlob = s"$dir/weather/TG_*.txt"
  def rainGlob = s"$dir/weather/RR_*.txt"
}

object Feeds {

  /** Skewed city sizes: the largest city gets about four times the
    * listings of the smallest. */
  val cities: Seq[(String, Double)] = Seq(
    "Amsterdam" -> 0.34, "Berlin" -> 0.26, "Paris" -> 0.20, "Barcelona" -> 0.12, "Lisbon" -> 0.08)
  val stations: Seq[(Int, String)] = cities.map(_._1).zipWithIndex.map { case (c, i) => (100 + i, c) }

  /** Boundary day: the last review day of every month, which becomes the
    * next month's watermark and is re-ingested with the next month. */
  private val LastDay = 28

  private val languages = Seq("en" -> 60, "fr" -> 10, "de" -> 10, "nl" -> 8, "es" -> 8)

  private def quote(s: String) = "\"" + s.replace("\"", "\"\"") + "\""

  /** Writes the feed for `seed` into `dir` (replacing it). `documents`
    * supplies the review comment text. */
  def generate(dir: String, seed: Long, size: FeedSize, documents: IndexedSeq[String]): Feed = {
    Util.deleteTree(new File(dir))
    val rng = new SplittableRandom(seed)
    val docWords = documents.map(_.split("\\s+").filter(_.nonEmpty)).filter(_.nonEmpty)
    val stop = graft.functions.TextFunctions.stopwords
    val pos = graft.functions.TextFunctions.positiveWords
    val neg = graft.functions.TextFunctions.negativeWords
    val cityNames = cities.map(_._1).toIndexedSeq
    val cityCdf = cities.map(_._2).scanLeft(0.0)(_ + _).tail.toIndexedSeq
    def pickCity(): Int = { val u = rng.nextDouble(); cityCdf.indexWhere(u < _) max 0 }
    def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))

    val hostPool = math.max(1, size.listings / 3)
    val reviewerPool = math.max(1, size.reviewsPerMonth * size.months / 4)
    // listing id -> (city index, host id), ids are dense from 1
    val listingCity = mutable.ArrayBuffer.empty[Int]
    val listingHost = mutable.ArrayBuffer.empty[Long]
    def addListing(): Unit = {
      listingCity += pickCity()
      listingHost += 1L + rng.nextInt(hostPool)
    }

    val writers = mutable.LinkedHashMap.empty[String, BufferedWriter]
    def out(path: String, header: String): BufferedWriter =
      writers.getOrElseUpdate(path, {
        val p = Path.of(path)
        Files.createDirectories(p.getParent)
        val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
        w.write(header); w.write('\n')
        w
      })
    val listingsHeader = "ID,Host ID,Host Name,Host Since,Host Location,Name,Description," +
      "Latitude,Longitude,Room Type,Price,Accommodates,Number Of Reviews," +
      "Review Scores Rating,Last Scraped,Calendar Updated"
    val reviewsHeader = "listing_id,id,date,reviewer_id,reviewer_name,comments"
    val roomTypes = IndexedSeq("Entire home/apt", "Private room", "Shared room", "Hotel room")

    def comment(): String = {
      val roll = rng.nextInt(100)
      if (roll < 4) return ""
      var r = rng.nextInt(96)
      val lang = languages.find { case (_, w) => r -= w; r < 0 }.map(_._1).getOrElse("en")
      val words = mutable.ArrayBuffer.empty[String]
      val doc = pick(docWords)
      val start = rng.nextInt(doc.length)
      val nDoc = if (lang == "en") 6 + rng.nextInt(10) else 2 + rng.nextInt(4)
      (0 until nDoc).foreach(i => words += doc((start + i) % doc.length))
      val sw = stop(lang).toIndexedSeq
      (0 until (if (lang == "en") 2 else 5 + rng.nextInt(4))).foreach(_ => words += pick(sw))
      if (lang == "en") {
        (0 until rng.nextInt(3)).foreach(_ => words += pick(pos.toIndexedSeq))
        (0 until rng.nextInt(3)).foreach(_ => words += pick(neg.toIndexedSeq))
      }
      // shuffle so stopwords and lexicon words are spread through the text
      for (i <- words.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = words(i); words(i) = words(j); words(j) = t
      }
      if (rng.nextInt(10) == 0) { val i = rng.nextInt(words.size); words(i) = "\"" + words(i) + "\"" }
      if (rng.nextInt(6) == 0) {
        val i = 1 + rng.nextInt(words.size)
        (words.take(i).mkString(" ") + "\n" + words.drop(i).mkString(" ")).trim
      } else words.mkString(" ")
    }

    val expListings, expHosts, expReviews, expReviewers, listingLines, reviewLines =
      mutable.ArrayBuffer.empty[Long]
    val reviewersSeen = mutable.HashSet.empty[Long]
    val reviewerCities = mutable.HashMap.empty[Long, mutable.Set[Int]]
    var nextReview = 1L
    var boundary = Seq.empty[String] // previous month's last-day review lines, by city
    var boundaryCity = Seq.empty[Int]

    for (m <- 1 to size.months) {
      val ym = f"2023-$m%02d"
      // listings: month 1 scrapes everything; later months re-scrape ~1/3
      // of the known listings and add new ones
      val scraped =
        if (m == 1) { (0 until size.listings).foreach(_ => addListing()); listingCity.indices }
        else {
          val re = listingCity.indices.filter(_ => rng.nextInt(3) == 0)
          val first = listingCity.size
          (0 until math.max(1, size.listings / 20)).foreach(_ => addListing())
          re ++ (first until listingCity.size)
        }
      scraped.foreach { i =>
        val c = listingCity(i)
        val host = listingHost(i)
        val desc = if (rng.nextInt(4) == 0) "Bright \"canal\" view,\nquiet street." else "Cosy flat near the centre."
        val w = out(s"$dir/cities/${cityNames(c)}/$ym/listings.csv", listingsHeader)
        w.write(Seq(
          (i + 1).toString, host.toString, quote(s"Host $host"),
          LocalDate.of(2012, 1, 1).plusDays(host % 3000).toString,
          quote(cityNames((host % cityNames.size).toInt)),
          quote(s"Place ${i + 1} in ${cityNames(c)}"), quote(desc),
          f"${52.0 + rng.nextDouble()}%.6f", f"${4.0 + rng.nextDouble()}%.6f",
          quote(pick(roomTypes)), quote(s"$$${40 + rng.nextInt(400)}.00"),
          (1 + rng.nextInt(8)).toString, rng.nextInt(300).toString,
          f"${3.0 + 2 * rng.nextDouble()}%.2f",
          f"2023-$m%02d-${20 + c}%02d 00:00:00", quote("junk")).mkString(","))
        w.write('\n')
      }
      listingLines += scraped.size
      expListings += listingCity.size
      expHosts += listingHost.distinct.size

      // reviews of listings known by this month, plus the re-ingested
      // boundary day of the previous month
      boundary.zip(boundaryCity).foreach { case (line, c) =>
        val w = out(s"$dir/cities/${cityNames(c)}/$ym/reviews.csv", reviewsHeader)
        w.write(line); w.write('\n')
      }
      val newBoundary = mutable.ArrayBuffer.empty[String]
      val newBoundaryCity = mutable.ArrayBuffer.empty[Int]
      (0 until size.reviewsPerMonth).foreach { k =>
        val listing = rng.nextInt(listingCity.size)
        val c = listingCity(listing)
        // the last review of the month always lands on the boundary day
        val day = if (k == size.reviewsPerMonth - 1) LastDay else 1 + rng.nextInt(LastDay)
        val reviewer = 1L + rng.nextInt(reviewerPool)
        val line = Seq((listing + 1).toString, nextReview.toString,
          f"2023-$m%02d-$day%02d 00:00:00", reviewer.toString,
          quote(s"Reviewer $reviewer"), quote(comment())).mkString(",")
        val w = out(s"$dir/cities/${cityNames(c)}/$ym/reviews.csv", reviewsHeader)
        w.write(line); w.write('\n')
        if (day == LastDay) { newBoundary += line; newBoundaryCity += c }
        reviewersSeen += reviewer
        reviewerCities.getOrElseUpdate(reviewer, mutable.HashSet.empty) += c
        nextReview += 1
      }
      reviewLines += boundary.size + size.reviewsPerMonth
      boundary = newBoundary.toSeq
      boundaryCity = newBoundaryCity.toSeq
      expReviews += nextReview - 1
      expReviewers += reviewersSeen.size
    }

    // weather: one station per city, every day from Jan 1 to the last
    // month's boundary day, plus one pre-2009 row the stage filters out
    val days = Iterator.iterate(LocalDate.of(2023, 1, 1))(_.plusDays(1))
      .takeWhile(!_.isAfter(LocalDate.of(2023, size.months, LastDay))).toIndexedSeq
    val temps = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    stations.foreach { case (staid, city) =>
      val tg = out(f"$dir/weather/TG_STAID$staid%06d.txt",
        s"EUROPEAN CLIMATE ASSESSMENT & DATASET (ECA&D)\nDaily mean temperature TG of $city in 0.1 C\n\nSTAID, SOUID,    DATE,   TG, Q_TG")
      val rr = out(f"$dir/weather/RR_STAID$staid%06d.txt",
        s"EUROPEAN CLIMATE ASSESSMENT & DATASET (ECA&D)\nDaily precipitation amount RR of $city in 0.1 mm\n\nSTAID, SOUID,    DATE,   RR, Q_RR")
      val rows = (LocalDate.of(2008, 12, 31) +: days).map(d => d.toString.replace("-", ""))
      rows.zipWithIndex.foreach { case (d, i) =>
        val t = -50 + rng.nextInt(300)
        tg.write(f"$staid%6d,${staid + 1000}%6d,$d, $t%4d,    0\n")
        rr.write(f"$staid%6d,${staid + 1000}%6d,$d, ${rng.nextInt(200)}%4d,    0\n")
        if (i > 0) temps.getOrElseUpdate(city, mutable.ArrayBuffer.empty) += t / 10.0
      }
    }
    writers.values.foreach(_.close())

    val hostCities = listingHost.indices.groupMapReduce(listingHost(_))(i => Set(listingCity(i)))(_ ++ _)
    val top = hostCities.toSeq.map { case (h, cs) => (h, cs.size.toLong) }
      .sortBy { case (h, n) => (-n, h) }.take(5)
    val hist = reviewerCities.values.groupMapReduce(_.size.toLong)(_ => 1L)(_ + _)
    Feed(dir, size, Util.treeBytes(new File(dir)),
      Expected(expListings.toSeq, expHosts.toSeq, expReviews.toSeq, expReviewers.toSeq,
        stations.size.toLong * days.size, listingLines.toSeq, reviewLines.toSeq,
        temps.map { case (c, ts) => c -> ts.sum / ts.size }.toMap, top, hist))
  }
}
