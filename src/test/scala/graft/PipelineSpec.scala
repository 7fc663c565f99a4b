package graft

import graft.pipeline.{AirbnbStages, PipelineRunner}
import graft.sources.{Sources, StateStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end incremental pipeline on tiny Airbnb-shaped fixtures —
  * the reference's two-month scenario including the boundary-date
  * re-ingest that the pk dedup must clean (README.md:202-214).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")

  private def listingsMonth(month: String, rows: Seq[(Long, Long, String)]): DataFrame =
    rows.map { case (lid, hid, city) => (lid, hid, city, s"host$hid", ts(month)) }
      .toDF("listing_id", "host_id", "city", "host_name", "last_scraped")

  private def reviewsMonth(rows: Seq[(Long, Long, Long, String, String, String)]): DataFrame =
    rows.map { case (rid, lid, reviewer, name, date, text) =>
      (rid, lid, reviewer, name, ts(date), text)
    }.toDF("review_id", "listing_id", "reviewer_id", "reviewer_name", "date", "comments")

  test("two-month incremental run: merge, dedup, enrich, score, gates") {
    val root = Files.createTempDirectory("graft_pipe").toString
    val store = new StateStore(spark, root)
    val runner = new PipelineRunner(spark, store)
    val hostCols = Seq("host_id", "host_name")

    // month 1
    runner.runListingsHosts(listingsMonth("2021-01-01",
      Seq((10L, 1L, "Amsterdam"), (11L, 2L, "Berlin"))), hostCols)
    runner.runReviews(reviewsMonth(Seq(
      (100L, 10L, 500L, "alice", "2021-01-05", "the room was great and clean"),
      (101L, 11L, 501L, "bob", "2021-01-20", "le chat est dans la maison avec le chien"))))
    runner.runReviewers()

    assert(store.read("listings").count() === 2)
    assert(store.read("reviews").count() === 2)

    // month 2: listing 10 re-scraped (must override), review 101 re-ingested
    // at the boundary (must dedup), new review 102
    runner.runListingsHosts(listingsMonth("2021-02-01",
      Seq((10L, 1L, "Amsterdam-renamed"), (12L, 3L, "Paris"))), hostCols)
    runner.runReviews(reviewsMonth(Seq(
      (101L, 11L, 501L, "bob", "2021-01-20", "le chat est dans la maison avec le chien"),
      (102L, 12L, 500L, "alice", "2021-02-10", "the room was terrible and dirty and it was awful"))))
    runner.runReviewers()

    val listings = store.read("listings")
    assert(listings.count() === 3)
    assert(listings.filter($"listing_id" === 10L).select("city").as[String].head()
      === "Amsterdam-renamed")

    val reviews = store.read("reviews")
    assert(reviews.count() === 3) // 100, 101 (deduped), 102
    assert(reviews.select("review_id").distinct().count() === 3)

    // FK enrichment + NLP domains
    val r102 = reviews.filter($"review_id" === 102L)
      .select("host_id", "comment_language", "sentiment", "weather_id")
      .as[(Long, String, String, String)].head()
    assert(r102._1 === 3L)
    assert(r102._2 === "en")
    assert(r102._3 === "neg")
    assert(r102._4 === "Paris_2021-02-10") // day precision = weather dim key format
    val r101 = reviews.filter($"review_id" === 101L)
      .select("comment_language", "sentiment").as[(String, String)].head()
    assert(r101._1 === "fr")
    assert(r101._2 === "n/a") // non-English -> n/a, reference domain

    val reviewers = store.read("reviewers").orderBy("reviewer_id")
    assert(reviewers.count() === 2)
    assert(reviewers.filter($"reviewer_id" === 500L).select("languages").as[String].head()
      === "en") // alice reviewed twice, both en

    // Reference result anchors (README.md:259-279) pinned as exact
    // distributions on the fixture, not just domains: the sentiment
    // histogram, and the language shares with English the majority class.
    val sentHist = reviews.groupBy("sentiment").count()
      .as[(String, Long)].collect().toMap
    assert(sentHist === Map("pos" -> 1L, "neg" -> 1L, "n/a" -> 1L))
    val langHist = reviews.groupBy("comment_language").count()
      .as[(String, Long)].collect().toMap
    assert(langHist === Map("en" -> 2L, "fr" -> 1L))
    assert(langHist.maxBy(_._2)._1 === "en")
  }

  test("q175 and q180 run the same sequencer: identical rows, no temp store left behind") {
    val dir = "/root/testdata/sf0.001"
    def stores(): Set[String] = new java.io.File(System.getProperty("java.io.tmpdir"))
      .list().filter(_.startsWith("graft_q180_store")).toSet
    val before = stores()
    val lazyRows = SparkEntry.queries("q175_airbnb_e2e")(spark, dir).collect().toSeq
    val published = SparkEntry.queries("q180_airbnb_e2e_statestore")(spark, dir)
    val storeRows = published.collect().toSeq
    CheckpointBlocks.release(published)
    assert(lazyRows.nonEmpty)
    assert(storeRows === lazyRows)
    assert(stores() === before, "q180 left its temp store behind")
    // a failing stage (missing fixtures) must not leak the store either
    intercept[Exception](
      SparkEntry.queries("q180_airbnb_e2e_statestore")(spark, s"$dir/missing"))
    assert(stores() === before, "a failed q180 left its temp store behind")
  }

  test("schema gate: a drifted model column aborts the publish (S10)") {
    import graft.schema.ModelSchemas
    import org.apache.spark.sql.types.DoubleType
    val root = Files.createTempDirectory("graft_schema").toString
    val store = new StateStore(spark, root)
    val good = Seq(("Amsterdam_2021-01-05", "Amsterdam",
        java.sql.Date.valueOf("2021-01-05"), 5.1, 2.3))
      .toDF("weather_id", "city", "date", "temperature", "rain")
    store.publish(good, "weather", StateStore.requireSchema(ModelSchemas.weather))

    // the reference's varchar-vs-integer drift lesson (README.md:216-217):
    // a column published with the wrong type must fail the gate...
    val drifted = good.withColumn("temperature", $"temperature".cast("string"))
    intercept[IllegalArgumentException] {
      store.publish(drifted, "weather", StateStore.requireSchema(ModelSchemas.weather))
    }
    // ...and the previous (correctly typed) model must survive
    assert(store.read("weather").schema("temperature").dataType === DoubleType)

    // contract form: a missing required column fails requireFields
    intercept[IllegalArgumentException] {
      store.publish(good.drop("weather_id"), "weather2",
        StateStore.requireFields(ModelSchemas.weather))
    }
  }

  test("model query layer: the reference's 7 analytical queries run on the model") {
    import graft.pipeline.ModelQueries
    val root = Files.createTempDirectory("graft_model").toString
    val store = new StateStore(spark, root)
    val runner = new PipelineRunner(spark, store)
    runner.runListingsHosts(listingsMonth("2021-01-01",
      Seq((10L, 1L, "Amsterdam"), (11L, 1L, "Berlin"), (12L, 2L, "Berlin"))),
      Seq("host_id", "host_name"))
    // weather for Amsterdam/Berlin 2021-01-05 (matches review 100's day)
    val temp = Seq(("593", "20210105", "51"), ("594", "20210105", "-12"))
      .toDF("staid", "date", "tg")
    val rain = Seq(("593", "20210105", "23"), ("594", "20210105", "7"))
      .toDF("staid", "date", "rr")
    val stations = Sources.literal(spark, Seq((593, "Amsterdam"), (594, "Berlin")),
      ("staid", "city"))
    runner.runWeather(temp, rain, stations)
    runner.runReviews(reviewsMonth(Seq(
      (100L, 10L, 500L, "alice", "2021-01-05", "the room was great and clean"),
      (101L, 11L, 500L, "alice", "2021-01-05", "the place was awful and dirty"),
      (102L, 12L, 501L, "bob", "2021-01-05", "le chat est dans la maison avec le chien"))))
    runner.runReviewers()

    ModelQueries.registerModel(spark, store)
    val w = ModelQueries.avgWeatherByCity(spark)
      .as[(String, Double, Double)].collect()
    assert(w.map(_._1).toSeq === Seq("Amsterdam", "Berlin"))
    assert(w(0)._2 === 5.1)

    val shares = ModelQueries.sentimentShare(spark)
      .collect().map(r => r.getString(0) -> r.getDecimal(1).doubleValue()).toMap
    assert(shares === Map("neg" -> 0.5, "pos" -> 0.5))

    val mt = ModelQueries.sentimentVsMovingTemp(spark)
      .as[(String, Double)].collect().toMap
    assert(mt("pos") === 5.1) // Amsterdam review joined its weather day
    assert(mt("neg") === -1.2)

    val mr = ModelQueries.sentimentVsMovingRain(spark)
      .as[(String, Double)].collect().toMap
    assert(mr("pos") === 2.3)

    val langs = ModelQueries.topLanguages(spark).collect().map(_.getString(0))
    assert(langs.toSeq === Seq("en", "fr"))

    val hosts = ModelQueries.multiCityHosts(spark)
      .as[(Long, Long)].collect()
    assert(hosts.head === ((1L, 2L))) // host 1 lists in Amsterdam + Berlin

    val hist = ModelQueries.citiesVisitedHistogram(spark)
      .as[(Long, Long)].collect().toMap
    assert(hist === Map(1L -> 1L, 2L -> 1L)) // alice 2 cities, bob 1
  }

  test("weather stage: TXT parse -> join -> units -> range filter -> surrogate key") {
    val dir = Files.createTempDirectory("graft_weather").toString
    // ECA-style: junk header lines, then STAID,SOUID,DATE,TG,Q_TG with blanks
    Files.writeString(java.nio.file.Path.of(s"$dir/temp.txt"),
      """this is a free-form header
        |STAID, SOUID,    DATE,   TG, Q_TG
        | 593,  100, 20210105,  51,  0
        | 593,  100, 20081231,  40,  0
        | 594,  100, 20210105, -12,  0
        |""".stripMargin)
    Files.writeString(java.nio.file.Path.of(s"$dir/rain.txt"),
      """header junk
        |STAID, SOUID,    DATE,   RR, Q_RR
        | 593,  100, 20210105,  23,  0
        | 594,  100, 20210105,   7,  0
        |""".stripMargin)
    val temp = Sources.readDelimitedLines(spark, s"$dir/temp.txt",
      Seq("staid", "souid", "date", "tg", "q_tg"))
    val rain = Sources.readDelimitedLines(spark, s"$dir/rain.txt",
      Seq("staid", "souid", "date", "rr", "q_rr"))
    val stations = Sources.literal(spark, Seq((593, "Amsterdam"), (594, "Berlin")),
      ("staid", "city"))

    val weather = AirbnbStages.buildWeather(temp, rain, stations)
      .orderBy("weather_id")
    val rows = weather.as[(String, String, java.sql.Date, Double, Double)].collect()
    // 20081231 filtered by the >2009 range predicate; join on (date, staid)
    assert(rows.map(_._1).toSeq === Seq("Amsterdam_2021-01-05", "Berlin_2021-01-05"))
    assert(rows(0)._4 === 5.1) // tenths -> units
    assert(rows(1)._4 === -1.2)
    assert(rows(0)._5 === 2.3)
  }

  test("atomic publish: failed validation keeps the previous model") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new StateStore(spark, root)
    store.publish(Seq((1, "a")).toDF("k", "v"), "m")
    intercept[IllegalArgumentException] {
      store.publish(Seq((1, "a")).toDF("k", "v").limit(0), "m") // empty -> gate throws
    }
    assert(store.read("m").count() === 1) // old model intact
    assert(store.exists("m"))
    assert(!store.exists("nope"))
  }

  test("csv inference parity: multiline/escape reads and the type-drift lesson") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_infer").toString
    // reference read options (apps/preprocess_data.py:84): header,
    // inferSchema, multiLine, escape='"', ignoreLeadingWhiteSpace
    Files.writeString(java.nio.file.Path.of(s"$dir/m1.csv"),
      "id,comments,bathrooms\n" +
        "1,\"line one\nline two\",2\n" +
        "2, \"she said \"\"hi\"\" and left\",3\n")
    Files.writeString(java.nio.file.Path.of(s"$dir/m2.csv"),
      "id,comments,bathrooms\n" +
        "3,plain,\"1.5 shared\"\n")
    val m1 = Sources.readCsvInferred(spark, s"$dir/m1.csv")
    assert(m1.schema("bathrooms").dataType === IntegerType)
    assert(m1.filter($"id" === 1).select("comments").as[String].head()
      === "line one\nline two")
    assert(m1.filter($"id" === 2).select("comments").as[String].head()
      === "she said \"hi\" and left") // ignoreLeadingWhiteSpace + escape

    // the reference's inference drift (README.md:216-217, SURVEY §1.3):
    // the same column re-infers to a DIFFERENT type once a textual value
    // appears in a later month — pinned here as the motivating bug...
    val m2 = Sources.readCsvInferred(spark, s"$dir/m2.csv")
    assert(m2.schema("bathrooms").dataType === StringType)

    // ...and the production explicit-schema path holds the type stable
    // across both months
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("comments", StringType),
      StructField("bathrooms", StringType)))
    val both = Sources.readCsv(spark, s"$dir/*.csv", schema)
    assert(both.count() === 3)
    assert(both.schema("bathrooms").dataType === StringType)
    assert(both.filter($"id" === 3).select("bathrooms").as[String].head() === "1.5 shared")
  }

  test("csv round-trip: multiline quoted text with embedded quotes") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq(
      (1L, "plain"),
      (2L, "line one\nline two"),
      (3L, "she said \"hi\" and left"))
      .toDF("id", "comments")
    Sources.writeCsv(df, s"$dir/out")
    val back = Sources.readCsv(spark, s"$dir/out", df.schema)
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq
      === df.orderBy("id").as[(Long, String)].collect().toSeq)
  }

  test("jsonl round-trip: corpus docs with newlines, quotes, unicode") {
    val dir = Files.createTempDirectory("graft_jsonl").toString
    val df = Seq(
      (1L, "en", "plain text"),
      (2L, "en", "line one\nline two\ttabbed"),
      (3L, "zh", "中文文本 with \"quotes\" and \\ backslash"))
      .toDF("doc_id", "lang", "text")
    Sources.writeJsonl(df, s"$dir/out")
    val back = Sources.readJsonl(spark, s"$dir/out", df.schema)
    assert(back.orderBy("doc_id").as[(Long, String, String)].collect().toSeq
      === df.orderBy("doc_id").as[(Long, String, String)].collect().toSeq)
    // line-delimited: every record is one physical line (splittable scan)
    val lines = spark.read.text(s"$dir/out").count()
    assert(lines === 3)
  }

  test("curate: full flow drops junk/dups, redacts PII, splits, packs, publishes shards") {
    import graft.pipeline.Curation
    val dir = Files.createTempDirectory("graft_curate").toString
    def soup(i: Int) = (0 until 60).map(j => s"w${i}t$j").mkString(" ")
    val good = (1L to 10L).map(i => (i, "en", soup(i.toInt)))
    // every doc carries a shared boilerplate footer line — the corpus-level
    // line scrub must remove it BEFORE quality/dedup see the text
    val corpus = (good ++ Seq(
      (11L, "en", soup(1)),                                    // exact dup of 1
      (12L, "en", soup(2).replace("w2t30", "CHANGED")),        // near-dup of 2
      (13L, "en", soup(13) + " contact bob.smith@corp.example.org for details"),
      (14L, "en", "!!! ??? !!! ;;; %%% &&&")))                 // junk
      .toDF("doc_id", "lang", "text")
      .withColumn("text", concat(col("text"), lit("\nJOIN OUR NEWSLETTER")))

    val r = Curation.curate(corpus, "doc_id", "text", "lang", s"$dir/out",
      minQuality = 0.3, contextTokens = 100L, shardRows = 3L, packGroups = 2,
      lineDedupMinDf = 5)

    assert(r.input === 14)
    assert(r.afterQuality === 13, "junk doc dropped by the quality gate")
    assert(r.afterOovGate === r.afterQuality, "OOV gate disabled by default")
    assert(r.afterExactDedup === 12, "exact dup dropped, min id survives")
    assert(r.afterSpanGate === r.afterExactDedup, "span gate disabled by default")
    assert(r.afterNearDedup === 11, "near-dup non-survivor dropped")
    assert(r.bySplit.values.sum === 11, "every survivor lands in exactly one split")
    assert(r.trainAfterSample === r.bySplit.getOrElse("train", 0L),
      "trainFraction=1.0 must not sample")
    assert(r.shardFiles >= 1)

    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() === 11)
    val ids = out.select("id").as[Long].collect().toSet
    assert(!ids.contains(11L) && !ids.contains(12L) && !ids.contains(14L))
    assert(Set(1L, 2L, 13L).subsetOf(ids), "cluster heads and the PII doc survive")
    val texts = out.select("text").as[String].collect()
    assert(!texts.exists(_.contains("@")), "PII scrubbed before publish")
    assert(texts.exists(_.contains("<EMAIL>")), "redaction placeholder present")
    assert(!texts.exists(_.contains("NEWSLETTER")),
      "boilerplate line scrubbed corpus-wide before publish")
    // packing: bins are dense per (split, pack_group) and the shard cap holds
    assert(out.columns.toSet ===
      Set("id", "lang", "text", "n_tokens", "pack_group", "bin", "split"))
    val trainFiles = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.startsWith("split="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    trainFiles.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 3, s"shard ${f.getName} has $n rows > cap 3")
    }
  }

  test("curate: span gate drops passage-heavy docs doc-level near-dup misses") {
    import graft.pipeline.Curation
    val dir = Files.createTempDirectory("graft_curate_span").toString
    def w(p: String, n: Int) = (0 until n).map(j => s"${p}x$j")
    val aTok = w("a", 80)
    // doc 2: 24 of its 40 tokens are a verbatim passage from doc 1 —
    // 600 permille duplicated spans, but Jaccard(3-shingles) vs the
    // 80-token doc 1 is ~0.23, far below the 0.5 near-dup threshold
    val bTok = w("b", 8) ++ aTok.slice(10, 34) ++ w("c", 8)
    val corpus = Seq(
      (1L, "en", aTok.mkString(" ")),
      (2L, "en", bTok.mkString(" ")),
      (3L, "en", w("d", 40).mkString(" "))).toDF("doc_id", "lang", "text")

    // control: without the gate, every doc survives near-dup — the
    // passage-heavy doc is invisible at doc granularity
    val noGate = Curation.curate(corpus, "doc_id", "text", "lang", s"$dir/ctl",
      minQuality = 0.1, contextTokens = 100L, shardRows = 10L, packGroups = 2)
    assert(noGate.afterNearDedup === 3,
      "control: doc-level near-dup must NOT catch the passage-heavy doc")

    val r = Curation.curate(corpus, "doc_id", "text", "lang", s"$dir/out",
      minQuality = 0.1, contextTokens = 100L, shardRows = 10L, packGroups = 2,
      maxDupSpanPermille = 500, spanK = 8)
    assert(r.afterExactDedup === 3)
    assert(r.afterSpanGate === 2, "600-permille passage doc dropped by the span gate")
    assert(r.afterNearDedup === 2)
    val ids = spark.read.parquet(s"$dir/out").select("id").as[Long].collect().toSet
    assert(ids === Set(1L, 3L), "the copied-from doc itself survives (300 permille)")
  }

  test("curate: OOV gate drops rare-token spam the character-level quality score passes") {
    import graft.pipeline.Curation
    val dir = Files.createTempDirectory("graft_curate_oov").toString
    // 5 ordinary docs over a shared 30-word vocabulary (each cw* token
    // occurs ~5x corpus-wide) + 1 doc of 30 once-only tokens: clean
    // prose at the character level (qualityScore passes it), 100% OOV
    // against the corpus's own top-30 vocab
    val common = (0 until 30).map(i => s"cw$i")
    val ordinary = (1L to 5L).map { d =>
      (d, "en", (0 until 30).map(j => common((j + d.toInt) % 30)).mkString(" "))
    }
    val spam = (6L, "en", (0 until 30).map(i => s"spamtok${i}doc").mkString(" "))
    val corpus = (ordinary :+ spam).toDF("doc_id", "lang", "text")

    // control: gate disabled (default) — spam sails through to publish
    val ctl = Curation.curate(corpus, "doc_id", "text", "lang", s"$dir/ctl",
      minQuality = 0.1, contextTokens = 100L, shardRows = 10L, packGroups = 2)
    assert(ctl.afterOovGate === ctl.afterQuality)
    assert(spark.read.parquet(s"$dir/ctl").select("id").as[Long].collect().toSet
      .contains(6L), "control: no OOV gate, the spam doc publishes")

    val r = Curation.curate(corpus, "doc_id", "text", "lang", s"$dir/out",
      minQuality = 0.1, contextTokens = 100L, shardRows = 10L, packGroups = 2,
      maxOovPermille = 500, oovVocabSize = 30)
    assert(r.afterQuality === 6, "character-level quality passes the spam doc")
    assert(r.afterOovGate === 5, "1000-permille-OOV doc dropped by the vocab gate")
    assert(!spark.read.parquet(s"$dir/out").select("id").as[Long].collect().toSet
      .contains(6L))
  }

  test("curateIncrement: batch admission against state, delta extends state") {
    import graft.dedup.{MinhashState, NearDedup}
    import graft.pipeline.Curation
    def soup(i: Int) = (0 until 60).map(j => s"w${i}t$j").mkString(" ")
    val corpus = (1L to 10L).map(i => (i, "en", soup(i.toInt)))
      .toDF("doc_id", "lang", "text")
    val stateFps = corpus.select(
      graft.functions.HashFunctions.fingerprint64(col("text")).as("fp"))
    val state = NearDedup.minhashState(corpus, "doc_id", "text",
      reuseSketches = false)

    val batch1 = Seq(
      (0L, "en", soup(5).replace("w5t30", "CHANGED")), // near state 5, SMALLER id
      (101L, "en", soup(1)),                           // exact dup of state 1
      (102L, "en", soup(2).replace("w2t30", "CHANGED")), // near state 2
      (103L, "en", soup(103)),                         // fresh
      (104L, "en", soup(103).replace("w103t30", "CHANGED")), // near batch 103
      (105L, "en", "!!! ??? !!! ;;; %%% &&&"))         // junk
      .toDF("doc_id", "lang", "text")
    val r1 = Curation.curateIncrement(state, stateFps, batch1,
      "doc_id", "text", "lang", minQuality = 0.3)
    assert(r1.report.batch === 6)
    assert(r1.report.afterQuality === 5, "junk gated")
    assert(r1.report.contentNew === 4, "exact state dup gated without state shuffle")
    assert(r1.accepted.select("id").as[Long].collect().toSet === Set(103L),
      "near-dups of state (either id order) and of smaller batch ids drop")
    assert(r1.report.accepted === 1)

    // admit batch 1's delta, then batch 2's dups of doc 103 must drop
    // exactly like dups of the original corpus
    val state2 = MinhashState(
      state.buckets.unionByName(r1.newState.buckets),
      state.sketches.unionByName(r1.newState.sketches))
    val fps2 = stateFps.unionByName(r1.newFingerprints)
    val batch2 = Seq(
      (201L, "en", soup(103)),                           // exact dup of accepted 103
      (202L, "en", soup(103).replace("w103t7", "ALSO")), // near-dup of accepted 103
      (203L, "en", soup(203)))                           // fresh
      .toDF("doc_id", "lang", "text")
    val r2 = Curation.curateIncrement(state2, fps2, batch2,
      "doc_id", "text", "lang", minQuality = 0.3)
    assert(r2.report.contentNew === 2, "batch-1 content is now exact-known")
    assert(r2.accepted.select("id").as[Long].collect().toSet === Set(203L),
      "batch-1 near-dups drop against the extended state")
  }

  test("curateIncrementEmbeddings: vector admission against state, delta extends state") {
    import graft.dedup.{EmbeddingState, NearDedup}
    import graft.pipeline.Curation
    def vec(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val corpus = (1L to 40L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val state = NearDedup.embeddingState(corpus, "vec_id", "embedding",
      dim = 16, nBits = 32, bands = 8, reuseSketches = false)

    val batch1 = Seq(
      (0L, vec(5).map(x => x + 0.01f)),   // near state 5, SMALLER id
      (101L, vec(2).map(x => x + 0.01f)), // near state 2
      (102L, vec(999)),                   // fresh
      (103L, vec(999).map(x => x + 0.01f))) // near batch 102
      .toDF("vec_id", "embedding")
    val r1 = Curation.curateIncrementEmbeddings(state, batch1,
      "vec_id", "embedding", dim = 16, threshold = 0.95, nBits = 32, bands = 8)
    assert(r1.report.batch === 4)
    assert(r1.accepted.select("id").as[Long].collect().toSet === Set(102L),
      "near-dups of state (either id order) and of smaller batch ids drop")
    assert(r1.report.accepted === 1)

    // admit batch 1's delta, then batch 2's near-copies of vector 102
    // must drop exactly like near-copies of the original corpus
    val state2 = EmbeddingState(
      state.buckets.unionByName(r1.newState.buckets),
      state.vectors.unionByName(r1.newState.vectors))
    val batch2 = Seq(
      (201L, vec(999).map(x => x + 0.005f)), // near accepted 102
      (202L, vec(777)))                      // fresh
      .toDF("vec_id", "embedding")
    val r2 = Curation.curateIncrementEmbeddings(state2, batch2,
      "vec_id", "embedding", dim = 16, threshold = 0.95, nBits = 32, bands = 8)
    assert(r2.accepted.select("id").as[Long].collect().toSet === Set(202L),
      "batch-1 near-dups drop against the extended state")
  }

  test("readJsonlAudited splits parsed rows from quarantined raw lines") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/corpus.jsonl"),
      """{"id": 1, "text": "good one"}
        |{"id": 2 "text": "missing comma"}
        |{"id": 3, "text": "good two"}
        |not json at all
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val (good, bad) = Sources.readJsonlAudited(spark, s"$dir/corpus.jsonl", schema)
    assert(good.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "good one"), (3L, "good two")))
    val badLines = bad.as[String].collect()
    assert(badLines.length === 2)
    assert(badLines.exists(_.contains("missing comma")))
    assert(badLines.exists(_.contains("not json")))
  }

  test("readCsvAudited splits parsed rows from quarantined raw lines") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv_audit").toString
    // the reference's actual corruption classes (README.md:216-217):
    // a row with the wrong field count, and a type-cast failure
    Files.writeString(java.nio.file.Paths.get(s"$dir/listings.csv"),
      """id,name,price
        |1,"good one",100
        |2,"too,many","fields",55
        |3,"good two",250
        |4,"bad price",not_a_number
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("price", LongType)))
    val (good, bad) = Sources.readCsvAudited(spark, s"$dir/listings.csv", schema)
    assert(good.orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "good one", 100L), (3L, "good two", 250L)))
    val badLines = bad.as[String].collect()
    assert(badLines.length === 2, s"expected 2 quarantined rows, got ${badLines.toSeq}")
    assert(badLines.exists(_.contains("too,many")), "field-count overflow row quarantined")
    assert(badLines.exists(_.contains("not_a_number")), "cast-failure row quarantined")
  }

  test("writeJdbc: truncate-then-load publish is idempotent and round-trips") {
    // in-memory Derby stands in for the warehouse (same JVM in local
    // mode, so executor-side inserts land in the same store)
    val url = "jdbc:derby:memory:graft_s9;create=true"
    val t1 = Seq((1L, "host a", 100L), (2L, "host b", 250L))
      .toDF("id", "name", "price")
    Sources.writeJdbc(t1, url, "model_hosts", truncate = false) // first deploy: create
    val back1 = Sources.readJdbc(spark, url, "model_hosts")
    assert(back1.orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "host a", 100L), (2L, "host b", 250L)))

    // re-publish with different content: TRUNCATE + load, not drop —
    // the table survives with the same DDL and only the new rows
    val t2 = Seq((3L, "host c", 75L)).toDF("id", "name", "price")
    Sources.writeJdbc(t2, url, "model_hosts")
    val back2 = Sources.readJdbc(spark, url, "model_hosts")
    assert(back2.as[(Long, String, Long)].collect().toSeq ===
      Seq((3L, "host c", 75L)), "second publish must fully replace the first")

    // idempotency: re-running the same publish leaves the same table
    Sources.writeJdbc(t2, url, "model_hosts")
    assert(Sources.readJdbc(spark, url, "model_hosts").count() === 1)
  }

  test("writeShards: split-partitioned layout, bounded shard files, lossless") {
    val dir = Files.createTempDirectory("graft_shards").toString
    val df = (0 until 2500)
      .map(i => (i.toLong, if (i % 10 == 0) "val" else "train", s"doc $i"))
      .toDF("id", "split", "text")
      .repartition(4)
    Sources.writeShards(df, s"$dir/out", partitionCols = Seq("split"),
      orderCols = Seq("id"), maxRecordsPerShard = 200)

    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 2500)
    assert(back.select("id").as[Long].collect().toSet === (0L until 2500L).toSet)
    // directory-level split pruning
    assert(spark.read.parquet(s"$dir/out").filter($"split" === "val").count() === 250)
    // every shard file respects the record cap
    val shardFiles = new java.io.File(s"$dir/out/split=train").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(shardFiles.length >= math.ceil(2250.0 / 200).toInt,
      s"2250 rows at cap 200 need >= 12 shards, got ${shardFiles.length}")
    shardFiles.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 200, s"shard ${f.getName} has $n rows > cap 200")
    }
  }

  test("sourceQualityGate: domain verdicts — low-mean and too-small sources drop whole") {
    import graft.pipeline.Curation
    // srcA: diverse text (ttr 1e6); srcB: boilerplate (1 distinct of 4
    // tokens -> 250000 ppm); srcC: diverse but only 2 docs (< minDocs)
    val docs = (
      (1L to 5L).map(i => (i, "a" + i + " b" + i + " c" + i + " d" + i, "srcA")) ++
      (6L to 10L).map(i => (i, "spam spam spam spam", "srcB")) ++
      Seq((11L, "x y z w", "srcC"), (12L, "p q r s", "srcC"))
    ).toDF("doc_id", "text", "source")
    val got = Curation.sourceQualityGate(docs, "doc_id", "text", "source",
        minMeanTtrPpm = 600000L, minDocs = 3L)
      .select("doc_id", "source", "ttr_ppm", "src_docs", "src_mean_ttr_ppm", "keep")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long, Boolean)].collect()
    assert(got.filter(_._2 == "srcA").forall(r =>
      r._3 == 1000000L && r._4 == 5L && r._5 == 1000000L && r._6))
    assert(got.filter(_._2 == "srcB").forall(r =>
      r._3 == 250000L && r._5 == 250000L && !r._6), "boilerplate domain drops whole")
    assert(got.filter(_._2 == "srcC").forall(r =>
      r._3 == 1000000L && r._4 == 2L && !r._6), "too few docs to trust the mean -> drop")
    // the verdict frame is per-doc and complete (audit contract)
    assert(got.length === 12)
    // deterministic under repartitioning
    val again = Curation.sourceQualityGate(docs.repartition(5), "doc_id",
        "text", "source", minMeanTtrPpm = 600000L, minDocs = 3L)
      .select("doc_id", "source", "ttr_ppm", "src_docs", "src_mean_ttr_ppm", "keep")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long, Boolean)].collect()
    assert(again.toSeq === got.toSeq)
  }
}
