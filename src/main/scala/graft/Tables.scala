package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * All reads go through parquet with the file's own schema — no inference
  * drift (the reference's CSV `inferSchema` re-reads changed column types
  * between runs; see SURVEY.md §1.3). Column pruning + predicate pushdown
  * reach the scan automatically because these are plain declarative reads.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  // lineitem deliberately does NOT get the rescue spread (r15 A/B,
  // clean-host subset bench): the loader-level repartition won only for
  // the deep star join (q03 2.14 -> 1.80 s) and lost more on the cheap
  // one-pass consumers that dominate the family (q91 0.44 -> 1.03,
  // q95 0.64 -> 0.83, q01 1.26 -> 1.52 — the shuffle of full fact rows
  // costs more than the single aggregation it parallelizes; the
  // documents lesson again). The one measured winner spreads ITSELF at
  // the query (q03's multi-join probe wraps this load in
  // Spread.forCompute).
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across testdata
    * generations — TIMESTAMP(NANOS) (not a legal Spark parquet type; with
    * `spark.sql.legacy.parquet.nanosAsLong=true` it reads as long nanos),
    * tz-aware micros, and naive micros (which Spark 4 reads as
    * TIMESTAMP_NTZ, a type `unix_micros`/numeric casts reject). All three
    * canonicalize here to session-zone TIMESTAMP so every downstream
    * operator sees one type. The session zone is pinned UTC
    * (GraftSession), so NTZ -> TIMESTAMP is value-preserving and agrees
    * with DuckDB reading the same naive micros; the nanos branch
    * truncates with integral `div` (no double round-trip — epoch-nanos
    * exceed double's 53-bit mantissa) exactly as DuckDB truncates ns->us.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")

  /** Embeddings get the [[graft.operators.Spread.forCompute]] rescue
    * spread with floor 2, so a multi-core machine never reads serially.
    * Parquet cannot split a single row group, so a one-row-group
    * embeddings file funnels every downstream pairwise kernel — the q34
    * exact cosine cross join streams its non-broadcast side with the
    * scan's own partitioning, i.e. the whole O(n^2) loop on ONE task
    * while the other cores idle (measured 3.6 s -> 0.5 s at sf0.1 from
    * this alone). Moving the raw vectors once is far cheaper than
    * serializing that compute. Filters and pruning still reach the
    * parquet scan (Catalyst pushes both through Repartition). At
    * warehouse scale the guard never fires: a large corpus has thousands
    * of splits. The few consumers whose per-pair compute dwarfs their
    * bytes (the O(n²) audit kernels) spread THEMSELVES for the compute
    * (NearDedup.exactCosinePairs/exactJaccardPairs).
    *
    * Deliberately NOT applied to `documents`: its query mix is dominated
    * by cheap single-pass projections (token stats, langid, quality)
    * where shuffling the full text costs more than the compute it
    * parallelizes — measured as a net loss across the bench suite. The
    * sketch operators that re-reference documents already persist their
    * narrow sketch frames instead.
    */
  def embeddings(s: SparkSession, d: String): DataFrame =
    graft.operators.Spread.forCompute(load(s, d, "embeddings"), floorCap = 2)

  /** Register every table as a temp view for the `spark.sql` entry path.
    * `events` goes through its canonicalizing loader so the SQL surface
    * sees the same session-zone TIMESTAMP as the DataFrame surface.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
