package etlbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** State of one benchmark run: the session, the tracer, and every
  * operation's latency and outcome. An operation is one timed unit: a
  * Part I step or a runner stage, a model cell, or a QDef. */
final class Run(val spark: SparkSession, val work: String, val seed: Long) {
  val tracer = new Tracer(spark)

  /** Every operation that finished. */
  val latencies = mutable.ArrayBuffer.empty[OpTime]
  var attempted = 0
  /** Occurrences of each operation name in the current pass. */
  private val seen = mutable.HashMap.empty[(Int, String), Int].withDefaultValue(0)
  /** `pass/op` keys of failed operations, with the first error of each. */
  val failures = mutable.LinkedHashMap.empty[String, String]

  def pass: Int = tracer.pass

  /** Runs one operation; a throw counts it as failed and propagates, so
    * the caller can abandon the rest of its pass. Operations with the same
    * `key` are repetitions of one unit; by default each occurrence of a
    * name in a pass is its own unit (month 2's stage is not month 3's). */
  def op[T](name: String, key: String = null, query: Boolean = false)(f: => T): T = {
    attempted += 1
    val seq = seen((pass, name)) + 1
    seen((pass, name)) = seq
    try {
      val (r, s) = tracer.op(name)(f)
      latencies += OpTime(pass, name, Option(key).getOrElse(s"$name#$seq"), query, s)
      r
    } catch {
      case NonFatal(e) =>
        fail(s"$name#$attempted", e.toString)
        throw e
    }
  }

  def fail(name: String, why: String): Unit = {
    System.err.println(s"ETLBENCH FAIL pass $pass $name: ${why.take(300)}")
    failures.getOrElseUpdate(s"$pass/$name", why.take(300))
  }

  /** Marks `name` failed unless `ok`. */
  def check(name: String, ok: Boolean, what: => String): Unit =
    if (!ok) fail(name, s"output check: $what")

  def failed: Int = failures.size
}

/** One finished operation: its pass, name, unit key, whether it is a
  * short query (a model cell or a short QDef), and its wall seconds. */
final case class OpTime(pass: Int, name: String, key: String, query: Boolean, wallS: Double)

object Check {

  /** Order-insensitive fingerprint of a result: row count plus the sum of
    * a per-row xxhash64 over every output column. Computing it reads every
    * output column, so it serves as the materialising sink. Doubles are
    * hashed at 9 significant digits, so a sum whose last bits depend on
    * task order still matches. */
  def fingerprint(df: DataFrame): String = {
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = positional.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = positional.select(h.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.6g", x))
    case _: MapType => to_json(c)
    case _ => c
  }
}
