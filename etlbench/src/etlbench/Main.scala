package etlbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.JsonText.quote

/** Benchmark entry point. One JVM runs one workload with one seed:
  * session start, repeated set-up, a closed loop of passes with one client,
  * then the output checks and the report. `run.py` builds and launches it.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --fixtures DIR [--size full|tiny] [--trace-file F] [--fingerprints F]
  * [--record F]`. The last line of stdout is `ETLBENCH_RESULT <json>`. */
object Main {

  /** Nominal wall of one measured pass on a 4-core host; the pass count is
    * `seconds / nominal`, so a run measures about `seconds` and the number
    * of operations attempted is fixed for a given `seconds`. */
  private val nominalPassS = Map("airbnb_monthly" -> 30.0, "operator_mix" -> 8.0)
  private val setupReps = 3

  private val sizes = Map(
    "full" -> FeedSize(listings = 3000, reviewsPerMonth = 30000, months = 2),
    "tiny" -> FeedSize(listings = 200, reviewsPerMonth = 400, months = 1))

  /** Three short queries for the smoke test's tiny mix. */
  private val tinyMix = Seq("q01_pricing_summary", "q05_anti_join", "q22_lang_detect")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val mainStartMs = System.currentTimeMillis()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val fixtures = new File(opt("fixtures")).getAbsolutePath
    val tiny = opts.get("size").contains("tiny")
    val size = sizes(if (tiny) "tiny" else "full")
    require(nominalPassS.contains(workloadName), s"unknown workload $workloadName")

    val jvmS = (mainStartMs - sys.props.get("etlbench.launchMs").map(_.toLong).getOrElse(mainStartMs)) / 1e3
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val run = new Run(spark, work, seed)
    val recorded = opts.get("fingerprints").filter(f => new File(f).exists).map(f => Fingerprints.read(Path.of(f))).getOrElse(Map.empty)
    val workload: Workload = workloadName match {
      case "airbnb_monthly" => new AirbnbMonthly(run, size, fixtures)
      case "operator_mix" =>
        new OperatorMix(run, fixtures, if (tiny) tinyMix else OperatorMix.all, recorded)
    }

    val setupS = (1 to setupReps).map { rep =>
      val t = System.nanoTime()
      workload.setup(rep)
      (System.nanoTime() - t) / 1e9
    }
    // warm-up (operator_mix): one whole pass, pass -1, so the measured
    // passes do not pay first-use code generation and JIT; it is also the
    // checked pass (see OperatorMix). Its wall is part of set-up
    val warmupS =
      if (!workload.warmup) 0.0
      else {
        run.tracer.pass = -1
        val tw = System.nanoTime()
        workload.pass(verify = true)
        (System.nanoTime() - tw) / 1e9
      }

    // closed loop, one client. A traced run makes the same passes and
    // traces the last one. A pass's wall is the sum of its operations:
    // output checks are untimed.
    val nPasses = if (tiny) 1 else math.max(1, math.round(seconds / nominalPassS(workloadName)).toInt)
    val passWalls = (0 until nPasses).map { p =>
      run.tracer.pass = p
      run.tracer.enabled = traced && p == nPasses - 1
      workload.pass(verify = false)
      (p, run.latencies.filter(_.pass == p).map(_.wallS).sum, run.tracer.enabled)
    }
    run.tracer.enabled = false

    // retained heap: untimed full GCs, with a pause for the context
    // cleaner to release what each GC made unreachable; read as the
    // heap pools' usage right after the last collection
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val retainedMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

    val tracedPasses = passWalls.filter(_._3).map(_._1).toSet
    val untraced = passWalls.map(_._1).toSet -- tracedPasses
    // each unit's best of its measured repetitions: other tenants' load
    // only ever adds time, so the minimum is the steadiest estimate
    val best = run.latencies.filter(l => untraced(l.pass)).groupBy(_.key).values
      .map(ls => (ls.head.query, ls.map(_.wallS).min)).toSeq
    val queries = best.filter(_._1).map(_._2)
    val e2e = Seq(
      ("setup_s", jvmS + sessionS + Util.median(setupS) + warmupS, "s"),
      ("wall_s", best.map(_._2).sum, "s"),
      ("short_query_s", queries.sum / queries.size, "s"),
      ("retained_heap_mb", retainedMb, "MB"))
    val extras = workload.extras(untraced) ++ Seq(
      ("query_p50_s", Util.median(queries), "s"),
      ("query_max_s", if (queries.isEmpty) Double.NaN else queries.max, "s"),
      ("failed_ops", run.failed.toDouble, "count"))

    val layers =
      if (!traced) Nil
      else Layers.metrics(run, tracedPasses, cores, workload.counters(tracedPasses)) :+
        (("trace.overhead_s", run.tracer.overheadS, "s"))

    opts.get("trace-file").foreach(f => Files.writeString(Path.of(f), run.tracer.json))
    opts.get("record").foreach { f =>
      workload match {
        case m: OperatorMix => Fingerprints.write(Path.of(f), m.seen.toMap)
        case _ =>
      }
    }

    def metricsJson(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => s"${quote(n)}:{\"value\":${num(v)},\"unit\":${quote(u)}}" }.mkString("{", ",", "}")
    val json = Seq(
      "workload" -> quote(workloadName),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "passes" -> nPasses.toString,
      "traced_passes" -> tracedPasses.size.toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "failures" -> run.failures.take(20).map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString("{", ",", "}"),
      "setup" -> s"""{"jvm_s":${num(jvmS)},"session_s":${num(sessionS)},"reps_s":${setupS.map(num).mkString("[", ",", "]")},"warmup_s":${num(warmupS)}}""",
      "pass_walls_s" -> passWalls.map(w => num(w._2)).mkString("[", ",", "]"),
      "traced_pass_wall_s" -> passWalls.find(_._3).map(w => num(w._2)).getOrElse("null"),
      "op_walls_s" -> run.latencies.groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, ls) => s"${quote(n)}:${ls.map(l => num(l.wallS)).mkString("[", ",", "]")}" }.mkString("{", ",", "}"),
      "end_to_end" -> metricsJson(e2e),
      "workload_metrics" -> metricsJson(extras),
      "per_layer" -> metricsJson(layers)
    ).map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
    spark.stop()
    println("ETLBENCH_RESULT " + json)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Recorded operator-mix fingerprints: a JSON object `{"qdef": "rows:hash"}`. */
object Fingerprints {
  def read(p: Path): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(Files.readString(p, StandardCharsets.UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  def write(p: Path, fps: Map[String, String]): Unit =
    Files.writeString(p, fps.toSeq.sorted.map { case (k, v) => s"  ${quote(k)}: ${quote(v)}" }
      .mkString("{\n", ",\n", "\n}\n"))
}
