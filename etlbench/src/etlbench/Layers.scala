package etlbench

/** Per-layer metrics of a traced run, each a mean per traced pass. Every
  * workload reports every metric; a layer the workload never calls reads 0
  * (for instance `state.publish_calls` on model_analytics). */
object Layers {

  /** Operations whose span names become per-layer walls. */
  val pipelineStages = Seq("listings_hosts", "weather", "reviews", "reviewers")

  def metrics(run: Run, traced: Set[Int], cores: Int,
              counters: Map[String, Double]): Seq[(String, Double, String)] = {
    val t = run.tracer
    val spans = t.spans.filter(s => traced(s.pass)).toSeq
    val n = math.max(1, traced.size).toDouble
    val ops = spans.filter(s => s.op == s.id)
    val busy = t.jobBusyS
    val opWall = ops.map(_.wallS).sum
    val jobBusy = ops.map(o => busy.getOrElse(o.op, 0.0)).sum
    val taskRun = spans.map(_.taskRunMs).sum / 1e3
    val totals = ops.flatMap(o => Option(o.totals))
    def mb(f: graft.Metrics.TaskTotals => Long) = totals.map(f).sum / 1048576.0
    def wall(name: String) = spans.filter(_.name == name).map(_.wallS).sum
    val publish = spans.filter(_.name == "state.publish")
    val reviewsOps = ops.filter(_.name == "pipeline.reviews").map(_.id).toSet

    val spark = Seq(
      ("spark.jobs", spans.map(_.jobs).sum.toDouble, "count"),
      ("spark.stages", spans.map(_.stages).sum.toDouble, "count"),
      ("spark.tasks", spans.map(_.tasks).sum.toDouble, "count"),
      ("spark.planning_s", spans.map(_.planningMs).sum / 1e3, "s"),
      ("spark.job_busy_s", jobBusy, "s"),
      ("spark.driver_gap_s", opWall - jobBusy, "s"),
      ("spark.task_run_s", taskRun, "s"),
      ("spark.task_cpu_s", spans.map(_.taskCpuNs).sum / 1e9, "s"),
      ("spark.gc_s", spans.map(_.gcMs).sum / 1e3, "s"),
      ("spark.input_mb", mb(_.inputBytes), "MB"),
      ("spark.shuffle_read_mb", mb(_.shuffleReadBytes), "MB"),
      ("spark.shuffle_write_mb", mb(_.shuffleWriteBytes), "MB"),
      ("spark.spill_mb", mb(x => x.memorySpillBytes + x.diskSpillBytes), "MB"),
      ("spark.result_mb", mb(_.resultBytes), "MB")
    ).map { case (k, v, u) => (k, v / n, u) } :+
      (("spark.task_utilization", if (opWall > 0) taskRun / (opWall * cores) else 0.0, "ratio"))

    val state = Seq(
      ("state.publish_s", publish.map(_.wallS).sum / n, "s"),
      ("state.publish_calls", publish.size / n, "count"),
      ("state.publish_jobs", publish.map(_.jobs).sum / n, "count"),
      ("state.bytes_written", counters.getOrElse("state.bytes_written", 0.0) / n, "bytes"),
      ("state.files_published", counters.getOrElse("state.files_published", 0.0) / n, "count"),
      ("state.write_amp", counters.getOrElse("state.write_amp", 0.0), "ratio"))

    val sources = Seq(
      ("sources.part1_s", wall("sources.part1") / n, "s"),
      ("sources.part1_bytes_written", counters.getOrElse("sources.part1_bytes_written", 0.0) / n, "bytes"))

    val pipeline = pipelineStages.map(st => (s"pipeline.${st}_s", wall(s"pipeline.$st") / n, "s")) :+
      (("pipeline.reviews_self_s",
        (wall("pipeline.reviews") - publish.filter(s => reviewsOps(s.op)).map(_.wallS).sum) / n, "s"))

    val model = ModelCells.cells.map(_._1).map(c => (s"model.${c}_s", wall(s"model.$c") / n, "s"))
    val opsL = OperatorMix.all.map(q => (s"ops.${q}_s", wall(s"ops.$q") / n, "s"))
    val family = OperatorMix.families.toSeq.sortBy(_._1).map { case (f, qs) =>
      (s"family.${f}_s", qs.map(q => wall(s"ops.$q")).sum / n, "s")
    }
    spark ++ state ++ sources ++ pipeline ++ model ++ opsL ++ family
  }
}
