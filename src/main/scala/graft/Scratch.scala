package graft

/** Throwaway profiling harness (not part of the driver contract). Two
  * modes:
  *  - `profile <qRegex> [sfDir] [reps] [plansOutDir]`: per-stage metrics
  *    and the formatted plans of every action for the matching queries;
  *  - `taskcost`: the per-task fixed cost of a local-mode stage.
  * Earlier rounds' probe results live in the scaladocs of the operators
  * they measured and in SCALE.md.
  */
object Scratch {
  private val usage =
    "usage: graft.Scratch profile <qRegex> [sfDir] [reps] [plansOutDir] | taskcost"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    if (mode != "profile" && mode != "taskcost") {
      println(usage)
      return
    }
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    if (mode == "profile") {
      // r14 optimization-round instrument: per-stage metrics + formatted
      // plan for any declared query. Usage:
      //   scratch profile <qRegex> [sfDir] [reps] [plansOutDir]
      // Prints, per matched query and rep, every completed stage's wall,
      // task count, input bytes, and shuffle read/write bytes — the
      // guide-§1 "where is the time actually going" loop without the UI
      // (spark.ui is disabled in this sandbox). Plans go to
      // plansOutDir/<name>.txt when the 4th arg is given.
      val qRegex = args.lift(1).getOrElse(".*")
      val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
      val reps = args.lift(3).map(_.toInt).getOrElse(2)
      val plansOut = args.lift(4)
      import org.apache.spark.scheduler._
      import scala.collection.mutable
      final case class StageRec(id: Int, attempt: Int, name: String, wallMs: Long,
        tasks: Int, inputMB: Double, shufReadMB: Double, shufWriteMB: Double)
      val stages = mutable.ArrayBuffer.empty[StageRec]
      val listener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for {s <- si.submissionTime; e <- si.completionTime} yield e - s).getOrElse(-1L)
          stages.synchronized { stages += StageRec(si.stageId, si.attemptNumber(), si.name,
            wall, si.numTasks, m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6) }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      // plan capture: eager operators (driver-side iterations, local
      // checkpoints) leave the RESULT plan as a bare LocalTableScan /
      // LogicalRDD — the interesting physical plans belong to the
      // actions executed INSIDE the query fn. A QueryExecutionListener
      // sees every action's QueryExecution; rep1 concatenates them all
      // (numbered) into <name>.txt so Exchange counts / join strategies
      // / PushedFilters are checkable per executed job.
      val planBuf = new java.lang.StringBuilder
      val qel = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          planBuf.synchronized {
            planBuf.append(s"==== action ${funcName} (${durationNs / 1000000} ms) ====\n")
              .append(qe.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
              .append('\n')
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      val names = SparkEntry.queries.keys.filter(_.matches(qRegex)).toSeq.sorted
      for (name <- names) {
        val fn = SparkEntry.queries(name)
        plansOut.foreach { od =>
          planBuf.synchronized(planBuf.setLength(0))
          spark.listenerManager.register(qel)
          val df = fn(spark, dir)
          df.write.mode("overwrite").format("noop").save()
          // listener events are posted asynchronously; let them drain
          Thread.sleep(500)
          spark.listenerManager.unregister(qel)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(od))
          java.nio.file.Files.writeString(java.nio.file.Paths.get(od, s"$name.txt"),
            planBuf.synchronized(planBuf.toString))
          graft.CheckpointBlocks.release(df)
          spark.catalog.clearCache()
        }
        for (r <- 1 to reps) {
          spark.catalog.clearCache()
          stages.synchronized(stages.clear())
          spark.sparkContext.setJobDescription(name)
          val t0 = System.nanoTime()
          val df = fn(spark, dir)
          noop(df)
          val sec = (System.nanoTime() - t0) / 1e9
          graft.CheckpointBlocks.release(df)
          spark.sparkContext.setJobDescription(null)
          // let straggler stage-completed events land
          Thread.sleep(200)
          val snap = stages.synchronized(stages.toList)
          println(f"[profile] $name rep$r: $sec%.2f s, ${snap.size} stages")
          if (r == reps) {
            snap.sortBy(-_.wallMs).foreach { s =>
              println(f"[profile]   stage ${s.id}%4d wall=${s.wallMs / 1000.0}%7.2f s tasks=${s.tasks}%4d " +
                f"in=${s.inputMB}%8.1f MB sr=${s.shufReadMB}%8.1f MB sw=${s.shufWriteMB}%8.1f MB  ${s.name.take(80)}")
            }
            val totalStageWall = snap.map(_.wallMs).sum / 1000.0
            println(f"[profile] $name stage-wall sum=$totalStageWall%.2f s (gaps = driver/planning/collect)")
          }
          System.gc(); Thread.sleep(300)
        }
      }
      spark.sparkContext.removeSparkListener(listener)
    }

    if (mode == "taskcost") {
      // r14: measure the per-task fixed cost in this local-mode setup —
      // the same 1 MB of rows split into k tasks, k swept. Informs how
      // aggressively small-input stages should be coalesced.
      for (k <- Seq(1, 4, 16, 32, 64, 128, 256); rep <- 1 to 3) {
        val t0 = System.nanoTime()
        spark.range(0, 1L << 18, 1, k).selectExpr("sum(id * id)").collect()
        println(f"[taskcost] k=$k%4d rep$rep: ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      }
    }
    spark.stop()
  }
}
