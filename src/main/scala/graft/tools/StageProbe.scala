package graft.tools

import scala.collection.mutable.ArrayBuffer

/** Cost attribution for named SparkEntry queries — the measurement
  * companion to [[ExplainDump]] (optimization guide §1/§7: decide WHERE
  * the time goes before touching anything).
  *
  * Usage: runMain graft.tools.StageProbe <query[,query...]> [reps]
  * Per rep it prints the driver-side split — Dataset construction
  * (operator wiring + any eager pin jobs) vs the terminal action, with
  * the action's Catalyst phase durations (analysis, optimization,
  * planning) and the GraftCache pins still pending / RDDs still
  * persisted once the action has settled — then every completed stage's
  * executorRunTime / executorCpuTime / shuffle bytes with its callsite
  * name, sorted by run time, plus the job list. Reads SPARK_GRAFT_SF_DIR
  * like Bench.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .getOrElse(sys.error("usage: StageProbe <query[,query...]> [reps]"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    // warmup: tables + codegen/noop init, as Bench does
    spark.range(1000).selectExpr("id", "md5(cast(id as string)) h")
      .write.format("noop").mode("overwrite").save()

    case class Row(stage: Int, attempt: Int, run: Long, cpu: Long,
      shufR: Long, shufW: Long, tasks: Int, site: String)
    val rows = ArrayBuffer.empty[Row]
    val jobs = ArrayBuffer.empty[(Int, String, Long)]
    val jobStart = scala.collection.mutable.Map.empty[Int, (String, Long)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        rows.synchronized {
          rows += Row(i.stageId, i.attemptNumber(), m.executorRunTime,
            m.executorCpuTime / 1000000L, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, i.numTasks,
            i.name.take(60) + " | " + i.details.linesIterator
              .filter(l => l.contains("graft.ext") || l.contains("graft.Ext"))
              .take(2).map(_.trim).mkString(" <- "))
        }
      }
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStart.synchronized {
          jobStart(e.jobId) = (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""), System.nanoTime())
        }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobStart.synchronized {
          jobStart.remove(e.jobId).foreach { case (d, t0) =>
            jobs.synchronized {
              jobs += ((e.jobId, d, (System.nanoTime() - t0) / 1000000L))
            }
          }
        }
    }
    for {
      name <- names
      fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      r <- 1 to reps
    } {
      rows.clear(); jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      // pin lifecycle after the settle: a pin still pending or persisted
      // here outlived the action that should have evicted it
      val pending = graft.GraftCache.pendingCount
      val persisted = spark.sparkContext.getPersistentRDDs.size
      graft.GraftSession.sweepPersisted(spark)
      val phases = df.queryExecution.tracker.phases
        .map { case (k, v) => s"$k=${v.durationMs}ms" }.mkString(" ")
      println(f"== rep $r: $name wall ${(t2 - t0) / 1e9}%.2f s, ${rows.size} stages, ${jobs.size} jobs ==")
      println(f"[phase] construct=${(t1 - t0) / 1e9}%.2f s " +
        f"action=${(t2 - t1) / 1e9}%.2f s | $phases")
      println(s"[pins] pending=$pending persisted_rdds=$persisted")
      println(f"total executorRunTime ${rows.map(_.run).sum / 1000.0}%.1f s, " +
        f"cpu ${rows.map(_.cpu).sum / 1000.0}%.1f s")
      rows.sortBy(-_.run).take(25).foreach { s =>
        println(f"stage ${s.stage}%4d run ${s.run / 1000.0}%7.2f s cpu ${s.cpu / 1000.0}%7.2f s " +
          f"tasks ${s.tasks}%3d shufR ${s.shufR / 1048576.0}%7.1f MB shufW ${s.shufW / 1048576.0}%7.1f MB  ${s.site.trim.take(110)}")
      }
      println(s"-- jobs (${jobs.size}) --")
      jobs.sortBy(-_._3).take(20).foreach { case (id, d, ms) =>
        println(f"job $id%4d ${ms / 1000.0}%7.2f s  ${d.take(100)}")
      }
    }
    spark.stop()
  }
}
