package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-only query probe — one main, four subcommands, none on any
  * query path. Every subcommand resolves its query names first (an
  * unknown name fails before Spark starts), then runs in ONE session
  * built like Bench's (`SPARK_GRAFT_CPUS` cores, default 32) with
  * Bench's cache hygiene between runs. The data directory is
  * `SPARK_GRAFT_SF_DIR` unless `time` is given one.
  *
  *  - `time <query> [sfDir] [runs]` — one warmup + `runs` (default 5)
  *    timed noop-write runs; prints the median, min and every time.
  *  - `jobs <q1,q2,...> [runs]` — runs each query `runs` (default 3)
  *    times and prints, for the LAST (warm) run, every Spark job it
  *    launched: id, wall ms, stages, tasks, summed executor run time
  *    and the job's description or call site. The evidence for
  *    driver-paced multi-job operators (k-means rounds, CC
  *    propagation, PQ training): WHICH sequential jobs a query pays
  *    for and what each costs.
  *  - `plan <outDir> <suffix> [q1,q2,...]` — writes
  *    `<outDir>/<query>_<suffix>.txt` with the `explain("formatted")`
  *    physical plan of each named query (default: every registered
  *    query); the before/after plan evidence under `plans/`.
  *  - `final-plan <query> [outFile]` — executes the query once and
  *    prints or writes the FINAL adaptive plan
  *    (isFinalPlan=true, with AQEShuffleRead / ReusedExchange nodes and
  *    runtime join rewrites visible), which `plan` cannot show.
  */
object Probe {
  private type Query = (SparkSession, String) => DataFrame

  private val Usage = "usage: graft.Probe time <query> [sfDir] [runs] | " +
    "jobs <q1,q2,...> [runs] | plan <outDir> <suffix> [q1,q2,...] | " +
    "final-plan <query> [outFile]"

  def main(args: Array[String]): Unit = {
    val rest = args.toSeq.drop(1)
    def need(i: Int): String = rest.lift(i).getOrElse(sys.error(Usage))
    def names(list: String): Seq[String] =
      list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def sfEnv: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the generated tables' directory"))
    args.headOption match {
      case Some("time") =>
        val sfDir = rest.lift(1).getOrElse(sfEnv)
        withQueries(Seq(need(0))) { (spark, qs) =>
          time(spark, qs.head, sfDir, rest.lift(2).fold(5)(_.toInt))
        }
      case Some("jobs") =>
        withQueries(names(need(0))) { (spark, qs) =>
          jobs(spark, qs, sfEnv, rest.lift(1).fold(3)(_.toInt))
        }
      case Some("plan") =>
        val outDir = need(0)
        withQueries(rest.lift(2).fold(SparkEntry.queries.keys.toSeq.sorted)(names)) {
          (spark, qs) => plan(spark, qs, sfEnv, outDir, rest.lift(1).getOrElse("before"))
        }
      case Some("final-plan") =>
        withQueries(Seq(need(0))) { (spark, qs) =>
          finalPlan(spark, qs.head._2, sfEnv, rest.lift(1))
        }
      case _ => sys.error(Usage)
    }
  }

  /** Resolve `names`, build the one session, run `body`, stop. */
  private def withQueries(names: Seq[String])(
      body: (SparkSession, Seq[(String, Query)]) => Unit): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) sys.error(s"unknown queries: ${unknown.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    try body(spark, names.map(n => n -> SparkEntry.queries(n)))
    finally spark.stop()
  }

  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One full evaluation (noop sink) then the cache clear; seconds. */
  private def timedRun(spark: SparkSession, fn: Query, sfDir: String): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val s = (System.nanoTime() - t0) / 1e9
    clearCaches(spark)
    s
  }

  private def time(spark: SparkSession, q: (String, Query), sfDir: String,
                   runs: Int): Unit = {
    val (name, fn) = q
    timedRun(spark, fn, sfDir) // warmup
    val times = (1 to runs).map(_ => timedRun(spark, fn, sfDir)).sorted
    println(f"[qbench] $name median=${times(runs / 2)}%.3f min=${times.head}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
  }

  private final case class JobRec(id: Int, var endMs: Long, startMs: Long,
                                  nStages: Int, var tasks: Int, var execMs: Long,
                                  site: String)

  private def jobs(spark: SparkSession, qs: Seq[(String, Query)], sfDir: String,
                   runs: Int): Unit = {
    // warmup (same as Bench)
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val site = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
          .orElse(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))
            .map("sqlExec=" + _)))
          .getOrElse("?").take(120)
        jobs.put(e.jobId, JobRec(e.jobId, -1L, e.time, e.stageInfos.size, 0, 0L, site))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        Option(stageToJob.get(Integer.valueOf(si.stageId)))
          .flatMap(j => Option(jobs.get(j.intValue())))
          .foreach { r =>
            r.tasks += si.numTasks
            r.execMs += si.taskMetrics.executorRunTime
          }
      }
    })
    for ((name, fn) <- qs) {
      var last = 0.0
      for (i <- 1 to runs) {
        if (i == runs) { jobs.clear(); stageToJob.clear() }
        last = timedRun(spark, fn, sfDir)
      }
      println(f"=== $name warm_run=$last%.3f s, jobs=${jobs.size} ===")
      jobs.values().toArray(Array.empty[JobRec]).sortBy(_.id).foreach { j =>
        val wall = if (j.endMs > 0) j.endMs - j.startMs else -1L
        println(f"  job ${j.id}%3d wall=${wall}%5d ms stages=${j.nStages}%2d tasks=${j.tasks}%4d execSum=${j.execMs}%6d ms  ${j.site}")
      }
    }
  }

  private def explained(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  private def write(path: java.nio.file.Path, txt: String): Unit =
    java.nio.file.Files.write(path, txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def plan(spark: SparkSession, qs: Seq[(String, Query)], sfDir: String,
                   outDir: String, suffix: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for ((name, fn) <- qs) {
      try {
        write(java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          explained(fn(spark, sfDir)))
        System.err.println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      clearCaches(spark)
    }
  }

  private def finalPlan(spark: SparkSession, fn: Query, sfDir: String,
                        outFile: Option[String]): Unit = {
    val df = fn(spark, sfDir)
    // run df's OWN adaptive plan: a noop write executes the write
    // command's plan, leaving this one at isFinalPlan=false; rows are
    // dropped on the executors, never collected to the driver
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    outFile match {
      case Some(out) => write(java.nio.file.Paths.get(out), explained(df))
      case None => println(explained(df))
    }
  }
}
