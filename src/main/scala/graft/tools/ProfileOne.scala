package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1): run ONE registry
  * query a few times with the bench's session shape and report where
  * the time goes — per-run wall seconds for both the bench's `count()`
  * action and the honest `noop` sink (§1.4: count() lets the optimizer
  * prune columns and whole subtrees), plus a per-stage breakdown of the
  * final run (stage wall ms, task count, name) and an optional
  * `.explain("formatted")` dump for the plans/ evidence directory.
  *
  * Usage: `runMain graft.tools.ProfileOne <query> [reps] [planOutPath]`
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32).
  *
  * Not wired into any driver contract — a builder-local tool.
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileOne <query> [reps] [planOut]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val planOut = if (args.length > 2) Some(args(2)) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    try org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_prof_wh").toString)
      .config("spark.graft.walkIndex.maxBytes", String.valueOf(256L << 20))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(graft.SparkEntry.queries.contains(name), s"unknown query: $name")
    val fn = graft.SparkEntry.queries(name)

    // stage/job accounting for the runs
    case class St(id: Int, name: String, ms: Long, tasks: Int)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(-1L)
        stages.add(St(si.stageId, si.name, ms, si.numTasks))
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ()
    })

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def freshRun(label: String, action: org.apache.spark.sql.DataFrame => Unit)
        : Double = {
      graft.SessionCache.invalidate(spark, graft.SessionCache.Result)
      stages.clear(); jobs.set(0)
      spark.sparkContext.setJobDescription(s"profile:$name:$label")
      val dt = timed(action(fn(spark, sfDir)))
      spark.sparkContext.setJobDescription(null)
      dt
    }

    // warmup (cold numbers printed too — they are the 100 TB-relevant ones)
    val cold = freshRun("cold", _.count())
    println(f"[$name] cold count(): $cold%.2f s  (jobs=${jobs.get} stages=${stages.size})")
    for (r <- 1 to reps) {
      val dt = freshRun(s"count$r", _.count())
      println(f"[$name] warm count() run $r: $dt%.2f s  (jobs=${jobs.get} stages=${stages.size})")
    }
    for (r <- 1 to reps) {
      val dt = freshRun(s"noop$r",
        _.write.format("noop").mode("overwrite").save())
      println(f"[$name] warm noop  run $r: $dt%.2f s  (jobs=${jobs.get} stages=${stages.size})")
      if (r == reps) {
        val top = stages.toArray(Array.empty[St]).sortBy(-_.ms).take(25)
        println(s"[$name] slowest stages of final noop run:")
        top.foreach(s =>
          println(f"  ${s.ms}%6d ms  ${s.tasks}%4d tasks  stage ${s.id}%5d  ${s.name.take(110)}"))
      }
    }
    planOut.foreach { out =>
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(out).getParent)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), txt)
      println(s"[$name] plan written to $out")
    }
    spark.stop()
  }
}
