package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's kill contract (r14): the round driver runs
  * `graft.Bench` under an external `timeout` and keeps only a bounded
  * tail of the combined output — r12 and r13 both lost their entire
  * round bench record because the SIGTERM-time Spark shutdown noise
  * displaced the last summary line from that tail. This spec drives a
  * real forked Bench JVM to the post-sweep emit, SIGTERMs it (exactly
  * the driver's kill), and asserts the LAST line of the merged
  * stdout+stderr stream is still a parseable summary — i.e. the
  * priority-1 Hadoop shutdown hook (which runs after Spark's
  * priority-40 hook stack) wins the tail.
  */
class BenchKillSpec extends AnyFunSuite {

  // same module opens the forked test JVM itself runs under (build.sbt)
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("SIGTERM after the sweep: last merged-output line parses as the summary") {
    val tmp = java.nio.file.Files.createTempDirectory("bench_kill").toFile
    val outFile = new java.io.File(tmp, "out.log")
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
      .getAbsolutePath
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx4g", "-cp", sys.props("java.class.path"), "graft.Bench"))
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(tmp) // keep BENCH_LOCAL.json/derby droppings out of the repo
    pb.redirectErrorStream(true) // the driver tails the MERGED stream
    pb.redirectOutput(outFile)
    val env = pb.environment()
    env.put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    env.put("SPARK_GRAFT_CPUS", "2")
    env.put("SPARK_GRAFT_BENCH_N", "1")
    env.put("SPARK_GRAFT_BENCH_ONLY",
      "q1_pricing_summary,q6_forecast_revenue,q_dedup_exact")
    env.put("SPARK_GRAFT_SF1", "0")
    env.put("SPARK_GRAFT_TOTAL_BUDGET", "9999")
    // park after the post-sweep emit with the SparkContext ALIVE, so
    // the SIGTERM lands exactly where the driver's kill does: Spark's
    // context-stop hook fires mid-"work" and sprays its usual noise
    env.put("SPARK_GRAFT_TEST_SLEEP_AFTER_SWEEP", "600")
    val p = pb.start()
    try {
      // wait (<= 180 s) for the post-sweep summary emission
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      var seen = false
      while (!seen && System.nanoTime() < deadline && p.isAlive) {
        Thread.sleep(500)
        seen = outFile.exists() &&
          new String(java.nio.file.Files.readAllBytes(outFile.toPath))
            .contains("\"metric\":\"total\"")
      }
      assert(seen, s"no post-sweep summary within 180s; tail: ${tailOf(outFile)}")
      p.destroy() // SIGTERM — what `timeout` sends
      assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS),
        "killed Bench JVM did not exit within 60s of SIGTERM")
    } finally if (p.isAlive) p.destroyForcibly()

    val lines = new String(java.nio.file.Files.readAllBytes(outFile.toPath))
      .split('\n').map(_.trim).filter(_.nonEmpty)
    val last = lines.last
    // the driver's parse: last line of the bounded tail must be the JSON
    // summary — nothing (Spark shutdown stack traces included) after it
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(last)
      catch { case e: Throwable =>
        fail(s"last output line is not JSON (${e.getMessage}): $last")
      }
    assert(node.get("metric") != null && node.get("metric").asText == "total",
      s"last line is JSON but not the bench summary: $last")
    assert(node.get("n_queries").asInt == 3,
      s"hook re-printed the bootstrap line, not the post-sweep summary: $last")
  }

  /** The r15 lesson (VERDICT r14): the driver runs Bench under an sbt
    * WRAPPER whose output pump dies with it — a SIGTERM-time shutdown
    * hook cannot win that race, because the child's last line dies in
    * the dead wrapper's pipe. The only robust fix is finishing BEFORE
    * the kill: the budget gate must stop the sweep and exit rc 0. This
    * test drives Bench through a pipe wrapper (stdout/stderr pumped by
    * a separate process, like sbt's log pump) with a budget the sweep
    * fits, and asserts the process exits CLEANLY within the budget +
    * margin with a parseable final summary carrying the `elapsed`
    * heartbeat.
    */
  test("budget self-termination under a piped wrapper: rc 0, parseable tail") {
    val tmp = java.nio.file.Files.createTempDirectory("bench_budget").toFile
    val outFile = new java.io.File(tmp, "out.log")
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
      .getAbsolutePath
    val javaCmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx4g", "-cp", sys.props("java.class.path"), "graft.Bench"))
      .map(a => "'" + a.replace("'", "'\\''") + "'").mkString(" ")
    // the wrapper: a shell parent whose `cat` pump forwards the merged
    // stream (sbt's topology in miniature). A clean child exit closes
    // the pipe, the pump flushes everything, and the tail survives.
    val pb = new ProcessBuilder("sh", "-c", s"$javaCmd 2>&1 | cat")
    pb.directory(tmp)
    pb.redirectErrorStream(true)
    pb.redirectOutput(outFile)
    val env = pb.environment()
    env.put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    env.put("SPARK_GRAFT_CPUS", "2")
    env.put("SPARK_GRAFT_BENCH_N", "3")
    env.put("SPARK_GRAFT_BENCH_ONLY",
      "q1_pricing_summary,q6_forecast_revenue,q_dedup_exact")
    env.put("SPARK_GRAFT_SF1", "0")
    env.put("SPARK_GRAFT_TOTAL_BUDGET", "150")
    val budgetMargin = 90 // JVM+Spark teardown and box noise headroom
    val t0 = System.nanoTime()
    val p = pb.start()
    try {
      assert(p.waitFor(150 + budgetMargin, java.util.concurrent.TimeUnit.SECONDS),
        s"Bench did not self-terminate within budget+margin; tail: ${tailOf(outFile)}")
      val wall = (System.nanoTime() - t0) / 1e9
      assert(p.exitValue == 0,
        s"Bench exited rc ${p.exitValue} (wall ${wall}s); tail: ${tailOf(outFile)}")
    } finally if (p.isAlive) p.destroyForcibly()

    val lines = new String(java.nio.file.Files.readAllBytes(outFile.toPath))
      .split('\n').map(_.trim).filter(_.nonEmpty)
    val last = lines.last
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(last)
      catch { case e: Throwable =>
        fail(s"last output line is not JSON (${e.getMessage}): $last")
      }
    assert(node.get("metric") != null && node.get("metric").asText == "total",
      s"last line is JSON but not the bench summary: $last")
    assert(node.get("elapsed") != null && node.get("elapsed").asDouble <= 150.0,
      s"summary heartbeat missing or past budget: $last")
    assert(node.get("n_queries").asInt == 3, s"wrong query count: $last")
    // the tiny subset must complete fully inside a 150 s budget —
    // nothing unmeasured, every query carries a median
    assert(node.get("n_unmeasured").asInt == 0, s"unmeasured queries: $last")
    // the audit file's per-query job record: one count per sample in
    // "runs", and every successful sample ran at least one job
    val audit = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(tmp, "BENCH_LOCAL.json"))
    Seq("q1_pricing_summary", "q6_forecast_revenue", "q_dedup_exact").foreach { q =>
      val samples = audit.get("runs").get(q)
      val jobs = Option(audit.get("jobs")).map(_.get(q)).orNull
      assert(jobs != null && jobs.size == samples.size,
        s"$q: jobs $jobs, runs $samples")
      (0 until samples.size).filter(k => samples.get(k).asDouble >= 0)
        .foreach(k => assert(jobs.get(k).asInt >= 1, s"$q: jobs $jobs, runs $samples"))
    }
  }

  private def tailOf(f: java.io.File): String =
    if (!f.exists()) "<no output file>"
    else {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath))
      s.substring(math.max(0, s.length - 2000))
    }
}
