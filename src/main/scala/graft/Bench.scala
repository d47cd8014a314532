package graft
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs every query in [[SparkEntry.queries]] in
  * round-robin passes — pass 0 is the cold/warmup pass (recorded but
  * excluded from medians once a warm sample exists), then up to `n`
  * (default 3) warm passes AS THE WALL BUDGET ALLOWS
  * (SPARK_GRAFT_TOTAL_BUDGET, default 600 s) — and reports the
  * PER-QUERY MEDIAN over the warm samples. Single runs on a busy box
  * swing ±30% to several-× on sub-second queries (measured across
  * rounds; the medians are what settle "regression or noise"); the
  * budget gate exists because rounds 12-14 all lost their driver bench
  * artifact to an external kill (rc 124) that landed before an
  * unbounded warmup+3-pass sweep could finish — completed-and-partial
  * beats killed-and-absent.
  *
  * Output discipline: the final stdout line is ONE compact JSON object
  * (`{"metric":"total","value":T,"unit":"sec","queries":{...},"sf":...}`).
  * The round driver keeps only a bounded tail of the log, so the line is
  * kept small: 2-decimal medians (10 ms resolution — ample for 0.1–15 s
  * queries) and a bare scale-factor label. Full-precision per-run timings
  * are written to `BENCH_LOCAL.json` in the working directory for audit.
  */
object Bench {
  /** sf1 scale SENTINELS — queries that ride the 10× leg regardless of
    * their sf0.1 cost, because their SHAPES (candidate equi-joins,
    * index probes, iterative contraction, exact-by-contract theta
    * scans) are where a 100 TB cliff would hide while staying
    * sub-second at sf0.1 (q_edit_distance's 66× cliff was exactly
    * this). ScaleSentinelSpec enforces the coverage contract: every
    * registry query whose plan contains a candidate join must be here
    * or on that spec's audited allowlist. */
  private[graft] val scaleSentinels: Seq[String] = Seq(
    "q_minhash_lsh", "q_setsim_join", "q_embedding_neardup",
    "q_dedup_clusters", "q_ann_ivfpq", "q_bm25_topk",
    "q_events_sessionize", "q_edit_distance", "q_simhash",
    "q_image_neardup", "q_corpus_build",
    // r12: the mutual-kNN scale path (the IVF door reads LINEAR — cell
    // occupancy bounds candidates on ANY corpus) and the
    // once-unadjudicated bootstrap. q_mutual_knn_lsh was DEMOTED from
    // this list in r14: it is the priced recall-first door (its
    // scaladoc prices the isotropic-collision cost; the r14 bucket
    // quota bounds hub damage but measured 107 s cold at sf1 — too
    // close to the 150 s cap on a loaded box to be a stable sentinel),
    // and _ivf is the default mutual-kNN scale path it defers to
    // (ScaleSentinelSpec carries the audited allowlist entry).
    "q_mutual_knn_ivf", "q_bootstrap_ci",
    // r12b: the strict-threshold near-dup door — its whole claim is the
    // wide-band pruning posture, so the 10x contrast with the priced
    // q_embedding_neardup physics case must stay measured
    "q_embedding_neardup_strict")

  /** Compact fixed-point format: 2 decimals under 10 s, 1 decimal above,
    * trailing zeros (and a bare point) stripped — "0.30"→"0.3",
    * "1.00"→"1", "13.61"→"13.6". Every byte of the final JSON line
    * counts against the driver's bounded log-tail capture, and the line
    * must stay whole there to parse. ROOT locale: '.' decimal always. */
  private def fmt(v: Double): String = {
    val s = String.format(java.util.Locale.ROOT,
      if (math.abs(v) >= 10) "%.1f" else "%.2f", Double.box(v))
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
    else s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) -1.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The `"medians"` object of a prior BENCH_LOCAL.json (this program's
    * own audit format — a flat `"name":number` map). Empty on any parse
    * trouble: no baseline just means no regression diff this run. */
  private[graft] def parseMedians(txt: String): Map[String, Double] = {
    val at = txt.indexOf("\"medians\":")
    if (at < 0) Map.empty
    else {
      // the medians object is flat ("name":number pairs, no nesting), so
      // its FIRST '}' is its matching close — bound the scan there, or any
      // key the audit format later emits after "medians" (it already grew
      // "baseline"/"regressions" before it) would silently merge into the
      // baseline map and corrupt the regression gate
      val end = txt.indexOf('}', at)
      val body = if (end < 0) txt.substring(at) else txt.substring(at, end + 1)
      "\"([^\"]+)\":(-?[0-9][0-9.eE+-]*)".r
        .findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  /** The sweep-wide CONTEXT factor between this run and the baseline:
    * the median of per-query ratios current/prior over shared
    * successful queries. A busier or slower box shifts every query by
    * roughly the same factor — round 11 produced 36 spurious flags by
    * diffing a driver-box run against the builder's faster local sweep
    * (~1.3× uniform). The median is robust to real regressions (a
    * minority of queries cannot move it), so dividing it out leaves
    * only PER-QUERY drift for the gate. Clamped to [0.5, 2]: the clamp
    * bounds what normalization can absorb, so a sweep-wide slowdown
    * past 3× (1.5 gate × 2 max scale) still flags every query rather
    * than being explained away as context. 1.0 when fewer than 20
    * shared queries (too few to estimate context). */
  private[graft] def contextScale(
      prior: Map[String, Double], med: Seq[(String, Double)]): Double = {
    val ratios = med.collect {
      case (q, v) if v > 0 && prior.getOrElse(q, 0.0) > 0 => v / prior(q)
    }
    if (ratios.size < 20) 1.0
    else math.min(2.0, math.max(0.5, median(ratios)))
  }

  /** The baseline audit file's `"cpus"` field — a baseline from a
    * differently-sized box is not comparable per-query and is skipped
    * outright rather than normalized. */
  private[graft] def parseCpus(txt: String): Option[Int] =
    "\"cpus\":\"?([0-9]+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)

  /** Queries that got meaningfully slower vs the prior round's medians
    * AFTER dividing out the sweep-wide context factor `scale`: >1.5×
    * AND >0.25 s absolute (sub-second queries swing several-× on a
    * busy box — the absolute floor keeps 0.02→0.05 s noise out), sorted
    * by absolute slowdown. The round-9 lesson: the graph family drifted
    * +25% and nothing noticed until the judge diffed by hand; the
    * round-11 lesson: without context normalization a slower BOX reads
    * as 36 per-query regressions and buries any real one. */
  private[graft] def regressionsOf(
      prior: Map[String, Double],
      med: Seq[(String, Double)],
      scale: Double = 1.0): Seq[(String, Double, Double)] =
    med.collect {
      case (q, v) if v >= 0 && prior.get(q).exists(p =>
        p > 0 && v > 1.5 * p * scale && v - p * scale > 0.25) =>
        (q, prior(q), v)
    }.sortBy { case (_, p, v) => p * scale - v }

  /** Whether a query's median rests on cold samples only: it has a
    * successful sample (`runs`, every sample so far) but no warm one.
    * A query whose only sample is a failed pass-0 run has no median at
    * all — it is listed as failed, not as cold-only. */
  private[graft] def isColdOnly(
      runs: Vector[Double], warmRuns: Vector[Double]): Boolean =
    runs.exists(_ >= 0) && warmRuns.isEmpty

  /** The sf1 leg's wall budget (what the run has left, capped by the
    * leg's own limit), or None below the per-run floor: then the leg
    * builds no dataset and reports every entry skipped. Decided BEFORE
    * generation, which alone takes ~25 s: building it for a leg with no
    * budget pushed ~578 s sweeps past the 600 s line with sf1_n 0. */
  private[graft] def sf1LegBudget(
      legCap: Double, remaining: Double, capFloor: Double): Option[Double] =
    Some(math.min(legCap, remaining)).filter(_ >= capFloor)

  /** A query's sf1 ratio denominator and its source: the leg's cold
    * bench-SF run, else (cold run skipped or failed) the sweep's warm
    * median, else none (-1). */
  private[graft] def sf1Denominator(
      q: String, cold: collection.Map[String, Double],
      warm: collection.Map[String, Double]): (Double, String) =
    cold.get(q).map(_ -> "cold")
      .orElse(warm.get(q).map(_ -> "warm"))
      .getOrElse(-1.0 -> "none")

  /** Whether a sample taken in a warm pass is tagged warm: only when the
    * query already has a successful sample (`prior`, its samples before
    * this one). After a failed pass-0 run the first success still pays
    * JIT and the first build of every session intermediate. */
  private[graft] def tagsWarm(prior: Vector[Double], warmPass: Boolean): Boolean =
    warmPass && prior.exists(_ >= 0)

  /** The last summary line emitted (or the pre-sweep bootstrap line) —
    * what the kill-time shutdown hook re-prints. Volatile: written by
    * the main loop, read by the shutdown thread. */
  @volatile private var lastSummary: String = ""

  /** Set by the shutdown hook: the JVM is dying (external SIGTERM).
    * The main loop keeps running CONCURRENTLY with shutdown hooks until
    * the JVM halts, and every Spark action it submits against the
    * (now stopped) context fails — those failures must not print, or
    * their stack traces displace the summary line from the consumer's
    * bounded log tail (exactly the r13 artifact's tail). */
  @volatile private var dying: Boolean = false

  def main(args: Array[String]): Unit = {
    // WHOLE-RUN wall budget (sweep + sf1 leg), seconds from this line:
    // the r12 driver bench produced NO artifact because sweep + leg
    // outgrew the driver's external kill window (rc 124, parsed null) —
    // a bench that half-runs is worth less than a smaller bench that
    // completes. Audit/summary emission is incremental below so even an
    // external kill leaves parsed data.
    val t0All = System.nanoTime()
    def elapsedAll: Double = (System.nanoTime() - t0All) / 1e9
    // 600 s default (r15; was 1050, before that 1700): r12-r14 were ALL
    // externally killed at rc 124 — and r14 proved the kill lands
    // MID-SWEEP, because the budget only gated the scale leg while the
    // sweep (warmup + n passes) ran unbounded. From r15 the budget
    // gates EVERYTHING: the sweep stops cleanly (fewer timed passes,
    // medians over what completed) and the process exits rc 0 before
    // the driver's kill window. A complete 600 s record beats a killed
    // 1050 s one four rounds running.
    val totalBudget =
      sys.env.getOrElse("SPARK_GRAFT_TOTAL_BUDGET", "600").toDouble
    // reserve for spark.stop() + final emit: the budget gate stops new
    // work at totalBudget - stopMargin so the JVM exits before the
    // window even when the last query ran long. 20 s (r16; was 15): the
    // r15 driver artifact landed at elapsed 602.5 on the 600 s budget —
    // the margin barely lost to one in-flight query plus spark.stop()
    // on a 1.15× slower box. The scale legs below also subtract the
    // margin from THEIR budgets now (they previously ran to the raw
    // budget line, which was most of the overshoot).
    val stopMargin = 20.0
    // ---- kill insurance, registered BEFORE anything can fail: a
    // Hadoop-manager shutdown hook at priority 1. Spark installs its
    // entire hook stack (SparkContext stop, temp-dir cleanup) as ONE
    // Hadoop hook at priority 40, and Hadoop runs hooks in DESCENDING
    // priority order — so this one runs AFTER all of Spark's shutdown
    // noise and its re-printed summary is the literal last line of the
    // process, which is what the round driver's bounded tail parses.
    // Logging is forced OFF first so any still-running main-loop job
    // failing against the stopped context cannot spray stack traces
    // after our line. (BenchKillSpec drives this under
    // `timeout -s TERM` and asserts the last line parses.)
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        override def run(): Unit = {
          dying = true
          try org.apache.logging.log4j.core.config.Configurator.setAllLevels(
            org.apache.logging.log4j.LogManager.getRootLogger.getName,
            org.apache.logging.log4j.Level.OFF)
          catch { case _: Throwable => () }
          if (lastSummary.nonEmpty) {
            System.out.println(lastSummary)
            System.out.flush()
          }
        }
      }, 1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt.max(1)
    // bootstrap summary: parseable from the instant the hook exists, so
    // even a kill during SparkSession startup leaves a valid (if empty)
    // round record instead of a bare stack-trace tail
    lastSummary =
      s"""{"metric":"total","value":0,"unit":"sec","sf":"${sfDir.split('/').last}","n_queries":0,"n_failed":0,"failed":[],"partial":"pre-sweep","queries":{}}"""
    // OUTPUT DISCIPLINE: the consumer keeps only a bounded ~2000-char
    // tail of the merged stream, and the r14 tail was wall-to-wall
    // `WindowExec: No Partition Defined` WARN spam — enough alone to
    // displace any summary line. The bench session logs ERRORs only
    // (query failures print through System.err directly and are
    // unaffected); root level drops to ERROR before the session builds
    // so startup INFO/WARN noise never enters the stream either.
    try org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // pin the session zone so the events-lake timestamp normalization
      // (Tables.load NTZ→UTC micros) is box-independent
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the 127-query round-robin compiles far more than 100 distinct
      // codegen stages per sweep, so the default 100-entry class cache
      // evicts everything between two runs of the same query and every
      // timed run re-pays wholestage compilation; the cache is bounded
      // by entry count either way, just large enough to actually hit
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // bucketed-table queries saveAsTable into the warehouse; keep it
      // out of the repo working tree (default is ./spark-warehouse)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_bench_wh").toString)
      // the bench driver runs at 24 GB (build.sbt), so it can afford the
      // grouped broadcast walk index up to 256 MB packed — the kernel
      // path beats ten serial probe jobs over the sf1 trade graph's
      // 12M-row flat index ~4×. The LIBRARY default stays 64 MB
      // (GraphOps.walkIndex): a default-heap driver must not be routed
      // into a multi-GB transient collect.
      .config("spark.graft.walkIndex.maxBytes", String.valueOf(256L << 20))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm up JIT/codegen + parquet footer caches before timing
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    // local-iteration filter: SPARK_GRAFT_BENCH_ONLY=q_a,q_b runs a
    // subset; the driver never sets it, so round benches stay complete
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(q => only.forall(_.contains(q)))
    val runs = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // samples from the SEQUENTIAL warm passes taken after the query's
    // first success (a subset of `runs`, see `tagsWarm`): a query
    // skipped by a tripped warmup, or whose pass-0 run failed, takes its
    // first successful sample, still a cold one, in a warm pass
    val warmRuns = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)

    // regression gate inputs — parsed BEFORE the sweep so every
    // incremental summary line already carries the gate. The default
    // baseline is the COMMITTED `bench_baseline.json` (a git-pinned
    // copy of the last valid driver run's audit): diffing against the
    // last-WRITTEN working file let repeated same-round runs reset the
    // baseline and launder drift (the r12 gate's defect);
    // SPARK_GRAFT_BENCH_BASELINE still points anywhere explicitly.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      if (java.nio.file.Files.exists(
        java.nio.file.Paths.get("bench_baseline.json"))) "bench_baseline.json"
      else "BENCH_LOCAL.json")
    val baselineTxt =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get(baselinePath))
      catch { case _: Throwable => "" }
    // provenance gate: a baseline written at a different parallelism is
    // not per-query comparable — skip the diff instead of flagging noise
    val cpusMatch = parseCpus(baselineTxt).forall(_ == cpus.toInt)
    val prior =
      if (cpusMatch) parseMedians(baselineTxt) else Map.empty[String, Double]

    // Pass 0 doubles as the warmup (r15; the untimed warmup sweep and
    // the unconditional n timed passes are what made r12-r14 outgrow
    // the driver's kill window). It is timed and RECORDED, but once a
    // query has a warm sample its pass-0 cold run is EXCLUDED from the
    // median — cold pays JIT + the first build of every
    // session-lifetime intermediate (shingle arrays, trained codebooks,
    // corpus-to-cell assignments; round 6 measured q_scalar_subquery
    // 9.8 s cold vs 0.87 s warm), which is not the steady state the
    // medians claim. Under a tight budget a query may end the sweep
    // with ONLY its cold sample — honest, and visible in
    // BENCH_LOCAL.json's raw runs vectors.
    def timedRuns(q: String): Vector[Double] = {
      val w = warmRuns(q)
      if (w.nonEmpty) w else runs(q)
    }
    def medNow: Seq[(String, Double)] =
      names.map(q => q -> median(timedRuns(q).filter(_ >= 0)))
    // any query with a failed (warm-pass) run is named in the output —
    // the total alone cannot distinguish "faster" from "silently broken"
    def failedNow: Seq[String] = names.filter(q => timedRuns(q).exists(_ < 0))
    // queries the budget gate never reached (their runs vector is
    // empty): counted loudly on the line, never silently dropped
    def unmeasuredNow: Seq[String] = names.filter(q => runs(q).isEmpty)
    // queries whose successful samples are all cold (the concurrent
    // pass-0 one, or a first success after a failed pass 0): their
    // median is a cold-and-possibly-contended number (and, for queries
    // whose compute consumes a sibling query's session result cache, a
    // possibly DEFLATED one — the r16 ADVICE hole), so they are counted
    // on the line and EXCLUDED from the regression diff rather than
    // compared against warm baselines
    def coldOnlyNow: Seq[String] =
      names.filter(q => isColdOnly(runs(q), warmRuns(q)))

    // ---- sf1 scale leg (r11): one cold run of the 20 most expensive
    // queries at 10x the bench SF — the cliff probe (cache eviction,
    // spill, broadcast-threshold flips) the sf0.1 medians cannot see.
    // Runs only for the standard sf0.1 bench config; SPARK_GRAFT_SF1=0
    // disables, and the leg's wall clock is whatever the TOTAL budget
    // leaves after the sweep (at most SPARK_GRAFT_SF1_BUDGET, default
    // 900 s) — queries past the budget are REPORTED as skipped, never
    // silently dropped. Uses the driver-provided /root/testdata/sf1
    // when present, else generates a deterministic 10x upsample under the
    // working dir (tools.GenScale documents the shape contract).
    val sf1Results = collection.mutable.LinkedHashMap.empty[String, Double]
    // cold sf0.1 denominators, measured inside the leg: the sweep median
    // is a WARM number for every query backed by a session-lifetime
    // artifact cache (the mutual-kNN lists read 0.33 s warm vs 9.4 s
    // cold), so med->sf1 pairs inflated scale ratios up to ~60x for
    // cache-backed queries (r11 reported q_mutual_knn at "331x"; the
    // honest cold-to-cold ratio is ~5.6x). Each leg query now runs once
    // at the bench SF with caches dropped, and the reported pair is
    // coldSF -> coldSF1 — like for like.
    val sf1Cold = collection.mutable.LinkedHashMap.empty[String, Double]
    // per-entry failure CAUSE: a bare -1.0 cannot distinguish a real
    // per-query exception from a dying harness (r12's artifact recorded
    // 16 of them from a stopped SparkContext) — the exception class
    // rides the audit file next to the timing
    val sf1Errs = collection.mutable.LinkedHashMap.empty[String, String]
    val sf1Skipped = collection.mutable.ListBuffer.empty[String]
    // ---- sf10 spot leg (r14): the 100× decade probe for the five
    // flagship doors, env-gated (SPARK_GRAFT_SF10=1, never set by the
    // driver) — one cold run each at 100× the bench SF, with the cold
    // sf1 run as denominator, so BENCH_LOCAL carries two decades of
    // ratio evidence for the banded shapes.
    val sf10Results = collection.mutable.LinkedHashMap.empty[String, Double]
    val sf10Base = collection.mutable.LinkedHashMap.empty[String, Double]
    val sf10Skipped = collection.mutable.ListBuffer.empty[String]

    // ---- incremental emission: the audit file AND the stdout summary
    // line are (re)written after EVERY completed query — sweep passes
    // and scale-leg entries alike (r15; r14's post-sweep-only emission
    // left a summaryless tail when the driver's kill landed mid-sweep).
    // The consumer keeps only a bounded ~2000-char tail of the log, so
    // whatever line was emitted last is the one it parses, and the
    // line's `elapsed` field doubles as the heartbeat that measures the
    // driver's kill window from any rc-124 artifact.
    def writeAudit(): Unit = {
      val med = medNow
      val coldOnly = coldOnlyNow.toSet
      val medWarm = med.filterNot { case (q, _) => coldOnly(q) }
      val regressed = regressionsOf(prior, medWarm, contextScale(prior, medWarm))
      val r = names.map(q => s""""$q":[${runs(q).mkString(",")}]""")
        .mkString("{", ",", "}")
      val m = med.map { case (q, v) => s""""$q":$v""" }.mkString("{", ",", "}")
      val reg = regressed
        .map { case (q, p, v) => s""""$q":"$p->$v"""" }.mkString("{", ",", "}")
      val s1 = sf1Results
        .map { case (q, v) => s""""$q":$v""" }.mkString("{", ",", "}")
      val s1cold = sf1Cold
        .map { case (q, v) => s""""$q":$v""" }.mkString("{", ",", "}")
      val medMap = med.toMap
      val s1denom = sf1Results.keys
        .map(q => s""""$q":"${sf1Denominator(q, sf1Cold, medMap)._2}"""")
        .mkString("{", ",", "}")
      val s1errs = sf1Errs
        .map { case (q, e) => s""""$q":"$e"""" }.mkString("{", ",", "}")
      val s1skip = sf1Skipped.map(q => s""""$q"""").mkString("[", ",", "]")
      // sf10 spot leg: per-door "coldSf1->coldSf10" pairs plus the
      // derived decade ratio (a LINEAR door reads ~10)
      val s10 = sf10Results.map { case (q, v) =>
        val base = sf10Base.getOrElse(q, -1.0)
        val ratio = if (base > 0 && v > 0) fmt(v / base) else "-1"
        s""""$q":{"sf1":$base,"sf10":$v,"ratio":$ratio}"""
      }.mkString("{", ",", "}")
      val s10skip = sf10Skipped.map(q => s""""$q"""").mkString("[", ",", "]")
      // NOTE: "medians" stays the LAST key (parseMedians is brace-bounded
      // now, but the audit format keeps the convention regardless)
      val coldJson = coldOnlyNow.map(q => s""""$q"""")
        .mkString("[", ",", "]")
      val audit =
        s"""{"sf":"$sfDir","n":$n,"cpus":$cpus,"elapsed":${fmt(elapsedAll)},"baseline":"$baselinePath","baseline_cpus_match":$cpusMatch,"ctx_scale":${fmt(contextScale(prior, medWarm))},"regressions":$reg,"cold_only":$coldJson,"sf1_top20":$s1,"sf1_cold":$s1cold,"sf1_denom":$s1denom,"sf1_errs":$s1errs,"sf1_skipped":$s1skip,"sf10_top5":$s10,"sf10_skipped":$s10skip,"runs":$r,"medians":$m}"""
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LOCAL.json"),
        audit.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () } // audit file is best-effort
    }
    def summaryLine(): String = {
      val med = medNow
      val medMap = med.toMap
      val failed = failedNow
      val coldOnly = coldOnlyNow.toSet
      val medWarm = med.filterNot { case (q, _) => coldOnly(q) }
      val ctxScale = contextScale(prior, medWarm)
      val regressed = regressionsOf(prior, medWarm, ctxScale)
      val total = fmt(med.map(_._2).filter(_ >= 0).sum)
      val sfLabel = sfDir.split('/').last
      // the PREFIX must stay bounded too (the budget below only trims
      // the queries map): n_failed carries the full count, so the name
      // list caps at 8 — an uncapped list of failures could alone
      // overflow the consumer's tail capture and lose the round record
      val failedJson = failed.take(8).map(q => s""""$q"""")
        .mkString("[", ",", "]")
      // A queries map that outgrows the consumer's tail gets its HEAD
      // truncated — the line stops parsing and alphabetically-early
      // queries vanish from the round record (how round 5 lost its
      // q_ann_* lines). Emit SLOWEST-FIRST and stop while the whole
      // line still fits; the omitted tail is sub-median noise, and the
      // full per-run data is in BENCH_LOCAL.json either way.
      val lineBudget = 1850
      // regression summary rides in the (always-kept) prefix: count +
      // the 8 worst as "q":"old->new" — enough to name the drift;
      // BENCH_LOCAL.json carries the full list
      val regJson = regressed.take(8)
        .map { case (q, p, v) => s""""$q":"${fmt(p)}->${fmt(v)}"""" }
        .mkString("{", ",", "}")
      // sf1 scale leg rides in the always-kept prefix as
      // "sf0.1cold->sf1" pairs — the ratio IS the scale verdict, so
      // both numbers stay on the line, and BOTH are cold runs (the
      // warm sweep median falls in only if the cold denominator was
      // skipped or failed). The block is CHARACTER-bounded (slowest
      // sf1 time first, so the worst offenders always survive the
      // cut); entries past the bound and skip names past 8 are
      // counted, never silently dropped.
      val sf1Entries = sf1Results.toSeq.sortBy { case (_, v) => -v }
        .map { case (q, v) =>
          val (denom, _) = sf1Denominator(q, sf1Cold, medMap)
          s""""$q":"${fmt(denom)}->${fmt(v)}"""" }
      val sf1Budget = 800
      val sf1Kept = scala.collection.mutable.ListBuffer.empty[String]
      var sf1Len = 0
      sf1Entries.foreach { e =>
        val add = e.length + (if (sf1Kept.isEmpty) 0 else 1)
        if (sf1Len + add <= sf1Budget) { sf1Kept += e; sf1Len += add }
      }
      val sf1Json = sf1Kept.mkString("{", ",", "}")
      val sf1SkipJson = sf1Skipped.take(8).map(q => s""""$q"""")
        .mkString("[", ",", "]")
      val sf1Meta =
        s""""sf1_n":${sf1Results.size},"sf1_n_skipped":${sf1Skipped.size},"""
      // "elapsed" is the heartbeat: seconds of main() wall time at this
      // emission — an rc-124 artifact's last line turns the driver's
      // kill window from a guess into a measurement. "n_unmeasured"
      // counts queries the budget gate never reached (0 on any healthy
      // run; nonzero means the budget bound before pass 0 finished).
      val prefix = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfLabel","elapsed":${fmt(elapsedAll)},"n_queries":${names.size},"n_failed":${failed.size},"failed":$failedJson,"n_unmeasured":${unmeasuredNow.size},"n_cold_only":${coldOnly.size},"n_regressed":${regressed.size},"ctx_scale":${fmt(ctxScale)},"regressions":$regJson,$sf1Meta"sf1_top20":$sf1Json,"sf1_skipped":$sf1SkipJson,"full":"BENCH_LOCAL.json","queries":{"""
      val suffix = "}}"
      val entries = med.sortBy(-_._2)
        .map { case (q, v) => s""""$q":${fmt(v)}""" }
      // strict prefix of the slowest-first order: stop at the first
      // entry that would overflow, so "present in the line" always
      // means "slower than everything omitted"
      val kept = scala.collection.mutable.ListBuffer.empty[String]
      var len = prefix.length + suffix.length
      var full = false
      entries.foreach { e =>
        val add = e.length + (if (kept.isEmpty) 0 else 1)
        if (!full && len + add <= lineBudget) { kept += e; len += add }
        else full = true
      }
      prefix + kept.mkString(",") + suffix
    }
    def emit(): Unit = {
      writeAudit()
      val line = summaryLine()
      lastSummary = line // the kill-time hook re-prints exactly this
      println(line)
    }

    // ---- the sweep: pass 0 (cold/warmup) + up to n warm passes, every
    // query gated on the remaining budget. Trip semantics: in the
    // concurrent warmup a trip SKIPS that query and the pool keeps
    // draining (a global stop would starve every later query of its
    // warmup and push cold JIT into the timed warm passes — the r16
    // ADVICE hole); in the warm passes a trip skips the query too
    // (estimates are descending, the sub-second tail must still get its
    // samples); only `dying` stops everything outright. Medians over
    // the samples that exist beat an rc-124 kill mid-query (r12-r14,
    // three artifacts lost).
    //
    // Estimate: the worst WARM sequential sample when one exists (the
    // concurrent pass-0 sample can be inflated several-x by contention —
    // gating on it skips queries the budget could afford); a query with
    // only its pass-0 sample is floored at 2 s, because that sample can
    // also be DEFLATED (a sibling sharing a session result-cache family
    // can populate a cache between this query's invalidate and compute),
    // and an underestimate would re-open the overrun window.
    def estOf(q: String): Double = {
      val w = warmRuns(q).filter(_ >= 0)
      if (w.nonEmpty) w.max
      else {
        val v = runs(q).filter(_ >= 0)
        if (v.isEmpty) 2.0 else math.max(v.max, 2.0)
      }
    }
    // `runs` is a plain mutable.Map and emit() reads it whole — one lock
    // covers recording, gate reads and emission for the concurrent
    // warmup below (query EXECUTION stays outside the lock)
    val runsLock = new Object
    // `reserve` shrinks the effective budget for LOW-VALUE work: warm
    // passes 2..n leave room for the sf1 scale leg (see sf1Reserve
    // below) — extra warm samples on the fast tail are worth less than
    // decade-scale evidence rows, and pass 1 (the first warm sample of
    // every query) still gets the whole budget.
    def gateTripped(name: String, reserve: Double = 0.0): Boolean =
      runsLock.synchronized {
        dying || elapsedAll + estOf(name) > totalBudget - stopMargin - reserve
      }
    def runOnce(name: String, warm: Boolean): Unit = {
      // at each query's own start, so under the concurrent warmup too a
      // sibling's cached Result is dropped before this clock starts
      SessionCache.invalidate(spark, SessionCache.Result)
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // a failure must be LOUD: a silently-dropped query shrinks the
      // total, which reads as a speedup to anyone comparing lines
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch {
          case e: Throwable =>
            // a dying JVM's stopped-context failures are shutdown
            // noise, not query verdicts — and printing them would
            // push the summary line out of the consumer's tail
            if (!dying) System.err.println(
              s"FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
            false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      runsLock.synchronized {
        val sample = if (ok) dt else -1.0
        if (tagsWarm(runs(name), warm)) warmRuns(name) = warmRuns(name) :+ sample
        runs(name) = runs(name) :+ sample
        emit()
      }
    }
    // Pass 0 — CONCURRENT warmup (guide §2.6: independent read-only
    // queries submitted from a small pool back-fill each other's driver
    // round-trips, planning time and stage tails; a sequential cold
    // pass leaves local[N] mostly idle because cold time is JIT +
    // planning + serial sub-second actions, not saturated executors).
    // Measured motivation (r15 driver-shape probe, ctx_scale-1.6 box):
    // the sequential cold pass alone ate the whole 600 s budget — 36
    // queries never ran and every reported median was a cold sample
    // (q_frame_sample 30.3 s cold vs 0.24 s warm baseline → 53 phantom
    // regressions). Contention usually INFLATES a pass-0 sample — but a
    // query whose compute consumes a sibling's session result-cache
    // family can also record a DEFLATED one (the sibling populates the
    // cache between this query's invalidate and its compute), so
    // pass-0-only medians are flagged (`n_cold_only`), excluded from
    // the regression diff, and floored in the budget estimates rather
    // than trusted. Pass-0 samples are excluded from the median once a
    // warm sequential sample exists — the warmup's job is building JIT +
    // session intermediates, and it must not starve the warm passes
    // that produce the numbers the round is judged on.
    {
      val workers = math.max(2, math.min(4, cpus.toInt / 4))
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val pool = (0 until workers).map { w =>
        val t = new Thread(() => {
          var go = true
          while (go && !dying) {
            val i = next.getAndIncrement()
            if (i >= names.size) go = false
            // a trip SKIPS this query and the pool keeps draining: a
            // global stop would starve every later query of its warmup
            // and push cold JIT into the timed warm passes on exactly
            // the slow boxes the gate exists for; the per-query check
            // bounds each admission either way
            else if (!gateTripped(names(i))) runOnce(names(i), warm = false)
          }
        }, s"bench-warmup-$w")
        t.start(); t
      }
      pool.foreach(_.join())
      // a warmup trip does NOT cancel the warm passes: under a tight
      // budget the sequential samples below are the valuable ones, and
      // their own gate re-checks per query
    }
    // whether the sf1 scale leg will run (decided here, BEFORE the warm
    // passes, because passes 2..n reserve budget for it)
    val sf1Wanted = sys.env.getOrElse("SPARK_GRAFT_SF1", "1") != "0" &&
      sfDir.split('/').last == "sf0.1" &&
      (only.isEmpty || sys.env.contains("SPARK_GRAFT_SF1_FORCE"))
    // Passes 1..n — sequential (clean, uncontended timing), SLOWEST
    // FIRST by each query's worst recorded sample: under a tight budget
    // the warm samples land exactly where they move the total most
    // (replacing a 30 s cold+JIT sample with a 3 s warm one), and the
    // queries left on their pass-0 sample are the sub-second tail whose
    // cold numbers are already honest. Re-sorted each pass from the
    // freshest estimates.
    // A gate trip here SKIPS the query instead of stopping the pass:
    // estimates are descending, so a 30 s-estimate trip with 20 s of
    // budget left must still let the sub-second tail collect its warm
    // samples. (`dying` still ends the loop outright.)
    //
    // sf1 leg RESERVE (r16): passes 2..n stop early enough to leave the
    // scale leg a slice of the budget — the r15 driver artifact spent
    // the whole 600 s window on the sweep and admitted only 2 sf1
    // entries (31 skipped), leaving the decade-scale story to
    // builder-box probes. Extra warm samples on the sub-second tail are
    // worth less than scale-evidence rows; pass 1 (every query's FIRST
    // warm sample — the one the medians need) still gets the full
    // budget, so median coverage is never traded away.
    val sf1Reserve =
      if (sf1Wanted) sys.env.getOrElse("SPARK_GRAFT_SF1_RESERVE", "180").toDouble
      else 0.0
    for (pass <- 1 to n) {
      val order = runsLock.synchronized { names.sortBy(q => -estOf(q)) }
      val reserve = if (pass >= 2) sf1Reserve else 0.0
      for (name <- order if !dying)
        if (!gateTripped(name, reserve)) runOnce(name, warm = true)
    }
    val med = medNow
    val medMap = med.toMap
    emit() // post-sweep snapshot: a kill mid-leg keeps the sweep record
    // harness self-test knob (BenchKillSpec): park here so an external
    // `timeout -s TERM` deterministically lands while the SparkContext
    // is alive — proving the shutdown hook wins the tail against
    // Spark's own shutdown noise. Never set by the driver.
    sys.env.get("SPARK_GRAFT_TEST_SLEEP_AFTER_SWEEP")
      .foreach(s => Thread.sleep(s.toLong * 1000))

    // ---- shared scale-leg machinery (sf1 every round; sf10 spot leg
    // when explicitly requested) ----
    // FULLY cold per entry: every family's result caches AND the
    // intermediate corpus artifacts (edge tables, walk indexes,
    // shingle arrays, trained models) — r11 and r12 each spent a
    // round adjudicating leg readings that turned out to be
    // leftover-resident pressure from earlier entries' 10×-sized
    // artifacts. The stray-RDD sweep catches cut-leaf
    // storage that a Dataset.unpersist (a CacheManager op) cannot
    // release; it is safe precisely because every cache was just
    // dropped, so nothing alive still expects those blocks.
    def dropAll(): Unit = {
      graft.SessionCache.invalidateAll()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
    }
    // one watchdog-capped, job-group-cancellable run of `name`
    // against `dir`: (completed, timedOut, seconds, errClass) —
    // errClass empty when clean
    def cappedRun(name: String, dir: String, cap: Double)
        : (Boolean, Boolean, Double, String) = {
      val group = s"leg-$name@$dir"
      spark.sparkContext.setJobGroup(group, s"scale leg: $name",
        interruptOnCancel = true)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
      val watchdog = new Thread(() => {
        val deadline = System.nanoTime() + (cap * 1e9).toLong
        while (!done.get && System.nanoTime() < deadline)
          Thread.sleep(100)
        if (!done.get) {
          timedOut.set(true)
          spark.sparkContext.cancelJobGroup(group)
        }
      }, s"leg-watchdog-$name")
      watchdog.setDaemon(true)
      watchdog.start()
      val q0 = System.nanoTime()
      var err = ""
      val ok =
        try { SparkEntry.queries(name)(spark, dir).count(); true }
        catch {
          case e: Throwable =>
            err = e.getClass.getName
            if (!dying) System.err.println(
              s"LEG FAILED $name@$dir: $err: ${e.getMessage}")
            false
        } finally {
          done.set(true)
          spark.sparkContext.clearJobGroup()
        }
      (ok, timedOut.get, (System.nanoTime() - q0) / 1e9, err)
    }
    // the 10× dataset: driver-provided when present, else the
    // deterministic GenScale upsample (built once, marker-cached)
    def resolveSf1Dir(): String = {
      val provided = "/root/testdata/sf1"
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(provided)))
        provided
      else {
        val d = "testdata_sf1"
        try { graft.tools.GenScale.ensure(spark, sfDir, d); d }
        catch { case e: Throwable =>
          if (!dying)
            System.err.println(s"sf1 generation failed: ${e.getMessage}")
          ""
        }
      }
    }

    if (sf1Wanted) {
      val top20 = med.filter(_._2 >= 0).sortBy(-_._2).take(20).map(_._1)
      // Scale SENTINELS ride along regardless of sf0.1 cost: the
      // candidate-join families (banded dedup, prefix filter, ANN
      // serving, inverted-index retrieval, iterative clustering,
      // session windows) are sub-second at sf0.1 and would never make
      // the top-20, yet THEIR shapes — equi-join fan-in, index probe
      // width, star-contraction rounds — are exactly where a 100 TB
      // cliff would hide. Only registered names run (a renamed query
      // drops out visibly via the sentinel's absence from sf1_top20,
      // not a crash).
      // SENTINELS FIRST: they are the leg's reason to exist (the
      // candidate-join shapes a cost-ranked top-20 never surfaces),
      // and under a shrunken budget the top-20's tail — whose scale
      // ratios are re-measured every round — is the right thing to
      // lose first. r12 lost every sentinel instead, because they ran
      // last when the harness died.
      val entries = (scaleSentinels
        .filter(s => SparkEntry.queries.contains(s) && names.contains(s)) ++
        top20).distinct
      // minimum per-run budget floor: a cappedRun whose cap is <= 0
      // has a watchdog deadline already in the past, and
      // cancelJobGroup only cancels ACTIVE jobs — cancelling before
      // the first job submits leaves the query running completely
      // UNCAPPED (an sf1 quadratic can then blow straight through the
      // kill window this budget exists to respect). Entries that
      // cannot get at least the floor are SKIPPED, loudly.
      val capFloor = 5.0
      // the leg gets what the TOTAL budget leaves (at most the leg's
      // own cap), MINUS the stop margin: r12 raised the leg budget to
      // 1200 s in isolation and the whole run outgrew the driver's
      // kill window — the budget that matters is the one the PROCESS
      // lives under. The margin subtraction is the r15 overshoot fix:
      // the leg previously ran to the raw budget line, so a leg entry
      // admitted late + spark.stop() landed the driver artifact at
      // elapsed 602.5 s on a 600 s budget. The leg clock starts BEFORE
      // the dataset is resolved, so generation time counts against it.
      val t0 = System.nanoTime()
      val legBudget = sf1LegBudget(
        sys.env.getOrElse("SPARK_GRAFT_SF1_BUDGET", "900").toDouble,
        totalBudget - stopMargin - elapsedAll, capFloor)
      val sf1Dir = if (legBudget.isEmpty) "" else resolveSf1Dir()
      if (legBudget.isEmpty) {
        sf1Skipped ++= entries
        emit()
      } else if (sf1Dir.nonEmpty) {
        val budget = legBudget.get
        // per-QUERY hard cap on top of the leg budget: the leg exists to
        // find 10x-data cliffs, and a cliff query would otherwise run
        // unbounded (a quadratic plan at sf1 can run for hours) — cancel
        // its job group at the cap and report it as a timeout, which IS
        // the cliff verdict. 150 s (was 300): a cliff is proven by 150 s
        // just as well, two 300 s entries were half of what pushed the
        // r12 run past its kill window, and the floor is set by the
        // slowest HONEST sentinel — q_mutual_knn_lsh's contract-priced
        // quadratic runs ~75 s at sf1 on the reference box and timed
        // out at 120 s on a 1.6×-loaded one (r13 measurement).
        val queryCap =
          sys.env.getOrElse("SPARK_GRAFT_SF1_QUERY_CAP", "150").toDouble
        entries.foreach { name =>
          if (dying || (System.nanoTime() - t0) / 1e9 > budget - capFloor)
            sf1Skipped += name
          else {
            dropAll()
            // the cold bench-SF denominator (see sf1Cold above), under
            // its own 30 s watchdog: a denominator that needs more
            // (r12: q_stump_crossval at 39 s) eats leg budget without
            // being scale evidence — fall back to the sweep median,
            // visible as the query's absence from sf1_cold. Skipped
            // outright below the capFloor: a cap <= 0 means the
            // watchdog's deadline is already past and cancelJobGroup
            // cancels nothing — the run would execute UNCAPPED (the
            // r15 ADVICE hole).
            // the cap is sized from the sweep's own warm median when one
            // exists (3× warm + 5 s covers cold-vs-warm spread for every
            // observed leg query; q_frame_sample's 30.3 s cold outlier
            // was 126× its warm — such a query falls back to the sweep
            // median, visible as its absence from sf1_cold) instead of a
            // flat 30 s: a tight denominator cap is what buys the leg
            // its entry count inside the driver's window
            val elapsed = (System.nanoTime() - t0) / 1e9
            val denomCap = math.min(
              medMap.get(name).filter(_ > 0).map(m => m * 3 + 5)
                .getOrElse(30.0),
              math.min(30.0, budget - elapsed))
            if (denomCap >= capFloor) {
              val (cOk, _, cSecs, _) = cappedRun(name, sfDir, denomCap)
              if (cOk) sf1Cold(name) = cSecs
              dropAll()
            }
            // re-check AFTER the cold run: a 30 s denominator can eat
            // the last of the leg budget, and starting the sf1 run with
            // a non-positive cap is the uncapped-run hole above
            val capSecs = math.min(queryCap,
              budget - (System.nanoTime() - t0) / 1e9)
            if (capSecs < capFloor) sf1Skipped += name
            else {
              val (ok, timedOut, secs, err) = cappedRun(name, sf1Dir, capSecs)
              // a query that finished AT the cap can lose the race (done
              // is set in the finally, after count() returned), so the
              // timeout verdict requires the run to have actually failed
              // — a successful count() is a valid result no matter what
              // the watchdog flag says
              if (timedOut && !ok)
                sf1Skipped += s"$name:timeout>${capSecs.toInt}s"
              else {
                sf1Results(name) = if (ok) secs else -1.0
                if (!ok && err.nonEmpty) sf1Errs(name) = err
              }
            }
            emit()
          }
        }
        // sf1 artifacts must not leak into later sf0.1-keyed cache reads
        dropAll()
      }
    }

    // ---- sf10 spot leg (r14): one more decade of scale evidence for
    // the flagship doors. The brief's bar is plans that survive 100× —
    // 10× is proven every round; this probes the banded shapes one
    // decade further (100× the bench SF) on explicit request
    // (SPARK_GRAFT_SF10=1; builder-local only — the driver's kill
    // window cannot fit a 100× build + leg, so it never rides a round
    // bench). Denominator = the leg's own cold sf1 run, so the
    // reported ratio is decade-over-decade cold-to-cold: a LINEAR door
    // reads ~10, superlinearity reads as the ratio drifting past it.
    val sf10Wanted = sys.env.get("SPARK_GRAFT_SF10").exists(_ != "0") &&
      sfDir.split('/').last == "sf0.1" && !dying
    if (sf10Wanted) {
      val doors = Seq("q_embedding_neardup_strict", "q_minhash_lsh",
        "q_dedup_clusters", "q_mutual_knn_ivf", "q_corpus_build")
        .filter(d => SparkEntry.queries.contains(d) && names.contains(d))
      val sf1Dir = resolveSf1Dir()
      val sf10Dir = {
        val d = "testdata_sf10"
        try { graft.tools.GenScale.ensure(spark, sfDir, d, copies = 100); d }
        catch { case e: Throwable =>
          if (!dying)
            System.err.println(s"sf10 generation failed: ${e.getMessage}")
          ""
        }
      }
      if (sf1Dir.nonEmpty && sf10Dir.nonEmpty) {
        val budget = math.min(
          sys.env.getOrElse("SPARK_GRAFT_SF10_BUDGET", "3600").toDouble,
          totalBudget - stopMargin - elapsedAll)
        val queryCap =
          sys.env.getOrElse("SPARK_GRAFT_SF10_QUERY_CAP", "900").toDouble
        val capFloor = 5.0
        val t0 = System.nanoTime()
        doors.foreach { name =>
          if (dying || (System.nanoTime() - t0) / 1e9 > budget - capFloor)
            sf10Skipped += name
          else {
            dropAll()
            // cold sf1 denominator, measured in THIS leg (the sf1
            // leg's reading, when present, was a different moment of
            // the box — decade ratios must be same-conditions); same
            // capFloor guard as the sf1 leg's denominator (a cap <= 0
            // would run uncapped — the r15 ADVICE hole)
            val baseCap = math.min(
              300.0, budget - (System.nanoTime() - t0) / 1e9)
            if (baseCap >= capFloor) {
              val (bOk, _, bSecs, _) = cappedRun(name, sf1Dir, baseCap)
              if (bOk) sf10Base(name) = bSecs
              dropAll()
            }
            val capSecs = math.min(queryCap,
              budget - (System.nanoTime() - t0) / 1e9)
            if (capSecs < capFloor) sf10Skipped += name
            else {
              // shuffle partitions scale with the decade: at 100× the
              // bench SF, the 32 fixed partitions the sweep pins spill
              // hard (r14 measured the strict near-dup door 64.5 s at
              // 32 partitions vs 23.4 s at 128 — the slowdown was
              // sort-spill, not plan physics). A competent operator
              // sizes partitions to the data; the leg does the same,
              // and the sf1 denominator stays at the sweep's 32 for
              // continuity with three rounds of sf1 baselines.
              spark.conf.set("spark.sql.shuffle.partitions", "128")
              val (ok, timedOut, secs, _) =
                try cappedRun(name, sf10Dir, capSecs)
                finally spark.conf.set("spark.sql.shuffle.partitions", cpus)
              if (timedOut && !ok)
                sf10Skipped += s"$name:timeout>${capSecs.toInt}s"
              else sf10Results(name) = if (ok) secs else -1.0
            }
            emit()
          }
        }
        dropAll()
      }
    }
    spark.stop()
    emit() // final state (identical to the last incremental emission)
  }
}
