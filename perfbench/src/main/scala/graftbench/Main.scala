package graftbench

import java.io.PrintWriter
import java.util.concurrent.{Callable, ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.crack.CrackQuery
import graft.graph.GraphOps
import graft.keyspace.{CrackKernels, Keyspace}
import graft.pipeline.TrainingData
import graft.streaming.CrackPipeline
import graft.streaming.CrackPipeline.CrackJob
import graft.streaming.CrackService.CrackReply

/** JVM side of the benchmark. `run.py` generates the inputs from the seed,
  * starts this program, and checks and summarises what it writes.
  *
  * Input file: one request per line, tab-separated, `W` (warm-up) or `T`
  * (timed) first. crack and service: `kind id sha1hex len due_ms` (due
  * relative to the first timed request; service only);
  * olap and iterative: `kind id query pass`.
  *
  * Output file: one JSON object with the pinned session settings, the time
  * the first timed request started, and one record per request (plus the
  * layer records when `--trace 1`). */
object Main {

  final case class Req(kind: String, id: String, a: String, b: String, c: String)

  final class Opts(args: Array[String]) {
    private val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: String = m("workload")
    val mode: String = m.getOrElse("mode", "bench")
    val inputs: String = m("inputs")
    val out: String = m("out")
    val work: String = m("work")
    val data: String = m.getOrElse("data", "")
    val seconds: Double = m("seconds").toDouble
    val trace: Boolean = m.getOrElse("trace", "0") == "1"
    val cores: Int = m("cores").toInt
    val minPasses: Int = m.getOrElse("min-passes", "1").toInt
    val triggerMs: Long = m.getOrElse("trigger-ms", "0").toLong
  }

  def now(): Long = System.nanoTime()
  def secsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    val settings = mutable.LinkedHashMap[String, Any](
      "spark.master" -> s"local[${o.cores}]",
      "spark.sql.shuffle.partitions" -> o.cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4000",
      "spark.local.dir" -> s"${o.work}/local",
      "spark.sql.warehouse.dir" -> s"${o.work}/warehouse",
      "spark.sql.streaming.checkpointLocation" -> s"${o.work}/checkpoints")
    val b = SparkSession.builder().master(s"local[${o.cores}]")
    settings.foreach { case (k, v) => if (k != "spark.master") b.config(k, v.toString) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    settings("max_heap_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
    settings("data") = o.data
    println("SETTINGS " + Json(settings))

    val reqs = scala.io.Source.fromFile(o.inputs, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        Req(f(0), f(1), f(2), f(3), if (f.length > 4) f(4) else "")
      }.toVector
    val h = new Harness(spark, o)
    val result = o.mode match {
      case "pin" => h.pin(reqs.filter(_.kind == "T").map(_.a).distinct)
      case _ => o.workload match {
        case "crack" => h.crack(reqs)
        case "olap" | "iterative" => h.registry(reqs)
        case "service" => h.service(reqs)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    val w = new PrintWriter(o.out, "UTF-8")
    try w.print(Json(result ++ Map("settings" -> settings))) finally w.close()
    spark.stop()
  }

  /** Order-insensitive digest of a result: columns sorted by name, rows
    * rendered and sorted, SHA-1 over the lines. */
  def digest(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    sha1Hex(lines.mkString("\n").getBytes("UTF-8"))
  }

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  def sha1Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(bytes).map("%02x".format(_)).mkString
}

object Harness {
  /** One call of the program. With `traced`, its jobs carry the request
    * id, and the driver-side counters (codegen, cache residency) are read
    * around it; the listener-side layers are joined in [[layers]]. */
  final case class Call(
      id: String, startMs: Double, endMs: Double, wallS: Double,
      answer: String, err: String, traced: Boolean,
      persistedBefore: Set[Int], driverLayers: Map[String, Double])
}

final class Harness(spark: SparkSession, o: Main.Opts) {
  import Harness.Call
  import Main._

  private val sc = spark.sparkContext
  private val tracer = new Tracer
  if (o.trace && o.workload != "service") {
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
  }
  private var firstTimedMs = 0L

  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private def residentMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  /** Times `body`; the function it returns (rendering the answer, e.g. a
    * result digest) runs after the clock stopped, and so does `prep`
    * before it started. */
  private def call(id: String, traced: Boolean, prep: () => Unit)(
      body: => () => String): Call = {
    prep()
    val before = if (traced) sc.getPersistentRDDs.keySet.toSet else Set.empty[Int]
    val (c0, n0) = codegen()
    if (traced) sc.setLocalProperty(Tracer.ReqKey, id)
    val startMs = System.currentTimeMillis()
    val t0 = now()
    val (render, err0) =
      try (body, null)
      catch { case e: Throwable => (null, s"${e.getClass.getName}: ${e.getMessage}") }
    val wall = secsSince(t0)
    sc.setLocalProperty(Tracer.ReqKey, null)
    val (c1, n1) = codegen()
    val (answer, err) =
      if (render == null) (null, err0)
      else try (render(), null)
      catch { case e: Throwable => (null, s"${e.getClass.getName}: ${e.getMessage}") }
    val driver = if (!traced) Map.empty[String, Double] else Map(
      "codegen.compiles" -> (c1 - c0).toDouble,
      "codegen.compile_ms" -> (n1 - n0) / 1e6,
      "cache.resident_mb" -> residentMb())
    Call(id, startMs.toDouble, startMs + wall * 1e3, wall, answer, err, traced, before, driver)
  }

  private def layers(c: Call): Map[String, Double] =
    c.driverLayers ++ tracer.aggregate(c.id, c.startMs, c.endMs, o.cores, c.persistedBefore)

  /** Runs `r` once, or in trace mode twice (untraced and traced, the order
    * alternating with `i`), so the trace overhead is measured pairwise. */
  private def timedRequest(r: Req, i: Int, extra: Map[String, Any], prep: () => Unit)(
      body: => () => String): (Map[String, Any], Option[Call]) = {
    if (!o.trace) {
      val c = call(r.id, traced = false, prep)(body)
      (extra ++ Map("id" -> r.id, "start_ms" -> c.startMs, "wall_s" -> c.wallS,
        "answer" -> c.answer, "err" -> c.err), None)
    } else {
      def untraced() = call(r.id, traced = false, prep)(body)
      def traced() = call(r.id + ":t", traced = true, prep)(body)
      val pair = if (i % 2 == 0) { val u = untraced(); Seq(u, traced()) }
      else { val t = traced(); Seq(t, untraced()) }
      val u = pair.find(!_.traced).get
      val t = pair.find(_.traced).get
      (extra ++ Map("id" -> r.id, "start_ms" -> pair.head.startMs, "wall_s" -> u.wallS,
        "answer" -> u.answer, "err" -> u.err, "traced_wall_s" -> t.wallS,
        "traced_answer" -> t.answer, "traced_err" -> t.err), Some(t))
    }
  }

  private def finish(recs: Seq[(Map[String, Any], Option[Call])], windowS: Double,
      extra: Map[String, Any]): Map[String, Any] = {
    val rows = if (!o.trace) recs.map(_._1) else {
      org.apache.spark.graftbench.Bus.drain(sc)
      val calls = recs.flatMap(_._2)
      tracer.writeSpans(s"${o.work}/spans.jsonl", calls.map(c => (c.id, c.startMs, c.endMs)))
      recs.map { case (m, c) => m ++ c.map(x => "layers" -> layers(x)) }
    }
    Map("first_timed_ms" -> firstTimedMs, "window_s" -> windowS, "requests" -> rows) ++ extra
  }

  // ---- crack: closed loop of CrackQuery.crack calls --------------------

  def crack(reqs: Seq[Req]): Map[String, Any] = {
    def run(r: Req): String =
      CrackQuery.crack(spark, r.a, r.b.toInt).getOrElse("x")
    reqs.filter(_.kind == "W").foreach(run)
    val timed = reqs.filter(_.kind == "T")
    firstTimedMs = System.currentTimeMillis()
    val t0 = now()
    val recs = mutable.ArrayBuffer.empty[(Map[String, Any], Option[Call])]
    while (recs.size < timed.size && (recs.isEmpty || secsSince(t0) < o.seconds)) {
      val r = timed(recs.size)
      recs += timedRequest(r, recs.size, Map("target" -> r.a, "len" -> r.b.toInt), () => ()) {
        val a = run(r)
        () => a
      }
    }
    val window = secsSince(t0)
    finish(recs.toSeq, window,
      if (o.trace) Map("kernels" -> kernelRates()) else Map.empty)
  }

  // ---- olap / iterative: closed loop over registry queries -------------

  private def dropResultCaches(): Unit = {
    TrainingData.invalidateCaches(spark)
    GraphOps.invalidateCaches(spark)
  }

  def registry(reqs: Seq[Req]): Map[String, Any] = {
    // warm-up: every query once, concurrently, as graft.Bench does;
    // the session-level corpus artifacts it builds stay for the timed loop
    val pool = Executors.newFixedThreadPool(o.cores)
    try {
      reqs.filter(_.kind == "W").map { r =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = { SparkEntry.queries(r.a)(spark, o.data).collect(); () }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    // let the context cleaner release what the warm-up left behind
    // (it runs on driver GC) before the clock starts
    System.gc()
    Thread.sleep(500)
    val passes = reqs.filter(_.kind == "T").groupBy(_.b.toInt).toSeq.sortBy(_._1).map(_._2)
    firstTimedMs = System.currentTimeMillis()
    val t0 = now()
    val recs = mutable.ArrayBuffer.empty[(Map[String, Any], Option[Call])]
    var p = 0
    while (p < passes.size && (p < o.minPasses || secsSince(t0) < o.seconds)) {
      passes(p).foreach { r =>
        recs += timedRequest(r, recs.size, Map("query" -> r.a, "pass" -> p),
          () => dropResultCaches()) {
          val df = SparkEntry.queries(r.a)(spark, o.data)
          val rows = df.collect()
          () => digest(df.schema, rows)
        }
      }
      p += 1
    }
    val window = secsSince(t0)
    finish(recs.toSeq, window, Map.empty)
  }

  // ---- pin: one result per query, for the DuckDB comparison ------------

  def pin(queries: Seq[String]): Map[String, Any] = {
    val digests = queries.map { q =>
      dropResultCaches()
      val df = SparkEntry.queries(q)(spark, o.data)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${o.work}/pin/$q")
      q -> digest(df.schema, rows)
    }.toMap
    Map("digests" -> digests,
      "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }

  // ---- service: open loop through the streaming crack pipeline ---------

  def service(reqs: Seq[Req]): Map[String, Any] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[CrackJob]
    val delivered = new ConcurrentHashMap[Long, (Long, String)]()
    val replies = new ConcurrentHashMap[Long, AtomicInteger]()
    @volatile var lastReplyBatch = -1L
    val sink: (Dataset[CrackReply], Long) => Unit = (ds, batchId) => {
      val rows = ds.collect()
      val t = now()
      if (rows.nonEmpty) lastReplyBatch = batchId
      rows.foreach { r =>
        replies.computeIfAbsent(r.reqId, _ => new AtomicInteger()).incrementAndGet()
        delivered.putIfAbsent(r.reqId, (t, if (r.status == "f") r.pass else "x"))
      }
    }
    val query = CrackPipeline.replyStream(input.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"${o.work}/checkpoints/service")
      .trigger(Trigger.ProcessingTime(o.triggerMs))
      .foreachBatch(sink).start()
    def job(r: Req): CrackJob = CrackJob(r.id.toLong, r.a, r.b.toInt, o.cores)
    def awaitAll(ids: Seq[Long], timeoutS: Double): Unit = {
      val t = now()
      while (ids.exists(id => !delivered.containsKey(id)) && secsSince(t) < timeoutS)
        Thread.sleep(5)
    }
    try {
      // warm-up: one request alone (the stream's first batch), then the
      // rest on the offered schedule; their due times are negative, so the
      // warm-up runs straight into the timed schedule
      val warm = reqs.filter(_.kind == "W").sortBy(_.c.toDouble)
      input.addData(job(warm.head))
      awaitAll(Seq(warm.head.id.toLong), 60)
      val timed = reqs.filter(_.kind == "T").sortBy(_.c.toDouble)
      val lead = -warm.map(_.c.toDouble).min
      firstTimedMs = System.currentTimeMillis() + lead.toLong
      val t0 = now() + (lead * 1e6).toLong
      def sendAt(r: Req): Long = {
        val dueNs = t0 + (r.c.toDouble * 1e6).toLong
        var wait = dueNs - now()
        while (wait > 0) {
          Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          wait = dueNs - now()
        }
        val t = now()
        input.addData(job(r))
        t
      }
      warm.tail.foreach(sendAt)
      val half = o.seconds * 500.0
      var cgHalf = codegen()
      var traceStartMs = Double.NaN
      val sent = timed.map { r =>
        if (o.trace && traceStartMs.isNaN && r.c.toDouble >= half) {
          sc.addSparkListener(tracer)
          spark.streams.addListener(tracer.streaming)
          cgHalf = codegen()
          traceStartMs = System.currentTimeMillis().toDouble
        }
        sendAt(r)
      }
      val windowEnd = t0 + (o.seconds * 1e9).toLong
      while (now() < windowEnd) Thread.sleep(1)
      val backlog = timed.count(r => !delivered.containsKey(r.id.toLong))
      awaitAll(timed.map(_.id.toLong), 30)
      val window = secsSince(t0)
      val (c1, n1) = codegen()
      val recs = timed.zipWithIndex.map { case (r, i) =>
        val d = Option(delivered.get(r.id.toLong))
        Map("id" -> r.id, "target" -> r.a, "len" -> r.b.toInt, "due_ms" -> r.c.toDouble,
          "sent_ms" -> (sent(i) - t0) / 1e6,
          "delivered_ms" -> d.map(x => (x._1 - t0) / 1e6).getOrElse(-1.0),
          "answer" -> d.map(_._2).orNull,
          "replies" -> Option(replies.get(r.id.toLong)).map(_.get).getOrElse(0))
      }
      val traceOut: Map[String, Any] = if (!o.trace) Map.empty else {
        // a batch reports its progress after its sink ran
        val t = now()
        while (Option(query.lastProgress).forall(_.batchId < lastReplyBatch) && secsSince(t) < 10)
          Thread.sleep(5)
        org.apache.spark.graftbench.Bus.drain(sc)
        val bs = tracer.batches.filter(_.start >= traceStartMs).toVector
        tracer.writeSpans(s"${o.work}/spans.jsonl",
          bs.map(x => (s"batch:${x.id}", x.start.toDouble, x.end.toDouble)))
        Map("trace_start_ms" -> (traceStartMs - firstTimedMs),
          "codegen_traced" -> Map("compiles" -> (c1 - cgHalf._1).toDouble,
            "compile_ms" -> (n1 - cgHalf._2) / 1e6),
          "batches" -> bs.map { x =>
            Map("id" -> x.id, "batch_ms" -> x.batchMs, "planning_ms" -> x.planningMs,
              "commit_ms" -> x.commitMs, "state_commit_ms" -> x.stateCommitMs,
              "state_rows" -> x.stateRows, "state_mb" -> x.stateBytes / (1024.0 * 1024.0),
              "input_rows" -> x.inputRows,
              "layers" -> tracer.aggregate(s"batch:${x.id}", x.start, x.end, o.cores, Set.empty))
          },
          "kernels" -> kernelRates())
      }
      Map("first_timed_ms" -> firstTimedMs, "window_s" -> window, "backlog_end" -> backlog,
        "requests" -> recs) ++ traceOut
    } finally query.stop()
  }

  // ---- keyspace kernels, single thread, outside the timed window -------

  private def kernelRates(): Map[String, Double] = {
    val len = 5
    val n = 1000000L
    val missHex = sha1Hex("zzzzz0".getBytes("US-ASCII"))
    val miss = java.security.MessageDigest.getInstance("SHA-1").digest("zzzzz0".getBytes("US-ASCII"))
    def rate(body: => Unit): Double = {
      body // warm
      val xs = (0 until 3).map { _ => val t = now(); body; n / secsSince(t) }.sorted
      xs(1)
    }
    val kernel = rate {
      var o = 0L
      while (o < n) { if (CrackKernels.sha1MatchesOrdinal(o, len, miss)) throw new IllegalStateException; o += 1 }
    }
    val ceiling = rate {
      val md = java.security.MessageDigest.getInstance("SHA-1")
      val buf = Keyspace.numToPassBytes(0L, len, wrap = false)
      val out = new Array[Byte](20)
      var o = 0L
      while (o < n) {
        md.update(buf, 0, len)
        md.digest(out, 0, 20)
        if (java.util.Arrays.equals(out, miss)) throw new IllegalStateException
        var p = len - 1
        while (p >= 0 && buf(p) == 'z') { buf(p) = 'a'; p -= 1 }
        if (p >= 0) buf(p) = (buf(p) + 1).toByte
        o += 1
      }
    }
    val scantile = rate {
      if (CrackPipeline.scanTile(missHex, len, 0L, n - 1).isDefined) throw new IllegalStateException
    }
    Map("keyspace.kernel_keys_per_s" -> kernel, "keyspace.ceiling_keys_per_s" -> ceiling,
      "keyspace.scantile_keys_per_s" -> scantile)
  }
}
