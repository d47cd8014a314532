package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.StreamingNearDup.{NearDupPair, VecIn}

/** Streaming incremental near-dup == the batch strict door, under any
  * batch split — the order-independence contract the first-matching-band
  * emission rule buys (see [[StreamingNearDup]] scaladoc). */
class StreamingNearDupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def corpusRows(): Seq[VecIn] =
    graft.similarity.Similarity.plantedCorpus(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => VecIn(r.getLong(0), r.getSeq[Float](1)))

  private def runStream(batches: Seq[Seq[VecIn]]): Set[(Long, Long, Double)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[VecIn]
    val name = s"neardup_${System.nanoTime()}"
    val q = StreamingNearDup.pairs(input.toDS(), threshold = 0.8)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).as[NearDupPair].collect()
        .map(p => (p.d1, p.d2, p.sim)).toSet
    } finally q.stop()
  }

  private def batchRelation(): Set[(Long, Long, Double)] =
    graft.similarity.Similarity.qEmbeddingNearDupStrict(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("streaming ingest == batch strict door, three different splits") {
    val rows = corpusRows()
    val want = batchRelation()
    assert(want.nonEmpty)
    // split 1: one batch; split 2: thirds in id order; split 3: twins
    // arrive FIRST (worst case for any order assumption)
    val byId = rows.sortBy(_.vecId)
    val splits = Seq(
      Seq(rows),
      byId.grouped(math.max(1, byId.length / 3 + 1)).toSeq,
      Seq(byId.filter(_.vecId >= graft.similarity.Similarity.TwinOffset),
        byId.filter(_.vecId < graft.similarity.Similarity.TwinOffset)))
    splits.zipWithIndex.foreach { case (batches, k) =>
      assert(runStream(batches) === want, s"split $k diverged from batch")
    }
  }

  test("re-delivered rows neither re-emit pairs nor grow state output") {
    val rows = corpusRows()
    val want = batchRelation()
    // every row delivered twice: once in its batch, once in a replay
    // batch (an at-least-once producer) — the emitted set must not change
    val got = runStream(Seq(rows, rows))
    assert(got === want)
  }

  test("within-batch duplicate ids ingest once; conflicting replays are ignored") {
    val rows = corpusRows()
    val want = batchRelation()
    // (a) every row appears TWICE inside its own batch (an upstream
    // task retry folded into one micro-batch) — first-write-wins must
    // hold within the batch, not just across batches
    val doubled = rows.flatMap(r => Seq(r, r))
    assert(runStream(Seq(doubled)) === want,
      "within-batch duplicates changed the emitted set")
    // (b) a replay batch re-delivers every id with a DIFFERENT vector
    // (a poisoned/upserted at-least-once replay): the contract is
    // first-write-wins — the conflicting payload must be ignored, not
    // compared, not stored, and the emitted set must not change
    val poisoned = rows.map(r =>
      r.copy(embedding = r.embedding.map(x => -x)))
    assert(runStream(Seq(rows, poisoned)) === want,
      "a conflicting re-delivery perturbed the emitted set")
  }

  test("random partial re-delivery across every batch keeps the set exact") {
    val rows = corpusRows()
    val want = batchRelation()
    // each batch carries a seeded random half of the PREVIOUS batch —
    // the steady-state shape of an at-least-once producer, where
    // overlap spans every consecutive batch boundary rather than one
    // clean full replay
    val rnd = new scala.util.Random(1234)
    val base = rnd.shuffle(rows).grouped(math.max(1, rows.length / 5 + 1)).toSeq
    val batches = base.zipWithIndex.map { case (b, i) =>
      if (i == 0) b
      else b ++ rnd.shuffle(base(i - 1)).take(base(i - 1).length / 2)
    }
    assert(runStream(batches) === want)
  }

  test("restart from checkpoint mid-corpus: no loss, no re-emission") {
    // the interleaving the memory-sink tests cannot reach: the query
    // DIES between micro-batches and a new query recovers bucket state
    // from the checkpoint, then an at-least-once producer re-delivers
    // rows from BEFORE the crash alongside the remainder of the corpus.
    // Exactly-once emission must hold ACROSS the restart boundary —
    // recovered state must neither forget residents (lost pairs) nor
    // re-compare re-delivered ones (duplicate pairs).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = corpusRows().sortBy(_.vecId)
    val want = batchRelation()
    val (first, rest) = rows.splitAt(rows.length / 2)
    val out = java.nio.file.Files.createTempDirectory("neardup_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("neardup_ckpt").toString
    val input = MemoryStream[VecIn]
    def start() = StreamingNearDup.pairs(input.toDS(), threshold = 0.8)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try { input.addData(first); q1.processAllAvailable() } finally q1.stop()
    // crash boundary: new query, same checkpoint; the next batch
    // re-delivers the tail of the pre-crash data plus the remainder
    val q2 = start()
    try {
      input.addData(first.takeRight(first.length / 3) ++ rest)
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(out).as[NearDupPair].collect().toSeq
      .map(p => (p.d1, p.d2, p.sim))
    assert(got.distinct.size === got.size,
      "restart re-emitted a pair (state recovered but replay re-compared)")
    assert(got.toSet === want,
      "restart lost pairs (bucket state not recovered)")
  }

  test("fMGWS adversarial interleavings green on the RocksDB provider too") {
    // r15 (r14 verdict item 6): the adversarial cases above run the
    // fMGWS path on the session's default (HDFS-backed) provider; a
    // 100 TB streaming ingest lives on RocksDB changelog state, so the
    // same interleavings — split ordering, full at-least-once replay,
    // poisoned conflicting replay, within-batch duplicates, and the
    // crash/restart boundary — must hold with RocksDB serving the
    // fMGWS state store as well.
    val rows = corpusRows()
    val want = batchRelation()
    withRocksDbProvider {
      val byId = rows.sortBy(_.vecId)
      assert(runStream(
        byId.grouped(math.max(1, byId.length / 3 + 1)).toSeq) === want,
        "thirds split diverged on RocksDB")
      assert(runStream(Seq(rows, rows)) === want,
        "full replay perturbed the set on RocksDB")
      val poisoned = rows.map(r =>
        r.copy(embedding = r.embedding.map(x => -x)))
      assert(runStream(Seq(rows, poisoned)) === want,
        "conflicting re-delivery perturbed the set on RocksDB")
      val doubled = rows.flatMap(r => Seq(r, r))
      assert(runStream(Seq(doubled)) === want,
        "within-batch duplicates changed the set on RocksDB")
      // crash boundary with recovered RocksDB state + re-delivery
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val (first, rest) = byId.splitAt(byId.length / 2)
      val out = java.nio.file.Files
        .createTempDirectory("neardup_rdb_out").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("neardup_rdb_ckpt").toString
      val input = MemoryStream[VecIn]
      def start() = StreamingNearDup.pairs(input.toDS(), threshold = 0.8)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      try { input.addData(first); q1.processAllAvailable() } finally q1.stop()
      val q2 = start()
      try {
        input.addData(first.takeRight(first.length / 3) ++ rest)
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(out).as[NearDupPair].collect().toSeq
        .map(p => (p.d1, p.d2, p.sim))
      assert(got.distinct.size === got.size,
        "RocksDB restart re-emitted a pair")
      assert(got.toSet === want, "RocksDB restart lost pairs")
    }
  }

  test("emission is exactly-once: no pair row is duplicated") {
    val rows = corpusRows()
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[VecIn]
    val name = s"neardup_dup_${System.nanoTime()}"
    val q = StreamingNearDup.pairs(input.toDS(), threshold = 0.8)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val got =
      try {
        input.addData(rows)
        q.processAllAvailable()
        spark.table(name).as[NearDupPair].collect().toSeq
      } finally q.stop()
    assert(got.map(p => (p.d1, p.d2)).distinct.size === got.size)
  }
}
