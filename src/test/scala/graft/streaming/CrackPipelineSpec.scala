package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.CrackPipeline.CrackJob
import graft.streaming.CrackService.CrackReply

/** End-to-end: the reference's whole request→server→worker→reply dataflow
  * as one streaming job, on FIXTURES.md §1 vectors. */
class CrackPipelineSpec extends SparkSpec {

  test("scanTile: worker-loop parity (first hit, inclusive bounds, miss)") {
    // "ab" is ordinal 1 at len 2
    assert(CrackPipeline.scanTile(
      "da23614e02469a0d7c7bd1bdab5c9c474b1904dc", 2, 0L, 675L) === Some("ab"))
    // inclusive upper bound: zz is ordinal 675 (worker.c:93-96 parity)
    assert(CrackPipeline.scanTile(
      "d7dacae2c968388960bf8970080a980ed5c5dcb7", 2, 675L, 675L) === Some("zz"))
    // hit outside the tile → miss
    assert(CrackPipeline.scanTile(
      "da23614e02469a0d7c7bd1bdab5c9c474b1904dc", 2, 2L, 675L) === None)
  }

  test("streaming: found and not-found requests answered end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[CrackJob]
    val name = s"pipeline_${System.nanoTime()}"
    val q = CrackPipeline.replyStream(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(Seq(
        CrackJob(1L, "81fe8bfe87576c3ecb22426f8e57847382917acf", 4, 8), // abcd
        CrackJob(2L, "7110eda4d09e062aa5e4a390b0a572ac0d2c0220", 4, 8), // miss
        CrackJob(3L, "e0c9035898dd52fc65c41454cec9c4d2611bfb37", 2, 10) // aa
      ))
      q.processAllAvailable()
      val replies = spark.table(name).as[CrackReply].collect().toSet
      assert(replies === Set(
        CrackReply(1L, "f", "abcd"),
        CrackReply(2L, "x", null),
        CrackReply(3L, "f", "aa")))
    } finally q.stop()
  }

  test("more partitions than keys: tile count clamps, verdict still correct") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[CrackJob]
    val name = s"clamp_${System.nanoTime()}"
    val q = CrackPipeline.replyStream(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(Seq(
        CrackJob(9L, "86f7e437faa5a7fce15d1ddcb9eaeaea377667b8", 1, 100))) // "a"
      q.processAllAvailable()
      assert(spark.table(name).as[CrackReply].collect().toSeq ===
        Seq(CrackReply(9L, "f", "a")))
    } finally q.stop()
  }

  test("a non-hex request is dropped; the valid one is answered, the query lives") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[CrackJob]
    val name = s"nonhex_${System.nanoTime()}"
    val q = CrackPipeline.replyStream(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(Seq(
        CrackJob(1L, "g" * 40, 2, 4), // 40 chars, not hex: no digest at all
        CrackJob(2L, "da23614e02469a0d7c7bd1bdab5c9c474b1904dc", 2, 4))) // "ab"
      q.processAllAvailable()
      assert(spark.table(name).as[CrackReply].collect().toSeq ===
        Seq(CrackReply(2L, "f", "ab")))
      assert(q.isActive && q.exception.isEmpty)
    } finally q.stop()
  }
}
