package graft.graph

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-stage wall-clock probe for the q_embed_eval pipeline at an
  * arbitrary SF dir — the adjudication harness for the r12 verdict's
  * 92×-at-10×-data reading. Prints one labeled timing per pipeline
  * stage (edge artifact, walk index, walks, pair counts, training
  * rows, epochs, eval joins) so a cliff can be attributed to the stage
  * that owns it instead of the whole retrain. Run:
  * `sbt "runMain graft.graph.StageProbe /root/testdata/sf0.1"`.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0, 1000000).selectExpr("sum(id)").collect()

    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"STAGE $label%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    
    val ed = t("edges") { val e = GraphOps.tradeEdgesDeg(spark, dir); e.count(); e }
    println(s"  edges rows = ${ed.count()}")
    val walks = t("walks") {
      val w = GraphOps.qRandomWalks(spark, dir); w.count(); w }
    println(s"  walk rows = ${walks.count()}")
    val pc = t("paircounts") {
      val p = GraphOps.walkPairCounts(walks, GraphOps.PairWindow)
        .persist(); p.count(); p }
    println(s"  pair rows = ${pc.count()}")
    val nodes = ed.select(col("src").as("node")).distinct()
    val ns = t("ns/np") { graft.relational.Tables.load(spark, dir, "supplier").count() }
    val np = graft.relational.Tables.load(spark, dir, "part").count()
    val emb = t("train") {
      val e = NodeEmbed.train(spark, pc, nodes, ns, np); e.count(); e }
    val eval = t("eval") { NodeEmbed.qEmbedEval(spark, dir).collect() }
    eval.foreach(println)
    val full = t("full_cold") {
      graft.SessionCache.invalidate(spark, graft.SessionCache.Result)
      NodeEmbed.qEmbedEval(spark, dir).count()
    }
    spark.stop()
  }
}
