package graft

import java.io.File
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CyclicBarrier,
  Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The cache-lifetime policy: session scoping, the Result/Artifact
  * split, the build race and the global drop. The unit tests cache
  * plain strings (no Spark job); the last test rewrites a lake
  * directory under live caches. */
class SessionCacheSpec extends SparkSpec {
  import SessionCache.{Artifact, Result}

  /** A string cache whose release function records what it released. */
  private def recording(kind: SessionCache.Kind)
      : (SessionCache[String, String], ConcurrentLinkedQueue[String]) = {
    val released = new ConcurrentLinkedQueue[String]()
    (new SessionCache[String, String](kind, v => { released.add(v); () }),
      released)
  }

  test("a Result drop releases Result entries and keeps Artifact entries") {
    val (results, relR) = recording(Result)
    val (artifacts, relA) = recording(Artifact)
    results.get(spark, "k")("result-v")
    artifacts.get(spark, "k")("artifact-v")
    SessionCache.invalidate(spark, Result)
    assert(relR.asScala.toList === List("result-v"))
    assert(relA.isEmpty)
    // the Result is rebuilt, the Artifact is served from the cache
    assert(results.get(spark, "k")("rebuilt") === "rebuilt")
    assert(artifacts.get(spark, "k")(fail("artifact rebuilt")) ===
      "artifact-v")
    SessionCache.invalidate(spark, Result, Artifact)
    assert(relA.asScala.toList === List("artifact-v"))
  }

  test("a drop for one session leaves another session's entries alone") {
    val (cache, released) = recording(Result)
    val other = spark.newSession()
    cache.get(spark, "k")("mine")
    cache.get(other, "k")("theirs")
    SessionCache.invalidate(spark, Result, Artifact)
    assert(released.asScala.toList === List("mine"))
    assert(cache.get(other, "k")(fail("other session rebuilt")) === "theirs")
    SessionCache.invalidate(other, Result)
    assert(released.asScala.toList === List("mine", "theirs"))
  }

  test("a build race keeps one value and releases the loser exactly once") {
    val (cache, released) = recording(Artifact)
    // both builders are inside `build` before either publishes
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = Seq("a", "b").map { v =>
        pool.submit(new Callable[String] {
          def call(): String = cache.get(spark, "k") { barrier.await(); v }
        })
      }
      val got = futures.map(_.get())
      val winner = got.head
      assert(got === Seq(winner, winner))
      val loser = if (winner == "a") "b" else "a"
      assert(released.asScala.toList === List(loser))
    } finally pool.shutdown()
    SessionCache.invalidate(spark, Artifact)
  }

  test("invalidateAll releases every entry of every session") {
    val (results, relR) = recording(Result)
    val (artifacts, relA) = recording(Artifact)
    val other = spark.newSession()
    for (s <- Seq(spark, other)) {
      results.get(s, "k")("r")
      artifacts.get(s, "k")("a")
    }
    SessionCache.invalidateAll()
    assert(relR.asScala.toList === List("r", "r"))
    assert(relA.asScala.toList === List("a", "a"))
  }

  test("after a rewrite under a cached dir, one drop makes reruns fresh") {
    import org.apache.commons.io.FileUtils
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_rewrite").toFile
    val (lake, copy) = (new File(root, "lake"), new File(root, "copy"))
    def docs(dir: File): String = s"$dir/documents.parquet"
    def run(s: SparkSession, dir: File): Map[String, Seq[Row]] =
      Seq("q_bm25_topk", "q_image_neardup").map { q =>
        q -> SparkEntry.queries(q)(s, dir.toString).collect()
          .sortBy(_.toString).toSeq
      }.toMap
    val source = spark.read.parquet(sf("documents"))
    val fresh = spark.newSession()
    graft.functions.registerAll(fresh)
    try {
      source.write.parquet(docs(lake))
      val before = run(spark, lake) // builds the index and image hashes
      // the first 40 documents become copies of doc 0: the bm25 queries
      // (doc_id < 20) change and new exact image duplicates appear. The
      // rows are written elsewhere and copied over the lake's files, as
      // another process would, so Spark's own cache never hears of it.
      val text0 = source.filter(col("doc_id") === 0).select("text").head()
        .getString(0)
      source.withColumn("text",
          when(col("doc_id") < 40, lit(text0)).otherwise(col("text")))
        .write.parquet(docs(copy))
      FileUtils.deleteDirectory(new File(docs(lake)))
      FileUtils.copyDirectory(new File(docs(copy)), new File(docs(lake)))
      SessionCache.invalidate(spark, Result, Artifact)
      val after = run(spark, lake)
      val want = run(fresh, copy)
      for (q <- want.keys) {
        assert(want(q) !== before(q), s"$q: the rewrite must change it")
        assert(after(q) === want(q), s"$q: rerun after the drop is stale")
      }
    } finally {
      SessionCache.invalidate(spark, Result, Artifact)
      SessionCache.invalidate(fresh, Result, Artifact)
      FileUtils.deleteDirectory(root)
    }
  }

  test("invalidateAll leaves no cached storage behind") {
    // every frame a cache holds is a cut leaf or a projection of one,
    // so invalidateAll releases every block the queries left resident;
    // a frame cached in a form Cut.release cannot see would stay in
    // getPersistentRDDs. The 10 perfbench iterative queries plus queries
    // over each family that caches or materialises frames.
    val dir = new File(sf("lineitem")).getParent
    val queries = Seq(
      "q_pagerank", "q_pagerank_dangling", "q_hits", "q_sssp",
      "q_label_prop", "q_kcore", "q_bfs_dist", "q_louvain",
      "q_dedup_clusters", "q_corpus_build",
      "q_pagerank_seeded", "q_pagerank_delta", "q_pagerank_weighted",
      "q_random_walks", "q_node_embed", "q_hyperball", "q_modularity",
      "q_image_neardup", "q_boosted_stumps", "q_stump_crossval",
      "q_quality_classifier", "q_rfm", "q_dyadic_quantiles",
      "q_kmeanspp_seed", "q_lof", "q_mutual_knn", "q_mutual_knn_lsh",
      "q_semdedup", "q_mmr_rerank", "q_kcenter_coreset", "q_bpe_learn",
      "q_mrl_eval", "q_unigram_lm", "q_bm25_topk", "q_weighted_jaccard")
    SessionCache.invalidateAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    queries.foreach(q => SparkEntry.queries(q)(spark, dir).collect())
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    SessionCache.invalidateAll()
    val left = spark.sparkContext.getPersistentRDDs -- before
    assert(left.isEmpty, left.values.map(r => s"${r.id}:${r.name}")
      .mkString("resident after invalidateAll: ", ", ", ""))
  }
}
