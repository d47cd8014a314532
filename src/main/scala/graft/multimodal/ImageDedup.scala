package graft.multimodal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import Multimodal.{mediaTable, withDecoder, MediaDecoderProvider, StubProvider}

/** Perceptual-hash near-duplicate detection for the IMAGE column — the
  * third leg of the dedup story (text shingles → MinHash/SimHash;
  * embeddings → SemDeDup; images → this). The hash is dHash (difference
  * hash): resize the decoded grayscale grid to 9×8 through the
  * [[Multimodal.MediaDecoder]] seam, then emit one bit per horizontally
  * adjacent pixel pair (left < right), 64 bits per image. Near-identical
  * images — recompressed, slightly cropped, brightness-shifted — keep
  * almost all gradient signs, so they land within a few bits of Hamming
  * distance.
  *
  * Candidate generation is the SimHash band pigeonhole
  * (`graft.dedup.Dedup` uses the same argument): the 64 bits split into
  * 4 × 16-bit bands, and any pair within Hamming distance ≤ 3 must agree
  * EXACTLY on at least one band — so 4 equi-joins on band values find
  * every such pair (lossless), and an exact popcount verify scrubs the
  * collisions. No all-pairs comparison anywhere: at 100 TB the work is
  * bounded by band-bucket occupancy, the same dial as SimHash.
  *
  * Under [[Multimodal.StubProvider]] the "decoded grid" is the payload
  * bytes (deterministic nearest-neighbor sampling), which is what makes
  * the registered query exactly SQL-oracle-able; under
  * [[ImageIoProvider]] the identical plan runs on real decoded-pixel
  * luminance (MultimodalSpec drives seeded near-duplicate PNGs through
  * it).
  */
object ImageDedup {

  /** dHash band signature per document: (doc_id, b0..b3), each band the
    * 16 bits of two grid rows. One decoder per partition; decode +
    * resize once per row. */
  def imageHashes(
      media: DataFrame,
      provider: MediaDecoderProvider = StubProvider): DataFrame =
    media.select(col("doc_id"), col("payload"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { rows =>
        withDecoder(provider) { decoder =>
          rows.map { case (id, payload) =>
            val (w, h, _) = decoder.decode(payload)
            val g = decoder.resize(payload, w, h, 9, 8)
            val bands = new Array[Long](4)
            var i = 0
            while (i < 8) {
              var j = 0
              while (j < 8) {
                if ((g(i * 9 + j) & 0xff) < (g(i * 9 + j + 1) & 0xff))
                  bands(i / 2) |= 1L << ((i % 2) * 8 + j)
                j += 1
              }
              i += 1
            }
            (id, bands(0), bands(1), bands(2), bands(3))
          }
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .toDF("doc_id", "b0", "b1", "b2", "b3")

  /** Band signatures for the documents media table, cached per
    * (session, dir) like Dedup's shingle arrays — the decode is the
    * expensive step and the signature table is the reusable artifact. */
  private val hashCache =
    graft.SessionCache.frames[String](graft.SessionCache.Artifact)

  private[multimodal] def cachedHashes(
      spark: SparkSession, dir: String): DataFrame =
    hashCache.get(spark, dir)(
      graft.Cut(imageHashes(mediaTable(spark, dir))).df)

  /** Near-dup pairs (d1 < d2, hamming ≤ maxHamming) from a band-signature
    * table. The signature frame should already be cut (it is read
    * six times: four candidate branches + the two verify joins).
    * `maxHamming` ≤ 3 keeps the 4-band pigeonhole LOSSLESS — above that
    * the bands are a recall heuristic, so the cap is enforced rather
    * than silently weakened. */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4-band pigeonhole is exact only to Hamming 3, got $maxHamming")
    val h = hashes
    val left = h.select(col("doc_id").as("d1"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val right = h.select(col("doc_id").as("d2"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    val cands = (0 until 4).map(k =>
      left.join(right,
        col(s"a$k") === col(s"c$k") && col("d1") < col("d2"))
        .select(col("d1"), col("d2")))
      .reduce(_ unionAll _)
      .distinct()
    val out = cands
      .join(left, "d1")
      .join(right, "d2")
      .select(col("d1"), col("d2"),
        expr("""CAST(bit_count(a0 ^ c0) + bit_count(a1 ^ c1) +
               |bit_count(a2 ^ c2) + bit_count(a3 ^ c3) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    out
  }

  /** Registered query: stub-decoded dHash near-dups over the documents
    * media table (exact duplicates land at hamming 0, light edits within
    * the band radius). */
  def qImageNearDup(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(cachedHashes(spark, dir))
}
