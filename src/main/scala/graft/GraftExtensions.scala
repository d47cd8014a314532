package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}

import graft.crack.CrackQuery
import graft.keyspace.{NumToPass, PassToNum, Sha1MultiOrdinalMatch, Sha1OrdinalMatch}
import graft.lsp.{LspDecode, LspEncode, ProtoDecode, ProtoEncode}
import graft.similarity.{FloatVectorDot, HyperplaneBucket}
import graft.text.{MinHashSig, ShingleList, ShingleSet, SimHashBands}

/** Spark-native deployment hook: register ALL of graft's Catalyst
  * expressions on every session via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — no driver code
  * changes needed on a shared cluster. (Per-session alternative:
  * [[graft.functions.registerAll]] — same builder table.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    GraftExtensions.tableBuilders.foreach { case (name, builder) =>
      ext.injectTableFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    // whole-operator plans (SURVEY §4.2 option c): the strategies plan
    // explicit TopKPerKey nodes and the crack plan's FirstHit; the rule
    // rewrites Filter(rank<=k, Window(row_number)) plans into TopKPerKey
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.FirstHitStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
  }
}

object GraftExtensions {

  private[graft] def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${args.length}")

  /** A foldable integer argument (e.g. shingle width, hash count). */
  private def intArg(name: String, e: Expression): Int = {
    require(e.foldable, s"$name requires a literal integer argument")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other =>
        throw new IllegalArgumentException(
          s"$name requires a literal integer argument, got $other")
    }
  }

  /** A foldable integer argument that must be >= 1 (widths, hash counts,
    * bit counts — zero or negative values would yield silently-degenerate
    * shingles/signatures instead of an error). */
  private def posIntArg(name: String, e: Expression): Int = {
    val v = intArg(name, e)
    if (v < 1)
      throw new IllegalArgumentException(
        s"$name requires a positive integer argument, got $v")
    v
  }

  /** A foldable boolean argument (e.g. a hash-variant flag). */
  private def boolArg(name: String, e: Expression): Boolean = {
    require(e.foldable, s"$name requires a literal boolean argument")
    e.eval() match {
      case b: Boolean => b
      case other =>
        throw new IllegalArgumentException(
          s"$name requires a literal boolean argument, got $other")
    }
  }

  /** A foldable long argument (e.g. an LSH seed). */
  private def longArg(name: String, e: Expression): Long = {
    require(e.foldable, s"$name requires a literal integer argument")
    e.eval() match {
      case i: Int => i.toLong
      case l: Long => l
      case other =>
        throw new IllegalArgumentException(
          s"$name requires a literal integer argument, got $other")
    }
  }

  /** A foldable `array<string>` argument (e.g. `array('a', 'b')`).
    * The element type is checked up front: `toObjectArray` on a
    * wrong-typed ArrayData would throw an opaque ClassCastException
    * before any per-element check could fire. */
  private def stringsArg(name: String, e: Expression): Seq[String] = {
    val ok = e.foldable && (e.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) => true
      case _ => false
    })
    require(ok, s"$name requires a literal array<string> argument, got " +
      e.dataType.simpleString)
    e.eval() match {
      case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
        ad.toObjectArray(StringType).toSeq.map {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case null => throw new IllegalArgumentException(
            s"$name patterns must not be null")
        }
      case other => throw new IllegalArgumentException(
        s"$name requires a literal array<string> argument, got $other")
    }
  }

  /** A foldable string argument (e.g. a proto field spec). */
  private def stringArg(name: String, e: Expression): String = {
    require(e.foldable, s"$name requires a literal string argument")
    e.eval() match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other =>
        throw new IllegalArgumentException(
          s"$name requires a literal string argument, got $other")
    }
  }

  /** Every SQL-exposed native expression, shared by the extensions hook
    * and per-session registration. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "num_to_pass" -> { args: Seq[Expression] =>
      arity("num_to_pass", 2, args)
      NumToPass(Cast(args(0), LongType), Cast(args(1), IntegerType))
    },
    "pass_to_num" -> { args: Seq[Expression] =>
      arity("pass_to_num", 1, args)
      PassToNum(Cast(args(0), StringType))
    },
    "vec_dot" -> { args: Seq[Expression] =>
      arity("vec_dot", 2, args)
      FloatVectorDot(args(0), args(1))
    },
    "shingle_set" -> { args: Seq[Expression] =>
      arity("shingle_set", 2, args)
      ShingleSet(Cast(args(0), StringType), posIntArg("shingle_set", args(1)))
    },
    "shingle_list" -> { args: Seq[Expression] =>
      arity("shingle_list", 2, args)
      ShingleList(Cast(args(0), StringType), posIntArg("shingle_list", args(1)))
    },
    "minhash_sig" -> { args: Seq[Expression] =>
      arity("minhash_sig", 2, args)
      MinHashSig(args(0), posIntArg("minhash_sig", args(1)))
    },
    "hyperplane_bucket" -> { args: Seq[Expression] =>
      if (args.length != 2 && args.length != 3)
        throw new IllegalArgumentException(
          s"hyperplane_bucket expects 2 or 3 argument(s), got ${args.length}")
      val bits = posIntArg("hyperplane_bucket", args(1))
      if (args.length == 2) HyperplaneBucket(args(0), bits)
      else HyperplaneBucket(args(0), bits, longArg("hyperplane_bucket", args(2)))
    },
    "bpe_count" -> { args: Seq[Expression] =>
      arity("bpe_count", 1, args)
      graft.text.BpeTokenCount(Cast(args(0), StringType))
    },
    "multi_match" -> { args: Seq[Expression] =>
      arity("multi_match", 2, args)
      graft.text.MultiMatchCounts(Cast(args(0), StringType),
        stringsArg("multi_match", args(1)))
    },
    "bpe_pieces" -> { args: Seq[Expression] =>
      arity("bpe_pieces", 1, args)
      graft.text.BpePieces(Cast(args(0), StringType))
    },
    "simhash_bands" -> { args: Seq[Expression] =>
      if (args.length != 1 && args.length != 2)
        throw new IllegalArgumentException(
          s"simhash_bands expects 1 or 2 argument(s), got ${args.length}")
      val md5 = args.length == 2 && boolArg("simhash_bands", args(1))
      SimHashBands(Cast(args(0), StringType), md5Hash = md5)
    },
    "sha1_ordinal_match" -> { args: Seq[Expression] =>
      arity("sha1_ordinal_match", 3, args)
      require(args(2).foldable,
        "sha1_ordinal_match requires a literal hex string")
      val hex = args(2).eval() match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString.toLowerCase
        case other => throw new IllegalArgumentException(
          s"sha1_ordinal_match requires a literal hex string, got $other")
      }
      Sha1OrdinalMatch(Cast(args(0), LongType),
        posIntArg("sha1_ordinal_match", args(1)), hex)
    },
    "sha1_multi_ordinal_match" -> { args: Seq[Expression] =>
      arity("sha1_multi_ordinal_match", 3, args)
      require(args(2).foldable,
        "sha1_multi_ordinal_match requires a literal array of hex strings")
      val hexes = args(2).eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          (0 until a.numElements()).map { i =>
            if (a.isNullAt(i))
              throw new IllegalArgumentException(
                s"sha1_multi_ordinal_match: target digest $i is NULL")
            a.getUTF8String(i).toString
          }
        case other => throw new IllegalArgumentException(
          s"sha1_multi_ordinal_match requires ARRAY<STRING> targets, got $other")
      }
      Sha1MultiOrdinalMatch(Cast(args(0), LongType),
        posIntArg("sha1_multi_ordinal_match", args(1)), hexes)
    },
    "hll_seed_blob" -> { args: Seq[Expression] =>
      arity("hll_seed_blob", 2, args)
      graft.sketch.HllSeedBlob(
        Cast(args(0), IntegerType), Cast(args(1), IntegerType))
    },
    "hll_blob_union" -> { args: Seq[Expression] =>
      arity("hll_blob_union", 2, args)
      graft.sketch.HllBlobUnion(args(0), args(1))
    },
    "hll_blob_zs" -> { args: Seq[Expression] =>
      arity("hll_blob_zs", 1, args)
      graft.sketch.HllBlobZs(args(0))
    },
    "hll_blob_zeros" -> { args: Seq[Expression] =>
      arity("hll_blob_zeros", 1, args)
      graft.sketch.HllBlobZeros(args(0))
    },
    "hll_merge" -> { args: Seq[Expression] =>
      arity("hll_merge", 1, args)
      graft.sketch.HllMergeAgg(args(0)).toAggregateExpression()
    },
    "z_order" -> { args: Seq[Expression] =>
      arity("z_order", 2, args)
      graft.sources.ZOrderValue(Cast(args(0), LongType), Cast(args(1), LongType))
    },
    "hilbert_index" -> { args: Seq[Expression] =>
      arity("hilbert_index", 2, args)
      graft.sources.HilbertIndexValue(
        Cast(args(0), LongType), Cast(args(1), LongType))
    },
    "lsp_encode" -> { args: Seq[Expression] =>
      arity("lsp_encode", 3, args)
      LspEncode(Cast(args(0), LongType), Cast(args(1), LongType),
        Cast(args(2), BinaryType))
    },
    "lsp_decode" -> { args: Seq[Expression] =>
      arity("lsp_decode", 1, args)
      LspDecode(Cast(args(0), BinaryType))
    },
    "proto_decode" -> { args: Seq[Expression] =>
      arity("proto_decode", 2, args)
      ProtoDecode(Cast(args(0), BinaryType), stringArg("proto_decode", args(1)))
    },
    "proto_encode" -> { args: Seq[Expression] =>
      arity("proto_encode", 2, args)
      ProtoEncode(args(0), stringArg("proto_encode", args(1)))
    })

  /** SQL TABLE functions (`SELECT * FROM crack(...)`) — the pure-SQL form
    * of the reference's entry point (`request.c:40-75`: submit a hash +
    * length, get back the preimage or nothing). The crack builders only
    * parse their arguments: each returns the session-free plan
    * [[graft.crack.CrackQuery]] defines once for its DataFrame twin
    * (`crackPlan`, `crackMultiPlan`, `candidatesPlan`). */
  val tableBuilders: Seq[(String, Seq[Expression] => logical.LogicalPlan)] = Seq(
    "crack" -> { args: Seq[Expression] =>
      if (args.length != 2 && args.length != 3)
        throw new IllegalArgumentException(
          s"crack expects (sha1_hex, len[, parallelism]), got ${args.length} argument(s)")
      val hash = stringArg("crack", args(0))
      val len = posIntArg("crack", args(1))
      val par = if (args.length == 3) posIntArg("crack", args(2)) else 32
      CrackQuery.crackPlan(hash, len, par)
    },
    "crack_multi" -> { args: Seq[Expression] =>
      // crack_multi(array(hex, ...), len[, parallelism]) — the BATCH
      // crack as a SQL relation (CrackQuery.crackMany's plan)
      if (args.length != 2 && args.length != 3)
        throw new IllegalArgumentException(
          s"crack_multi expects (hash_array, len[, parallelism]), got ${args.length} argument(s)")
      require(args(0).foldable,
        "crack_multi requires a literal array of hex strings")
      val hexes = args(0).eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          (0 until a.numElements()).map { i =>
            if (a.isNullAt(i))
              throw new IllegalArgumentException(
                s"crack_multi: target digest $i is NULL")
            a.getUTF8String(i).toString.toLowerCase
          }
        case other => throw new IllegalArgumentException(
          s"crack_multi requires ARRAY<STRING> targets, got $other")
      }
      val len = posIntArg("crack_multi", args(1))
      val par = if (args.length == 3) posIntArg("crack_multi", args(2)) else 32
      CrackQuery.crackMultiPlan(hexes, len, par)
    },
    "crack_candidates" -> { args: Seq[Expression] =>
      // the reference's keyspace scan itself (S1/S2) as a SQL relation:
      // SELECT pass FROM crack_candidates(len[, parallelism])
      if (args.length != 1 && args.length != 2)
        throw new IllegalArgumentException(
          s"crack_candidates expects (len[, parallelism]), got ${args.length} argument(s)")
      val len = posIntArg("crack_candidates", args(0))
      val par =
        if (args.length == 2) posIntArg("crack_candidates", args(1)) else 32
      val (lo, hi) = graft.keyspace.Keyspace.fullRange(len)
      CrackQuery.candidatesPlan(len, lo, hi, par)
    },
    // -- pipeline-library table functions: the SQL front door to the
    // dedup / ANN / text operators (a user with only a SQL client gets
    // the same plans the Scala builders produce). Each builder renders a
    // SQL template over a caller-supplied table identifier and parses it
    // with the session-FREE CatalystSqlParser — the resulting unresolved
    // subtree resolves inside the host query's own analyzer run, so the
    // builders carry no SparkSession dependency (the contract the crack
    // plans in CrackQuery keep). Templates use nested subqueries, never
    // CTEs: analyzer CTE substitution runs BEFORE table-function
    // resolution, so a WITH clause inside a substituted subtree would
    // never be rewritten. --
    "dedup_exact" -> { args: Seq[Expression] =>
      arity("dedup_exact", 1, args)
      val tbl = tableIdent("dedup_exact", args(0))
      parseTemplate(
        s"""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           |  count(1) AS n_copies
           |FROM $tbl GROUP BY md5(text) HAVING count(1) > 1""".stripMargin)
    },
    "dedup_pairs" -> { args: Seq[Expression] =>
      // dedup_pairs(tbl[, num_hashes, bands, threshold_ppm]): MinHash
      // signatures -> banded bucket equi-join candidates -> exact-Jaccard
      // verification, identical to Dedup.qMinhashLshPairs (same native
      // shingle_set/minhash_sig/xxhash64 kernels, so results match the
      // Scala builder bit-for-bit; SqlSurfaceSpec pins it)
      if (args.isEmpty || args.length > 4)
        throw new IllegalArgumentException(
          s"dedup_pairs expects (tbl[, num_hashes, bands, threshold_ppm]), got ${args.length} argument(s)")
      val tbl = tableIdent("dedup_pairs", args(0))
      val nh = if (args.length >= 2) posIntArg("dedup_pairs", args(1)) else 32
      val bands = if (args.length >= 3) posIntArg("dedup_pairs", args(2)) else 8
      val thrPpm =
        if (args.length >= 4) posIntArg("dedup_pairs", args(3)) else 500000
      if (nh % bands != 0)
        throw new IllegalArgumentException(
          s"dedup_pairs: num_hashes ($nh) must be divisible by bands ($bands)")
      val rpb = nh / bands
      val thr = thrPpm / 1e6
      val banded =
        s"""SELECT doc_id, band, bucket FROM (
           |  SELECT doc_id, minhash_sig(shingle_set(text, 4), $nh) AS sig
           |  FROM $tbl) s
           |LATERAL VIEW posexplode(transform(sequence(0, ${bands - 1}),
           |  b -> xxhash64(b, slice(sig, b * $rpb + 1, $rpb)))) t AS band, bucket""".stripMargin
      parseTemplate(
        s"""SELECT d1, d2, round(jaccard, 6) AS jaccard FROM (
           |  SELECT c.d1, c.d2,
           |    CAST(size(array_intersect(s1.sh_arr, s2.sh_arr)) AS DOUBLE) /
           |      (size(s1.sh_arr) + size(s2.sh_arr)
           |        - size(array_intersect(s1.sh_arr, s2.sh_arr))) AS jaccard
           |  FROM (
           |    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |    FROM ($banded) a JOIN ($banded) b
           |      ON a.band = b.band AND a.bucket = b.bucket
           |        AND a.doc_id < b.doc_id) c
           |  JOIN (SELECT doc_id, shingle_set(text, 4) AS sh_arr FROM $tbl) s1
           |    ON s1.doc_id = c.d1
           |  JOIN (SELECT doc_id, shingle_set(text, 4) AS sh_arr FROM $tbl) s2
           |    ON s2.doc_id = c.d2) v
           |WHERE jaccard >= $thr""".stripMargin)
    },
    "ann_topk" -> { args: Seq[Expression] =>
      // ann_topk(tbl[, n_queries, k]): exact brute-force cosine top-k for
      // query vectors vec_id < n_queries, identical to
      // Similarity.qAnnBruteForce (rank by rounded sim with id tiebreak;
      // the rank window rewrites to the native TopK heap when the
      // TopKRewriteRule is installed — e.g. under the extensions conf)
      if (args.isEmpty || args.length > 3)
        throw new IllegalArgumentException(
          s"ann_topk expects (tbl[, n_queries, k]), got ${args.length} argument(s)")
      val tbl = tableIdent("ann_topk", args(0))
      val nq = if (args.length >= 2) posIntArg("ann_topk", args(1)) else 20
      val k = if (args.length >= 3) posIntArg("ann_topk", args(2)) else 5
      val normed =
        s"""SELECT vec_id, embedding,
           |  sqrt(vec_dot(embedding, embedding)) AS norm FROM $tbl""".stripMargin
      parseTemplate(
        s"""SELECT qid, nid, sim, rnk FROM (
           |  SELECT qid, nid, sim,
           |    CAST(row_number() OVER (PARTITION BY qid
           |      ORDER BY sim DESC, nid) AS BIGINT) AS rnk
           |  FROM (
           |    SELECT q.vec_id AS qid, c.vec_id AS nid,
           |      round(vec_dot(q.embedding, c.embedding)
           |        / (q.norm * c.norm), 6) AS sim
           |    FROM ($normed) q JOIN ($normed) c
           |      ON q.vec_id < $nq AND q.vec_id <> c.vec_id) scored) ranked
           |WHERE rnk <= $k""".stripMargin)
    },
    "ngram_jaccard" -> { args: Seq[Expression] =>
      // ngram_jaccard(tbl[, threshold_ppm, max_df]): shared-shingle
      // equi-join candidates over the hot-shingle-capped universe,
      // exact-Jaccard gate — identical to Dedup.qNgramJaccardPairs
      if (args.isEmpty || args.length > 3)
        throw new IllegalArgumentException(
          s"ngram_jaccard expects (tbl[, threshold_ppm, max_df]), got ${args.length} argument(s)")
      val tbl = tableIdent("ngram_jaccard", args(0))
      val thrPpm =
        if (args.length >= 2) posIntArg("ngram_jaccard", args(1)) else 500000
      val maxDf =
        if (args.length >= 3) posIntArg("ngram_jaccard", args(2)) else 1000
      val thr = thrPpm / 1e6
      val sh =
        s"""SELECT doc_id, sh FROM (SELECT doc_id, sh FROM $tbl
           |  LATERAL VIEW explode(shingle_set(text, 4)) t AS sh) s0
           |LEFT ANTI JOIN (SELECT sh AS hsh FROM (SELECT sh FROM $tbl
           |    LATERAL VIEW explode(shingle_set(text, 4)) t2 AS sh) h0
           |  GROUP BY sh HAVING count(1) > $maxDf) hot ON s0.sh = hot.hsh""".stripMargin
      parseTemplate(
        s"""SELECT d1, d2, round(jaccard, 6) AS jaccard FROM (
           |  SELECT p.d1, p.d2,
           |    CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter) AS jaccard
           |  FROM (
           |    SELECT a.doc_id AS d1, b.doc_id AS d2, count(1) AS inter
           |    FROM ($sh) a JOIN ($sh) b
           |      ON a.sh = b.sh AND a.doc_id < b.doc_id
           |    GROUP BY a.doc_id, b.doc_id) p
           |  JOIN (SELECT doc_id, count(1) AS sz FROM ($sh) c1
           |        GROUP BY doc_id) s1 ON s1.doc_id = p.d1
           |  JOIN (SELECT doc_id, count(1) AS sz FROM ($sh) c2
           |        GROUP BY doc_id) s2 ON s2.doc_id = p.d2) v
           |WHERE jaccard >= $thr""".stripMargin)
    },
    "simhash_pairs" -> { args: Seq[Expression] =>
      // simhash_pairs(tbl[, max_hamming]): banded 64-bit SimHash
      // candidates (complete for hamming <= 3 by pigeonhole) + exact
      // Hamming verify — identical to Dedup.qSimhashPairs in its
      // md5-hash (engine-reproducible) mode
      if (args.isEmpty || args.length > 2)
        throw new IllegalArgumentException(
          s"simhash_pairs expects (tbl[, max_hamming]), got ${args.length} argument(s)")
      val tbl = tableIdent("simhash_pairs", args(0))
      val maxH = if (args.length >= 2) intArg("simhash_pairs", args(1)) else 3
      val sigs =
        s"SELECT doc_id, simhash_bands(text, true) AS bands FROM $tbl"
      val ham = (1 to 4).map(k =>
        s"bit_count(element_at(sa.bands, $k) ^ element_at(sb.bands, $k))")
        .mkString(" + ")
      parseTemplate(
        s"""SELECT c.d1, c.d2, CAST($ham AS BIGINT) AS hamming FROM (
           |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM (
           |    SELECT doc_id, band, value FROM ($sigs) s1
           |    LATERAL VIEW posexplode(bands) t AS band, value) a
           |  JOIN (
           |    SELECT doc_id, band, value FROM ($sigs) s2
           |    LATERAL VIEW posexplode(bands) t2 AS band, value) b
           |    ON a.band = b.band AND a.value = b.value
           |      AND a.doc_id < b.doc_id) c
           |JOIN ($sigs) sa ON sa.doc_id = c.d1
           |JOIN ($sigs) sb ON sb.doc_id = c.d2
           |WHERE $ham <= $maxH""".stripMargin)
    },
    "text_stats" -> { args: Seq[Expression] =>
      // text_stats(tbl): per-language corpus stats ≡ TextOps.qTextStatsByLang
      arity("text_stats", 1, args)
      val tbl = tableIdent("text_stats", args(0))
      parseTemplate(
        s"""SELECT lang, count(1) AS n_docs, sum(n_chars) AS total_chars,
           |  sum(size(split(text, ' '))) AS total_tokens,
           |  round(CAST(sum(n_chars) AS DOUBLE) / count(1), 4) AS avg_chars
           |FROM $tbl GROUP BY lang""".stripMargin)
    },
    "token_stats" -> { args: Seq[Expression] =>
      // token_stats(tbl): per-doc whitespace + regex-word token counts
      // ≡ TextOps.qTokenCount
      arity("token_stats", 1, args)
      val tbl = tableIdent("token_stats", args(0))
      parseTemplate(
        s"""SELECT doc_id,
           |  CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens_ws,
           |  CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+', 0)) AS BIGINT)
           |    AS n_tokens_re,
           |  n_chars
           |FROM $tbl""".stripMargin)
    },
    // -- corpus-pipeline funnels: the operators a data engineer drives
    // daily, as SQL doors over the SAME hash policies the Scala builders
    // use (TrainingData.bucketOf / capPriority / gatePriority). The
    // templates inline those policies verbatim — a drifting copy would
    // silently keep different documents, so SqlSurfaceSpec result-pins
    // each function to its Scala twin. --
    "split_assign" -> { args: Seq[Expression] =>
      // split_assign(tbl): deterministic train/val/test assignment
      // ≡ TrainingData.qSplitAssign (bucket = first 32 md5 bits of
      // doc_id mod 100, split at 80/90 — hash-based, never rand())
      arity("split_assign", 1, args)
      val tbl = tableIdent("split_assign", args(0))
      parseTemplate(
        s"""SELECT doc_id, bucket,
           |  CASE WHEN bucket < 80 THEN 'train'
           |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
           |FROM (SELECT doc_id,
           |        CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8),
           |          16, 10) AS BIGINT) % 100 AS bucket
           |      FROM $tbl) b""".stripMargin)
    },
    "source_cap" -> { args: Seq[Expression] =>
      // source_cap(tbl[, cap]): per-source document cap by SALTED
      // priority hash ≡ TrainingData.qSourceCap (the salt keeps the cap
      // policy independent of the split policy's md5(doc_id) stream)
      if (args.isEmpty || args.length > 2)
        throw new IllegalArgumentException(
          s"source_cap expects (tbl[, cap]), got ${args.length} argument(s)")
      val tbl = tableIdent("source_cap", args(0))
      val cap = if (args.length >= 2) posIntArg("source_cap", args(1)) else 15
      parseTemplate(
        s"""SELECT source, count(1) AS n_total,
           |  sum(CASE WHEN rn <= $cap THEN 1 ELSE 0 END) AS n_kept,
           |  sum(CASE WHEN rn <= $cap THEN doc_id END) AS kept_docid_sum
           |FROM (SELECT doc_id, source,
           |        row_number() OVER (PARTITION BY source
           |          ORDER BY md5(concat_ws(':', 'cap', CAST(doc_id AS STRING))),
           |            doc_id) AS rn
           |      FROM $tbl) r
           |GROUP BY source""".stripMargin)
    },
    "quality_gate" -> { args: Seq[Expression] =>
      // quality_gate(tbl[, keep_per_mille]): per-language top-p‰ gate by
      // content length ≡ TrainingData.qQualityGate (integer-only
      // threshold: kept iff rn*1000 <= n_lang*p + 999)
      if (args.isEmpty || args.length > 2)
        throw new IllegalArgumentException(
          s"quality_gate expects (tbl[, keep_per_mille]), got ${args.length} argument(s)")
      val tbl = tableIdent("quality_gate", args(0))
      val p = if (args.length >= 2) posIntArg("quality_gate", args(1)) else 700
      parseTemplate(
        s"""SELECT lang, count(1) AS n_total,
           |  sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
           |  min(CASE WHEN keep THEN n_chars END) AS cut_chars
           |FROM (SELECT lang, n_chars,
           |        CAST(row_number() OVER (PARTITION BY lang
           |          ORDER BY n_chars DESC, doc_id) AS BIGINT) * 1000
           |          <= count(1) OVER (PARTITION BY lang) * $p + 999 AS keep
           |      FROM $tbl) g
           |GROUP BY lang""".stripMargin)
    },
    "dup_passages" -> { args: Seq[Expression] =>
      // dup_passages(tbl[, n]): duplicated-PASSAGE census (Lee et al. —
      // verbatim n-token spans shared across otherwise-distinct docs are
      // what models memorize) ≡ TrainingData.qDupPassages: one inverted
      // span index (map-side-combinable doc count per span), spans with
      // >= 2 docs joined back on the span key — never doc x doc
      if (args.isEmpty || args.length > 2)
        throw new IllegalArgumentException(
          s"dup_passages expects (tbl[, n]), got ${args.length} argument(s)")
      val tbl = tableIdent("dup_passages", args(0))
      val n = if (args.length >= 2) posIntArg("dup_passages", args(1)) else 8
      // ONE shingle pass by construction: the per-span doc count is a
      // window over the exploded relation (shingle_set is a SET per doc,
      // so count(1) per span partition == docs carrying the span) — the
      // aggregate-then-self-join form re-shingled the corpus twice (and a
      // WITH hoist gets inlined right back by InlineCTE's cheap-def
      // heuristic, SqlSurfaceSpec pins the single-scan plan). Span
      // cardinality is corpus-sized, so the window partitioning is as
      // wide as the join key it replaces — one exchange instead of two.
      parseTemplate(
        s"""SELECT doc_id, count(1) AS n_dup_spans, max(n_docs) AS max_span_docs
           |FROM (SELECT doc_id, span,
           |        count(1) OVER (PARTITION BY span) AS n_docs
           |      FROM $tbl
           |      LATERAL VIEW explode(shingle_set(text, $n)) x AS span) w
           |WHERE n_docs >= 2
           |GROUP BY doc_id""".stripMargin)
    },
    "decontaminate" -> { args: Seq[Expression] =>
      // decontaminate(tbl): train/eval contamination census — every
      // TRAIN-split doc sharing a verbatim 4-token shingle with any
      // TEST-split doc, with hit count and contaminated fraction
      // ≡ TrainingData.qDecontaminate (splits from THE bucketOf policy,
      // inlined; the eval side collapses to a distinct shingle set and
      // the train side meets it in one shingle equi-join — never
      // doc × doc)
      arity("decontaminate", 1, args)
      val tbl = tableIdent("decontaminate", args(0))
      // ONE shingle pass by construction: train and eval rows ride the
      // same exploded relation (val-split rows dropped pre-explode) and
      // the eval-membership test is a per-shingle window flag instead of
      // a distinct-then-join — the join form shingled the corpus twice,
      // and a WITH hoist gets inlined right back by InlineCTE's
      // cheap-def heuristic (SqlSurfaceSpec pins the single-shingle
      // plan). Flag-sum == semijoin-count because shingle_set is a SET
      // per doc; n_shingles likewise needs no size(sh_arr) — it is the
      // doc's unfiltered row count in the final aggregate (a second
      // reference to sh_arr would get shingle_set re-inlined per use
      // site by CollapseProject, tripling the per-row shingle work).
      parseTemplate(
        s"""SELECT doc_id, count(1) AS n_shingles,
           |  sum(hit) AS n_hits,
           |  round(CAST(sum(hit) AS DOUBLE) / count(1), 4) AS frac
           |FROM (
           |  SELECT doc_id, bucket,
           |    max(CASE WHEN bucket >= 90 THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY sh) AS hit
           |  FROM (SELECT doc_id,
           |          CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8),
           |            16, 10) AS BIGINT) % 100 AS bucket, text
           |        FROM $tbl) d
           |  LATERAL VIEW explode(shingle_set(text, 4)) x AS sh
           |  WHERE bucket < 80 OR bucket >= 90) w
           |WHERE bucket < 80
           |GROUP BY doc_id
           |HAVING sum(hit) > 0""".stripMargin)
    },
    "corpus_build" -> { args: Seq[Expression] =>
      // corpus_build(tbl[, min_tokens, max_bigram_ppm]): the corpus-build
      // capstone's SQL-expressible stages — quality gate (token count +
      // repetition bound) → exact-dup losers removed → split assignment
      // → per-(split, lang) census ≡ TrainingData.qCorpusBuildExact.
      // The near-dup cluster stage is deliberately absent: cluster
      // labels need the iterative large-star/small-star operator, which
      // no single SQL relation expresses — pipelines that want it run
      // qCorpusBuild (Scala) or subtract dedup_pairs() losers themselves.
      if (args.isEmpty || args.length > 3)
        throw new IllegalArgumentException(
          s"corpus_build expects (tbl[, min_tokens, max_bigram_ppm]), got ${args.length} argument(s)")
      val tbl = tableIdent("corpus_build", args(0))
      val minTok = if (args.length >= 2) posIntArg("corpus_build", args(1)) else 20
      val ppm = if (args.length >= 3) posIntArg("corpus_build", args(2)) else 200000
      val thr = ppm / 1e6
      val longEnough =
        s"""SELECT doc_id, lang, text,
           |  CAST(size(split(text, ' ', -1)) AS BIGINT) AS n_tokens
           |FROM $tbl WHERE size(split(text, ' ', -1)) >= $minTok""".stripMargin
      parseTemplate(
        s"""SELECT split, lang, count(1) AS n_docs, sum(n_tokens) AS n_tokens
           |FROM (
           |  SELECT q.lang, q.n_tokens,
           |    CASE WHEN q.bucket < 80 THEN 'train'
           |         WHEN q.bucket < 90 THEN 'val' ELSE 'test' END AS split
           |  FROM (
           |    SELECT t.doc_id, t.lang, t.n_tokens,
           |      CAST(conv(substring(md5(CAST(t.doc_id AS STRING)), 1, 8),
           |        16, 10) AS BIGINT) % 100 AS bucket
           |    FROM ($longEnough) t
           |    JOIN (
           |      SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM (
           |        SELECT doc_id, g, count(1) AS c FROM ($longEnough) lv
           |        LATERAL VIEW explode(shingle_list(text, 2)) tg AS g
           |        GROUP BY doc_id, g) gc
           |      GROUP BY doc_id) bg ON t.doc_id = bg.doc_id
           |    LEFT ANTI JOIN (
           |      SELECT doc_id FROM (
           |        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
           |        FROM $tbl) e WHERE doc_id <> keep) x ON t.doc_id = x.doc_id
           |    WHERE CAST(bg.top_bg AS DOUBLE) / bg.n_bg <= $thr) q) s
           |GROUP BY split, lang""".stripMargin)
    })

  /** Parse a rendered SQL template into an unresolved logical plan
    * (session-free; resolution happens in the host query's analyzer). */
  /** Parse a builder template. CTE substitution must run HERE: the
    * analyzer's own CTESubstitution pass fired before this plan was
    * spliced in, so a template's WITH clause would otherwise reach
    * resolution as an unsubstituted UnresolvedWith and fail with
    * TABLE_OR_VIEW_NOT_FOUND on its own CTE names. (No-op for the
    * WITH-less templates.) */
  private def parseTemplate(sql: String): logical.LogicalPlan =
    org.apache.spark.sql.catalyst.analysis.CTESubstitution(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parsePlan(sql))

  /** A foldable string argument that must be a plain (optionally
    * dot-qualified) table identifier — the template splice is an
    * IDENTIFIER position, so anything else is rejected outright rather
    * than risking SQL injection through the table-function front door. */
  private def tableIdent(name: String, e: Expression): String = {
    val s = stringArg(name, e)
    require(s.matches("[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*"),
      s"$name requires a plain table identifier, got '$s'")
    s
  }
}
