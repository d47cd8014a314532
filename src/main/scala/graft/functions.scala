package graft

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.sql.{Column, GraftShim, SparkSession}

import graft.keyspace.{NumToPass, PassToNum}

/** Column-API surface for graft's native expressions (mirrors
  * `org.apache.spark.sql.functions`' style). */
object functions {

  private def col(e: Expression): Column = GraftShim.column(e)
  private def expr(c: Column): Expression = GraftShim.expression(c)

  /** Ordinal → `[a-z]^len` password string (errors on out-of-range). */
  def num_to_pass(num: Column, len: Int): Column =
    col(NumToPass(Cast(expr(num), LongType), Literal(len)))

  /** Reference-parity variant: silently wraps ordinals mod 26^len
    * (`server.c:211-224` semantics). */
  def num_to_pass_wrap(num: Column, len: Int): Column =
    col(NumToPass(Cast(expr(num), LongType), Literal(len), wrap = true))

  /** `[a-z]{1,13}` string → ordinal; NULL on invalid input. */
  def pass_to_num(pass: Column): Column =
    col(PassToNum(Cast(expr(pass), StringType)))

  /** Fused crack predicate: `sha1(base26(ordinal, len)) == sha1Hex`
    * without materializing candidate strings, hex, or a per-row digest
    * (see [[graft.keyspace.Sha1OrdinalMatch]]). */
  def sha1_ordinal_match(ordinal: Column, len: Int, sha1Hex: String): Column =
    col(graft.keyspace.Sha1OrdinalMatch(
      Cast(expr(ordinal), LongType), len, sha1Hex.toLowerCase))

  /** Native dot product over `array<float>` columns (codegen'd; same
    * left-to-right fold as `aggregate(zip_with(..))`). */
  def vec_dot(a: Column, b: Column): Column =
    col(graft.similarity.FloatVectorDot(expr(a), expr(b)))

  /** Packed 256-register HLL blob with one seed register set. */
  def hll_seed_blob(bucket: Column, rho: Column): Column =
    col(graft.sketch.HllSeedBlob(
      Cast(expr(bucket), IntegerType), Cast(expr(rho), IntegerType)))

  /** Native elementwise-max merge AGGREGATE over register blobs
    * (map-side combinable, like a built-in sketch aggregate). */
  def hll_merge(blob: Column): Column =
    col(graft.sketch.HllMergeAgg(expr(blob)).toAggregateExpression())

  /** Elementwise-max union of two register blobs (sketch of the set
    * union — the HLL algebra behind inclusion–exclusion overlaps). */
  def hll_blob_union(a: Column, b: Column): Column =
    col(graft.sketch.HllBlobUnion(expr(a), expr(b)))

  /** Exact 2^61-scaled indicator sum of a register blob. */
  def hll_blob_zs(blob: Column): Column =
    col(graft.sketch.HllBlobZs(expr(blob)))

  /** Zero-register count of a register blob (linear-counting V). */
  def hll_blob_zeros(blob: Column): Column =
    col(graft.sketch.HllBlobZeros(expr(blob)))

  /** LSPMessage protobuf frame encode (wire-compatible with
    * `lspmessage__pack`). */
  def lsp_encode(connid: Column, seqnum: Column, payload: Column): Column =
    col(graft.lsp.LspEncode(
      Cast(expr(connid), LongType), Cast(expr(seqnum), LongType),
      expr(payload)))

  /** LSPMessage protobuf frame decode → struct; NULL on malformed bytes. */
  def lsp_decode(frame: Column): Column =
    col(graft.lsp.LspDecode(expr(frame)))

  /** Schema-driven protobuf decode → typed struct per the spec string
    * (`"1:connid:uint64,2:seqnum:uint64,3:payload:bytes"`); NULL on
    * malformed bytes. The generalized [[lsp_decode]] — evolved schemas
    * are a spec change, not a code change. */
  def proto_decode(frame: Column, spec: String): Column =
    col(graft.lsp.ProtoDecode(expr(frame), spec))

  /** Schema-driven protobuf encode of a struct column (fields positional
    * against the spec). */
  def proto_encode(message: Column, spec: String): Column =
    col(graft.lsp.ProtoEncode(expr(message), spec))

  /** Distinct n-token shingles (native single-pass kernel). */
  def shingle_set(text: Column, n: Int): Column =
    col(graft.text.ShingleSet(Cast(expr(text), StringType), n))

  /** Every n-token shingle in position order, non-distinct (the
    * gram-counting companion of [[shingle_set]]). */
  def shingle_list(text: Column, n: Int): Column =
    col(graft.text.ShingleList(Cast(expr(text), StringType), n))

  /** 64-bit Morton (Z-order) code over the low 32 bits of two
    * NON-NEGATIVE integer columns — the multi-dimensional lake
    * clustering key (quantize/offset dimensions to non-negative ints
    * first; negative values alias under the 32-bit mask). */
  def z_order(a: Column, b: Column): Column =
    col(graft.sources.ZOrderValue(
      Cast(expr(a), LongType), Cast(expr(b), LongType)))

  /** 32-bit Hilbert-curve index over the low 16 bits of two
    * NON-NEGATIVE integer columns — the tighter-locality clustering
    * key (consecutive indices are adjacent cells; see
    * [[graft.sources.HilbertKernels]]). Same quantization contract as
    * [[z_order]]. */
  def hilbert_index(a: Column, b: Column): Column =
    col(graft.sources.HilbertIndexValue(
      Cast(expr(a), LongType), Cast(expr(b), LongType)))

  /** MinHash signature over a shingle array; NULL when empty. */
  def minhash_sig(shingles: Column, k: Int): Column =
    col(graft.text.MinHashSig(expr(shingles), k))

  /** 64-bit SimHash as 4 × 16-bit LSH band values (one-pass kernel).
    * `md5Hash = true` uses the engine-portable md5-derived token hash
    * instead of XXH64 (slower, but reproducible by any engine). */
  def simhash_bands(text: Column, md5Hash: Boolean = false): Column =
    col(graft.text.SimHashBands(Cast(expr(text), StringType), md5Hash = md5Hash))

  /** Random-hyperplane LSH bucket over an `array<float>` embedding. */
  def hyperplane_bucket(emb: Column, bits: Int): Column =
    col(graft.similarity.HyperplaneBucket(expr(emb), bits))

  /** Subword token count under the library's greedy BPE merge vocab
    * ([[graft.text.BpeVocab]]). */
  def bpe_count(text: Column): Column =
    col(graft.text.BpeTokenCount(Cast(expr(text), StringType)))

  /** The subword piece sequence itself (array<string>);
    * `size(bpe_pieces(t)) = bpe_count(t)` by construction. */
  def bpe_pieces(text: Column): Column =
    col(graft.text.BpePieces(Cast(expr(text), StringType)))

  /** Per-pattern overlapping occurrence counts from ONE Aho–Corasick
    * automaton pass (`array<bigint>`, pattern order); see
    * [[graft.text.AhoCorasick]]. */
  def multi_match(text: Column, patterns: Seq[String]): Column =
    col(graft.text.MultiMatchCounts(Cast(expr(text), StringType), patterns))

  /** Register ALL of graft's native expressions as SQL functions on this
    * session (cluster-wide alternative:
    * `spark.sql.extensions=graft.GraftExtensions` — same builder table).
    * Idempotence is keyed on the session's OWN function registry (a
    * sentinel lookup), not a process-global session-id set: a dropped or
    * reset registry re-registers instead of silently no-oping, and
    * nothing accumulates per stopped session. Re-registration of an
    * existing function is a WARN, not an error, so the benign race
    * between two threads registering at once costs noise at worst. The
    * `crack` table function's [[graft.plans.FirstHitStrategy]] comes too. */
  def registerAll(spark: SparkSession): Unit =
    if (!spark.catalog.functionExists("num_to_pass")) {
      GraftExtensions.builders.foreach { case (name, builder) =>
        GraftShim.registerFunction(spark, name, builder)
      }
      GraftExtensions.tableBuilders.foreach { case (name, builder) =>
        GraftShim.registerTableFunction(spark, name, builder)
      }
      graft.plans.FirstHitStrategy.register(spark)
    }
}
