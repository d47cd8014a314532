package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

import graft.keyspace.{CrackKernels, Keyspace, Sha1KernelState}
import graft.streaming.CrackService.{CrackReply, JobVerdict}

/** The complete reference dataflow as ONE streaming job (SURVEY.md §3):
  * crack-request stream → range-partitioned worker scans → first-found /
  * all-exhausted verdict fold → reply stream.
  *
  * - request intake ≅ `handle_crack_req` (`server.c:229-241`)
  * - tiling ≅ `assign_one_req` (`server.c:333-438`; exact, no overshoot)
  * - [[scanTile]] ≅ the worker loop (`worker.c:58-108`) — the one tile
  *   loop, also run by the straggler rescan
  * - verdict fold ≅ `check_req_status` (`server.c:243-331`) via
  *   [[CrackService.step]], the one per-batch verdict step
  */
object CrackPipeline {

  /** One crack request (≅ `"c <hash> <lower> <upper>"` over the full
    * domain, `request.c:40-69`). */
  final case class CrackJob(reqId: Long, hashHex: String, len: Int, nParts: Int)

  /** Internal fan-out unit (one worker assignment). Not `private` — the
    * encoder's generated code must reference the class. */
  final case class TileTask(
      reqId: Long, hashHex: String, len: Int, partId: Int, nParts: Int,
      lo: Long, hi: Long)

  /** Sequential scan of ordinals `[lo, hi]` for the first sha1 preimage —
    * the worker inner loop, re-expressed without the reference's
    * per-candidate allocation: one [[graft.keyspace.Sha1KernelState]]
    * steps the candidate in place and hashes it into one reused 20-byte
    * buffer, and the target hex is decoded ONCE to raw bytes, so the loop
    * compares 20 bytes fail-fast instead of hex-encoding every candidate.
    * Bounds are ordinals, so the reference's all-`z` UB cannot arise.
    * Every 64k candidates the loop checks for `Thread.interrupt` — the
    * way `interruptOnCancel` kills a task, which a pure compute loop
    * would otherwise never observe. */
  def scanTile(hashHex: String, len: Int, lo: Long, hi: Long): Option[String] = {
    require(lo >= 0 && hi < Keyspace.size(len), s"tile [$lo,$hi] outside len=$len")
    val target = CrackKernels.hexToBytes(hashHex.toLowerCase)
    val kernel = new Sha1KernelState
    var ord = lo
    while (ord <= hi) {
      if (kernel.matches(ord, len, target)) return Some(Keyspace.numToPass(ord, len))
      ord += 1
      if ((ord & 0xffffL) == 0L && Thread.currentThread().isInterrupted)
        throw new InterruptedException(s"crack tile [$lo,$hi] cancelled")
    }
    None
  }

  /** Request stream → tile-task stream (the fan-out of
    * `server.c:333-438`), spread by (reqId, partId) — partitioning by
    * partId alone would co-locate tile i of every concurrent request. */
  private def tileStream(jobs: Dataset[CrackJob]): Dataset[TileTask] = {
    implicit val tileEnc = Encoders.product[TileTask]
    jobs
      .flatMap { job =>
        // malformed requests are dropped silently, mirroring the reference
        // server's handling of unknown/invalid messages (server.c:103-128
        // UNKNOWN → ignored) — a poison request must never fail the
        // long-lived stream for everyone else
        if (job.len < 1 || job.len > Keyspace.MaxLen || job.nParts < 1 ||
          job.hashHex == null || !job.hashHex.matches("[0-9a-fA-F]{40}")) {
          Seq.empty[TileTask]
        } else {
          val (lo, hi) = Keyspace.fullRange(job.len)
          val tiles = Keyspace.tile(lo, hi, job.nParts)
          // nParts = tiles.size, the ACTUAL verdict count the fold will
          // see — never re-derive the tiler's clamp formula
          tiles.zipWithIndex.map { case ((s, e), i) =>
            TileTask(job.reqId, job.hashHex, job.len, i, tiles.size, s, e)
          }
        }
      }
      .repartition(org.apache.spark.sql.functions.col("reqId"),
        org.apache.spark.sql.functions.col("partId"))
  }

  /** Request stream → per-tile verdict stream (the fan-out/scan of
    * `server.c:333-438` + `worker.c`). Each verdict carries the job spec,
    * so the fold can rescan an overdue tile from its state alone. */
  def jobVerdictStream(jobs: Dataset[CrackJob]): Dataset[JobVerdict] = {
    implicit val verdictEnc = Encoders.product[JobVerdict]
    tileStream(jobs).map { t =>
      val hit = scanTile(t.hashHex, t.len, t.lo, t.hi)
      JobVerdict(t.reqId, t.partId, t.nParts, t.hashHex, t.len,
        found = hit.isDefined, hit.orNull)
    }
  }

  /** Full pipeline: requests in, replies out — [[replyStreamRecovering]]
    * with timers off. */
  def replyStream(jobs: Dataset[CrackJob]): Dataset[CrackReply] =
    replyStreamRecovering(jobs, timeoutMs = 0L)

  /** Full pipeline with straggler recovery: a request whose worker
    * verdicts stall for `timeoutMs` of processing time has its unheard
    * tiles rescanned in the fan-in, completing the reply the reference's
    * stub rescheduler (`server.c:440-447`) never could. `timeoutMs = 0`
    * turns timers off. */
  def replyStreamRecovering(
      jobs: Dataset[CrackJob], timeoutMs: Long): Dataset[CrackReply] =
    CrackService.replyStreamRecovering(jobVerdictStream(jobs), timeoutMs)
}
