package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming re-expression of the coordinator's crack-job state machine
  * (T8, SURVEY.md §2.10): request status 0→1→2 (`server.c:37`), first-found
  * and all-exhausted verdict aggregation (A1/A2, `server.c:243-331`), plus
  * the straggler rescheduler the reference left as a stub
  * (`server.c:440-447`).
  *
  * Input: a stream of per-tile verdicts (each worker's `"f <pass>"` /
  * `"x"` reply, `worker.c:85-107`). Output: at most ONE reply per request:
  *   - `f <pass>` as soon as any tile reports found — the reference's
  *     eager reply without waiting for stragglers (`server.c:251-256`);
  *   - `x` only after ALL tiles report not-found (`server.c:257-263`).
  *
  * [[step]] is the one definition of that logic, pure and tested on its
  * own; [[foldVerdictsRecovering]] is the `flatMapGroupsWithState`
  * adapter that stores its state and arms the straggler timer.
  *
  * Deliberate deltas from the reference: a duplicate `found` does NOT
  * overwrite the stored pass (the reference overwrites unconditionally,
  * `server.c:291` — benign there, idempotent here), tiles are tracked as
  * a SET so a repeated verdict cannot complete a request early, and
  * request state is freed exactly when every tile has reported
  * (`server.c:264-272`).
  */
object CrackService {

  /** The reply the requester sees (`request.c:78-80`): status `f` or `x`. */
  final case class CrackReply(reqId: Long, status: String, pass: String)

  /** One worker tile's verdict, carrying the job spec so a timed-out
    * request can be re-scanned from state alone — no side lookup, no
    * second input stream. The tile bounds are NOT carried: they re-derive
    * deterministically from `Keyspace.tile(fullRange(len), nParts)`,
    * which is the same splitter the fan-out used. */
  final case class JobVerdict(
      reqId: Long, partId: Int, nParts: Int, hashHex: String, len: Int,
      found: Boolean, pass: String)

  /** Coordinator-side per-request state (`struct request_s`,
    * `server.c:31-40`): the job spec, the set of tiles heard from
    * (≅ `req_worker_list` membership, A3 — a count can't say WHICH tile
    * went missing), and the found flag + result buffer (A1). */
  final case class RecoveryState(
      hashHex: String, len: Int, nParts: Int, seen: Seq[Int],
      found: Boolean, pass: String, replied: Boolean)

  /** One batch of a request's verdicts folded into its state: eager `f`
    * on the first found, `x` once every tile has reported not-found, at
    * most one reply overall. Pure — returns the new state, the replies,
    * and whether every tile has now reported (the caller frees the
    * state). */
  def step(
      reqId: Long,
      state: Option[RecoveryState],
      verdicts: Iterator[JobVerdict]): (RecoveryState, Seq[CrackReply], Boolean) = {
    var st = state.getOrElse(
      RecoveryState(null, 0, -1, Nil, found = false, null, replied = false))
    // Set for the batch's membership checks; the state keeps a Seq
    // (encoder-friendly) — converting once per batch keeps the fold
    // linear where per-verdict Seq.contains would be O(nParts²)
    var seen = st.seen.toSet
    val replies = Seq.newBuilder[CrackReply]
    verdicts.foreach { v =>
      if (st.nParts < 0)
        st = st.copy(hashHex = v.hashHex, len = v.len, nParts = v.nParts)
      seen += v.partId
      if (v.found && !st.found) st = st.copy(found = true, pass = v.pass)
      if (st.found && !st.replied) {
        replies += CrackReply(reqId, "f", st.pass)
        st = st.copy(replied = true)
      } else if (seen.size == st.nParts && !st.found && !st.replied) {
        replies += CrackReply(reqId, "x", null)
        st = st.copy(replied = true)
      }
    }
    (st.copy(seen = seen.toSeq.sorted), replies.result(), seen.size == st.nParts)
  }

  /** The fMGWS adapter over [[step]], with straggler recovery: on a
    * processing-time timeout the unheard tiles are rescanned by `rescan`
    * (the same worker tile loop the fan-out runs) and the request
    * completes with the correct verdict. Curried so the stream wiring can
    * bind `timeoutMs` (0 = timers disabled — `setTimeoutDuration` is
    * illegal under `NoTimeout`, which tests use to keep
    * `processAllAvailable` terminating; the timeout BRANCH is unit-tested
    * via TestGroupState). */
  def foldVerdictsRecovering(
      timeoutMs: Long,
      rescan: (String, Int, Long, Long) => Option[String])(
      reqId: Long,
      verdicts: Iterator[JobVerdict],
      state: GroupState[RecoveryState]): Iterator[CrackReply] = {
    if (state.hasTimedOut) {
      val st = state.get
      state.remove()
      completeByRescan(reqId, st, rescan)
    } else {
      val (st, replies, done) = step(reqId, state.getOption, verdicts)
      if (done) state.remove()
      else {
        state.update(st)
        // re-arm per batch: the clock restarts whenever the request makes
        // progress, so only a genuinely silent straggler trips recovery
        if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
      }
      replies.iterator
    }
  }

  /** The timeout-completion step of [[foldVerdictsRecovering]]: re-run
    * the unheard tiles, then answer. Tile bounds re-derive from the
    * deterministic tiler, so state needs no bounds. A found-and-replied
    * request emits nothing (it was answered eagerly; the timeout only
    * frees state). */
  def completeByRescan(
      reqId: Long,
      st: RecoveryState,
      rescan: (String, Int, Long, Long) => Option[String]): Iterator[CrackReply] =
    if (st.replied) Iterator.empty
    else {
      val (lo, hi) = graft.keyspace.Keyspace.fullRange(st.len)
      val tiles = graft.keyspace.Keyspace.tile(lo, hi, st.nParts)
      val seen = st.seen.toSet // one conversion, not O(parts) scans
      var found = st.found
      var pass = st.pass
      var p = 0
      while (p < st.nParts && !found) {
        if (!seen.contains(p))
          rescan(st.hashHex, st.len, tiles(p)._1, tiles(p)._2).foreach { h =>
            found = true; pass = h
          }
        p += 1
      }
      Iterator.single(
        if (found) CrackReply(reqId, "f", pass)
        else CrackReply(reqId, "x", null))
    }

  /** Verdict stream → reply stream (append mode, state keyed by request
    * id, freed on completion). `timeoutMs > 0` arms processing-time
    * straggler recovery; `timeoutMs = 0` turns timers off. */
  def replyStreamRecovering(
      verdicts: Dataset[JobVerdict],
      timeoutMs: Long,
      rescan: (String, Int, Long, Long) => Option[String] =
        CrackPipeline.scanTile): Dataset[CrackReply] = {
    implicit val stateEnc = Encoders.product[RecoveryState]
    implicit val outEnc = Encoders.product[CrackReply]
    implicit val keyEnc = Encoders.scalaLong
    val conf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    verdicts
      .groupByKey(_.reqId)
      .flatMapGroupsWithState(OutputMode.Append(), conf)(
        foldVerdictsRecovering(timeoutMs, rescan))
  }
}
