package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One transport read: `idx`-th chunk of bytes on `session`'s stream. */
final case class ByteChunk(session: Long, idx: Long, bytes: Array[Byte])

/** One reassembled wire packet: `ordinal`-th packet on the session, with
  * its framed sequence id and payload.
  */
final case class WirePacket(session: Long, ordinal: Long, seq: Int,
    payload: Array[Byte])

/** Streaming reassembly of MySQL wire packets from raw transport chunks.
  *
  * The reference's socket loop gets packet alignment for free from
  * blocking `read_exact` calls (`/root/reference/src/mysql.rs:96-137`:
  * 4-byte header, then exactly `len` body bytes). A distributed ingest of
  * captured transport bytes has neither blocking reads nor ordering: a
  * packet can split across chunk boundaries AND chunks of one session can
  * arrive out of order across micro-batches. This operator restores the
  * reference's invariant — downstream sees whole packets in stream order —
  * with per-session state: a reorder buffer of not-yet-contiguous chunks
  * plus the partial bytes of the packet in flight.
  *
  * Scale: one `groupByKey` shuffle on session id; state per session is
  * O(reorder window + one packet), not O(stream). Emitted packets feed
  * the same codecs as batch replay ([[graft.cdc.MysqlPacketSplit]],
  * `BinlogDecode.eventSplit(packetMarker = true)`) — tested equivalent in
  * StreamingSpec against the batch splitter on the concatenated stream.
  * [[ReplicaStream.fromChunks]] does not chain this operator: it runs
  * [[step]] inside its own per-session operator, fused with the replica
  * session fold, so the wire chain pays one shuffle and one state store.
  */
object PacketReassembly {

  /** Reassembly state: next chunk idx expected, chunks that arrived ahead
    * of it, bytes of the incomplete packet at the stream head, the
    * ordinal of the next packet to emit, and the 16 MB-continuation
    * accumulator (null when no continued packet is in flight).
    */
  final case class ReState(nextIdx: Long, pending: Map[Long, Array[Byte]],
      partial: Array[Byte], nextOrdinal: Long,
      contSeq: Int, contBytes: Array[Byte])

  /** A session's state before its first chunk (and after an idle timeout). */
  val Fresh: ReState = ReState(0L, Map.empty, Array.emptyByteArray, 0L, 0, null)

  /** @param maxPending refuse-loudly bound on the per-session reorder
    *   buffer: a gap that never fills (lost chunk) would otherwise grow
    *   state without bound and silently stall the session.
    * @param idleTimeout drop a session's state after this much processing
    *   time with no input — a disconnected capture would otherwise leak
    *   its partial buffer forever. Zero/negative keeps state indefinitely
    *   (correct for sessions that legitimately pause; pick a TTL above
    *   the transport's max silence). A timed-out session that later
    *   resumes restarts from chunk idx 0, like a fresh connection.
    */
  def reassemble(chunks: Dataset[ByteChunk], maxPending: Int = 4096,
      idleTimeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration.Zero)
      : Dataset[WirePacket] = {
    import chunks.sparkSession.implicits._
    perSession(chunks, idleTimeout, Fresh)(_ => None, step(_, _, _, maxPending))
  }

  /** A pure per-session `step` over raw chunks as ONE stateful operator
    * keyed by session. An idle timeout (as on [[reassemble]]) replaces the
    * session's state with `reset` of it, or removes it where `reset`
    * returns None; either way a resumed session starts its reassembly
    * from chunk idx 0.
    */
  private[streaming] def perSession[S: Encoder, U: Encoder](
      chunks: Dataset[ByteChunk], idleTimeout: scala.concurrent.duration.Duration,
      fresh: => S)(reset: S => Option[S],
      step: (Long, Iterator[ByteChunk], S) => (S, Seq[U])): Dataset[U] = {
    import chunks.sparkSession.implicits._
    val ttlMs = if (idleTimeout.isFinite && idleTimeout.toMillis > 0)
      idleTimeout.toMillis else 0L
    val conf = if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    chunks
      .groupByKey(_.session)
      .flatMapGroupsWithState[S, U](OutputMode.Append, conf) {
        (session: Long, rows: Iterator[ByteChunk], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            // no timeout is set on a reset state: it waits for the
            // session's next chunk, however long that takes
            reset(state.get).fold(state.remove())(state.update)
            Iterator.empty
          } else {
            val (next, out) = step(session, rows, state.getOption.getOrElse(fresh))
            state.update(next)
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            out.iterator
          }
      }
  }

  /** One session's reassembly over one trigger's chunks, as a pure
    * function of the state it starts from: the next state and the whole
    * packets completed, in ordinal order.
    */
  def step(session: Long, chunks: Iterator[ByteChunk], st: ReState,
      maxPending: Int): (ReState, Seq[WirePacket]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WirePacket]
    // Park everything, then drain the contiguous prefix: order within
    // a trigger is not guaranteed either, so arrival order is ignored
    // entirely — only idx decides.
    var pending = st.pending
    chunks.foreach { c =>
      if (c.idx >= st.nextIdx && !pending.contains(c.idx))
        pending += (c.idx -> c.bytes)
    }
    var nextIdx = st.nextIdx
    var ordinal = st.nextOrdinal
    var contSeq = st.contSeq
    var contBytes = st.contBytes
    var partial = st.partial
    // Gather the whole contiguous run, then parse ONCE: per-chunk
    // re-concat + re-slice would be O(chunks · bytes) per trigger.
    val run = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (pending.contains(nextIdx)) {
      run += pending(nextIdx)
      pending -= nextIdx
      nextIdx += 1
    }
    if (run.nonEmpty) {
      val buf = new Array[Byte](partial.length + run.iterator.map(_.length).sum)
      var off = partial.length
      System.arraycopy(partial, 0, buf, 0, off)
      run.foreach { c => System.arraycopy(c, 0, buf, off, c.length); off += c.length }
      // single shared implementation of the framing + 16 MB
      // continuation rules — see MysqlProtocolCodec.drainFrames
      val (pkts, consumed, cs, cb) =
        graft.cdc.MysqlProtocolCodec.drainFrames(buf, 0, contSeq, contBytes)
      pkts.foreach { case (seq, payload) =>
        out += WirePacket(session, ordinal, seq, payload)
        ordinal += 1
      }
      contSeq = cs
      contBytes = cb
      partial = java.util.Arrays.copyOfRange(buf, consumed, buf.length)
    }
    // Bound AFTER the drain: only chunks still stuck behind a gap
    // count — a large fully-contiguous delivery must never trip it.
    require(pending.size <= maxPending,
      s"session $session: ${pending.size} buffered chunks exceed " +
        s"maxPending=$maxPending (lost chunk before idx $nextIdx?)")
    (ReState(nextIdx, pending, partial, ordinal, contSeq, contBytes), out.toSeq)
  }
}
