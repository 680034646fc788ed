package graft.streaming

import graft.cdc.MysqlReplicaSession
import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** One binlog event surfaced by the streaming replica session: the
  * `ordinal`-th event on `session`, bytes ready for
  * `BinlogDecode.eventSplit` (network marker already stripped).
  */
final case class SessionEvent(session: Long, ordinal: Long, event: Array[Byte])

/** The composed socket-free replication client as ONE streaming stage:
  * raw transport chunks → wire packets ([[PacketReassembly.step]]) →
  * [[graft.cdc.MysqlReplicaSession]] fold (bring-up phases and the
  * COM_BINLOG_DUMP streaming phase) → whole binlog events. This is the
  * reference's main loop (ru-cdc `src/main.rs:74-130`: read a
  * packet, step the session, dispatch) with the blocking socket reads
  * replaced by a per-session state fold over a captured byte stream;
  * chained with the decode it gives chunks → packets → session → events
  * → typed rows → snapshot as a single Structured Streaming query (see
  * CdcEndToEndSpec).
  *
  * Reassembly and the session fold run in ONE `flatMapGroupsWithState`
  * with one state per session, so a trigger pays one shuffle and one
  * state-store commit for the wire, and both halves of the state commit
  * atomically: checkpoint recovery replays a batch against exactly the
  * state it first ran on, and the fold sees each packet once, in ordinal
  * order, straight from the reassembler.
  *
  * `send`-side packets (login response, queries, the dump command) have no
  * transport to go to in capture replay — the captured server side already
  * answered them; a live deployment drives its socket by folding
  * [[MysqlReplicaSession.onPayload]] outside Spark (the documented
  * transport exclusion) and ships the received bytes here as chunks.
  *
  * Scale: state per session is O(reorder window + one packet) for the
  * reassembly plus the O(1) session phase; one shuffle on session id.
  * [[SchemaStream.withSchema]] downstream is a separate stateful operator
  * and pays its own exchange and state store.
  */
object ReplicaStream {

  /** Fold state: the pure session state + how many events this session
    * has emitted (the event ordinal).
    */
  final case class FoldState(st: MysqlReplicaSession.State, eventsOut: Long)

  /** A session's fused state: reassembly, then fold. */
  type SessionState = (PacketReassembly.ReState, FoldState)

  /** A session's state before its first chunk (and after an idle timeout). */
  def fresh(config: MysqlReplicaSession.Config): SessionState =
    (PacketReassembly.Fresh, FoldState(MysqlReplicaSession.initial(config), 0L))

  /** One session's trigger, as a pure function of the state it starts
    * from: reassemble the chunks, fold every completed packet through the
    * session, and return the next state with the events surfaced.
    */
  def step(session: Long, chunks: Iterator[ByteChunk], st: SessionState,
      maxPending: Int): (SessionState, Seq[SessionEvent]) = {
    val (re, packets) = PacketReassembly.step(session, chunks, st._1, maxPending)
    val FoldState(st0, emitted) = st._2
    var phase = st0
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionEvent]
    packets.foreach { p =>
      val next = MysqlReplicaSession.onPayload(phase, p.payload)
      next.event.foreach(ev => out += SessionEvent(session, emitted + out.size, ev))
      phase = next.state
    }
    ((re, FoldState(phase, emitted + out.size)), out.toSeq)
  }

  /** Raw transport chunks of many sessions → decoded binlog events,
    * streaming. `maxPending` and `idleTimeout` are
    * [[PacketReassembly.reassemble]]'s; an idle timeout drops the whole
    * session state, so a resumed session (chunk idx 0 again) is a fresh
    * connection: its bring-up folds from the initial phase.
    */
  def fromChunks(chunks: Dataset[ByteChunk], config: MysqlReplicaSession.Config,
      maxPending: Int = 4096,
      idleTimeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration.Zero): Dataset[SessionEvent] = {
    import chunks.sparkSession.implicits._
    // The reassembly half stays product-encoded; the fold half is Java
    // serialized: State carries a sealed Phase hierarchy that product
    // encoders can't express. It is O(bytes of one seed) per session, so
    // codec speed is irrelevant here.
    implicit val stateEnc: Encoder[SessionState] = Encoders.tuple(
      Encoders.product[PacketReassembly.ReState], Encoders.javaSerialization[FoldState])
    PacketReassembly.perSession(chunks, idleTimeout, fresh(config))(
      step(_, _, _, maxPending))
  }
}
