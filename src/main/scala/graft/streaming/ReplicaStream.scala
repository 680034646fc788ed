package graft.streaming

import graft.cdc.MysqlReplicaSession
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

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
  * [[SchemaStream.withSchema]] over this stage's output rebuilds it with
  * the schema fold as a third part of the same per-session state, so the
  * chain up to stamped row events is still one exchange and one state
  * store.
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
    implicit val stateEnc: Encoder[SessionState] =
      Encoders.tuple(reStateEnc, foldStateEnc)
    val events = PacketReassembly.perSession(chunks, idleTimeout, fresh(config))(
      _ => None, step(_, _, _, maxPending))
    events.queryExecution.logical.setTagValue(WireTag,
      Wire(chunks, config, maxPending, idleTimeout))
    events
  }

  // The reassembly part stays product-encoded; the fold part is Java
  // serialized: State carries a sealed Phase hierarchy that product
  // encoders can't express. It is O(bytes of one seed) per session, so
  // codec speed is irrelevant here.
  private def reStateEnc = Encoders.product[PacketReassembly.ReState]
  private def foldStateEnc = Encoders.javaSerialization[FoldState]

  /** What [[fromChunks]] was built from, kept on its plan so that
    * [[SchemaStream.withSchema]] can rebuild the stage with the schema
    * fold inside it.
    */
  private[streaming] final case class Wire(chunks: Dataset[ByteChunk],
      config: MysqlReplicaSession.Config, maxPending: Int,
      idleTimeout: scala.concurrent.duration.Duration)

  private val WireTag = TreeNodeTag[Wire]("graft.replicaWire")

  /** The wire `events` came from, when [[fromChunks]] built them. */
  private[streaming] def wireOf(events: Dataset[SessionEvent]): Option[Wire] =
    events.queryExecution.logical.getTagValue(WireTag)

  /** A session's state in the wire stage that stamps schemas: reassembly,
    * fold, then the schema registry.
    */
  type SchemaSessionState = (PacketReassembly.ReState, FoldState, SchemaStream.SchemaState)

  /** One session's trigger through [[step]] and then [[SchemaStream.step]]. */
  def stepWithSchema(session: Long, chunks: Iterator[ByteChunk],
      st: SchemaSessionState, maxPending: Int): (SchemaSessionState, Seq[SchemaEvent]) = {
    val ((re, fold), events) = step(session, chunks, (st._1, st._2), maxPending)
    val (schema, stamped) = SchemaStream.step(session, events, st._3)
    ((re, fold, schema), stamped)
  }

  /** An idle timeout in the schema-stamping stage: reassembly and fold
    * restart as a fresh connection. The table registry and the
    * DDL-evolved column lists describe the source's catalog, not the
    * connection, so they are kept.
    */
  def idleReset(config: MysqlReplicaSession.Config)(st: SchemaSessionState)
      : SchemaSessionState = {
    val (re, fold) = fresh(config)
    (re, fold, st._3)
  }

  /** [[fromChunks]] with the schema fold inside the same operator: one
    * exchange on session id and one state store for the whole chain.
    */
  private[streaming] def withSchema(wire: Wire, boot: SchemaStream.SchemaState)
      : Dataset[SchemaEvent] = {
    import wire.chunks.sparkSession.implicits._
    implicit val stateEnc: Encoder[SchemaSessionState] = Encoders.tuple(
      reStateEnc, foldStateEnc, Encoders.product[SchemaStream.SchemaState])
    val (re, fold) = fresh(wire.config)
    PacketReassembly.perSession(wire.chunks, wire.idleTimeout, (re, fold, boot))(
      st => Some(idleReset(wire.config)(st)), stepWithSchema(_, _, _, wire.maxPending))
  }
}
