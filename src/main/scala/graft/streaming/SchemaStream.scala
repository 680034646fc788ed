package graft.streaming

import graft.cdc.{BinlogRowCodec, BinlogTxnCodec, SchemaHistory}
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One row event stamped with the schema in effect at its position:
  * column `names`/`mysqlTypes` are the live, DDL-evolved list — a
  * downstream stage can decode the event positionally
  * ([[graft.cdc.BinlogSchema.fromMysqlTypes]] + rowsDynamic) and attach
  * the right names without ever consulting the source server.
  */
final case class SchemaEvent(session: Long, ordinal: Long, db: String,
    table: String, names: Seq[String], mysqlTypes: Seq[String],
    eventType: Int, event: Array[Byte])

/** Streaming schema-history tracking: the [[graft.cdc.SchemaHistory]]
  * batch fold as a per-session stateful stage. TABLE_MAP events bind
  * table_id → (db, table); ALTER TABLE QUERY events evolve the column
  * list in state; row events emit stamped with the current names/types of
  * their table. The batch path reconstructs eras after the fact with an
  * as-of join (q133); this is the live-tail equivalent, with the schema
  * correct at the trigger each event arrives in, surviving checkpoint
  * restarts via the state store.
  *
  * Scale posture: state per session = the table registry (id → name) +
  * one column list per table — catalog-scale, bounded by schema size,
  * never by stream length. The fold is the pure [[step]]. Over a Dataset
  * that [[ReplicaStream.fromChunks]] built, [[withSchema]] runs it inside
  * the wire's own per-session operator, as a third part of its state, so
  * the whole chain pays one exchange on session id and one state-store
  * commit per trigger. Over any other events it runs as a stateful
  * operator of its own, keyed by session like [[TxnStream]].
  */
object SchemaStream {

  /** Public for the same product-encoder codegen reason as
    * [[TxnStream.TxnState]]. `tableIds` maps table_id → the NUL-joined
    * db/table key; `cols` maps that key → the evolved (name, mysqlType)
    * list.
    */
  final case class SchemaState(tableIds: Map[Long, String],
      cols: Map[String, List[(String, String)]])

  // NUL is the one byte MySQL forbids in identifiers — a safe separator
  // even for backquoted names containing spaces or dots.
  private final val Sep = '\u0000'

  private def key(db: String, table: String): String = db + Sep + table

  private val RowTypes = Set(BinlogRowCodec.WriteV1, BinlogRowCodec.UpdateV1,
    BinlogRowCodec.DeleteV1, BinlogRowCodec.WriteV2, BinlogRowCodec.UpdateV2,
    BinlogRowCodec.DeleteV2, BinlogRowCodec.PartialUpdateV2)

  /** A session's schema state before its first event: no table_id bound,
    * `bootstrap`'s column lists (keyed (db, table)) in place.
    */
  def initial(bootstrap: Map[(String, String), Seq[(String, String)]]): SchemaState =
    SchemaState(Map.empty,
      bootstrap.map { case ((db, tbl), cs) => key(db, tbl) -> cs.toList })

  /** One session's events, in ordinal order, folded from `st`: the next
    * state and the row events stamped with their table's live schema.
    */
  def step(session: Long, events: Seq[SessionEvent], st0: SchemaState)
      : (SchemaState, Seq[SchemaEvent]) = {
    var st = st0
    val out = scala.collection.mutable.ArrayBuffer.empty[SchemaEvent]
    events.foreach { se =>
      val h = BinlogRowCodec.decodeHeader(se.event, packetMarker = false)
      val tpe = h.getInt(1)
      val body = h.getBinary(6)
      if (tpe == 19) { // TABLE_MAP: bind table_id, never emit
        val tm = BinlogRowCodec.decodeTableMap(body)
        st = st.copy(tableIds = st.tableIds +
          (tm.getLong(0) -> key(tm.getUTF8String(1).toString,
            tm.getUTF8String(2).toString)))
      } else if (tpe == BinlogTxnCodec.QueryType) {
        val q = BinlogTxnCodec.decodeQuery(body)
        val sql = q.getUTF8String(1).toString
        val db = q.getUTF8String(0).toString
        SchemaHistory.alterTable(sql) match {
          case Some(tbl) =>
            val k = key(db, tbl)
            val cur = st.cols.getOrElse(k,
              throw new IllegalArgumentException(
                s"session $session: ALTER for unknown table $tbl at " +
                  s"ordinal ${se.ordinal} (no bootstrap, no CREATE seen)"))
            st = st.copy(cols = st.cols +
              (k -> SchemaHistory.applyAlter(cur, sql).toList))
          case None =>
            // a CREATE TABLE in the stream seeds the schema with no
            // external bootstrap; DROP TABLE retires it
            SchemaHistory.createTable(sql).foreach { case (tbl, cs) =>
              st = st.copy(cols = st.cols + (key(db, tbl) -> cs.toList))
            }
            SchemaHistory.dropTable(sql).foreach { tbl =>
              st = st.copy(cols = st.cols - key(db, tbl))
            }
        }
      } else if (RowTypes.contains(tpe)) {
        val tid = BinlogRowCodec.rowEventTableId(body)
        val k = st.tableIds.getOrElse(tid,
          throw new IllegalArgumentException(
            s"session $session: row event for unmapped table_id $tid " +
              s"at ordinal ${se.ordinal}"))
        val cs = st.cols.getOrElse(k,
          throw new IllegalArgumentException(
            s"session $session: no schema for ${k.replace(Sep, '.')} " +
              s"at ordinal ${se.ordinal}"))
        val sep = k.indexOf(Sep)
        out += SchemaEvent(session, se.ordinal,
          k.substring(0, sep), k.substring(sep + 1),
          cs.map(_._1), cs.map(_._2), tpe, se.event)
      } // other event types: framing/metadata, nothing to do
    }
    (st, out.toSeq)
  }

  /** Whole binlog events → row events stamped with live schema.
    * `bootstrap` seeds the column lists (keyed (db, table)) for tables
    * whose CREATE/initial schema predates the stream, exactly like the
    * batch fold's bootstrap argument. `events` built by
    * [[ReplicaStream.fromChunks]] are rebuilt as its wire operator with
    * this fold inside it, over the same chunks.
    */
  def withSchema(events: Dataset[SessionEvent],
      bootstrap: Map[(String, String), Seq[(String, String)]]): Dataset[SchemaEvent] = {
    val boot = initial(bootstrap)
    ReplicaStream.wireOf(events) match {
      case Some(wire) => ReplicaStream.withSchema(wire, boot)
      case None =>
        import events.sparkSession.implicits._
        implicit val stateEnc: Encoder[SchemaState] = Encoders.product[SchemaState]
        events
          .groupByKey(_.session)
          .flatMapGroupsWithState[SchemaState, SchemaEvent](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (session: Long, rows: Iterator[SessionEvent], state: GroupState[SchemaState]) =>
              val (st, out) = step(session, rows.toSeq.sortBy(_.ordinal),
                state.getOption.getOrElse(boot))
              state.update(st)
              out.iterator
          }
    }
  }
}
