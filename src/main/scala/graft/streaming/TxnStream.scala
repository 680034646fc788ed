package graft.streaming

import graft.cdc.{BinlogGtidCodec, BinlogRowCodec, BinlogTxnCodec, BinlogTxnPayloadCodec, MariaGtidCodec}
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One binlog event stamped with its transaction: `xid`/`commitTs` are
  * `None` only for events outside any transaction (file preludes —
  * FORMAT_DESCRIPTION, ROTATE); everything inside a BEGIN..XID span is
  * withheld until its commit and emitted stamped.
  */
final case class TxnEvent(session: Long, ordinal: Long, txnSeq: Long,
    xid: Option[Long], commitTs: Option[Long], gtid: Option[String],
    event: Array[Byte])

/** Streaming transaction assembly: the [[graft.cdc.Transactions]] batch
  * semantics as a per-session stateful fold, with the one guarantee batch
  * cannot give — **committed-transactions-only delivery**. Events between
  * a `QUERY("BEGIN")` and its XID buffer in state and emit atomically
  * when the XID arrives, stamped with the transaction id and commit
  * timestamp; an uncommitted span stays in state across triggers (it may
  * commit in a later chunk) instead of leaking half a transaction
  * downstream — the batch operator can only stamp it null after the fact.
  *
  * Scale: state per session is the one OPEN transaction's events —
  * bounded by the largest single transaction in the binlog, not by
  * stream length, and EXPLICITLY bounded by `maxBuffered` (an oversized
  * span fails loudly with its session and ordinal named instead of
  * growing a state entry until the executor OOMs). Keyed by session like
  * [[ReplicaStream]], but a separate stateful operator with its own
  * exchange and state store per trigger.
  */
object TxnStream {

  /** Public (not private) because the product-encoder codegen constructs
    * it from generated Java, which cannot see a private constructor.
    * `pendingGtid` is the last GTID event's `uuid:gno` — it precedes its
    * BEGIN on the wire, so it waits here for the span it names.
    */
  final case class TxnState(txnSeq: Long, open: Boolean,
      buffered: List[TxnEvent], pendingGtid: Option[String])

  /** Expand TRANSACTION_PAYLOAD envelopes (MySQL 8.0.20+ compressed
    * transactions) into their embedded whole events ahead of
    * [[assembleCommitted]] — stateless (pure flatMap, no state store), so
    * it chains between [[ReplicaStream]] and the fold with no new shuffle.
    * Every ordinal is scaled by 2^20 so sub-events slot between their
    * envelope and the next event; an envelope holding ≥2^20 events fails
    * loudly (far beyond any real transaction — the payload itself is
    * bounded by max_binlog_size). Non-payload events pass through with
    * the same scaling, so per-session relative order is preserved.
    */
  def expandPayloads(events: Dataset[SessionEvent]): Dataset[SessionEvent] = {
    import events.sparkSession.implicits._
    events.flatMap { se =>
      val h = BinlogRowCodec.decodeHeader(se.event, packetMarker = false)
      if (h.getInt(1) != BinlogTxnPayloadCodec.TxnPayloadType)
        Seq(se.copy(ordinal = se.ordinal << 20))
      else {
        val arr = BinlogTxnPayloadCodec.decodePayload(h.getBinary(6))
        val n = arr.numElements()
        require(n < (1 << 20),
          s"session ${se.session}: TRANSACTION_PAYLOAD with $n embedded " +
            s"events at ordinal ${se.ordinal}")
        (0 until n).map { i =>
          val er = arr.getStruct(i, 7)
          SessionEvent(se.session, (se.ordinal << 20) + i,
            BinlogRowCodec.encodeEvent(er.getInt(1), er.getBinary(6),
              timestamp = er.getLong(0), serverId = er.getLong(2),
              logPos = er.getLong(4), flags = er.getInt(5)))
        }
      }
    }
  }

  /** Whole binlog events (as from [[ReplicaStream.fromChunks]]) → events
    * stamped with their commit, committed transactions and preludes only.
    *
    * @param maxBuffered refuse-loudly bound on one OPEN transaction's
    *   buffered events (the [[PacketReassembly]] `maxPending`
    *   discipline, r12 verdict item 4): the state value holds the whole
    *   BEGIN..XID span, so a single oversized transaction — the
    *   reference's own motivating workload is a 3M-row bulk import in
    *   ONE transaction — would otherwise grow one executor's state entry
    *   until it OOMs silently mid-trigger. The default clears the 3M-row
    *   case with headroom; past it the fold fails with the session,
    *   ordinal, and bound named, the operator's declared capacity
    *   instead of an executor heap autopsy. A deployment sized for
    *   larger spans raises the bound together with its state-store
    *   memory.
    */
  def assembleCommitted(events: Dataset[SessionEvent],
      maxBuffered: Int = 1 << 22): Dataset[TxnEvent] = {
    import events.sparkSession.implicits._
    implicit val stateEnc: Encoder[TxnState] = Encoders.product[TxnState]
    events
      .groupByKey(_.session)
      .flatMapGroupsWithState[TxnState, TxnEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (session: Long, rows: Iterator[SessionEvent], state: GroupState[TxnState]) =>
          var st = state.getOption.getOrElse(TxnState(0L, open = false, Nil, None))
          val out = scala.collection.mutable.ArrayBuffer.empty[TxnEvent]
          // one O(n) count per trigger (a span can straddle triggers),
          // then O(1) per buffered event — buffered.size per event would
          // be quadratic over a bulk-import span
          var nBuffered = st.buffered.size
          // group iterators after a shuffle have no order guarantee; the
          // per-trigger run is bounded, so an in-memory sort is fine
          rows.toArray.sortBy(_.ordinal).foreach { se =>
            val h = BinlogRowCodec.decodeHeader(se.event, packetMarker = false)
            val tpe = h.getInt(1)
            val body = h.getBinary(6)
            val isBegin = tpe == BinlogTxnCodec.QueryType &&
              BinlogTxnCodec.decodeQuery(body).getUTF8String(1)
                .toString.trim.equalsIgnoreCase("BEGIN")
            // MariaDB dialect: a non-standalone GTID_EVENT (162) IS the
            // transaction opener (no BEGIN QUERY exists) and carries the
            // span's own gtid; a standalone one frames the next statement
            // like a MySQL-style marker.
            val mariaGtid = if (tpe == MariaGtidCodec.GtidType)
              Some(MariaGtidCodec.decodeGtid(body)) else None
            val mariaText = mariaGtid.map(g => MariaGtidCodec.gtidText(
              g.getLong(1), h.getLong(2), g.getLong(0)).toString)
            def raw(txnSeq: Long) =
              TxnEvent(session, se.ordinal, txnSeq, None, None, None, se.event)
            if (isBegin || mariaGtid.exists(!_.getBoolean(3))) {
              require(!st.open,
                s"session $session: BEGIN inside an open transaction at " +
                  s"ordinal ${se.ordinal} — corrupt capture")
              st = TxnState(st.txnSeq + 1, open = true,
                List(raw(st.txnSeq + 1)),
                if (mariaGtid.isDefined) mariaText else st.pendingGtid)
              nBuffered = 1
            } else if (mariaGtid.isDefined && !st.open) {
              // standalone MariaDB GTID: marker for the statement it names
              out += raw(st.txnSeq)
              st = st.copy(pendingGtid = mariaText)
            } else if (tpe == BinlogGtidCodec.GtidType && !st.open) {
              // GTID frames the NEXT transaction: emit the event itself
              // unstamped, remember the name for the span it announces
              val g = BinlogGtidCodec.decodeGtid(body).getUTF8String(3).toString
              out += raw(st.txnSeq)
              st = st.copy(pendingGtid = Some(g))
            } else if (tpe == BinlogGtidCodec.AnonymousGtidType && !st.open) {
              // the next transaction is EXPLICITLY anonymous — displace any
              // (malformed-stream) pending name rather than letting it leak
              out += raw(st.txnSeq)
              st = st.copy(pendingGtid = None)
            } else if (tpe == BinlogTxnCodec.XidType && st.open) {
              val xid = BinlogTxnCodec.decodeXid(body)
              val cts = h.getLong(0)
              (raw(st.txnSeq) :: st.buffered).reverse.foreach { e =>
                out += e.copy(xid = Some(xid), commitTs = Some(cts),
                  gtid = st.pendingGtid)
              }
              st = TxnState(st.txnSeq, open = false, Nil, None)
              nBuffered = 0
            } else if (st.open) {
              require(nBuffered < maxBuffered,
                s"session $session: open transaction ${st.txnSeq} exceeds " +
                  s"maxBuffered=$maxBuffered events at ordinal ${se.ordinal} " +
                  s"— raise the bound (and state-store memory) or split the " +
                  s"producing transaction")
              st = st.copy(buffered = raw(st.txnSeq) :: st.buffered)
              nBuffered += 1
            } else {
              // prelude / out-of-transaction event: emit immediately, unstamped.
              // A non-BEGIN QUERY here is an implicitly-committing statement
              // (DDL): it spends any pending GTID — the GTID named the DDL's
              // own transaction, so letting it survive would stamp it onto
              // the next anonymous BEGIN..XID span (mixed gtid_mode).
              out += raw(st.txnSeq)
              if (tpe == BinlogTxnCodec.QueryType) st = st.copy(pendingGtid = None)
            }
          }
          state.update(st)
          out.iterator
      }
  }
}
