package perfbench

import scala.collection.mutable

import graft.cdc.{BinlogRowCodec, BinlogSchema}
import graft.streaming.ByteChunk

/** Generates the `cdc_replicate` op log from a seed: single-row
  * WRITE/UPDATE/DELETE events over three tables with the same columns
  * (BIGINT pk, packed DECIMAL, DATETIME(6), utf8 VARCHAR, a nullable
  * VARCHAR), each preceded by its TABLE_MAP event, as MySQL writes them.
  * Every pk belongs to one session and encodes its table, so the per-pk
  * order is the session's event order. The generator keeps the plain
  * replay of its own ops: the latest image of every live row.
  */
final class CdcGen(seed: Long, val sessions: Int, val perSession: Int) {
  import CdcGen._
  private val rnd = new java.util.Random(seed)
  private val nextKey = Array.fill(sessions, Tables.length)(0L)
  private val live = Array.fill(sessions, Tables.length)(mutable.ArrayBuffer.empty[Long])
  /** Latest image per pk, for every table, from the generator's own ops. */
  val images = mutable.HashMap.empty[Long, Seq[Any]]
  /** Row events generated per table. */
  val opsPerTable: Array[Long] = Array.fill(Tables.length)(0L)
  private var stamp = 1700000000L

  /** One tranche: per session, its events (TABLE_MAP + ROWS pairs). */
  def tranche(): Seq[Seq[Array[Byte]]] = (0 until sessions).map { s =>
    (0 until perSession).flatMap { _ => op(s) }
  }

  private def op(s: Int): Seq[Array[Byte]] = {
    val u = rnd.nextDouble()
    val t = if (u < 0.4) 0 else if (u < 0.75) 1 else 2
    val pks = live(s)(t)
    val v = rnd.nextDouble()
    val (tpe, imgs) =
      if (pks.size < 16 || v < 0.5) {
        val pk = (nextKey(s)(t) * sessions + s) * Tables.length + t + 1
        nextKey(s)(t) += 1
        pks += pk
        val img = image(pk)
        images(pk) = img
        (BinlogRowCodec.WriteV2, Seq(img))
      } else {
        val i = rnd.nextInt(pks.size)
        val pk = pks(i)
        val before = images(pk)
        if (v < 0.85) {
          val after = image(pk)
          images(pk) = after
          (BinlogRowCodec.UpdateV2, Seq(before, after))
        } else {
          pks(i) = pks(pks.size - 1)
          pks.remove(pks.size - 1)
          images.remove(pk)
          (BinlogRowCodec.DeleteV2, Seq(before))
        }
      }
    opsPerTable(t) += 1
    stamp += 1
    val (name, tid) = Tables(t)
    Seq(BinlogRowCodec.encodeEvent(19,
        BinlogRowCodec.encodeTableMap(tid, Db, name, Schema), timestamp = stamp),
      BinlogRowCodec.encodeEvent(tpe,
        BinlogRowCodec.encodeRows(tpe, Schema, imgs, tableId = tid), timestamp = stamp))
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyzéüßøçñ中文데이터"

  private def image(pk: Long): Seq[Any] = {
    val amount = java.math.BigDecimal.valueOf(rnd.nextLong() % 10000000000L, 2)
    val ts = f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d " +
      f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d." +
      f"${rnd.nextInt(1000000)}%06d"
    val name = (0 until 3 + rnd.nextInt(10))
      .map(_ => Letters.charAt(rnd.nextInt(Letters.length))).mkString
    val note = if (rnd.nextDouble() < 0.3) null
      else (0 until rnd.nextInt(24)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    Seq(pk, amount.toPlainString, ts, name, note)
  }
}

object CdcGen {
  val Db = "shop"
  val Tables: Array[(String, Long)] =
    Array("orders" -> 101L, "customers" -> 102L, "audit_log" -> 103L)
  val Columns: Seq[(String, String)] = Seq("pk" -> "bigint",
    "amount" -> "decimal(12,2)", "ts" -> "datetime(6)",
    "name" -> "varchar(64)", "note" -> "varchar(32)")
  val Schema = BinlogSchema.fromMysqlTypes(Columns)

  def tableOf(pk: Long): Int = ((pk - 1) % Tables.length).toInt

  /** Frames tranches of per-session events for fresh sessions. */
  def frame(tranches: Seq[Seq[Seq[Array[Byte]]]]): Seq[Seq[ByteChunk]] = {
    val ss = tranches.headOption.map(_.indices.map(i => new Wire.Session(i.toLong)))
      .getOrElse(Nil)
    tranches.map(t => t.zip(ss).flatMap { case (evs, s) => s.tranche(evs) })
  }
}
