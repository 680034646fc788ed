package perfbench

import scala.collection.mutable

import graft.cdc.{BinlogRowCodec, BinlogSchema}

/** Generates the `corpus_chain` documents table from a seed, as bulk-import
  * binlog events: 50-row WRITE events of mostly novel docs, with planted
  * exact duplicates, one-word edits and copied-embedding semantic
  * duplicates of docs admitted in earlier tranches, plus one UPDATE and one
  * DELETE event per tranche over earlier docs. The generator keeps the
  * corpus the chain must end with: every novel doc, updated docs with their
  * new text, deleted docs gone.
  */
final class CorpusGen(seed: Long) {
  import CorpusGen._
  private val rnd = new java.util.Random(seed)
  private var nextId = 1L
  private case class Doc(id: Long, text: String, emb: String) {
    def row: Seq[Any] = Seq(id, text, emb)
  }
  // docs admitted in earlier tranches: `stable` ones are copied by the
  // planted duplicates and never change; `mutable` ones get updated or
  // deleted, once
  private val stable = mutable.ArrayBuffer.empty[Doc]
  private val mutablePool = mutable.ArrayBuffer.empty[Doc]
  /** The admitted corpus the chain must end with: doc_id → text. */
  val expected = mutable.HashMap.empty[Long, String]
  /** Docs offered (inserted or updated) and deleted so far. */
  var offered = 0L
  var deleted = 0L

  private def word(): String =
    (0 until 3 + rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  private def text(): String = Seq.fill(60 + rnd.nextInt(60))(word()).mkString(" ")
  private def embedding(): String = {
    val v = Array.fill(Dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => f"${x / n}%.6f").mkString("[", ", ", "]")
  }
  private def novel(): Doc = {
    val d = Doc(nextId, text(), embedding())
    nextId += 1
    d
  }
  private def take(pool: mutable.ArrayBuffer[Doc]): Doc = {
    val i = rnd.nextInt(pool.size)
    val d = pool(i)
    pool(i) = pool(pool.size - 1)
    pool.remove(pool.size - 1)
    d
  }

  /** One tranche's events (TABLE_MAP before each ROWS event). */
  def tranche(): Seq[Array[Byte]] = {
    val admitted = mutable.ArrayBuffer.empty[Doc]
    val rows = (0 until Inserts).map { _ =>
      val u = rnd.nextDouble()
      if (stable.isEmpty || u < 0.85) {
        val d = novel()
        admitted += d
        expected(d.id) = d.text
        d
      } else {
        val src = stable(rnd.nextInt(stable.size))
        val id = nextId
        nextId += 1
        if (u < 0.9) Doc(id, src.text, embedding())
        else if (u < 0.95) {
          val ws = src.text.split(" ")
          ws(rnd.nextInt(ws.length)) = word()
          Doc(id, ws.mkString(" "), embedding())
        } else Doc(id, text(), src.emb)
      }
    }
    val events = mutable.ArrayBuffer.empty[Array[Byte]]
    def emit(tpe: Int, images: Seq[Seq[Any]]): Unit = {
      events += BinlogRowCodec.encodeEvent(19,
        BinlogRowCodec.encodeTableMap(TableId, Db, Table, Schema))
      events += BinlogRowCodec.encodeEvent(tpe,
        BinlogRowCodec.encodeRows(tpe, Schema, images, tableId = TableId))
    }
    rows.grouped(RowsPerEvent).foreach(g => emit(BinlogRowCodec.WriteV2, g.map(_.row)))
    offered += rows.size
    if (mutablePool.size >= 2 * Mutations) {
      val ups = Seq.fill(Mutations)(take(mutablePool))
      emit(BinlogRowCodec.UpdateV2, ups.flatMap { d =>
        val after = Doc(d.id, text(), embedding())
        expected(d.id) = after.text
        Seq(d.row, after.row)
      })
      val dels = Seq.fill(Mutations)(take(mutablePool))
      emit(BinlogRowCodec.DeleteV2, dels.map { d => expected.remove(d.id); d.row })
      offered += Mutations
      deleted += Mutations
    }
    admitted.foreach(d => (if (rnd.nextDouble() < 0.3) mutablePool else stable) += d)
    events.toSeq
  }
}

object CorpusGen {
  val Dim = 64
  val Inserts = 150
  val RowsPerEvent = 50
  val Mutations = 10
  val Db = "lake"
  val Table = "documents"
  val TableId = 201L
  val Columns: Seq[(String, String)] =
    Seq("doc_id" -> "bigint", "text" -> "text", "embedding" -> "text")
  val Schema = BinlogSchema.fromMysqlTypes(Columns)
}
