package perfbench

import graft.cdc.MysqlProtocolCodec
import graft.streaming.ByteChunk

/** MySQL replica transport framing for generated binlog events: the server
  * side of a session bring-up (handshake, auth switch, the setup queries'
  * OK/result sets), then each binlog event as one packet (0x00 marker +
  * event bytes), sequence ids continuing across the session, cut into
  * MTU-sized chunks. Every tranche is cut separately, so a tranche ends on
  * a packet boundary.
  */
object Wire {
  val Mtu = 1400

  private def hx(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def lenencStr(s: String): Array[Byte] =
    s.length.toByte +: s.getBytes("UTF-8")

  private def handshakeV10(seed: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(10); out.write("8.0.42-log".getBytes); out.write(0)
    out.write(Array[Byte](0x39, 0x30, 0, 0))
    out.write(seed, 0, 8); out.write(0)
    out.write(0xff); out.write(0xf7)
    out.write(0xff); out.write(Array[Byte](2, 0))
    out.write(0x08); out.write(0x00)
    out.write(21)
    for (_ <- 0 until 10) out.write(0)
    out.write(seed, 8, 12); out.write(0)
    out.write("mysql_native_password".getBytes); out.write(0)
    out.toByteArray
  }

  /** The server's packets before the dump stream starts. */
  val bringUp: Seq[Array[Byte]] = {
    val seed = (1 to 20).map(_.toByte).toArray
    val ok = hx("00" + "00" + "00" + "0200" + "0000")
    val eof = hx("fe" + "0000" + "0200")
    Seq(handshakeV10(seed),
      (0xfe.toByte +: ("mysql_native_password".getBytes :+ 0.toByte)) ++ seed :+ 0.toByte,
      ok, ok, Array(2.toByte), hx("deadbeef"), hx("deadbeef"), eof,
      lenencStr("bin.000001") ++ lenencStr("4"), eof)
  }

  val config = graft.cdc.MysqlReplicaSession.Config("repl", "secret", serverId = 100L)

  /** One session's transport state across tranches. */
  final class Session(val id: Long) {
    private var seq = 0
    private var chunkIdx = 0L
    private var started = false

    /** Frame `events` (bring-up first on the session's first tranche) and
      * cut them into chunks. */
    def tranche(events: Seq[Array[Byte]]): Seq[ByteChunk] = {
      val payloads =
        (if (started) Nil else bringUp) ++ events.map(e => 0.toByte +: e)
      started = true
      val out = new java.io.ByteArrayOutputStream()
      payloads.foreach { p =>
        out.write(MysqlProtocolCodec.writePacket(seq % 256, p))
        seq += 1
      }
      out.toByteArray.grouped(Mtu).map { bs =>
        val c = ByteChunk(id, chunkIdx, bs)
        chunkIdx += 1
        c
      }.toSeq
    }
  }
}
