package graft.perfbench

import java.io.{BufferedOutputStream, DataInputStream}
import java.net.Socket

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.server.QPack

/** A SiriDB client over CPROTO: 8-byte header (length u32 LE, pid u16
  * LE, type u8, check byte type ^ 255) followed by a qpack body. */
final class CprotoClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(sock.getInputStream)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  private var pid = 0

  /** Send one package and wait for its answer: (type, body). */
  def request(tp: Int, body: Array[Byte]): (Int, Array[Byte]) = {
    pid = (pid + 1) & 0xFFFF
    val h = new Array[Byte](8)
    val len = body.length
    h(0) = len.toByte; h(1) = (len >> 8).toByte
    h(2) = (len >> 16).toByte; h(3) = (len >> 24).toByte
    h(4) = pid.toByte; h(5) = (pid >> 8).toByte
    h(6) = tp.toByte; h(7) = (tp ^ 255).toByte
    out.write(h); out.write(body); out.flush()
    val rh = new Array[Byte](8)
    in.readFully(rh)
    def u8(i: Int) = rh(i) & 0xFF
    val rlen = u8(0) | (u8(1) << 8) | (u8(2) << 16) | (u8(3) << 24)
    require((u8(4) | (u8(5) << 8)) == pid, "response pid does not echo the request")
    require(u8(7) == (u8(6) ^ 255), "bad response check byte")
    val data = new Array[Byte](rlen)
    in.readFully(data)
    (u8(6), data)
  }

  /** Authenticate as the database's seeded default user. */
  def auth(): Unit = {
    val body = CprotoClient.mapper.createArrayNode().add("iris").add("siri").add("graft")
    val (tp, _) = request(CprotoClient.ReqAuth, QPack.encode(body))
    require(tp == CprotoClient.ResAuth, s"authentication refused (package type $tp)")
  }

  /** The qpack body of a query request. */
  def queryBody(q: String): Array[Byte] =
    QPack.encode(CprotoClient.mapper.createArrayNode().add(q))

  override def close(): Unit = sock.close()
}

object CprotoClient {
  val mapper = new ObjectMapper()
  // package types (the reference's include/siri/net/protocol.h)
  val ReqQuery = 0
  val ReqInsert = 1
  val ReqAuth = 2
  val ResQuery = 0
  val ResInsert = 1
  val ResAuth = 2
}

object Bodies {
  private val mapper = new ObjectMapper()

  /** The map form of an insert: {"series": [[ts, value], ...], ...}. */
  def insertNode(ins: Gen.Insert): ObjectNode = {
    val node = mapper.createObjectNode()
    ins.points.foreach { case (s, pts) =>
      val a = node.putArray(s)
      pts.foreach { case (ts, v) =>
        val p = a.addArray()
        p.add(ts)
        v match {
          case l: Long => p.add(l)
          case d: Double => p.add(d)
          case s: String => p.add(s)
          case other => throw new IllegalArgumentException(s"value $other")
        }
      }
    }
    node
  }

  /** Whether `answer` acknowledges an insert of `n` points. */
  def isInsertOk(answer: JsonNode, n: Int): Boolean =
    answer != null && Option(answer.get("success_msg")).map(_.asText())
      .contains(s"Successfully inserted $n point(s).")
}
