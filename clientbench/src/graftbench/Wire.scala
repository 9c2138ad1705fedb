package graftbench

import java.io.{ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** MySQL client/server protocol constants the client uses (public protocol
  * documentation, "Capability Flags" and "Text/Binary Protocol"). */
object Proto {
  val LongPassword = 0x00000001
  val Compress = 0x00000020
  val LocalFiles = 0x00000080
  val Protocol41 = 0x00000200
  val Transactions = 0x00002000
  val SecureConnection = 0x00008000
  val MultiResults = 0x00020000
  val PluginAuth = 0x00080000

  val MaxChunk = 0xFFFFFF // 2^24 - 1: a payload this long continues

  val ComQuit = 0x01
  val ComQuery = 0x03
  val ComStmtPrepare = 0x16
  val ComStmtExecute = 0x17
  val ComStmtClose = 0x19

  val TypeLongLong = 0x08
  val TypeVarString = 0xFD

  def isEof(p: Array[Byte]): Boolean = p.nonEmpty && (p(0) & 0xFF) == 0xFE && p.length < 9
  def isErr(p: Array[Byte]): Boolean = p.nonEmpty && (p(0) & 0xFF) == 0xFF
  def isOk(p: Array[Byte]): Boolean = p.nonEmpty && p(0) == 0

  /** ERR packet → "code: message" (protocol 4.1 layout). */
  def errText(p: Array[Byte]): String = {
    val code = (p(1) & 0xFF) | ((p(2) & 0xFF) << 8)
    val msgAt = if (p.length > 3 && p(3) == '#') 9 else 3
    s"$code: ${new String(p, msgAt, math.max(0, p.length - msgAt), UTF_8)}"
  }
}

/** Cursor over one packet payload. */
final class Reader(val p: Array[Byte], var i: Int = 0) {
  def int1(): Int = { val v = p(i) & 0xFF; i += 1; v }
  def int2(): Int = int1() | (int1() << 8)
  def int3(): Int = int2() | (int1() << 16)
  def int4(): Long = (int2().toLong) | (int2().toLong << 16)
  def int8(): Long = (int4() & 0xFFFFFFFFL) | (int4() << 32)
  def bytes(n: Int): Array[Byte] = { val b = java.util.Arrays.copyOfRange(p, i, i + n); i += n; b }
  def nulString(): String = {
    val s = i
    while (p(i) != 0) i += 1
    i += 1
    new String(p, s, i - s - 1, UTF_8)
  }
  /** Length-encoded integer; -1 for the 0xFB NULL marker. */
  def lenenc(): Long = int1() match {
    case 0xFB => -1L
    case 0xFC => int2().toLong
    case 0xFD => int3().toLong
    case 0xFE => int8()
    case v => v.toLong
  }
  /** Length-encoded string; null for NULL. */
  def lenencBytes(): Array[Byte] = {
    val n = lenenc()
    if (n < 0) null else bytes(n.toInt)
  }
  def done: Boolean = i >= p.length
}

/** Builder for an outbound payload. */
final class Writer {
  private val b = new ByteArrayOutputStream(64)
  def int1(v: Int): Writer = { b.write(v & 0xFF); this }
  def int2(v: Int): Writer = int1(v).int1(v >>> 8)
  def int4(v: Long): Writer = int2((v & 0xFFFF).toInt).int2(((v >>> 16) & 0xFFFF).toInt)
  def int8(v: Long): Writer = int4(v & 0xFFFFFFFFL).int4(v >>> 32)
  def bytes(a: Array[Byte]): Writer = { b.write(a, 0, a.length); this }
  def nulString(s: String): Writer = bytes(s.getBytes(UTF_8)).int1(0)
  def lenenc(v: Long): Writer =
    if (v < 0xFB) int1(v.toInt)
    else if (v < (1L << 16)) int1(0xFC).int2(v.toInt)
    else if (v < (1L << 24)) int1(0xFD).int2((v & 0xFFFF).toInt).int1((v >>> 16).toInt)
    else int1(0xFE).int8(v)
  def lenencBytes(a: Array[Byte]): Writer = lenenc(a.length.toLong).bytes(a)
  def result(): Array[Byte] = b.toByteArray
}

/** Packet framing over a byte stream: 3-byte length + 1-byte sequence id,
  * a logical payload split into 2^24-1 byte chunks, and a payload of
  * exactly a multiple of that length followed by an empty chunk. */
object Framing {
  def readFully(in: InputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(b, off, n - off)
      if (k < 0) throw new EOFException("server closed the connection")
      off += k
    }
    b
  }

  /** One logical packet; returns (payload, sequence id of its last chunk). */
  def read(in: InputStream): (Array[Byte], Int) = {
    var out: ByteArrayOutputStream = null
    var first: Array[Byte] = null
    var seq = 0
    var more = true
    while (more) {
      val h = readFully(in, 4)
      val len = (h(0) & 0xFF) | ((h(1) & 0xFF) << 8) | ((h(2) & 0xFF) << 16)
      seq = h(3) & 0xFF
      val body = readFully(in, len)
      if (first == null && len < Proto.MaxChunk) first = body
      else {
        if (out == null) {
          out = new ByteArrayOutputStream(len * 2)
          if (first != null) out.write(first, 0, first.length)
          first = Array.emptyByteArray
        }
        out.write(body, 0, len)
      }
      more = len == Proto.MaxChunk
    }
    (if (out == null) first else out.toByteArray, seq)
  }

  /** Write one logical packet starting at `seq0`; returns the next id. */
  def write(out: OutputStream, seq0: Int, payload: Array[Byte]): Int = {
    var off = 0
    var seq = seq0
    var more = true
    while (more) {
      val n = math.min(Proto.MaxChunk, payload.length - off)
      out.write(n & 0xFF); out.write((n >>> 8) & 0xFF); out.write((n >>> 16) & 0xFF)
      out.write(seq & 0xFF)
      out.write(payload, off, n)
      off += n
      seq = (seq + 1) & 0xFF
      more = n == Proto.MaxChunk
    }
    seq
  }
}

/** Counts the bytes that cross the socket. */
final class CountingIn(in: InputStream) extends InputStream {
  var count = 0L
  override def read(): Int = { val v = in.read(); if (v >= 0) count += 1; v }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val k = in.read(b, off, len); if (k > 0) count += k; k
  }
}

/** Inbound compressed protocol: frames of 3-byte compressed length, 1-byte
  * sequence id, 3-byte uncompressed length (0 = stored raw) and a zlib
  * body. Presents the decompressed byte stream the packets are read from. */
final class CompressedIn(raw: InputStream) extends InputStream {
  private var cur: Array[Byte] = Array.emptyByteArray
  private var pos = 0
  var inflated = 0L
  private def fill(): Unit = while (pos >= cur.length) {
    val h = Framing.readFully(raw, 7)
    val clen = (h(0) & 0xFF) | ((h(1) & 0xFF) << 8) | ((h(2) & 0xFF) << 16)
    val ulen = (h(4) & 0xFF) | ((h(5) & 0xFF) << 8) | ((h(6) & 0xFF) << 16)
    val body = Framing.readFully(raw, clen)
    cur =
      if (ulen == 0) body
      else {
        val inf = new java.util.zip.Inflater()
        inf.setInput(body)
        val out = new Array[Byte](ulen)
        var n = 0
        while (n < ulen && !inf.finished()) n += inf.inflate(out, n, ulen - n)
        inf.end()
        if (n != ulen) throw new java.io.IOException(s"inflated $n of $ulen bytes")
        out
      }
    inflated += cur.length
    pos = 0
  }
  override def read(): Int = { fill(); val v = cur(pos) & 0xFF; pos += 1; v }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    fill()
    val n = math.min(len, cur.length - pos)
    System.arraycopy(cur, pos, b, off, n)
    pos += n
    n
  }
}

/** Outbound compressed protocol: everything written between flushes goes
  * out as one frame, stored raw (it is only commands and upload chunks). The
  * compressed sequence id restarts at 0 with every command. */
final class CompressedOut(raw: OutputStream) extends OutputStream {
  private val buf = new ByteArrayOutputStream()
  var seq = 0
  override def write(b: Int): Unit = buf.write(b)
  override def write(b: Array[Byte], off: Int, len: Int): Unit = buf.write(b, off, len)
  override def flush(): Unit = {
    val data = buf.toByteArray
    var off = 0
    while (off < data.length) {
      val n = math.min(Proto.MaxChunk, data.length - off)
      raw.write(n & 0xFF); raw.write((n >>> 8) & 0xFF); raw.write((n >>> 16) & 0xFF)
      raw.write(seq & 0xFF)
      raw.write(0); raw.write(0); raw.write(0)
      raw.write(data, off, n)
      seq = (seq + 1) & 0xFF
      off += n
    }
    buf.reset()
    raw.flush()
  }
}

/** Column metadata the client keeps: name and protocol type byte. */
final case class Col(name: String, tpe: Int)

/** One statement's answer. `rows` are raw row payloads (text or binary),
  * decoded after the timed region. Times are System.nanoTime stamps. */
final case class Answer(cols: Array[Col], rows: Array[Array[Byte]],
    binary: Boolean, affected: Long, error: String,
    sent: Long, firstPacket: Long, firstRow: Long, done: Long) {
  def ok: Boolean = error == null
}

/** Minimal MySQL client written against the public protocol: handshake
  * (mysql_native_password with an empty password), COM_QUERY text result
  * sets, COM_STMT_PREPARE/EXECUTE binary result sets, the compressed
  * protocol, and the LOAD DATA LOCAL INFILE (0xFB) upload flow. */
final class Wire(port: Int, user: String, compress: Boolean) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(120000)
  private val rawIn = new CountingIn(new java.io.BufferedInputStream(sock.getInputStream, 65536))
  private val rawOut = new java.io.BufferedOutputStream(sock.getOutputStream, 65536)
  private var in: InputStream = rawIn
  private var out: OutputStream = rawOut
  private var zin: CompressedIn = null
  private var zout: CompressedOut = null

  /** Server version string from the greeting. */
  val serverVersion: String = {
    val (g, _) = Framing.read(rawIn)
    if (Proto.isErr(g)) throw new java.io.IOException(Proto.errText(g))
    val r = new Reader(g)
    r.int1() // protocol version 10
    val v = r.nulString()
    r.int4() // connection id
    r.bytes(8); r.int1() // auth data part 1, filler
    val capsLo = r.int2(); r.int1(); r.int2()
    val caps = capsLo | (r.int2() << 16)
    if (compress && (caps & Proto.Compress) == 0)
      throw new java.io.IOException("server does not offer CLIENT_COMPRESS")
    var caps2 = Proto.LongPassword | Proto.Protocol41 | Proto.SecureConnection |
      Proto.PluginAuth | Proto.Transactions | Proto.MultiResults | Proto.LocalFiles
    if (compress) caps2 |= Proto.Compress
    val resp = new Writer().int4(caps2.toLong).int4(1L << 24).int1(45)
      .bytes(new Array[Byte](23)).nulString(user).int1(0)
      .nulString("mysql_native_password").result()
    Framing.write(rawOut, 1, resp)
    rawOut.flush()
    val (ok, _) = Framing.read(rawIn)
    if (!Proto.isOk(ok)) throw new java.io.IOException(
      if (Proto.isErr(ok)) Proto.errText(ok) else "unexpected handshake reply")
    if (compress) {
      zin = new CompressedIn(rawIn); zout = new CompressedOut(rawOut)
      in = zin; out = zout
    }
    v
  }

  /** Bytes read from the socket so far, and the decompressed bytes behind
    * them (equal without compression). */
  def wireBytesIn: Long = rawIn.count
  def payloadBytesIn: Long = if (zin == null) rawIn.count else zin.inflated

  private def send(payload: Array[Byte]): Unit = {
    if (zout != null) zout.seq = 0
    Framing.write(out, 0, payload)
    out.flush()
  }
  private def next(): Array[Byte] = Framing.read(in)._1

  private def columns(n: Int): Array[Col] = {
    val cols = Array.tabulate(n) { _ =>
      val r = new Reader(next())
      r.lenencBytes(); r.lenencBytes(); r.lenencBytes(); r.lenencBytes() // catalog, schema, tables
      val name = new String(r.lenencBytes(), UTF_8)
      r.lenencBytes(); r.lenenc(); r.int2(); r.int4()
      Col(name, r.int1())
    }
    if (n > 0 && !Proto.isEof(next())) throw new java.io.IOException("missing column EOF")
    cols
  }

  private def resultSet(first: Array[Byte], binary: Boolean, sent: Long,
      firstAt: Long): Answer = {
    if (Proto.isErr(first)) return Answer(Array.empty, Array.empty, binary, 0L,
      Proto.errText(first), sent, firstAt, firstAt, firstAt)
    if (Proto.isOk(first)) {
      val affected = new Reader(first, 1).lenenc()
      return Answer(Array.empty, Array.empty, binary, affected, null, sent, firstAt,
        firstAt, firstAt)
    }
    val cols = columns(new Reader(first).lenenc().toInt)
    val rows = Array.newBuilder[Array[Byte]]
    var firstRow = 0L
    var err: String = null
    var more = true
    while (more) {
      val p = next()
      if (firstRow == 0L) firstRow = System.nanoTime()
      if (Proto.isEof(p)) more = false
      else if (Proto.isErr(p)) { err = Proto.errText(p); more = false }
      else rows += p
    }
    Answer(cols, rows.result(), binary, 0L, err, sent, firstAt, firstRow, System.nanoTime())
  }

  /** COM_QUERY; text result set, OK or ERR. */
  def query(sql: String): Answer = {
    val sent = System.nanoTime()
    send(new Writer().int1(Proto.ComQuery).bytes(sql.getBytes(UTF_8)).result())
    val first = next()
    resultSet(first, binary = false, sent, System.nanoTime())
  }

  /** COM_STMT_PREPARE; returns (statement id, parameter count). */
  def prepare(sql: String): (Long, Int) = {
    send(new Writer().int1(Proto.ComStmtPrepare).bytes(sql.getBytes(UTF_8)).result())
    val p = next()
    if (Proto.isErr(p)) throw new java.io.IOException(Proto.errText(p))
    val r = new Reader(p, 1)
    val id = r.int4()
    val ncols = r.int2()
    val nparams = r.int2()
    if (nparams > 0) columns(nparams)
    if (ncols > 0) columns(ncols)
    (id, nparams)
  }

  /** COM_STMT_EXECUTE with LONGLONG or VAR_STRING parameters; binary rows. */
  def execute(id: Long, params: Seq[Any]): Answer = {
    val w = new Writer().int1(Proto.ComStmtExecute).int4(id).int1(0).int4(1L)
    if (params.nonEmpty) {
      w.bytes(new Array[Byte]((params.length + 7) / 8)).int1(1)
      params.foreach {
        case _: Long => w.int1(Proto.TypeLongLong).int1(0)
        case _ => w.int1(Proto.TypeVarString).int1(0)
      }
      params.foreach {
        case v: Long => w.int8(v)
        case v => w.lenencBytes(v.toString.getBytes(UTF_8))
      }
    }
    val sent = System.nanoTime()
    send(w.result())
    val first = next()
    resultSet(first, binary = true, sent, System.nanoTime())
  }

  def closeStatement(id: Long): Unit =
    send(new Writer().int1(Proto.ComStmtClose).int4(id).result())

  /** LOAD DATA LOCAL INFILE: the server answers the statement with a 0xFB
    * file request; the client streams `data` in packets, ends with an empty
    * packet and reads OK/ERR. Returns the answer and the instant the
    * terminator went out. */
  def loadLocal(sql: String, data: Array[Byte], chunk: Int = 1 << 16): (Answer, Long) = {
    val sent = System.nanoTime()
    if (zout != null) zout.seq = 0
    Framing.write(out, 0, new Writer().int1(Proto.ComQuery).bytes(sql.getBytes(UTF_8)).result())
    out.flush()
    val (req, rseq) = Framing.read(in)
    val at = System.nanoTime()
    if (req.isEmpty || (req(0) & 0xFF) != 0xFB)
      return (resultSet(req, binary = false, sent, at), at)
    if (zout != null) zout.seq = 0
    var seq = (rseq + 1) & 0xFF
    var off = 0
    while (off < data.length) {
      val n = math.min(chunk, data.length - off)
      seq = Framing.write(out, seq, java.util.Arrays.copyOfRange(data, off, off + n))
      off += n
    }
    Framing.write(out, seq, Array.emptyByteArray)
    out.flush()
    val terminated = System.nanoTime()
    val reply = next()
    (resultSet(reply, binary = false, sent, System.nanoTime()), terminated)
  }

  def close(): Unit = {
    try send(Array(Proto.ComQuit.toByte)) catch { case _: Exception => () }
    sock.close()
  }
}
