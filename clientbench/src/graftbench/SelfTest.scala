package graftbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.net.ServerSocket

/** Tests of the benchmark's own machinery: wire-client framing, the tail
  * percentile rule and span self time. Run with `python3 clientbench/selftest.py`.
  * Exits non-zero on the first failed check. */
object SelfTest {
  private var checks = 0

  private def expect(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }
  }

  private def roundTrip(payload: Array[Byte]): (Array[Byte], Int, Int) = {
    val out = new ByteArrayOutputStream()
    val next = Framing.write(out, 3, payload)
    val (back, lastSeq) = Framing.read(new ByteArrayInputStream(out.toByteArray))
    (back, lastSeq, next)
  }

  def framing(): Unit = {
    val small = "select 1".getBytes("UTF-8")
    val (b0, s0, n0) = roundTrip(small)
    expect(b0.sameElements(small) && s0 == 3 && n0 == 4, "small packet round trip")
    // exactly 2^24-1 bytes: a full chunk and an empty terminator chunk
    val exact = Array.tabulate[Byte](Proto.MaxChunk)(i => (i % 251).toByte)
    val out = new ByteArrayOutputStream()
    expect(Framing.write(out, 0, exact) == 2, "2^24-1 byte payload takes two sequence ids")
    expect(out.size == Proto.MaxChunk + 8, "2^24-1 byte payload ends with an empty chunk")
    val (b1, s1, _) = roundTrip(exact)
    expect(b1.sameElements(exact) && s1 == 4, "2^24-1 byte payload rejoins")
    val over = Array.tabulate[Byte](Proto.MaxChunk + 10)(i => (i % 13).toByte)
    val (b2, s2, n2) = roundTrip(over)
    expect(b2.sameElements(over) && s2 == 4 && n2 == 5, "split payload rejoins")
  }

  def lenenc(): Unit = {
    for (v <- Seq(0L, 250L, 251L, 65535L, 65536L, (1L << 24) - 1, 1L << 24, Long.MaxValue)) {
      val r = new Reader(new Writer().lenenc(v).result())
      expect(r.lenenc() == v && r.done, s"lenenc $v round trip")
    }
    expect(new Reader(Array(0xFB.toByte)).lenencBytes() == null, "0xFB is NULL")
    val s = new Reader(new Writer().lenencBytes("abc".getBytes("UTF-8")).result()).lenencBytes()
    expect(new String(s, "UTF-8") == "abc", "lenenc string")
  }

  def terminators(): Unit = {
    expect(Proto.isEof(Array(0xFE, 0, 0, 2, 0).map(_.toByte)), "EOF packet")
    expect(!Proto.isEof(Array.fill[Byte](9)(0xFE.toByte)), "0xFE row of 9+ bytes is not EOF")
    val err = new Writer().int1(0xFF).int2(1146).int1('#').bytes("42S02".getBytes("UTF-8"))
      .bytes("Table 'x' doesn't exist".getBytes("UTF-8")).result()
    expect(Proto.isErr(err) && Proto.errText(err) == "1146: Table 'x' doesn't exist", "ERR packet text")
    expect(Proto.isOk(Array[Byte](0, 0, 0, 2, 0, 0, 0)), "OK packet")
  }

  def compressed(): Unit = {
    val p1 = new ByteArrayOutputStream(); Framing.write(p1, 1, Array.fill[Byte](300)('a'.toByte))
    val p2 = new ByteArrayOutputStream(); Framing.write(p2, 2, "tail".getBytes("UTF-8"))
    val raw = new ByteArrayOutputStream()
    def frame(seq: Int, body: Array[Byte], ulen: Int): Unit = {
      Seq(body.length, body.length >>> 8, body.length >>> 16, seq, ulen, ulen >>> 8, ulen >>> 16)
        .foreach(b => raw.write(b & 0xFF))
      raw.write(body)
    }
    val d = new java.util.zip.Deflater(); d.setInput(p1.toByteArray); d.finish()
    val buf = new Array[Byte](1024); val n = d.deflate(buf); d.end()
    frame(0, buf.take(n), p1.size) // zlib body
    frame(1, p2.toByteArray, 0) // stored raw
    val in = new CompressedIn(new ByteArrayInputStream(raw.toByteArray))
    val (a, _) = Framing.read(in)
    val (b, _) = Framing.read(in)
    expect(a.length == 300 && a.forall(_ == 'a') && new String(b, "UTF-8") == "tail",
      "compressed frames inflate to the packets")
    expect(in.inflated == p1.size + p2.size, "inflated byte count")
  }

  /** LOAD DATA LOCAL against a scripted server: greeting, OK to the
    * handshake, 0xFB file request, chunks up to an empty packet, OK. */
  def localInfile(): Unit = {
    val ss = new ServerSocket(0)
    val got = new ByteArrayOutputStream()
    var seqs = Seq.empty[Int]
    val server = new Thread(() => {
      val s = ss.accept()
      val in = s.getInputStream; val out = s.getOutputStream
      val greet = new Writer().int1(10).nulString("test").int4(1).bytes(new Array[Byte](8)).int1(0)
        .int2(0xFFFF).int1(45).int2(0).int2(0xFFFF).int1(21).bytes(new Array[Byte](10))
        .bytes(new Array[Byte](12)).int1(0).nulString("mysql_native_password").result()
      Framing.write(out, 0, greet); out.flush()
      Framing.read(in)
      Framing.write(out, 2, Array[Byte](0, 0, 0, 2, 0, 0, 0)); out.flush()
      val (q, qs) = Framing.read(in)
      Framing.write(out, qs + 1, new Writer().int1(0xFB).bytes("f.tsv".getBytes("UTF-8")).result())
      out.flush()
      var more = true
      var last = 0
      while (more) {
        val (p, sq) = Framing.read(in)
        seqs :+= sq; last = sq
        if (p.isEmpty) more = false else got.write(p)
      }
      Framing.write(out, last + 1, new Writer().int1(0).lenenc(3).lenenc(0).int2(2).int2(0).result())
      out.flush()
      s.close()
    })
    server.start()
    val w = new Wire(ss.getLocalPort, "u", compress = false)
    val data = "1\ta\n2\tb\n3\tc\n".getBytes("UTF-8")
    val (a, terminated) = w.loadLocal("LOAD DATA LOCAL INFILE 'f.tsv' INTO TABLE t", data, chunk = 5)
    server.join()
    ss.close()
    expect(a.ok && a.affected == 3, "LOAD DATA answered OK with the row count")
    expect(got.toByteArray.sameElements(data), "upload bytes arrive intact")
    expect(seqs == Seq(2, 3, 4, 5), s"upload sequence ids continue after the request: $seqs")
    expect(terminated <= a.done, "terminator precedes the OK")
  }

  def tailRule(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    expect(Stats.tail(xs).map(_._1).contains(90), "100 samples support p90")
    expect(Stats.tail((1 to 15).map(_.toDouble)).map(_._1).contains(33), "15 samples support p33")
    expect(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "10 samples support no tail")
    val (p, v, n) = Stats.tail((1 to 1000).map(_.toDouble)).get
    expect(p == 99 && n == 1000 && math.abs(v - 990.01) < 1e-9, s"1000 samples: p99 = $v")
    expect(Stats.pct(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5 && Stats.median(Seq(5.0)) == 5.0, "percentiles")
  }

  def selfTime(): Unit = {
    expect(Tracer.covered(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50, "covered union")
    val t = new Tracer(true)
    val root = t.add("stmt", "server", 0, 100, 0, 1)
    val k1 = t.add("a", "engine", 10, 30, root, 1)
    t.add("b", "engine", 20, 50, root, 1)
    t.add("job", "spark.exec", 15, 25, k1, 1)
    val self = Tracer.selfTimes(t.all)
    expect(self(root) == 60, s"parent self time ${self(root)}")
    expect(self(k1) == 10, s"child self time ${self(k1)}")
  }

  def cells(): Unit = {
    val ts = Check.micros("1998-10-03 00:00:00.000250")
    expect(ts == 907372800000250L, s"timestamp micros $ts")
    expect(Check.cell('D', "0.1".getBytes) == Check.cell('D', 0.1), "text and binary doubles agree")
    expect(Check.cell('A', "ArraySeq(0.5, -1.0)".getBytes) == "A3f000000,bf800000", "float array")
    expect(Check.checksum(Seq("x", "y")) == Check.checksum(Seq("y", "x")), "checksum ignores order")
  }

  def main(args: Array[String]): Unit = {
    framing(); lenenc(); terminators(); compressed(); localInfile(); tailRule(); selfTime(); cells()
    println(s"selftest: $checks checks passed")
  }
}
