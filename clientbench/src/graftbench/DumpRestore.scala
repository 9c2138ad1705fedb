package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import graft.Engine

/** `dump_restore`: rounds of one client. Dump connections, one per table,
  * stream whole fixture tables as text result sets, two of them over the
  * compressed protocol, and `orders` through a binary prepared execute. A restore connection then re-creates a seeded sample of the
  * dumped `orders` rows with a mysqldump-style CREATE TABLE, extended
  * multi-row INSERTs and LOAD DATA LOCAL INFILE chunks in seeded order, and
  * reads the table back. */
object DumpRestore {
  val PlainTables = Seq("lineitem", "embeddings")
  val CompressedTables = Seq("events", "documents")
  // one more than the engine's 64-append compaction period; every sixth is
  // a LOAD DATA chunk, the rest extended INSERTs, as in a mysqldump restore
  val RestoreStatements = 66
  val LoadEvery = 6
  val RowsPerStatement = 50
  val OrdersKinds = "IISDTS"
  private val restores = new java.util.concurrent.atomic.AtomicInteger(0)

  final case class Expect(kinds: String, count: Long, checksum: String)
  final case class Rec(kind: String, table: String, a: Answer, round: Int,
      rows: Long, wireBytes: Long, payloadBytes: Long, uploadNs: Long,
      expect: Option[(String, Long, String)])

  private val createOrders =
    """CREATE TABLE `%s` (
      |  `o_orderkey` bigint NOT NULL,
      |  `o_custkey` bigint DEFAULT NULL,
      |  `o_orderstatus` char(1) DEFAULT NULL,
      |  `o_totalprice` double DEFAULT NULL,
      |  `o_orderdate` datetime DEFAULT NULL,
      |  `o_orderpriority` varchar(15) DEFAULT NULL,
      |  PRIMARY KEY (`o_orderkey`)
      |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4""".stripMargin

  private def ts(micros: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC)
    val base = t.format(java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss"))
    if (t.getNano == 0) base else f"$base.${t.getNano / 1000}%06d"
  }

  private def text(v: Any): String = v match {
    case b: Array[Byte] => new String(b, UTF_8)
    case Check.Micros(m) => ts(m)
    case other => other.toString
  }

  private def literal(v: Any): String = v match {
    case null => "NULL"
    case _: Long | _: Double => v.toString
    case other => "'" + text(other).replace("\\", "\\\\").replace("'", "''") + "'"
  }

  def run(c: Ctx): Outcome = {
    val expect = c.inputLines("dump_expect.tsv").map(_.split("\t")).map { f =>
      f(0) -> Expect(f(1), f(2).toLong, f(3))
    }.toMap
    val recs = ArrayBuffer.empty[Rec]
    val connects = ArrayBuffer.empty[Long]
    val legs = ArrayBuffer.empty[(Long, Long)] // wire, in-process time of one traced dump
    val wireSpans = ArrayBuffer.empty[(Long, Long, Long, Long, Option[String])]
    val session = if (c.trace) Engine.connect(c.spark, "bench", c.backends) else null
    val start = System.nanoTime()
    val deadline = start + (c.seconds * 1e9).toLong
    val gc0 = Main.gcMillis()
    val alloc0 = Main.allocatedBytes()
    var round = 0
    while (round == 0 || System.nanoTime() < deadline) {
      val rng = c.rng(round)
      def connect(compress: Boolean): Wire = {
        val t = System.nanoTime()
        val w = c.wire(compress)
        connects += System.nanoTime() - t
        w
      }
      def record(kind: String, table: String, w: Wire, b0: Long, p0: Long,
          a: Answer, rows: Long = -1, uploadNs: Long = 0L,
          exp: Option[(String, Long, String)] = None): Unit = {
        recs += Rec(kind, table, a, round, if (rows >= 0) rows else a.rows.length.toLong,
          w.wireBytesIn - b0, w.payloadBytesIn - p0, uploadNs, exp)
        if (c.trace) {
          val req = c.tracer.nextId()
          wireSpans += ((c.tracer.add(kind, "server", a.sent, a.done, 0L, req), req, a.sent, a.done, None))
          if (kind.startsWith("dump") && session != null) {
            val t0 = System.nanoTime()
            val df = c.tracer.span("engine.sql", "engine", 0L, req)(_ => session.sqlMySql(s"SELECT * FROM $table"))
            val it = df.toLocalIterator()
            while (it.hasNext) it.next()
            val t1 = System.nanoTime()
            wireSpans += ((c.tracer.add("drain", "engine", t0, t1, 0L, req), req, t0, t1, None))
            legs += ((a.done - a.sent, t1 - t0))
          }
        }
      }
      def dump(w: Wire, kind: String, table: String): Answer = {
        val b0 = w.wireBytesIn; val p0 = w.payloadBytesIn
        val a = w.query(s"SELECT * FROM $table")
        val e = expect(table)
        record(kind, table, w, b0, p0, a, exp = Some((e.kinds, e.count, e.checksum)))
        a
      }

      // one connection per table, as parallel dump tools open them
      rng.shuffle(PlainTables).foreach { t =>
        val w = connect(compress = false)
        dump(w, "dump_text", t)
        w.close()
      }
      rng.shuffle(CompressedTables).foreach { t =>
        val w = connect(compress = true)
        dump(w, "dump_compressed", t)
        w.close()
      }
      val plain = connect(compress = false)
      val b0 = plain.wireBytesIn
      val t0 = System.nanoTime()
      val (sid, _) = plain.prepare("SELECT * FROM orders")
      val orders = plain.execute(sid, Nil).copy(sent = t0)
      val oe = expect("orders")
      record("dump_binary", "orders", plain, b0, b0, orders, exp = Some((oe.kinds, oe.count, oe.checksum)))
      plain.closeStatement(sid)
      plain.close()

      // restore a seeded sample of the rows just dumped
      val sample = rng.shuffle(orders.rows.toSeq).take(RestoreStatements * RowsPerStatement)
        .map(r => Check.binaryCells(r, orders.cols)).grouped(RowsPerStatement).toSeq
      val loads = (1 to RestoreStatements).map(_ % LoadEvery == 0)
      // a traced run plays the workload more than once in one process
      val table = s"orders_r${restores.getAndIncrement()}"
      val rc = connect(compress = false)
      def stmt(kind: String, sql: String, rows: Long = 0L): Unit = {
        val b0 = rc.wireBytesIn
        record(kind, table, rc, b0, b0, rc.query(sql), rows)
      }
      stmt("create", createOrders.format(table))
      sample.zip(loads).foreach { case (rows, load) =>
        if (load) {
          val data = rows.map(_.map(v => if (v == null) "\\N" else text(v)).mkString("\t"))
            .mkString("", "\n", "\n").getBytes(UTF_8)
          val b0 = rc.wireBytesIn
          val (a, terminated) = rc.loadLocal(s"LOAD DATA LOCAL INFILE 'orders.tsv' INTO TABLE $table", data)
          record("load", table, rc, b0, b0, a, rows.length.toLong, a.done - terminated,
            exp = Some(("", rows.length.toLong, "")))
        } else
          stmt("insert", s"INSERT INTO $table VALUES " +
            rows.map(_.map(literal).mkString("(", ", ", ")")).mkString(", "), rows.length.toLong)
      }
      val restored = sample.flatten.map(cs => cs.indices.map(i => Check.cell(OrdersKinds(i), cs(i))).mkString("\u001f"))
      val rb0 = rc.wireBytesIn
      val back = rc.query(s"SELECT * FROM $table")
      record("readback", table, rc, rb0, rb0, back,
        exp = Some((OrdersKinds, restored.length.toLong, Check.checksum(restored))))
      rc.close()
      round += 1
    }
    val wallNs = System.nanoTime() - start
    val gcMs = Main.gcMillis() - gc0
    val allocB = Main.allocatedBytes() - alloc0
    if (session != null) session.close()

    val failures = recs.toSeq.flatMap(check)
    val lat = recs.map(r => Main.ms(r.a.done - r.a.sent)).toSeq
    val moved = recs.map(_.rows).sum
    def rate(kinds: String => Boolean): Double = {
      val rs = recs.filter(r => kinds(r.kind))
      rs.map(_.rows).sum / Main.sec(rs.map(r => r.a.done - r.a.sent).sum)
    }
    val readback = recs.filter(_.kind == "readback").map(r => Main.ms(r.a.done - r.a.sent)).toSeq
    val e2e = Map(
      "stmt_per_s" -> M(recs.length / Main.sec(wallNs), "1/s"),
      "stmt_p50_ms" -> M(Stats.median(lat), "ms"),
      "stmt_p90_ms" -> M(Stats.pct(lat, 90), "ms"),
      "connect_p50_ms" -> M(Stats.median(connects.map(Main.ms).toSeq), "ms"),
      "rows_per_s" -> M(moved / Main.sec(wallNs), "1/s"))
    val detail = Map[String, Any](
      "dump_rows_per_s" -> rate(_.startsWith("dump")),
      "restore_rows_per_s" -> rate(k => k == "create" || k == "insert" || k == "load"),
      "readback_ms" -> Stats.median(readback),
      "connect_p50_ms" -> e2e("connect_p50_ms").value,
      "rounds" -> round, "statements" -> recs.length, "rows_moved" -> moved,
      "by_kind_p50_ms" -> recs.groupBy(_.kind).map { case (k, rs) =>
        k -> Stats.median(rs.map(r => Main.ms(r.a.done - r.a.sent)).toSeq) },
      "by_kind_total_ms" -> recs.groupBy(_.kind).map { case (k, rs) =>
        k -> rs.map(r => Main.ms(r.a.done - r.a.sent)).sum },
      "wall_ms" -> Main.ms(wallNs))

    val layers =
      if (!c.trace) Map.empty[String, M]
      else {
        c.drainEvents()
        Layers.attachJobs(c, wireSpans.toSeq)
        val dumps = recs.filter(_.kind.startsWith("dump")).toSeq
        val writes = recs.filter(r => r.kind == "insert" || r.kind == "load").toSeq
        val compactions = writes.map(r => c.probe.jobsIn(r.a.sent, r.a.done)
          .count(_.firstStage.contains("heckpoint"))).sum
        val textDumps = dumps.filter(_.kind == "dump_text")
        val zipDumps = dumps.filter(_.kind == "dump_compressed")
        Map(
          "server.handshake_ms" -> M(Stats.median(connects.map(Main.ms).toSeq), "ms"),
          "server.first_packet_ms" -> M(Stats.median(recs.map(r => Main.ms(r.a.firstPacket - r.a.sent)).toSeq), "ms"),
          "server.stream_ms" -> M(Stats.median(dumps.map(r => Main.ms(r.a.done - r.a.firstRow))), "ms"),
          "server.overhead_ratio" -> M(legs.map(_._1).sum.toDouble / math.max(1L, legs.map(_._2).sum), "ratio"),
          "server.bytes_per_row" -> M(textDumps.map(_.wireBytes).sum.toDouble / math.max(1L, textDumps.map(_.rows).sum), "B"),
          "server.compress_ratio" -> M(zipDumps.map(_.wireBytes).sum.toDouble / math.max(1L, zipDumps.map(_.payloadBytes).sum), "ratio"),
          "server.upload_ms" -> M(Stats.median(writes.filter(_.kind == "load").map(r => Main.ms(r.uploadNs))), "ms"),
          "engine.sql_ms" -> M(Stats.median(c.tracer.all.filter(_.name == "engine.sql").map(s => Main.ms(s.dur))), "ms"),
          "engine.insert_p50_ms" -> M(Stats.median(writes.map(r => Main.ms(r.a.done - r.a.sent))), "ms"),
          "engine.insert_max_ms" -> M(writes.map(r => Main.ms(r.a.done - r.a.sent)).max, "ms"),
          "engine.compaction_jobs" -> M(compactions.toDouble / round, "count"),
          "jvm.gc_ms" -> M(gcMs.toDouble / recs.length, "ms"),
          "jvm.alloc_per_row_b" -> M(allocB.toDouble / math.max(1L, moved), "B")) ++
          Layers.exec(c, recs.toSeq.map(r => (r.a.sent, r.a.done, None)), wallNs) ++
          Layers.selfTimes(c, recs.length)
      }
    Outcome(e2e, if (c.trace) Layers.complete(layers) else Map.empty, detail,
      recs.length.toLong, failures)
  }

  /** Compare one statement's answer with what the client expects. */
  def check(r: Rec): Option[String] = {
    def fail(msg: String) = Some(s"${r.kind} ${r.table} round ${r.round}: $msg")
    if (!r.a.ok) fail(r.a.error)
    else r.expect match {
      case Some(("", n, "")) => if (r.a.affected == n) None else fail(s"affected ${r.a.affected}, want $n")
      case Some((kinds, n, sum)) =>
        val got = Check.canonical(r.a, kinds)
        val s = Check.checksum(got)
        if (got.length == n && s == sum) None else fail(s"rows ${got.length} sum $s, want $n $sum")
      case None => None
    }
  }
}
