package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.Engine
import graft.sources.Tables

/** `short_stmt`: a closed loop of one client per core over the wire, each
  * sending the seeded statement mix of `short_stmt.tsv` (point lookups,
  * small range aggregates, a small join with GROUP BY, SET, SELECT
  * @@version and binary prepared lookups) on one connection it keeps, as a
  * pool keeps its connections for their lifetime (HikariCP's default
  * `maxLifetime` is 30 minutes, longer than a run). Connect time is measured
  * by one more thread that opens and closes a connection every
  * [[ConnectEveryMs]] through the measured window, as a pool replaces
  * connections that reach their lifetime; the samples are spread over the
  * window, so a short stall of the host moves few of them. */
object ShortStmt {
  val ConnectEveryMs = 1000L
  /** Untimed lead-in that lets the JIT and the engine's caches settle. On a
    * 4-core host, after a 5 s lead-in, the median statement time of 5 s
    * slices fell from 194 to 116 ms over the next 20 s and from 109 to 93 ms
    * over the 20 s after. */
  val WarmSeconds = 20.0

  /** One generated statement: kind, SQL, bound parameter (prepared kind)
    * and the expected canonical rows joined by 0x1E. */
  final case class Stmt(kind: String, sql: String, param: String, expect: String)

  final case class Rec(kind: String, a: Answer, expect: String, version: String,
      bytes: Long)

  /** In-process decomposition of one traced statement. */
  final case class Leg(sqlNs: Long, analyzeMs: Double, optNs: Long, physNs: Long,
      drainNs: Long, rows: Boolean)

  def load(c: Ctx): IndexedSeq[Stmt] = c.inputLines("short_stmt.tsv").map { l =>
    val f = l.split("\t", -1)
    Stmt(f(0), f(1), f(2), f(3))
  }.toIndexedSeq

  def check(r: Rec): Option[String] = {
    val want = r.kind match {
      case "version" => "S" + r.version
      case _ => r.expect
    }
    val got =
      if (!r.a.ok) "ERR " + r.a.error
      else if (r.kind == "set_var") (if (r.a.cols.isEmpty) "OK" else "rows")
      else Check.canonical(r.a).mkString("\u001e")
    if (got == want) None else Some(s"${r.kind}: got ${got.take(120)} want ${want.take(120)}")
  }

  /** Play the loop; `warm` puts the untimed lead-in first. */
  def run(c: Ctx, warm: Boolean): Outcome = {
    val stmts = load(c)
    val clients = c.cores
    val warmNs = if (warm) (WarmSeconds * 1e9).toLong else 0L
    val start = System.nanoTime()
    val measureFrom = start + warmNs
    val deadline = measureFrom + (c.seconds * 1e9).toLong
    val recs = Array.fill(clients)(ArrayBuffer.empty[Rec])
    val connects = ArrayBuffer.empty[Long]
    val legs = Array.fill(clients)(ArrayBuffer.empty[Leg])
    val inproc = ArrayBuffer.empty[(Long, Long, Long)] // connect, register, close
    val wireSpans = Array.fill(clients)(ArrayBuffer.empty[(Long, Long, Long, Long, Option[String])])
    val drainSpans = Array.fill(clients)(ArrayBuffer.empty[(Long, Long, Long, Long, Option[String])])
    val ends = new Array[Long](clients)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val gc0 = new java.util.concurrent.atomic.AtomicLong(0)
    val alloc0 = new java.util.concurrent.atomic.AtomicLong(0)
    val measuring = new java.util.concurrent.atomic.AtomicBoolean(false)

    val threads = (0 until clients).map { i =>
      new Thread(() => try {
        val session = if (c.trace) Engine.connect(c.spark, "bench", c.backends) else null
        val conn = c.wire()
        val group = if (!c.trace) None else {
          val id = Check.textCells(conn.query("SELECT CONNECTION_ID()").rows.head, 1)(0)
          Some("graft-conn-" + new String(id.asInstanceOf[Array[Byte]], "UTF-8"))
        }
        var prepared = -1L
        // each client plays its own stretch of the stream, whole mix blocks
        val from = i * (stmts.length / clients)
        var idx = 0
        while (System.nanoTime() < deadline) {
          val now = System.nanoTime()
          if (now >= measureFrom && measuring.compareAndSet(false, true)) {
            gc0.set(Main.gcMillis()); alloc0.set(Main.allocatedBytes())
          }
          val inWindow = now >= measureFrom
          val s = stmts(from + idx % (stmts.length / clients))
          idx += 1
          val b0 = conn.wireBytesIn
          val a = s.kind match {
            case "prepared" =>
              // the first lookup pays its COM_STMT_PREPARE
              val t = System.nanoTime()
              if (prepared < 0) prepared = conn.prepare(s.sql)._1
              conn.execute(prepared, Seq(s.param.toLong)).copy(sent = t)
            case _ => conn.query(s.sql)
          }
          if (inWindow) {
            recs(i) += Rec(s.kind, a, s.expect, conn.serverVersion, conn.wireBytesIn - b0)
            if (c.trace) {
              val req = c.tracer.nextId()
              val w = c.tracer.add(s"stmt.${s.kind}", "server", a.sent, a.done, 0L, req)
              wireSpans(i) += ((w, req, a.sent, a.done, group))
              if (s.kind != "prepared") legs(i) += leg(c, session, s.sql, req, drainSpans(i))
            }
          }
        }
        conn.close()
        ends(i) = System.nanoTime()
        if (session != null) session.close()
      } catch {
        case e: Throwable => errors.add(s"client $i: $e"); ends(i) = System.nanoTime()
      })
    }
    val prober = new Thread(() => try {
      var next = measureFrom
      while (next < deadline) {
        val wait = next - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L)
        val t = System.nanoTime()
        val conn = c.wire()
        connects += System.nanoTime() - t
        conn.close()
        if (c.trace) {
          val t1 = System.nanoTime()
          val s = Engine.connect(c.spark, "bench", c.backends)
          val t2 = System.nanoTime()
          Tables.register(c.spark.newSession(), c.fixture)
          val t3 = System.nanoTime()
          s.close()
          inproc += ((t2 - t1, t3 - t2, System.nanoTime() - t3))
        }
        next += ConnectEveryMs * 1000000L
      }
    } catch {
      case e: Throwable => errors.add(s"connect: $e")
    })
    (threads :+ prober).foreach(_.start())
    (threads :+ prober).foreach(_.join())
    val wallNs = ends.max - measureFrom
    val gcMs = Main.gcMillis() - gc0.get
    val allocB = Main.allocatedBytes() - alloc0.get

    val all = recs.flatMap(_.toSeq).toSeq
    val failures = errors.asScala.toSeq ++ all.flatMap(check)
    val lat = all.map(r => Main.ms(r.a.done - r.a.sent))
    val rows = all.map(_.a.rows.length.toLong).sum
    val conns = connects.map(Main.ms).toSeq
    val tail = Stats.tail(lat)
    val e2e = Map(
      "stmt_per_s" -> M(all.length / Main.sec(wallNs), "1/s"),
      "stmt_p50_ms" -> M(Stats.median(lat), "ms"),
      "stmt_p90_ms" -> M(Stats.pct(lat, 90), "ms"),
      "connect_p50_ms" -> M(Stats.median(conns), "ms"),
      "rows_per_s" -> M(rows / Main.sec(wallNs), "1/s"))
    val detail = Map[String, Any](
      "stmt_per_s" -> e2e("stmt_per_s").value, "stmt_p50_ms" -> e2e("stmt_p50_ms").value,
      "stmt_p90_ms" -> e2e("stmt_p90_ms").value, "connect_p50_ms" -> e2e("connect_p50_ms").value,
      "stmt_tail_ms" -> tail.map { case (p, v, n) => Map("percentile" -> p, "value" -> v, "samples" -> n) },
      "connections" -> conns.length, "clients" -> clients,
      "by_kind_p50_ms" -> all.groupBy(_.kind).map { case (k, rs) =>
        k -> Stats.median(rs.map(r => Main.ms(r.a.done - r.a.sent))) })

    val layers =
      if (!c.trace) Map.empty[String, M]
      else {
        c.drainEvents()
        val ws = wireSpans.flatMap(_.toSeq).toSeq
        Layers.attachJobs(c, ws)
        Layers.attachJobs(c, drainSpans.flatMap(_.toSeq).toSeq)
        val ls = legs.flatMap(_.toSeq).toSeq
        val ip = inproc.toSeq
        val withRows = all.filter(_.a.rows.nonEmpty)
        val jobless = ws.count { case (_, _, a, b, g) => c.probe.jobsIn(a, b, g).isEmpty }
        def p50(xs: Seq[Long]): Double = Stats.median(xs.map(Main.ms))
        val rl = ls.filter(_.rows)
        Map(
          "server.handshake_ms" -> M(Stats.median(conns) - p50(ip.map(_._1)), "ms"),
          "server.first_packet_ms" -> M(p50(all.map(r => r.a.firstPacket - r.a.sent)), "ms"),
          "server.stream_ms" -> M(p50(withRows.map(r => r.a.done - r.a.firstRow)), "ms"),
          "server.overhead_ratio" -> M(
            all.filter(r => r.kind != "prepared" && r.a.rows.nonEmpty).map(r => r.a.done - r.a.sent).sum.toDouble /
              math.max(1L, rl.map(l => l.sqlNs + l.optNs + l.physNs + l.drainNs).sum), "ratio"),
          "server.bytes_per_row" -> M(all.map(_.bytes).sum.toDouble / math.max(1, all.map(_.a.rows.length).sum), "B"),
          "engine.connect_ms" -> M(p50(ip.map(_._1)), "ms"),
          "sources.register_ms" -> M(p50(ip.map(_._2)), "ms"),
          "engine.close_ms" -> M(p50(ip.map(_._3)), "ms"),
          "engine.sql_ms" -> M(p50(ls.map(_.sqlNs)), "ms"),
          "engine.intercepted_share" -> M(jobless.toDouble / math.max(1, ws.length), "ratio"),
          "spark.plan.analyze_ms" -> M(Stats.mean(rl.map(_.analyzeMs)), "ms"),
          "spark.plan.optimize_ms" -> M(p50(rl.map(_.optNs)), "ms"),
          "spark.plan.physical_ms" -> M(p50(rl.map(_.physNs)), "ms"),
          "jvm.gc_ms" -> M(gcMs.toDouble / math.max(1, all.length), "ms"),
          "jvm.alloc_per_row_b" -> M(allocB.toDouble / math.max(1L, rows), "B")) ++
          Layers.exec(c, ws.map { case (_, _, a, b, g) => (a, b, g) }, wallNs) ++
          Layers.selfTimes(c, all.length)
      }
    Outcome(e2e, if (c.trace) Layers.complete(layers) else Map.empty, detail, all.length.toLong, failures)
  }

  /** The same statement in-process: `Session.sqlMySql`, then the lazy
    * optimisation and physical-planning stages, then the drain through
    * `toLocalIterator` (the server's own iteration). */
  private def leg(c: Ctx, s: Engine.Session, sql: String, req: Long,
      drains: ArrayBuffer[(Long, Long, Long, Long, Option[String])]): Leg = {
    val t0 = System.nanoTime()
    val df = c.tracer.span("engine.sql", "engine", 0L, req)(_ => s.sqlMySql(sql))
    val t1 = System.nanoTime()
    if (df.schema.isEmpty) return Leg(t1 - t0, 0.0, 0L, 0L, 0L, rows = false)
    val qe = df.queryExecution
    c.tracer.span("optimize", "spark.plan", 0L, req)(_ => qe.optimizedPlan)
    val t2 = System.nanoTime()
    c.tracer.span("physical", "spark.plan", 0L, req)(_ => qe.executedPlan)
    val t3 = System.nanoTime()
    val it = df.toLocalIterator()
    while (it.hasNext) it.next()
    val t4 = System.nanoTime()
    val id = c.tracer.add("drain", "engine", t3, t4, 0L, req)
    drains += ((id, req, t3, t4, Some(s.jobGroup)))
    val analyze = qe.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
    Leg(t1 - t0, analyze, t2 - t1, t3 - t2, t4 - t3, rows = true)
  }
}
