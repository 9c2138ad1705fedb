package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.Engine
import graft.api.GraftQuery
import graft.sources.Tables

/** `analytic_cold`: one declared query per fresh in-process connection —
  * `Engine.connect`, `GraftQuery.run`, a drain of every row through
  * `toLocalIterator` (the server's own iteration) and `Session.close` — over
  * a sample of one query from each `SparkEntry` module. The server layer is
  * bypassed. An untimed pass over the sample comes first, so the timed
  * passes see a warm JVM and Spark's code-generation cache, as a client of a
  * long-running server does; `Memo` is kept per connection, so it stays
  * cold. */
object AnalyticCold {
  /** The sample is drawn once with this fixed seed, so every workload seed
    * measures the same queries; the workload seed sets their order. */
  val SampleSeed = 20261017L

  final case class Rec(q: GraftQuery, module: String, pass: Int,
      connectNs: Long, buildNs: Long, drainNs: Long, closeNs: Long, rows: Long,
      t0: Long, t4: Long, buildWindow: (Long, Long)) {
    def e2e: Long = connectNs + buildNs + drainNs + closeNs
  }

  def sample(): Seq[(String, GraftQuery)] = {
    val r = new scala.util.Random(SampleSeed)
    graft.SparkEntry.modules.map { m =>
      Layers.moduleName(m) -> m.queries(r.nextInt(m.queries.length))
    }
  }

  /** Play the passes; `warm` puts the untimed pass first. */
  def run(c: Ctx, warm: Boolean): Outcome = {
    val picked = sample()
    val order = c.rng(0).shuffle(picked)
    val failures = ArrayBuffer.empty[String]
    val recs = ArrayBuffer.empty[Rec]
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (StructType, Seq[Row])]
    val extras = ArrayBuffer.empty[(String, Long)] // (kind, ns) of calls a traced run adds
    val parents = ArrayBuffer.empty[(Long, Long, Long, Long, Option[String])]

    // the warm-up is not timed, so it runs one query per host core at once
    if (warm) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
      val warmFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      try order.map { case (_, q) =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            val s = Engine.connect(c.spark, "bench", c.backends)
            try { val it = q.run(s.spark, c.fixture).toLocalIterator(); while (it.hasNext) it.next() }
            finally s.close()
          } catch {
            case e: Exception => warmFailures.add(s"${q.name} (warm-up): ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        })
      }.foreach(_.get())
      finally pool.shutdown()
      failures ++= warmFailures.asScala
    }

    // whole passes, as many as fit in --seconds, at least one
    val start = System.nanoTime()
    val budget = (c.seconds * 1e9).toLong
    val gc0 = Main.gcMillis()
    val alloc0 = Main.allocatedBytes()
    var pass = 0
    var passNs = 0L
    while (pass == 0 || System.nanoTime() - start + passNs <= budget) {
      val p0 = System.nanoTime()
      order.foreach { case (module, q) =>
        val req = c.tracer.nextId()
        val tr = c.tracer
        try {
          val t0 = System.nanoTime()
          val s = tr.span("engine.connect", "engine", 0L, req)(_ => Engine.connect(c.spark, "bench", c.backends))
          val t1 = System.nanoTime()
          val df = q.run(s.spark, c.fixture)
          val t2 = System.nanoTime()
          if (c.trace) {
            parents += ((c.tracer.add("build", "operators", t1, t2, 0L, req), req, t1, t2, None))
            val qe = df.queryExecution
            tr.span("optimize", "spark.plan", 0L, req)(_ => qe.optimizedPlan)
            tr.span("physical", "spark.plan", 0L, req)(_ => qe.executedPlan)
            extras += (("analyze_ms", (qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L) * 1000000L)))
          }
          val t3 = System.nanoTime()
          val keep = pass == 0 && !results.contains(q.name)
          val buf = ArrayBuffer.empty[Row]
          var n = 0L
          val it = df.toLocalIterator()
          while (it.hasNext) { val r = it.next(); n += 1; if (keep) buf += r }
          val t4 = System.nanoTime()
          if (c.trace) {
            parents += ((c.tracer.add("drain", "operators", t3, t4, 0L, req), req, t3, t4, None))
            val w = tr.span("memo.warm", "memo", 0L, req) { _ =>
              val t = System.nanoTime()
              val it2 = q.run(s.spark, c.fixture).toLocalIterator()
              while (it2.hasNext) it2.next()
              System.nanoTime() - t
            }
            extras += (("warm", w))
            val t = System.nanoTime()
            tr.span("count_only", "operators", 0L, req)(_ => q.run(s.spark, c.fixture).count())
            extras += (("count", System.nanoTime() - t))
            val r0 = System.nanoTime()
            tr.span("register", "sources", 0L, req)(_ => Tables.register(c.spark.newSession(), c.fixture))
            extras += (("register", System.nanoTime() - r0))
          }
          val t5 = System.nanoTime()
          tr.span("engine.close", "engine", 0L, req)(_ => s.close())
          val t6 = System.nanoTime()
          if (keep) results(q.name) = (df.schema, buf.toSeq)
          recs += Rec(q, module, pass, t1 - t0, t3 - t1, t4 - t3, t6 - t5, n, t0, t4, (t1, t2))
          if (n == 0 && q.oracle.isEmpty) failures += s"${q.name}: no rows"
        } catch {
          case e: Exception => failures += s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
      passNs = System.nanoTime() - p0
      pass += 1
    }
    val wallNs = System.nanoTime() - start
    val gcMs = Main.gcMillis() - gc0
    val allocB = Main.allocatedBytes() - alloc0

    // results of oracle-checked queries go to parquet for the oracle compare
    val dir = c.out.resolve("results")
    java.nio.file.Files.createDirectories(dir)
    results.foreach { case (name, (schema, rows)) =>
      if (picked.exists(p => p._2.name == name && p._2.oracle.isDefined))
        c.spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve(name).toString)
    }
    java.nio.file.Files.writeString(dir.resolve("oracle.json"), Json(
      picked.flatMap { case (_, q) => q.oracle.map(q.name -> _) }.toMap))

    val passes = pass.toDouble
    val lat = recs.map(r => Main.ms(r.e2e)).toSeq
    val rows = recs.map(_.rows).sum
    val fleet = recs.map(_.e2e).sum / passes
    val tail = Stats.tail(lat.map(_ / 1000.0))
    val e2e = Map(
      "stmt_per_s" -> M(recs.length / Main.sec(wallNs), "1/s"),
      "stmt_p50_ms" -> M(Stats.median(lat), "ms"),
      "stmt_p90_ms" -> M(Stats.pct(lat, 90), "ms"),
      "connect_p50_ms" -> M(Stats.median(recs.map(r => Main.ms(r.connectNs)).toSeq), "ms"),
      "rows_per_s" -> M(rows / Main.sec(wallNs), "1/s"))
    val detail = Map[String, Any](
      "fleet_s" -> Main.sec(fleet.toLong),
      "query_p50_s" -> Stats.median(lat) / 1000.0,
      "query_tail_s" -> tail.map { case (p, v, n) => Map("percentile" -> p, "value" -> v, "samples" -> n) },
      "passes" -> pass, "queries" -> order.map(_._2.name),
      "per_query_s" -> recs.groupBy(_.q.name).map { case (k, rs) => k -> Stats.median(rs.map(r => Main.sec(r.e2e)).toSeq) })

    val layers =
      if (!c.trace) Map.empty[String, M]
      else {
        c.drainEvents()
        Layers.attachJobs(c, parents.toSeq)
        def ex(kind: String): Seq[Long] = extras.filter(_._1 == kind).map(_._2).toSeq
        Map(
          "engine.connect_ms" -> M(Stats.median(recs.map(r => Main.ms(r.connectNs)).toSeq), "ms"),
          "engine.close_ms" -> M(Stats.median(recs.map(r => Main.ms(r.closeNs)).toSeq), "ms"),
          "sources.register_ms" -> M(Stats.median(ex("register").map(Main.ms)), "ms"),
          "spark.plan.analyze_ms" -> M(Stats.mean(ex("analyze_ms").map(Main.ms)), "ms"),
          "spark.plan.optimize_ms" -> M(Stats.median(c.tracer.all.filter(_.name == "optimize").map(s => Main.ms(s.dur))), "ms"),
          "spark.plan.physical_ms" -> M(Stats.median(c.tracer.all.filter(_.name == "physical").map(s => Main.ms(s.dur))), "ms"),
          "operators.build_s" -> M(Main.sec(recs.map(_.buildNs).sum) / passes, "s"),
          "operators.eager_jobs" -> M(recs.map(r => c.probe.jobsIn(r.buildWindow._1, r.buildWindow._2).length).sum.toDouble /
            math.max(1, recs.length), "count"),
          "operators.drain_s" -> M(Main.sec(recs.map(_.drainNs).sum) / passes, "s"),
          "operators.count_only_s" -> M(Main.sec(ex("count").sum) / passes, "s"),
          "memo.warm_s" -> M(Main.sec(ex("warm").sum) / passes, "s"),
          "jvm.gc_ms" -> M(gcMs.toDouble / recs.length, "ms"),
          "jvm.alloc_per_row_b" -> M(allocB.toDouble / math.max(1L, rows), "B")) ++
          recs.groupBy(_.module).map { case (m, rs) => s"operators.${m}_s" -> M(Main.sec(rs.map(_.e2e).sum) / passes, "s") } ++
          Layers.exec(c, recs.toSeq.map(r => (r.t0, r.t4, None)), wallNs) ++
          Layers.selfTimes(c, recs.length)
      }
    // the warm-up queries are attempted operations too
    Outcome(e2e, if (c.trace) Layers.complete(layers) else Map.empty, detail,
      ((if (warm) order.length else 0) + recs.length).toLong, failures.toSeq)
  }
}
