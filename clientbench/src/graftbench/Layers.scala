package graftbench

/** The per-layer metrics a traced run prints. Every traced run prints all
  * of them; a layer the workload does not use reads 0. `dump_restore` adds
  * its write-path metrics to these. */
object Layers {
  val modules: Seq[String] = graft.SparkEntry.modules.map(moduleName)

  def moduleName(m: graft.api.QueryModule): String =
    m.getClass.getSimpleName.stripSuffix("$")

  val units: Seq[(String, String)] = Seq(
    "server.handshake_ms" -> "ms", "server.first_packet_ms" -> "ms",
    "server.stream_ms" -> "ms", "server.overhead_ratio" -> "ratio",
    "server.bytes_per_row" -> "B",
    "engine.connect_ms" -> "ms", "sources.register_ms" -> "ms", "engine.close_ms" -> "ms",
    "engine.sql_ms" -> "ms", "engine.intercepted_share" -> "ratio",
    "spark.plan.analyze_ms" -> "ms", "spark.plan.optimize_ms" -> "ms",
    "spark.plan.physical_ms" -> "ms",
    "spark.exec.jobs_per_stmt" -> "count", "spark.exec.sched_delay_ms" -> "ms",
    "spark.exec.tasks" -> "count", "spark.exec.core_util" -> "ratio",
    "spark.exec.shuffle_mb" -> "MB", "spark.exec.spill_mb" -> "MB",
    "spark.exec.task_skew" -> "ratio", "spark.exec.result_mb" -> "MB",
    "sources.input_mb" -> "MB",
    "operators.build_s" -> "s", "operators.eager_jobs" -> "count",
    "operators.drain_s" -> "s", "operators.count_only_s" -> "s",
    "memo.warm_s" -> "s", "memo.retained_mb" -> "MB",
    "jvm.gc_ms" -> "ms", "jvm.alloc_per_row_b" -> "B",
    "self.server_ms" -> "ms", "self.engine_ms" -> "ms", "self.sources_ms" -> "ms",
    "self.operators_ms" -> "ms", "self.memo_ms" -> "ms", "self.spark.plan_ms" -> "ms",
    "self.spark.exec_ms" -> "ms",
    "trace.spans" -> "count") ++
    modules.map(m => s"operators.${m}_s" -> "s")

  /** Fill every per-layer metric the workload did not measure with 0. */
  def complete(measured: Map[String, M]): Map[String, M] =
    units.map { case (k, u) => k -> measured.getOrElse(k, M(0.0, u)) }.toMap ++ measured

  private def mb(b: Double): Double = b / 1048576.0

  /** Scheduler-side metrics of a set of operations, each given as its
    * window and, when several clients run at once, its job group. */
  def exec(c: Ctx, ops: Seq[(Long, Long, Option[String])], wallNs: Long): Map[String, M] = {
    val p = c.probe
    val jobs = ops.flatMap { case (a, b, g) => p.jobsIn(a, b, g) }.groupBy(_.id).values.map(_.head).toSeq
    val tasks = p.tasksOf(jobs)
    val n = math.max(1, ops.length).toDouble
    val firstLaunch = tasks.groupBy(_.stage).map { case (s, ts) => s -> ts.map(_.launch).min }
    val delays = jobs.flatMap { j =>
      val ls = j.stages.flatMap(firstLaunch.get)
      if (ls.isEmpty) None else Some(Main.ms(ls.min - j.submit))
    }
    val skews = tasks.groupBy(_.stage).values.filter(_.length >= 2).map { ts =>
      val d = ts.map(t => (t.finish - t.launch).toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.toSeq
    Map(
      "spark.exec.jobs_per_stmt" -> M(jobs.length / n, "count"),
      "spark.exec.tasks" -> M(tasks.length / n, "count"),
      "spark.exec.sched_delay_ms" -> M(if (delays.isEmpty) 0.0 else Stats.mean(delays), "ms"),
      "spark.exec.core_util" -> M(tasks.map(_.busyMs).sum / (Main.ms(wallNs) * c.cores), "ratio"),
      "spark.exec.shuffle_mb" -> M(mb(tasks.map(_.shuffleBytes).sum) / n, "MB"),
      "spark.exec.spill_mb" -> M(mb(tasks.map(_.spillBytes).sum) / n, "MB"),
      "spark.exec.task_skew" -> M(if (skews.isEmpty) 1.0 else Stats.mean(skews), "ratio"),
      "spark.exec.result_mb" -> M(mb(tasks.map(_.resultBytes).sum) / n, "MB"),
      "sources.input_mb" -> M(mb(tasks.map(_.inputBytes).sum) / n, "MB"))
  }

  /** Add one spark.exec span per job inside each parent span's window. */
  def attachJobs(c: Ctx, parents: Seq[(Long, Long, Long, Long, Option[String])]): Unit =
    parents.foreach { case (id, req, a, b, g) =>
      c.probe.jobsIn(a, b, g).foreach { j =>
        c.tracer.add("job", "spark.exec", j.submit, if (j.end > 0) j.end else b, id, req)
      }
    }

  /** Mean self time per operation of each layer's spans. */
  def selfTimes(c: Ctx, ops: Int): Map[String, M] = {
    val spans = c.tracer.all
    val self = Tracer.selfTimes(spans)
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    Seq("server", "engine", "sources", "operators", "memo", "spark.plan", "spark.exec").map { l =>
      s"self.${l}_ms" -> M(Main.ms(byLayer.getOrElse(l, 0L)) / math.max(1, ops), "ms")
    }.toMap
  }
}
