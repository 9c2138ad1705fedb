package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Engine
import graft.server.MySqlServer

/** Minimal JSON writer for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** One metric value with its unit. */
final case class M(value: Double, unit: String)

/** What a workload reports: end-to-end metrics, per-layer metrics (traced
  * runs), metrics only one workload has, for the detail line, and the
  * operations attempted and failed (a wrong answer is a failure). */
final case class Outcome(e2e: Map[String, M], layers: Map[String, M],
    detail: Map[String, Any], attempted: Long, failures: Seq[String])

/** Everything a workload needs: the live program and the run's settings. */
final class Ctx(val args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val trace: Boolean = args("trace") == "1"
  val fixture: String = args("fixture")
  val inputs: Path = Paths.get(args("inputs"))
  val out: Path = Paths.get(args("out"))
  val cores: Int = args("cores").toInt
  val backends: Map[String, String] = Map("bench" -> fixture)
  val tracer = new Tracer(trace)
  var spark: SparkSession = _
  var server: MySqlServer = _
  var probe: SchedulerProbe = _

  def port: Int = server.port
  def wire(compress: Boolean = false): Wire = new Wire(port, "bench", compress)
  def rng(stream: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + stream)

  /** Wait for queued listener events so the probe's counts are complete. */
  def drainEvents(): Unit = if (probe != null) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def inputLines(name: String): Seq[String] =
    Files.readAllLines(inputs.resolve(name)).asScala.toSeq.filter(_.nonEmpty)
}

object Main {
  def ms(ns: Long): Double = ns / 1e6
  def sec(ns: Long): Double = ns / 1e9

  /** Start the program the way a deployment does (`Engine.build`,
    * `MySqlServer.start`) and answer a first statement over the wire;
    * returns the milliseconds since the epoch at which each step ended. */
  private def setUp(c: Ctx, expectOrders: Long): Seq[Double] = {
    val main = System.currentTimeMillis().toDouble
    c.spark = Engine.build(s"local[${c.cores}]", c.cores)
    val built = System.currentTimeMillis().toDouble
    c.server = MySqlServer.start(c.spark, c.backends)
    val listening = System.currentTimeMillis().toDouble
    val w = c.wire()
    try {
      val a = w.query("SELECT COUNT(*) FROM orders")
      val got = if (a.ok && a.rows.length == 1) Check.canonical(a).head else String.valueOf(a.error)
      if (got != s"I$expectOrders")
        throw new IllegalStateException(s"first statement answered $got, expected I$expectOrders")
    } finally w.close()
    Seq(main, built, listening, System.currentTimeMillis().toDouble)
  }

  private def heapUsedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def allocatedBytes(): Long = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes
    case _ => 0L
  }

  /** Persisted block storage (memory plus disk) still held by the context. */
  def storedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  private def play(c: Ctx, warm: Boolean): Outcome = c.workload match {
    case "short_stmt" => ShortStmt.run(c, warm)
    case "dump_restore" => DumpRestore.run(c)
    case "analytic_cold" => AnalyticCold.run(c, warm)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = new Ctx(args)
    val t0Ms = args("t0-ms").toDouble
    val expectOrders = c.inputLines("dump_expect.tsv").map(_.split("\t"))
      .collectFirst { case Array("orders", _, n, _) => n.toLong }.get

    // set-up is the cold process start: the JVM is launched at t0
    val steps = (t0Ms +: setUp(c, expectOrders)).sliding(2).map { case Seq(a, b) => (b - a) / 1000.0 }.toSeq
    val setupS = steps.sum
    // A traced run plays the workload three times in this process: untraced
    // with its warm-up, then traced, then untraced again. trace.overhead_pct
    // compares the traced play with the mean of the two untraced ones, so the
    // JIT's progress between them mostly cancels.
    def untraced(warm: Boolean): Outcome = {
      val u = new Ctx(args.updated("trace", "0"))
      u.spark = c.spark
      u.server = c.server
      play(u, warm)
    }
    val before = if (c.trace) Some(untraced(warm = true)) else None
    if (c.trace) {
      c.probe = new SchedulerProbe
      c.spark.sparkContext.addSparkListener(c.probe)
    }
    val o = play(c, warm = !c.trace)
    if (c.trace) c.spark.sparkContext.removeSparkListener(c.probe)
    val refs = (before ++ (if (c.trace) Some(untraced(warm = false)) else None)).toSeq
    val failures = refs.flatMap(_.failures) ++ o.failures

    val heap = heapUsedMb()
    val retained = storedMb(c.spark)
    if (c.trace) c.tracer.write(c.out.resolve("spans.jsonl"))
    val e2e = o.e2e ++ Map(
      "setup_s" -> M(setupS, "s"),
      "heap_retained_mb" -> M(heap, "MB"))
    val layers = if (!c.trace) Map.empty[String, M] else o.layers ++ Map(
      "memo.retained_mb" -> M(retained, "MB"),
      "trace.spans" -> M(c.tracer.all.length.toDouble, "count"))
    val line = Map(
      "e2e" -> e2e.map { case (k, m) => k -> Seq(m.value, m.unit) },
      "layers" -> layers.map { case (k, m) => k -> Seq(m.value, m.unit) },
      "untraced_e2e" -> refs.map(_.e2e.map { case (k, m) => k -> Seq(m.value, m.unit) }),
      "detail" -> (o.detail ++ Map("setup_steps_s" -> Map("jvm_to_main" -> steps(0),
        "engine_build" -> steps(1), "server_start" -> steps(2), "first_statement" -> steps(3)),
        "heap_retained_mb" -> heap)),
      "attempted" -> (refs.map(_.attempted).sum + o.attempted),
      "failed" -> failures.length,
      "failures" -> failures.take(5))
    println("RESULT " + Json(line))
    System.out.flush()
    c.server.close()
    c.spark.stop()
    System.exit(0)
  }
}
