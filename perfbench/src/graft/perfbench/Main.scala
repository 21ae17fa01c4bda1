package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.runtime.GraftSession

/** What a workload hands back: timing samples, op accounting, output
  * checks, and (traced run) per-layer figures. `run.py` turns it into
  * the benchmark's metrics.
  */
final class Result {
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** The workload's headline latency samples. */
  val latencyMs = mutable.ArrayBuffer.empty[Double]
  /** Single-row predict latency (lakehouse_stream's predict phase). */
  val predictMs = mutable.ArrayBuffer.empty[Double]
  var throughputPerS = 0.0
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  val detail = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]

  /** Counts one operation; a thrown error fails it and is kept for the log. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case t: Throwable =>
      failed += 1
      if (errors.size < 20) errors += s"$what: ${t.getClass.getSimpleName}: ${t.getMessage}"
      None
    }
  }

  /** An output check; a false or throwing check counts as a failed op. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, msg) =
      try body catch { case t: Throwable => (false, s"${t.getClass.getSimpleName}: ${t.getMessage}") }
    attempted += 1
    if (!ok) failed += 1
    checks(name) = (ok, msg)
  }
}

/** Everything one workload run gets from the harness. */
final case class Ctx(
    seed: Long,
    seconds: Double,
    tracer: Tracer,
    root: String,
    input: String,
    data: String,
    cores: Int,
    result: Result) {
  /** The traced run's listeners on `spark`; None when untraced. */
  def probes(spark: SparkSession): Option[Probes] =
    if (tracer.enabled) Some(new Probes(spark)) else None
}

object Main {

  /** The engine's own session builder, with every scratch location of
    * the run under its private root.
    */
  def session(root: String, cores: Int): SparkSession = {
    val s = GraftSession.builder("perfbench", cores.toString)
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `df`'s already-planned physical plan to the end without moving
    * rows to the driver: every operator, the final sort included,
    * executes, unlike `count()`, which the optimizer prunes.
    */
  def materialize(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.foreach(_ => ())
    }
  }

  /** Sets the session up `times` times (stopping all but the last one)
    * and records each duration; `prepare` is the workload's own set-up.
    */
  def setUp[T](ctx: Ctx, times: Int)(prepare: SparkSession => T): (SparkSession, T) = {
    var out: (SparkSession, T) = null
    (1 to times).foreach { i =>
      val t0 = System.nanoTime()
      val s = session(ctx.root, ctx.cores)
      val p = prepare(s)
      ctx.result.setupS += (System.nanoTime() - t0) / 1e9
      if (i < times) s.stop() else out = (s, p)
    }
    out
  }

  /** Progress line in the JVM log (kept with the run's files). */
  def note(msg: String): Unit =
    System.out.println(f"[perfbench ${System.currentTimeMillis() / 1000.0}%.1f] $msg")

  def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val result = new Result
    val ctx = Ctx(
      seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble,
      tracer = new Tracer(opts("trace") == "1"),
      root = opts("root"),
      input = opts("input"),
      data = opts.getOrElse("data", ""),
      cores = opts("cores").toInt,
      result = result)
    if (ctx.tracer.enabled) FsCounters.install()
    val loadStart = loadavg()
    val workload = opts("workload")
    workload match {
      case "analyst_suite" => Analyst.run(ctx)
      case "lakehouse_stream" => LakehouseStream.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    result.detail("load_start") = loadStart
    result.detail("load_end") = loadavg()
    if (ctx.tracer.enabled) {
      val spans = ctx.tracer.finish()
      val ids = spans.map(_.id).toSet
      result.check("spans_have_parents") {
        val orphans = spans.count(s => s.parent != 0L && !ids.contains(s.parent))
        val roots = spans.count(_.parent == 0L)
        (orphans == 0 && roots == 1, s"${spans.size} spans, $orphans orphans, $roots roots")
      }
      result.layers("trace.spans") = spans.size.toDouble
      writeSpans(s"${opts("out")}.spans.jsonl", spans)
    }
    Json.write(opts("out"), result)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the result file (no extra dependency). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def nums(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")

  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def write(path: String, r: Result): Unit = {
    val body = obj(Seq(
      "setup_s" -> nums(r.setupS),
      "latency_ms" -> nums(r.latencyMs),
      "predict_ms" -> nums(r.predictMs),
      "throughput_per_s" -> num(r.throughputPerS),
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "errors" -> r.errors.map(str).mkString("[", ",", "]"),
      "checks" -> obj(r.checks.map { case (k, (ok, msg)) =>
        k -> obj(Seq("ok" -> ok.toString, "detail" -> str(msg))) }),
      "detail" -> obj(r.detail.map { case (k, v) => k -> num(v) }),
      "layers" -> obj(r.layers.map { case (k, v) => k -> num(v) })))
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}
