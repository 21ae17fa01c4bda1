package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.Debezium
import graft.scoring.Predictor
import graft.streaming.{BronzeStream, ScoringStream}

/** The stream and predict phases of `lakehouse_stream`. In the stream
  * phase the generator thread lands Debezium envelope files at fixed
  * offered rates (one step per rate, rising) while
  * BronzeStream and ScoringStream (rule model) tail the landing
  * directory. The predict phase is a closed loop of single-row
  * `Predictor.predictEnvelope` calls.
  *
  * Alert latency of an event = from its file's scheduled emit time to the
  * end of the scoring trigger that committed the file. The trigger comes
  * from the query's progress events; the file-to-batch map from the
  * checkpoint's file-source log.
  */
object FraudStream {

  /** Part of the workload: the trigger interval of both queries. The
    * reference triggers every 10 s; 2 s is a little above what one scoring
    * trigger takes here, so batches start on the interval's clock rather
    * than back to back.
    */
  val TriggerMs = 2000L
  /** `BronzeStream.readEnvelopes`' default pacing (`gen.py`'s
    * STREAM_MAX_FILES keeps re-deliveries further apart than this).
    */
  val MaxFilesPerTrigger = 10
  /** The reference's event → alert target. */
  val AlertLimitMs = 1000.0
  /** Untimed calls before the predict loop is timed. */
  val WarmPredicts = 100
  /** Longest wait for the scoring query to catch up after the schedule. */
  val DrainS = 30.0

  private val Phases = Seq("trigger_ms" -> "triggerExecution", "latest_offset_ms" -> "latestOffset",
    "planning_ms" -> "queryPlanning", "add_batch_ms" -> "addBatch",
    "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets")

  /** Files whose micro-batch has committed, from a query checkpoint. */
  def committedFiles(checkpoint: String): Int = {
    val commits = Paths.get(checkpoint, "commits")
    if (!Files.isDirectory(commits)) return 0
    val done = Files.list(commits).iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map(_.toLong).toSet
    fileBatches(checkpoint).count { case (_, b) => done(b) }
  }

  /** File name → batch id, from a query checkpoint's file-source log. */
  def fileBatches(checkpoint: String): Map[String, Long] = {
    val dir = Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    val mapper = new ObjectMapper()
    Files.list(dir).iterator().asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap { p =>
        try Files.readAllLines(p).asScala.drop(1).map { line =>
          val n = mapper.readTree(line)
          Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString -> n.get("batchId").asLong
        } catch { case _: java.io.IOException => Nil } // a log file still being written
      }.toMap
  }

  /** Runs the stream phase: the offered-rate steps of `m`, then a drain
    * of at most `DrainS`. Alert latencies go to the result's latency
    * samples; the scoring query's per-trigger figures to its layers.
    */
  def streamPhase(ctx: Ctx, spark: SparkSession, m: Manifest, triggers: TriggerLog): Unit = {
    val r = ctx.result
    val base = s"${ctx.root}/fraud"
    val landing = s"$base/landing"
    val ckpt = Map("bronze" -> s"$base/ckpt/bronze", "scoring" -> s"$base/ckpt/scoring")

    // warm-up: both queries through the warm-up files, one trigger each,
    // so the schedule starts on warm queries (the reference's streaming job
    // runs continuously; its users do not pay its first triggers)
    val lander = new Lander(ctx.input, landing, m.phase("stream"))
    val warm = m.phase("warm")
    lander.landNow(warm.head)
    val trigger = Trigger.ProcessingTime(TriggerMs)
    val queries = Seq(
      "bronze" -> BronzeStream.start(spark, landing, s"$base/bronze", ckpt("bronze"), trigger),
      "scoring" -> ScoringStream.start(spark, landing, s"$base/predictions", s"$base/alerts",
        ckpt("scoring"), trigger))
    val nameOf = queries.map { case (n, q) => q.id.toString -> n }.toMap
    def committed(q: String): Int = committedFiles(ckpt(q))
    warm.zipWithIndex.foreach { case (c, i) =>
      if (i > 0) lander.landNow(c)
      waitFor(60.0)(queries.forall { case (n, _) => committed(n) >= i + 1 })
    }

    // the schedule, then a bounded drain
    Main.note("streams warm")
    lander.start()
    lander.join()
    Main.note("schedule done")
    val total = warm.size + m.phase("stream").size
    waitFor(DrainS)(queries.forall { case (n, _) => committed(n) >= total })
    queries.foreach { case (_, q) => q.stop() }
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Main.note("streams stopped")

    // alert latency per event, from progress events and the source log
    val all = triggers.all.filter(t => nameOf.contains(t.query))
    val scoringTriggers = all.filter(t => nameOf(t.query) == "scoring")
    val commitEnd = scoringTriggers.map(t => t.batchId -> t.endMs.toDouble).toMap
    val batchOf = fileBatches(ckpt("scoring"))
    val landed = lander.all.filter(_.chunk.phase == "stream")
    val commitOf = landed.map(l => l -> batchOf.get(l.chunk.file).flatMap(commitEnd.get)).toMap
    landed.foreach { l =>
      r.attempted += l.chunk.events
      commitOf(l) match {
        case Some(c) => (1 to l.chunk.events).foreach(_ => r.latencyMs += c - l.dueMs)
        case None =>
          r.failed += l.chunk.events
          if (r.errors.size < 20) r.errors += s"${l.chunk.file} never committed by scoring"
      }
    }

    // per rate step: backlog at its end, tail latency, delivered rate
    val t0 = lander.startMs
    val perStep = m.steps.map { s =>
      val stepEnd = t0 + s.endMs
      val in = landed.filter(l => l.chunk.atMs >= s.startMs && l.chunk.atMs < s.endMs)
      val lat = in.flatMap(l => commitOf(l).toSeq.flatMap(c => Seq.fill(l.chunk.events)(c - l.dueMs)))
      val backlog = landed.count(_.dueMs <= stepEnd) -
        landed.count(l => commitOf(l).exists(_ <= stepEnd))
      val done = in.filter(l => commitOf(l).isDefined)
      val span = done.flatMap(commitOf).maxOption.map(_ - (t0 + s.startMs)).getOrElse(Double.NaN)
      (s, backlog, Stats.pct(lat, if (lat.size >= 1000) 99 else 90),
        done.map(_.chunk.events).sum / (span / 1000))
    }
    perStep.foreach { case (s, backlog, tail, rate) =>
      r.detail(s"step_${s.rate}.backlog_files") = backlog
      r.detail(s"step_${s.rate}.alert_tail_ms") = tail
      r.detail(s"step_${s.rate}.delivered_per_s") = rate
    }
    r.detail("sustained_tps") = perStep
      .filter { case (_, backlog, tail, _) => backlog <= MaxFilesPerTrigger && tail < AlertLimitMs }
      .map(_._1.rate.toDouble).maxOption.getOrElse(0.0)
    r.detail("generator_lag_ms_max") = landed.map(_.lagMs).maxOption.getOrElse(0.0)

    lander.writeLandedList(s"${ctx.input}/landed_stream.txt")
    streamChecks(ctx, spark, lander, landing, s"$base/predictions", s"$base/alerts")

    if (ctx.tracer.enabled) {
      val l = r.layers
      // triggers that carried data (idle triggers report no phases)
      val measured = all.filter(t => t.startMs >= t0 && t.inputRows > 0)
      Seq("bronze", "scoring").foreach { q =>
        val ts = measured.filter(t => nameOf(t.query) == q)
        Phases.foreach { case (metric, key) =>
          l(s"streaming.$q.$metric") = Stats.median(ts.map(_.durations.getOrElse(key, 0L).toDouble))
        }
      }
      val scoring = measured.filter(t => nameOf(t.query) == "scoring")
      def addBatch(s: Step) = Stats.median(scoring
        .filter(t => t.startMs >= t0 + s.startMs && t.startMs < t0 + s.endMs)
        .map(_.durations.getOrElse("addBatch", 0L).toDouble))
      l("streaming.scoring.add_batch_growth") =
        addBatch(m.steps.last) / math.max(1.0, addBatch(m.steps.head))
      l("streaming.batches") = scoring.size
      l("streaming.rows_per_batch") =
        if (scoring.isEmpty) 0.0 else scoring.map(_.inputRows).sum.toDouble / scoring.size
      l("streaming.backlog_files") = perStep.map(_._2).max
      l("generator.lag_ms") = r.detail("generator_lag_ms_max")
    }
  }

  /** Closed-loop single-row scoring for `seconds` (at least 100 calls)
    * after `WarmPredicts` untimed ones; each timed call is checked against
    * batch scoring.
    */
  def predictPhase(ctx: Ctx, spark: SparkSession, predictor: Predictor, seconds: Double): Unit = {
    val r = ctx.result
    val lines = Files.readAllLines(Paths.get(ctx.input, "predict.jsonl")).asScala.toIndexedSeq
    val got = mutable.ArrayBuffer.empty[Option[Option[Predictor.Prediction]]]
    (0 until WarmPredicts).foreach(i => predictor.predictEnvelope(lines(i % lines.size)))
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (k < 100 || System.nanoTime() < end) {
      val line = lines(k % lines.size)
      val t = System.nanoTime()
      got += r.op("predict") { predictor.predictEnvelope(line) }
      r.predictMs += (System.nanoTime() - t) / 1e6
      k += 1
    }
    r.check("predict_fast_path") {
      (predictor.fastPathActive && predictor.slowCollects == 0,
        s"fast path ${predictor.fastPathActive}, slow collects ${predictor.slowCollects}")
    }
    import spark.implicits._
    val want = batchScores(lines.toDF("json_string")).collect()
      .map(x => x.getString(0) -> (x.getDouble(1), x.getInt(2), x.getString(3))).toMap
    // every call is already an op (a thrown one already failed); a wrong
    // or empty answer fails it too
    val wrong = got.flatten.count { p =>
      !p.exists(g => want.get(g.transNum).contains((g.predictionScore, g.isFraudPredicted, g.riskLevel)))
    }
    r.failed += wrong
    r.check("predict_matches_batch_scoring") {
      (wrong == 0, s"${got.size} calls, $wrong disagree with ScoringStream.scoreBatch")
    }
    if (ctx.tracer.enabled) {
      r.layers("scoring.fast_path") = if (predictor.fastPathActive) 1.0 else 0.0
      r.layers("scoring.slow_collects") = predictor.slowCollects.toDouble
    }
  }

  private def batchScores(raw: DataFrame): DataFrame =
    ScoringStream.scoreBatch(Debezium.parse(raw), None)
      .select("trans_num", "prediction_score", "is_fraud_predicted", "risk_level").distinct()

  private def waitFor(seconds: Double)(cond: => Boolean): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (!cond && System.nanoTime() < end) Thread.sleep(50)
  }

  private def streamChecks(ctx: Ctx, spark: SparkSession, lander: Lander, landing: String,
      preds: String, alerts: String): Unit = {
    val r = ctx.result
    val p = spark.read.parquet(preds)
      .select("trans_num", "prediction_score", "is_fraud_predicted", "risk_level")
    val rows = p.collect().map(x => s"${x.getString(0)},${x.getDouble(1)},${x.getInt(2)},${x.getString(3)}")
    Files.write(Paths.get(ctx.input, "predictions.csv"), rows.mkString("", "\n", "\n").getBytes("UTF-8"))
    val a = spark.read.parquet(alerts).select("trans_num").collect().map(_.getString(0))
    Files.write(Paths.get(ctx.input, "alerts.csv"), a.mkString("", "\n", "\n").getBytes("UTF-8"))
    r.check("stream_scores_match_batch_scoring") {
      val files = lander.all.map(l => s"$landing/${l.chunk.file}")
      val want = batchScores(spark.read.text(files: _*).withColumnRenamed("value", "json_string"))
        .cache()
      val got = p.distinct().cache()
      val extra = got.except(want).count()
      val missing = want.except(got).count()
      want.unpersist()
      got.unpersist()
      (extra == 0 && missing == 0, s"$extra stream rows differ from batch scoring, $missing missing")
    }
  }
}
