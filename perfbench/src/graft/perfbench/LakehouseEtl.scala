package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.ingest.Debezium
import graft.layers.{AtomicAppend, Gold, IncrementalView, Silver, Snapshots}
import graft.scoring.RuleModel
import graft.views.{DashboardQueries, GoldViews}

/** The ETL phase of `lakehouse_stream`: one orchestrator runs the
  * reference's DAG back to back, each run over one landed batch of CDC
  * envelopes: Debezium.parse → bronze → Silver → Gold (five commits) → an
  * IncrementalView refresh of a fact summary, then one rotating read from
  * the gold views and dashboard charts. After every `CyclesPerBlock` runs a
  * maintenance step on the fact erases the test card (deleteWhere),
  * merges the late rows the silver high-water mark skipped (mergeInto),
  * compacts, and rebuilds the view.
  *
  * Freshness of a batch = from its landing to the end of the run that made
  * it readable in gold and in the view (the loop is closed, so this is the
  * sum of the blocking layer times).
  */
object LakehouseEtl {

  /** DAG runs per block; every block ends with one maintenance step. */
  val CyclesPerBlock = 2
  private val Parts = Seq("year", "month", "day")
  private val Tables = Seq("dim_customer", "dim_merchant", "dim_time", "dim_location",
    "fact_transactions")
  private val DimKeys = Map(
    "dim_customer" -> Seq("customer_key"),
    "dim_merchant" -> Seq("merchant", "merchant_lat", "merchant_long"),
    "dim_time" -> Seq("time_key"),
    "dim_location" -> Seq("city", "state", "zip"))

  private final class Lake(root: String) {
    val landing = s"$root/landing"
    val bronze = s"$root/bronze"
    val silver = s"$root/silver"
    val gold = s"$root/gold"
    val fact = s"$gold/fact_transactions"
    var viewGen = 0
    def view: String = s"$root/views/fact_by_category_g$viewGen"
  }

  /** Per measured cycle: commit calls and fs ops. */
  private final case class CycleStat(commits: Int, fs: FsCounters.Snap)

  def phase(ctx: Ctx, spark: SparkSession, m: Manifest, seconds: Double): Unit = {
    val r = ctx.result
    val lake = new Lake(s"${ctx.root}/lake")
    val tr = ctx.tracer
    val reads = new scala.util.Random(ctx.seed).shuffle(
      GoldViews.definitions.keys.toSeq.sorted.map(v => s"view:$v") ++
        DashboardQueries.all.keys.toSeq.sorted.map(c => s"chart:$c"))
    val testCard = m.testCard

    def readTable(t: String): DataFrame = Gold.read(spark, lake.gold, t).get

    def refreshView(): Unit = {
      IncrementalView.refreshFromTable(spark, lake.fact, lake.view,
        Seq("transaction_category"), Seq("transaction_amount", "is_fraud"))
      Snapshots.read(spark, lake.view).count() // committed and readable
    }

    /** One DAG run over `file`; returns the number of commit calls. The
      * silver step reads the landed batch it already holds, not all of
      * bronze; the silver high-water mark still filters it.
      */
    def cycle(file: String): Int = {
      val batch = tr.span("ingest.parse") {
        val raw = spark.read.text(file).withColumnRenamed("value", "json_string")
        val b = Debezium.withBronzeColumns(Debezium.parse(raw)).persist()
        AtomicAppend.append(b, lake.bronze, Parts)
        b
      }
      val slice = tr.span("layers.silver") {
        val s = Silver.transform(batch, AtomicAppend.readIfExists(spark, lake.silver)).persist()
        Silver.write(s, lake.silver)
        s
      }
      tr.span("layers.gold") {
        Gold.write(Gold.build(slice, t => Gold.read(spark, lake.gold, t)), lake.gold)
      }
      slice.unpersist()
      batch.unpersist()
      tr.span("layers.view_refresh") { refreshView() }
      2 + Tables.size
    }

    def maintenance(): Int = tr.span("layers.maintenance") {
      // erase the test card from the fact and its dimension row
      AtomicAppend.deleteWhere(spark, lake.fact, F.col("customer_key") === testCard)
      AtomicAppend.deleteWhere(spark, s"${lake.gold}/dim_customer",
        F.col("customer_key") === testCard)
      // late corrections: bronze rows the silver high-water mark skipped
      val known = readTable("fact_transactions").select(F.col("transaction_key").as("trans_num"))
      val late = Silver.transform(AtomicAppend.read(spark, lake.bronze)
        .filter(F.col("cc_num") =!= testCard.toString)
        .join(known, Seq("trans_num"), "left_anti").dropDuplicates("trans_num"), None).persist()
      var commits = 2
      if (!late.isEmpty) {
        val g = Gold.build(late, t => Gold.read(spark, lake.gold, t))
        Gold.write(g - "fact_transactions", lake.gold)
        AtomicAppend.mergeInto(spark, lake.fact, g("fact_transactions"), Seq("transaction_key"))
        commits += Tables.size
      }
      late.unpersist()
      AtomicAppend.compact(spark, lake.fact)
      // merge and delete commits end the fact's insert-only feed: rebuild
      lake.viewGen += 1
      refreshView()
      commits + 1
    }

    def dashboard(i: Int): Unit = tr.span("views.read") {
      GoldViews.registerAll(spark, Tables.map(t => t -> readTable(t)).toMap)
      RuleModel.predict(Silver.read(spark, lake.silver)).createOrReplaceTempView("fraud_predictions")
      val name = reads(i % reads.size)
      val df =
        if (name.startsWith("view:")) spark.table(name.stripPrefix("view:"))
        else DashboardQueries.run(spark, name.stripPrefix("chart:"))
      tr.span("views.plan") { df.queryExecution.executedPlan }
      tr.span("views.exec") { Main.materialize(df) }
    }

    // batches land one at a time, when the orchestrator is ready; there
    // is no warm-up: the reference submits each DAG run as a fresh job, so
    // its users pay the first run's cold start every time
    val lander = new Lander(ctx.input, lake.landing, Nil)
    val batches = m.phase("etl").iterator
    def path(l: Landed): String = s"${lake.landing}/${l.chunk.file}"

    // measured: blocks of DAG runs, each block closed by maintenance,
    // until the time is up or the generated batches run out
    val stats = mutable.ArrayBuffer.empty[CycleStat]
    val freshMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var inputBytes = 0L
    var maintenanceBytes = 0L
    val fs0 = FsCounters.snap()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var blocks = 0
    var i = 0
    while (batches.hasNext && (blocks == 0 || System.nanoTime() < end)) {
      var k = 0
      while (k < CyclesPerBlock && batches.hasNext) {
        val l = lander.landNow(batches.next())
        val cfs0 = FsCounters.snap()
        r.op(s"cycle $i") {
          val commits = cycle(path(l))
          freshMs += Tracer.nowMs() - l.landedMs
          rows += l.chunk.events
          inputBytes += Files.size(Paths.get(ctx.input, l.chunk.file))
          stats += CycleStat(commits, FsCounters.snap() - cfs0)
        }
        val d0 = System.nanoTime()
        r.op(s"read $i") { dashboard(i) }
        readMs += (System.nanoTime() - d0) / 1e6
        i += 1
        k += 1
      }
      val mfs0 = FsCounters.snap()
      r.op("maintenance") { maintenance() }
      maintenanceBytes += (FsCounters.snap() - mfs0).bytesWritten
      blocks += 1
      Main.note(s"etl block $blocks done after $i DAG runs")
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    r.throughputPerS = rows / elapsedS
    r.detail("etl_cycles") = i
    r.detail("etl_rows") = rows
    r.detail("etl_freshness_p50_s") = Stats.median(freshMs.toSeq) / 1000
    r.detail("etl_freshness_max_s") = freshMs.maxOption.getOrElse(0.0) / 1000
    r.detail("etl_dashboard_p50_ms") = Stats.median(readMs.toSeq)
    r.detail("etl_bytes_per_input_byte") =
      (FsCounters.snap() - fs0).bytesWritten.toDouble / math.max(1L, inputBytes)
    Main.note("etl measured")
    lander.writeLandedList(s"${ctx.input}/landed_etl.txt")
    checks(ctx, spark, lake, readTable)

    if (tr.enabled) {
      val l = r.layers
      def med(name: String): Double = Stats.median(tr.durations(name)) / 1000
      l("ingest.parse_s") = med("ingest.parse")
      l("layers.silver_s") = med("layers.silver")
      l("layers.gold_s") = med("layers.gold")
      l("layers.view_refresh_s") = med("layers.view_refresh")
      l("layers.maintenance_s") = med("layers.maintenance")
      l("layers.bytes_rewritten_mb") = maintenanceBytes / 1e6 / blocks
      l("layers.commits") = stats.map(_.commits).sum.toDouble / stats.size
      def perCommit(f: FsCounters.Snap => Long): Double =
        stats.map(s => f(s.fs).toDouble / s.commits).sum / math.max(1, stats.size)
      l("fs.write_ops_per_commit") = perCommit(_.writeOps)
      l("fs.read_ops_per_commit") = perCommit(_.readOps)
      l("fs.list_ops_per_commit") = perCommit(_.listOps)
      l("layers.versions_end") = AtomicAppend.versions(spark, lake.fact).size
      l("layers.live_files") = readTable("fact_transactions").inputFiles.length
      l("views.plan_s") = med("views.plan")
      l("views.exec_s") = med("views.exec")
    }
  }

  private def checks(ctx: Ctx, spark: SparkSession, lake: Lake, readTable: String => DataFrame): Unit = {
    val r = ctx.result
    val fact = readTable("fact_transactions")
    val keys = fact.select("transaction_key").collect().map(_.getString(0))
    Files.write(Paths.get(ctx.input, "fact_keys.txt"), keys.mkString("", "\n", "\n").getBytes("UTF-8"))
    DimKeys.foreach { case (dim, cols) =>
      r.check(s"${dim}_keys_unique") {
        val d = readTable(dim)
        val n = d.count()
        val distinct = d.select(cols.map(F.col): _*).distinct().count()
        (n == distinct, s"$n rows, $distinct distinct keys")
      }
    }
    GoldViews.registerAll(spark, Tables.map(t => t -> readTable(t)).toMap)
    r.check("daily_summary_total_matches_fact") {
      val total = spark.sql("SELECT SUM(total_transactions) FROM daily_summary").head().getLong(0)
      (total == keys.length, s"daily_summary $total vs fact ${keys.length}")
    }
    r.check("incremental_view_matches_fact") {
      val n = Snapshots.read(spark, lake.view).agg(F.sum("n_rows")).head().getLong(0)
      (n == keys.length, s"view n_rows $n vs fact ${keys.length}")
    }
  }
}
