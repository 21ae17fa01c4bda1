package graft.perfbench

import graft.scoring.Predictor

/** `lakehouse_stream`: the reference's fraud path, one phase after the
  * other in one session: the streaming legs under offered load
  * ([[FraudStream.streamPhase]]), single-row predict calls
  * ([[FraudStream.predictPhase]]), and the batch DAG from CDC to gold
  * with maintenance and dashboard reads ([[LakehouseEtl.phase]]). The
  * generator (`gen.py`) sets each phase's share of `--seconds`.
  */
object LakehouseStream {

  def run(ctx: Ctx): Unit = {
    val (spark, predictor) = Main.setUp(ctx, times = 3)(s => Predictor.ruleOnly(s))
    val probes = ctx.probes(spark)
    val triggers = probes.map(_.triggers).getOrElse {
      val t = new TriggerLog
      spark.streams.addListener(t)
      t
    }
    Main.note("setup done")
    val m = Manifest.load(ctx.input)
    ctx.tracer.span("phase.stream") { FraudStream.streamPhase(ctx, spark, m, triggers) }
    Main.note("stream phase done")
    ctx.tracer.span("phase.predict") {
      FraudStream.predictPhase(ctx, spark, predictor, m.predictS)
    }
    ctx.tracer.span("phase.etl") { LakehouseEtl.phase(ctx, spark, m, m.etlS) }
  }
}
