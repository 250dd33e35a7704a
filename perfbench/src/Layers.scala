package perfbench

/** The per-layer metric names of a traced run and how each is read off the
  * trace. Every traced run reports every name; a layer the workload does not
  * exercise reads 0.
  */
object Layers {
  /** The endpoints the live reader calls. */
  val Endpoints = Seq("created", "following")
  val Sinks = Seq("posts", "votes", "follows")
  /** Ops-layer names and the source file their jobs are submitted from.
    * `x49` is the registry program's own materializations (its
    * localCheckpoints), which run the lazy plans the modules built.
    */
  val OpsSites = Seq("Dedup" -> "Dedup.scala", "Similarity" -> "Similarity.scala",
    "TextAnalysis" -> "TextAnalysis.scala", "Decontaminate" -> "Decontaminate.scala",
    "x49" -> "CurationQueries.scala")
  val OpsModules: Seq[String] = OpsSites.map(_._1)

  /** (name, unit) for every per-layer metric. */
  val all: Seq[(String, String)] =
    Seq("engine.BlockParsers.build_ms" -> "ms") ++
    Endpoints.flatMap(e => Seq(s"engine.Feeds.$e.ms_p50" -> "ms",
      s"engine.Feeds.$e.build_ms" -> "ms", s"engine.Feeds.$e.jobs" -> "count")) ++
    Sinks.flatMap(t => Seq(s"streaming.UpsertSink.merge.$t.ms_p50" -> "ms",
      s"streaming.UpsertSink.merge.$t.ms_p95" -> "ms", s"streaming.UpsertSink.merge.$t.jobs" -> "count",
      s"streaming.UpsertSink.merge.$t.bytes_written" -> "bytes")) ++
    Seq("streaming.UpsertSink.state.ms_p50" -> "ms",
      "streaming.AlignmentGate.held_ops" -> "count", "streaming.AlignmentGate.advance_ms" -> "ms",
      "streaming.trigger.ms_p50" -> "ms", "streaming.trigger.blocks_per_batch" -> "count",
      "streaming.freshness_p50_ms" -> "ms", "streaming.freshness_p95_ms" -> "ms",
      "gen.late_ms_p95" -> "ms", "gen.backlog_blocks" -> "count") ++
    OpsModules.flatMap(m => Seq(s"ops.$m.job_ms" -> "ms", s"ops.$m.jobs" -> "count",
      s"ops.$m.exec_cpu_ms" -> "ms", s"ops.$m.shuffle_bytes" -> "bytes",
      s"ops.$m.result_bytes" -> "bytes")) ++
    Seq("spark.plan_ms" -> "ms", "spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.gc_ms" -> "ms", "spark.slot_busy" -> "ratio", "trace.overhead" -> "ratio")

  private def ms(ns: Double): Double = ns / 1e6
  private def perCall(x: Double, calls: Int): Double = if (calls == 0) 0.0 else x / calls

  /** Fill `o.layers` from the trace of a window of `wallNs` that ran `ops`
    * operations (passes, requests or blocks). Counts are per operation
    * unless the name says otherwise; `spark.slot_busy` is executor run time
    * over wall time times slots. `trace.overhead` is set by the caller once
    * both windows are measured.
    */
  def fill(ctx: Ctx, o: Outcome, ops: Int, wallNs: Long): Unit = {
    Trace.drain(ctx.spark)
    val slots = ctx.cpus
    all.foreach { case (n, _) => o.layers(n) = 0.0 }
    def s(n: String) = Trace.stat(n)
    def durations(n: String) = s(n).durNs.map(_.toDouble).toSeq

    o.layers("engine.BlockParsers.build_ms") =
      ms(perCall(s("engine.BlockParsers").buildNs, s("engine.BlockParsers").builds))

    for (e <- Endpoints) {
      val st = s(s"engine.Feeds.$e")
      o.layers(s"engine.Feeds.$e.ms_p50") = ms(Bench.median(durations(s"engine.Feeds.$e")))
      o.layers(s"engine.Feeds.$e.build_ms") = ms(perCall(st.buildNs, st.builds))
      o.layers(s"engine.Feeds.$e.jobs") = perCall(st.jobs, st.calls)
    }

    for (t <- Sinks) {
      val n = s"streaming.UpsertSink.merge.$t"
      val st = s(n)
      o.layers(s"$n.ms_p50") = ms(Bench.median(durations(n)))
      o.layers(s"$n.ms_p95") = ms(Bench.quantile(durations(n), 0.95))
      o.layers(s"$n.jobs") = perCall(st.jobs, st.calls)
      o.layers(s"$n.bytes_written") = perCall(st.bytesWritten, st.calls)
    }
    o.layers("streaming.UpsertSink.state.ms_p50") =
      ms(Bench.median(durations("streaming.UpsertSink.state")))
    o.layers("streaming.AlignmentGate.advance_ms") =
      ms(Bench.median(durations("streaming.AlignmentGate")))
    o.layers("streaming.trigger.ms_p50") = ms(Bench.median(durations("streaming.trigger")))

    val sites = Trace.siteStats
    for ((m, file) <- OpsSites; st <- sites.get(file)) {
      o.layers(s"ops.$m.job_ms") = perCall(st.jobMs, ops)
      o.layers(s"ops.$m.jobs") = perCall(st.jobs, ops)
      o.layers(s"ops.$m.exec_cpu_ms") = ms(perCall(st.cpuNs, ops))
      o.layers(s"ops.$m.shuffle_bytes") = perCall(st.shuffleBytes, ops)
      o.layers(s"ops.$m.result_bytes") = perCall(st.resultBytes, ops)
    }

    o.layers("spark.plan_ms") = ms(perCall(Trace.planNs, ops))
    o.layers("spark.jobs") = perCall(Trace.jobs, ops)
    o.layers("spark.tasks") = perCall(Trace.tasks, ops)
    o.layers("spark.gc_ms") = perCall(Trace.gcMs, ops)
    o.layers("spark.slot_busy") = Trace.runMs / (ms(wallNs) * slots)
  }
}
