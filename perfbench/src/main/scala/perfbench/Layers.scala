package perfbench

import graft.operators.RecordPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The per-layer metrics of a traced run, by name and unit. Every traced
  * run reports all of them; a layer the workload does not call reads 0.
  */
object Layers {
  val Registries: Seq[String] = Seq("Relational", "ScalarQueries", "RecordQueries",
    "LlmQueries", "WindowQueries", "AdvancedQueries", "Multimodal", "StatsQueries",
    "VectorQueries")

  /** Span names; each gets a `self.<name>_s` self-time metric. */
  val SpanNames: Seq[String] = Seq(
    "ingest.cycle", "tail.append", "suite.query",
    "streaming.aggregate", "sources.write", "sources.read", "stream.consume",
    "sink.batch", "plans.deaggregate", "plans.inflate", "operators.render",
    "suite.build", "suite.exec")

  private val units: Seq[(String, String)] = Seq(
    "streaming.aggregate_s" -> "s",
    "sources.write_s" -> "s", "sources.write_driver_s" -> "s",
    "sources.files" -> "count", "sources.alloc_bytes" -> "bytes",
    "sources.alloc_bytes_per_payload_byte" -> "ratio",
    "sources.read_s" -> "s",
    "stream.latest_offset_p50_ms" -> "ms", "stream.latest_offset_max_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.trigger_ms" -> "ms",
    "stream.triggers" -> "count", "stream.rows_per_trigger" -> "count",
    "stream.latest_offset_share" -> "ratio",
    "plans.deaggregate_s" -> "s", "plans.inflate_s" -> "s",
    "operators.render_s" -> "s",
    "tail.gen_late_p99_ms" -> "ms", "tail.backlog_end" -> "count",
    "suite.build_s" -> "s", "suite.exec_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.busy_ratio" -> "ratio",
    "traced.rate_per_s" -> "1/s", "traced.lat_p50_ms" -> "ms", "traced.lat_p95_ms" -> "ms") ++
    Registries.map(r => s"suite.${r}_s" -> "s") ++
    SpanNames.map(n => s"self.${n}_s" -> "s")

  val names: Seq[String] = units.map(_._1)
  def unit(name: String): String = units.toMap.apply(name)

  /** Traced-run metrics every workload shares: the end-to-end numbers as
    * measured with tracing on, Spark's counters over the measured window
    * (`wallS` long), and the self time of every span.
    */
  def common(e2e: Map[String, Double], counters: Map[String, Double], wallS: Double,
      tracer: Tracer): Map[String, Double] = {
    val self = tracer.selfSeconds
    Map("traced.rate_per_s" -> e2e("rate_per_s"), "traced.lat_p50_ms" -> e2e("lat_p50_ms"),
      "traced.lat_p95_ms" -> e2e("lat_p95_ms"),
      "spark.busy_ratio" -> counters("task_run_s") / (wallS * Main.Cpus)) ++
      counters.map { case (k, v) => s"spark.$k" -> v } ++
      SpanNames.map(n => s"self.${n}_s" -> self.getOrElse(n, 0.0))
  }

  /** Phase durations of the stream's triggers that read at least one row. */
  def stream(triggers: Seq[StreamTrigger]): Map[String, Double] = {
    val busy = triggers.filter(_.rows > 0)
    def p50(k: String) = Stats.median(busy.map(_.durMs.getOrElse(k, 0L).toDouble))
    if (busy.isEmpty) Map.empty
    else Map(
      "stream.latest_offset_p50_ms" -> p50("latestOffset"),
      "stream.latest_offset_max_ms" -> busy.map(_.durMs.getOrElse("latestOffset", 0L)).max.toDouble,
      "stream.add_batch_ms" -> p50("addBatch"), "stream.get_batch_ms" -> p50("getBatch"),
      "stream.query_planning_ms" -> p50("queryPlanning"),
      "stream.wal_commit_ms" -> p50("walCommit"),
      "stream.commit_offsets_ms" -> p50("commitOffsets"),
      "stream.trigger_ms" -> p50("triggerExecution"),
      "stream.triggers" -> busy.size.toDouble,
      "stream.rows_per_trigger" -> Stats.median(busy.map(_.rows.toDouble)),
      "stream.latest_offset_share" ->
        busy.map(_.durMs.getOrElse("latestOffset", 0L)).sum.toDouble /
          math.max(1L, busy.map(_.durMs.getOrElse("triggerExecution", 0L)).sum))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed(tracer: Tracer, name: String)(body: => Unit): Double =
    tracer.span(name, "probe") {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

  /** Each step of the consume path on its own: a batch read of the stream,
    * then de-aggregation, inflate and render, each over the persisted output
    * of the step before it, into Spark's noop sink.
    */
  def consumePath(spark: SparkSession, tracer: Tracer, spool: String,
      stream: String): Map[String, Double] = {
    val raw = spark.read.format("graft-shards")
      .option("path", spool).option("stream", stream).load()
    val readS = timed(tracer, "sources.read")(noop(raw))
    val rawP = raw.persist(); rawP.count()
    val deagg = RecordPipeline.deaggregate(rawP)
    val deaggS = timed(tracer, "plans.deaggregate")(noop(deagg))
    val deaggP = deagg.persist(); deaggP.count()
    val inflated = deaggP.withColumn("data", RecordPipeline.inflateZlib(col("data")))
    val inflateS = timed(tracer, "plans.inflate")(noop(inflated))
    val inflatedP = inflated.persist(); inflatedP.count()
    val renderS = timed(tracer, "operators.render")(noop(RecordPipeline.consolePlain(inflatedP)))
    Seq(inflatedP, deaggP, rawP).foreach(_.unpersist(blocking = true))
    Map("sources.read_s" -> readS, "plans.deaggregate_s" -> deaggS,
      "plans.inflate_s" -> inflateS, "operators.render_s" -> renderS)
  }

  /** Files and allocated bytes (st_blocks × 512, as `du` counts them) under
    * a stream directory.
    */
  def spoolSize(dir: java.io.File): (Long, Long) = {
    val files = java.nio.file.Files.walk(dir.toPath)
    val n = try files.filter(p => p.toString.endsWith(".rec")).count() finally files.close()
    val p = new ProcessBuilder("du", "-s", "-B1", dir.getAbsolutePath).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes())
    p.waitFor()
    (n, out.trim.split("\\s+")(0).toLong)
  }
}
