package perfbench

import graft.operators.RecordPipeline
import graft.streaming.ProduceSink
import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** kitkat's whole record path as a batch backlog: produce (KPL-aggregate +
  * `graft-shards` write) into an empty 4-shard stream, then consume it from
  * TRIM_HORIZON under `Trigger.AvailableNow` through de-aggregate, inflate
  * and the plain console render into a checking sink.
  */
final class Ingest(a: Args, tracer: Tracer, tracing: Option[Tracing]) extends Workload {
  import Ingest._

  private lazy val all = generate(a.seed, Records)
  private var input: DataFrame = _

  def setup(spark: SparkSession, rep: Int): Unit = {
    input = all.frame(spark).persist()
    input.count()
    val w = cycle(spark, input, all, s"warm$rep")
    if (!w.ok) throw new IllegalStateException(s"warm-up cycle failed its output check: $w")
  }

  def measure(spark: SparkSession, seconds: Int): Outcome = {
    tracing.foreach(_.progress.clear())
    val before = tracing.map(_.counters.snapshot)
    val t0 = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer.empty[CycleResult]
    var error: Option[Throwable] = None
    while (error.isEmpty && (done.size < MinCycles || System.nanoTime() - t0 < seconds * 1000000000L)) {
      System.gc()
      try done += cycle(spark, input, all, s"c${done.size}", keep = true)
      catch { case e: Exception => error = Some(e) }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val failed = done.count(!_.ok).toLong * Records + error.size.toLong * Records
    val lats = done.flatMap(c => c.batches.map { case (rows, seen) => ((seen - c.startNs) / 1e6, rows.toDouble) })
    val e2e = Map(
      "rate_per_s" -> Stats.median(done.map(c => Records / ((c.endNs - c.startNs) / 1e9)).toSeq),
      "lat_p50_ms" -> Stats.weightedQuantile(lats.toSeq, 0.5),
      "lat_p95_ms" -> Stats.weightedQuantile(lats.toSeq, 0.95))
    val layers = tracing.map { t =>
      t.counters.settle()
      val counters = t.counters.snapshot.map { case (k, v) => k -> (v - before.get(k)) }
      val last = new File(a.work, s"ingest-c${done.size - 1}")
      val (files, alloc) = Layers.spoolSize(new File(new File(last, "spool"), Stream))
      val aggregateS = tracer.span("streaming.aggregate", "probe") {
        val s = System.nanoTime()
        ProduceSink.aggregateRecords(input, PerFrame).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - s) / 1e9
      }
      Layers.common(e2e, counters, wallS, tracer) ++
        Layers.stream(t.progress.triggers) ++
        Layers.consumePath(spark, tracer, new File(last, "spool").getAbsolutePath, Stream) ++
        Map("streaming.aggregate_s" -> aggregateS,
          "sources.write_s" -> Stats.median(done.map(c => (c.writtenNs - c.startNs) / 1e9).toSeq),
          "sources.write_driver_s" -> Stats.median(done.map(_.writeDriverS).toSeq),
          "sources.files" -> files.toDouble, "sources.alloc_bytes" -> alloc.toDouble,
          "sources.alloc_bytes_per_payload_byte" -> alloc.toDouble / all.payloadBytes)
    }.getOrElse(Map.empty)
    Outcome(attempted = math.max(1, done.size + error.size).toLong * Records, failed = failed,
      e2e = e2e, layers = layers,
      notes = Map("cycles" -> done.size.toString, "records_per_cycle" -> Records.toString,
        "cycle_s" -> done.map(c => f"${(c.writtenNs - c.startNs) / 1e9}%.2f+${(c.endNs - c.writtenNs) / 1e9}%.2f").mkString(" ")) ++
        error.map(e => "error" -> e.toString) ++
        done.filterNot(_.ok).headOption.map(c => "check" -> c.toString))
  }

  /** One produce → consume pass of `gen` into a fresh spool; a measured
    * (`keep`) pass leaves its spool for the traced layer timings.
    */
  private def cycle(spark: SparkSession, df: DataFrame, gen: Generated, tag: String,
      keep: Boolean = false): CycleResult = tracer.span("ingest.cycle", tag) {
    val dir = new File(a.work, s"ingest-$tag")
    val spool = new File(dir, "spool").getAbsolutePath
    val start = System.nanoTime()
    tracer.span("sources.write", tag) {
      ProduceSink.aggregateRecords(df, PerFrame).write.format("graft-shards")
        .option("path", spool).option("stream", Stream).option("shardCount", Shards.toString)
        .mode("append").save()
    }
    val written = System.nanoTime()
    val driverS = tracing.map(t => (written - t.counters.lastJobEndNs.get) / 1e9).getOrElse(0.0)
    val sink = tracer.span("stream.consume", tag) {
      val sink = new CheckSink(tracer, tag, tracer.current, if (keep) a.inject else None)
      val src = spark.readStream.format("graft-shards")
        .option("path", spool).option("stream", Stream)
        .option("iterator", "TRIM_HORIZON").option("limitPerTrigger", LimitPerTrigger.toString)
        .load()
      val lines = RecordPipeline.consolePlain(
        RecordPipeline.deaggregate(src).withColumn("data", RecordPipeline.inflateZlib(col("data"))))
      val q = lines.writeStream
        .option("checkpointLocation", new File(dir, "checkpoint").getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink.apply _)
        .start()
      q.awaitTermination()
      tracing.foreach(t => Option(q.lastProgress).foreach(p => t.progress.settle(p.batchId)))
      sink
    }
    val end = System.nanoTime()
    if (!keep) deleteTree(dir)
    val rows = sink.batches.map(_._1).sum
    CycleResult(start, written, end, driverS, sink.batches.map(b => (b._1, b._3)),
      rows == gen.n && sink.hashSum == gen.hashSum, rows, sink.hashSum, gen.n, gen.hashSum)
  }
}

object Ingest {
  /** Logical records per cycle. */
  val Records = 100000
  val MinCycles = 4
  val Keys = 1000
  val PerFrame = 100
  val Shards = 4
  /** The CLI's default `--limit`. */
  val LimitPerTrigger = 500
  val Stream = "ingest"

  final case class CycleResult(startNs: Long, writtenNs: Long, endNs: Long, writeDriverS: Double,
      batches: Seq[(Long, Long)], ok: Boolean, rows: Long, hashSum: Long,
      wantRows: Long, wantHashSum: Long) {
    override def toString: String =
      s"rows $rows of $wantRows, message hash sum $hashSum, want $wantHashSum"
  }

  /** Seeded records: partition keys, zlib-deflated payloads, and the count
    * and sum of Spark's `hash()` over the plain messages the render must
    * reproduce.
    */
  final class Generated(val keys: Array[String], val data: Array[Array[Byte]],
      val hashes: Array[Int], val payloadLens: Array[Int]) {
    def n: Long = keys.length.toLong
    def hashSum: Long = hashes.foldLeft(0L)(_ + _)
    def payloadBytes: Long = payloadLens.foldLeft(0L)(_ + _)
    def frame(spark: SparkSession): DataFrame = {
      val rows = keys.indices.map(i => Row(keys(i), data(i)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, Main.Cpus), StructType(Seq(
        StructField("partitionKey", StringType), StructField("data", BinaryType))))
    }
  }

  private val Words = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima " +
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu " +
    "stream shard record frame batch spool trigger offset").split(' ')

  def generate(seed: Long, n: Int): Generated = {
    val rnd = new java.util.SplittableRandom(seed)
    val keys = Array.fill(Keys)(f"pk-${rnd.nextLong()}%016x")
    val deflater = new java.util.zip.Deflater()
    val buf = new Array[Byte](512)
    val outKeys = new Array[String](n)
    val outData = new Array[Array[Byte]](n)
    val hashes = new Array[Int](n)
    val lens = new Array[Int](n)
    var i = 0
    while (i < n) {
      val len = 64 + rnd.nextInt(65)
      val sb = new StringBuilder(s"r$i")
      while (sb.length < len) sb.append(' ').append(Words(rnd.nextInt(Words.length)))
      val msg = sb.substring(0, len).getBytes("UTF-8")
      deflater.reset(); deflater.setInput(msg); deflater.finish()
      val z = deflater.deflate(buf)
      outKeys(i) = keys(rnd.nextInt(Keys))
      outData(i) = java.util.Arrays.copyOf(buf, z)
      hashes(i) = sparkHash(msg)
      lens(i) = len
      i += 1
    }
    deflater.end()
    new Generated(outKeys, outData, hashes, lens)
  }

  /** Spark SQL's `hash()` of a string: Murmur3 x86_32, seed 42, over its UTF-8 bytes. */
  def sparkHash(utf8: Array[Byte]): Int =
    org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      utf8, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET.toLong, utf8.length, 42)

  def deleteTree(f: File): Unit = if (f.exists()) {
    val paths = java.nio.file.Files.walk(f.toPath)
    try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => p.toFile.delete())
    finally paths.close()
  }
}

/** The benchmark's sink: per micro-batch, the row count and the sum of
  * `hash()` over each rendered line's message (the text after the
  * 19-character arrival timestamp and its space), with the time it saw the
  * batch. `inject` drops or duplicates one record of the first non-empty
  * batch, to show the output check catches it.
  */
final class CheckSink(tracer: Tracer, req: String, parent: Long, inject: Option[String]) {
  @volatile var hashSum = 0L
  @volatile var batches = Vector.empty[(Long, Long, Long)] // (rows, hash sum, seen ns)
  private var injected = false

  def apply(df: DataFrame, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    val lines = inject match {
      case Some("drop") if !injected => injected = true; df.offset(1)
      case Some("dup") if !injected => injected = true; df.union(df.limit(1))
      case _ => df
    }
    val r = lines.agg(count(lit(1)), sum(hash(substring(col("line"), 21, Int.MaxValue)).cast("long")))
      .collect()(0)
    val seen = System.nanoTime()
    val rows = r.getLong(0)
    val hs = if (r.isNullAt(1)) 0L else r.getLong(1)
    hashSum += hs
    batches :+= ((rows, hs, seen))
    tracer.record("sink.batch", s"$req/$batchId", parent, t0, seen)
  }
}
