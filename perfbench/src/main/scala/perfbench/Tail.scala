package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.RecordPipeline

/** A live consumer at the tip of a stream with a long history: a LATEST
  * consumer with the CLI's default trigger interval and limit reads a
  * 4-shard stream seeded with [[Tail.History]] plain records, while an open
  * loop on this thread makes [[Tail.AppendsPerSecond]] appends of
  * [[Tail.PerAppend]] records per second through `graft-shards`, on a fixed
  * schedule. Each record carries its due time;
  * latency runs from that due time to the sink seeing the record.
  */
final class Tail(a: Args, tracer: Tracer, tracing: Option[Tracing]) extends Workload {
  import Tail._

  private val rnd = new java.util.SplittableRandom(a.seed)
  private val keys = Array.fill(Keys)(f"pk-${rnd.nextLong()}%016x")
  private var spool: String = _
  private var query: StreamingQuery = _
  private var sink: TailSink = _
  private var historyBytes = 0L

  private val schema = StructType(Seq(
    StructField("partitionKey", StringType), StructField("data", BinaryType)))

  /** `n` records tagged `tag`: ids `from` until `from + n`, the due time,
    * and filler text up to a seeded length of 64–128 bytes.
    */
  private def records(spark: SparkSession, tag: Char, from: Long, n: Int, dueNs: Long): (DataFrame, Long) = {
    var bytes = 0L
    val rows = (0 until n).map { i =>
      val head = s"$tag${from + i} $dueNs"
      val len = math.max(64 + rnd.nextInt(65), head.length)
      val msg = (head + " " + Filler).take(len)
      bytes += len
      Row(keys(rnd.nextInt(Keys)), msg.getBytes("UTF-8"))
    }
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), bytes)
  }

  private def append(df: DataFrame): Unit =
    df.write.format("graft-shards")
      .option("path", spool).option("stream", Stream).option("shardCount", Shards.toString)
      .mode("append").save()

  private var dir: File = _

  override def discard(): Unit = Ingest.deleteTree(dir)

  def setup(spark: SparkSession, rep: Int): Unit = {
    dir = new File(a.work, s"tail-$rep")
    spool = new File(dir, "spool").getAbsolutePath
    historyBytes = 0L
    val t0 = System.nanoTime()
    (0 until History by HistoryChunk).foreach { from =>
      val (df, bytes) = records(spark, 'h', from, HistoryChunk, 0L)
      historyBytes += bytes
      append(df)
    }
    sink = new TailSink(tracer, a.inject)
    val lines = RecordPipeline.consolePlain(RecordPipeline.deaggregate(
      spark.readStream.format("graft-shards")
        .option("path", spool).option("stream", Stream)
        .option("iterator", "LATEST").option("limitPerTrigger", LimitPerTrigger.toString)
        .load()))
    query = lines.writeStream
      .option("checkpointLocation", new File(dir, "checkpoint").getAbsolutePath)
      .trigger(Trigger.ProcessingTime(IntervalMs))
      .foreachBatch(sink.apply _)
      .start()
    // LATEST resolves at the first trigger: appends before it would count
    // as history
    val started = System.nanoTime() + 60000000000L
    while (query.lastProgress == null && query.isActive && System.nanoTime() < started) Thread.sleep(20)
    System.err.println(f"[tail] history seeded and consumer started in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // warm-up: appends at the measured rate that the consumer must deliver
    // before measuring starts
    (0 until WarmAppends).foreach { k =>
      val (df, bytes) = records(spark, 'w', k.toLong * PerAppend, PerAppend, System.nanoTime())
      historyBytes += bytes
      append(df)
      Thread.sleep(1000L / AppendsPerSecond)
    }
    val deadline = System.nanoTime() + 60000000000L
    while (sink.warm < WarmAppends * PerAppend && System.nanoTime() < deadline) Thread.sleep(20)
    if (sink.warm != WarmAppends * PerAppend)
      throw new IllegalStateException(s"warm-up delivered ${sink.warm} of ${WarmAppends * PerAppend}")
  }

  def measure(spark: SparkSession, seconds: Int): Outcome = {
    tracing.foreach(_.progress.clear())
    val before = tracing.map(_.counters.snapshot)
    val appends = seconds * AppendsPerSecond
    val expected = appends.toLong * PerAppend
    sink.expect(expected)
    val t0 = System.nanoTime() + 100000000L
    var appendedBytes = 0L
    var failedAppends = 0
    val lateMs = new Array[Double](appends)
    val writeS = new Array[Double](appends)
    val driverS = new Array[Double](appends)
    (0 until appends).foreach { k =>
      val due = t0 + k * (1000000000L / AppendsPerSecond)
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      val start = System.nanoTime()
      lateMs(k) = (start - due) / 1e6
      val (df, bytes) = records(spark, 't', k.toLong * PerAppend, PerAppend, due)
      appendedBytes += bytes
      try tracer.span("tail.append", s"a$k")(tracer.span("sources.write", s"a$k")(append(df)))
      catch { case _: Exception => failedAppends += 1 }
      val end = System.nanoTime()
      writeS(k) = (end - start) / 1e9
      driverS(k) = tracing.map(t => (end - t.counters.lastJobEndNs.get) / 1e9).getOrElse(0.0)
    }
    val windowEnd = System.nanoTime()
    val backlog = expected - sink.delivered
    val drainDeadline = System.nanoTime() + DrainSeconds * 1000000000L
    while (sink.delivered < expected && System.nanoTime() < drainDeadline) Thread.sleep(20)
    query.stop()
    val wallS = (System.nanoTime() - t0) / 1e9

    val lats = sink.latenciesMs
    val lastSeen = sink.lastSeenNs
    val e2e = Map(
      "rate_per_s" -> sink.delivered / math.max(1e-9, (lastSeen - t0) / 1e9),
      "lat_p50_ms" -> Stats.quantile(lats, 0.5),
      "lat_p95_ms" -> Stats.quantile(lats, 0.95))
    val failed = sink.failures
    val layers = tracing.map { t =>
      t.counters.settle()
      val counters = t.counters.snapshot.map { case (k, v) => k -> (v - before.get(k)) }
      val (files, alloc) = Layers.spoolSize(new File(spool, Stream))
      Layers.common(e2e, counters, wallS, tracer) ++
        Layers.stream(t.progress.triggers) ++
        Layers.consumePath(spark, tracer, spool, Stream) ++
        Map("sources.write_s" -> Stats.median(writeS.toSeq),
          "sources.write_driver_s" -> Stats.median(driverS.toSeq),
          "sources.files" -> files.toDouble, "sources.alloc_bytes" -> alloc.toDouble,
          "sources.alloc_bytes_per_payload_byte" ->
            alloc.toDouble / (historyBytes + appendedBytes),
          "tail.gen_late_p99_ms" -> Stats.quantile(lateMs.toSeq, 0.99),
          "tail.backlog_end" -> backlog.toDouble)
    }.getOrElse(Map.empty)
    Outcome(attempted = expected, failed = failed + failedAppends.toLong * PerAppend,
      e2e = e2e, layers = layers,
      notes = Map("appends" -> appends.toString, "samples" -> lats.size.toString,
        "backlog_end" -> backlog.toString, "gen_late_max_ms" -> lateMs.max.toString,
        "window_s" -> ((windowEnd - t0) / 1e9).toString) ++
        sink.problem(expected).map("check" -> _))
  }
}

object Tail {
  val History = 20000
  val HistoryChunk = 20000
  /** 200 records per second, as five 40-record appends. */
  val PerAppend = 40
  val AppendsPerSecond = 5
  val WarmAppends = 10
  val Keys = 1000
  val Shards = 4
  /** The CLI's default `--interval` and `--limit`. */
  val IntervalMs = 100L
  val LimitPerTrigger = 500
  val DrainSeconds = 30
  val Stream = "tail"
  private val Filler = "tail record filler text " * 6
}

/** Collects rendered lines: each measured record's latency and how often
  * each id arrived. History (`h`) lines must never appear; warm-up (`w`)
  * lines are counted apart. `inject` drops or duplicates one measured line.
  */
final class TailSink(tracer: Tracer, inject: Option[String]) {
  @volatile var warm = 0
  @volatile var delivered = 0L
  @volatile var lastSeenNs = 0L
  private var seen = new Array[Int](0)
  private var history = 0L
  private var unknown = 0L
  private val lats = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var injected = false

  def expect(n: Long): Unit = synchronized { seen = new Array[Int](n.toInt); lats.clear() }

  def apply(df: DataFrame, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    val lines = df.select(col("line")).collect().map(_.getString(0))
    val now = System.nanoTime()
    synchronized {
      lines.foreach { line =>
        val f = line.substring(20).split(' ')
        val id = f(0).drop(1).toLong
        val copies = f(0).head match {
          case 't' if inject.contains("drop") && !injected => injected = true; 0
          case 't' if inject.contains("dup") && !injected => injected = true; 2
          case _ => 1
        }
        f(0).head match {
          case 't' if id < seen.length =>
            seen(id.toInt) += copies
            delivered += copies
            (0 until copies).foreach(_ => lats += (now - f(1).toLong) / 1e6)
            lastSeenNs = now
          case 'w' => warm += 1
          case 'h' => history += 1
          case _ => unknown += 1
        }
      }
    }
    tracer.record("sink.batch", s"b$batchId", 0L, t0, now)
  }

  def latenciesMs: Seq[Double] = synchronized(lats.toList)

  /** Missing, duplicated, history and unrecognised lines. */
  def failures: Long = synchronized {
    seen.count(_ != 1).toLong + history + unknown
  }

  def problem(expected: Long): Option[String] = synchronized {
    val missing = seen.count(_ == 0)
    val dup = seen.count(_ > 1)
    if (missing + dup + history + unknown == 0) None
    else Some(s"missing $missing, duplicated $dup, history $history, unrecognised $unknown of $expected")
  }
}
