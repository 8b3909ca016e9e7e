package graft

import graft.kpl.KplCodec
import graft.sources.{ShardSpoolSink, ShardSpoolSource, StartPosition}
import graft.streaming.ProduceSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp

/** Streaming semantics through the CLI's own path: lines go in through
  * `Cli.produce` (the `graft-shards` sink) and come out of
  * `Cli.consumeFrame` (one `graft-shards` source per stream) — the four
  * start modes, per-trigger limit, closed-shard skip, multi-stream fan-in,
  * KPL de-aggregation, checkpoint resume, the verbose produce ack and the
  * stream-info table; plus watermark late-data drop and the sink's
  * per-record error tolerance. ShardSpoolSourceSpec / ShardSpoolSinkSpec
  * pin the same contracts one layer down, on the source and sink alone.
  */
class StreamingSpec extends SparkSpec {

  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
  private def tmp(): String = Files.createTempDirectory("graft-stream").toString

  private def ts(s: String) = Timestamp.valueOf(s)

  private def produce(dir: String, lines: Seq[String], key: Option[String] = None,
      aggregated: Boolean = false, stream: String = "s1"): Seq[(String, Long)] =
    Cli.produce(spark, Cli.ProduceConfig(stream = stream, key = key,
      aggregated = aggregated, spool = dir), lines)

  private def consume(dir: String, iterator: String, since: Option[String] = None,
      seq: Option[Long] = None, limit: Int = 500, streams: Seq[String] = Seq("s1"),
      verbose: Boolean = false): DataFrame =
    Cli.consumeFrame(spark, Cli.ConsumeConfig(streams = streams, iterator = iterator,
      since = since, seq = seq, limit = limit, verbose = verbose, spool = dir))

  /** Rendered lines of a plain-mode consume, timestamp column dropped. */
  private def messages(df: DataFrame): Seq[String] =
    df.collect().map(_.getString(0).drop("yyyy-MM-dd HH:mm:ss ".length)).toSeq.sorted

  /** Run a streaming frame to completion over current spool contents. */
  private def drain(df: DataFrame): (DataFrame, StreamingQuery) = {
    val name = s"t${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    (spark.table(name), q)
  }

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!cond) {
      assert(System.nanoTime() < deadline, s"timed out waiting for $what")
      Thread.sleep(100)
    }
  }

  private def rec(dir: String, stream: String, shard: String, seq: Long): File =
    new File(s"$dir/$stream/$shard", f"$seq%020d.rec")

  /** Two keys the producer routes to different shards. */
  private val (keyA, keyB) = {
    def shard(k: String) = ShardSpoolSink.shardFor(k, Cli.ProduceShards)
    ("key0", Iterator.from(1).map(i => s"key$i").find(k => shard(k) != shard("key0")).get)
  }

  private val lines4 = Seq("r1", "r2", "r3", "r4")

  test("TRIM_HORIZON reads everything") {
    val dir = tmp()
    produce(dir, lines4)
    assert(messages(drain(consume(dir, "TRIM_HORIZON"))._1) == lines4)
  }

  test("LATEST only surfaces records newer than the open-time high-water mark") {
    val dir = tmp()
    // one key → one shard, known to the query at open
    produce(dir, Seq("old1", "old2"), key = Some("k"))
    assert(messages(drain(consume(dir, "LATEST"))._1).isEmpty,
      "records present at open are skipped")
    val name = s"t${System.nanoTime()}"
    val q = consume(dir, "LATEST").writeStream.format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      eventually("the first trigger to resolve the high-water marks")(q.recentProgress.nonEmpty)
      produce(dir, Seq("new1", "new2"), key = Some("k"))
      eventually("the new records")(spark.table(name).count() >= 2)
      assert(messages(spark.table(name)) == Seq("new1", "new2"))
    } finally q.stop()
  }

  test("AT_SEQUENCE_NUMBER starts from the given sequence number inclusive") {
    val dir = tmp()
    val acks = produce(dir, lines4, key = Some("k"))
    assert(acks.map(_._2) == Seq(0L, 1L, 2L, 3L), "one shard, dense sequence in line order")
    assert(messages(drain(consume(dir, "AT_SEQUENCE_NUMBER", seq = Some(2L)))._1) ==
      Seq("r3", "r4"))
  }

  test("AT_TIMESTAMP starts from the parsed RFC3339 instant") {
    val dir = tmp()
    val acks = produce(dir, lines4, key = Some("k"))
    // arrival time is the record file's mtime: r1..r4 arrive at 00:00..03:00
    acks.zipWithIndex.foreach { case ((shard, seq), i) =>
      rec(dir, "s1", shard, seq).setLastModified(
        java.time.Instant.parse(s"2024-01-01T0$i:00:00Z").toEpochMilli)
    }
    val (out, _) = drain(consume(dir, "AT_TIMESTAMP", since = Some("2024-01-01T02:00:00Z")))
    assert(messages(out) == Seq("r3", "r4"))
  }

  test("AT_TIMESTAMP with no --since uses the zero time (reads everything)") {
    val dir = tmp()
    val acks = produce(dir, lines4)
    acks.foreach { case (shard, seq) => rec(dir, "s1", shard, seq).setLastModified(1000L) }
    assert(messages(drain(consume(dir, "AT_TIMESTAMP"))._1) == lines4)
  }

  test("invalid --since fails fast before any stream starts (consumer.go:48-51)") {
    val e = intercept[IllegalArgumentException] {
      StartPosition.parse("AT_TIMESTAMP", since = Some("invalid-timestamp"))
    }
    assert(e.getMessage.contains("RFC3339"))
    val active = spark.streams.active.length
    val e2 = intercept[IllegalArgumentException] {
      consume(tmp(), "AT_TIMESTAMP", since = Some("invalid-timestamp"))
    }
    assert(e2.getMessage.contains("RFC3339"))
    assert(spark.streams.active.length == active, "no query was started")
  }

  test("closed shards are skipped at startup (consumer.go:116-123)") {
    val dir = tmp()
    produce(dir, Seq("a1", "a2"), key = Some(keyA))
    produce(dir, Seq("b1", "b2"), key = Some(keyB))
    val closedShard = ShardSpoolSink.shardFor(keyB, Cli.ProduceShards)
    Files.write(new File(s"$dir/s1/$closedShard/_closed").toPath, Array.emptyByteArray)
    assert(messages(drain(consume(dir, "TRIM_HORIZON"))._1) == Seq("a1", "a2"))
  }

  test("multi-stream fan-in unions concurrently consumed streams (consumer.go:53-55)") {
    val dir = tmp()
    produce(dir, lines4)
    produce(dir, Seq("rx"), stream = "s2")
    val (out, _) = drain(consume(dir, "TRIM_HORIZON", streams = Seq("s1", "s2"), verbose = true))
    // verbose line: <date> <time> <stream> <shardId> <seq> <message>
    val fields = out.collect().map(_.getString(0).split(" "))
    assert(fields.length == 5)
    assert(fields.map(_(2)).distinct.sorted.toSeq == Seq("s1", "s2"))
    assert(fields.map(_(5)).sorted.toSeq == (lines4 :+ "rx").sorted)
  }

  test("per-trigger limit caps each micro-batch (Limit analog, consumer.go:149-152)") {
    val dir = tmp()
    produce(dir, lines4, key = Some("k"))
    val (out, q) = drain(consume(dir, "TRIM_HORIZON", limit = 1))
    assert(out.count() == 4)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 4, "1-record-per-trigger must yield 4 non-empty micro-batches")
    assert(batches.forall(_.numInputRows == 1))
  }

  test("deaggregation works as a streaming transform") {
    val dir = tmp()
    val lines = (1 to 5).map(i => s"child$i")
    val acks = produce(dir, lines, key = Some("k"), aggregated = true)
    assert(acks.length == 1, "-a packs one key's lines into one KPL record")
    assert(messages(drain(consume(dir, "TRIM_HORIZON"))._1) == lines)
  }

  test("watermark drops late events in streaming session aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("tss", "user_id")
      .withWatermark("tss", "1 hour")
      .groupBy(window(col("tss"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val name = s"t${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    input.addData((ts("2024-01-01 00:10:00"), 1L))
    q.processAllAvailable()
    // advance watermark far past the first window, then send a late event
    input.addData((ts("2024-01-01 06:00:00"), 1L))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:20:00"), 1L)) // late: before watermark
    q.processAllAvailable()
    input.addData((ts("2024-01-01 09:00:00"), 1L)) // closes the first window
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table(name)
      .select(unix_micros(col("window.start")).as("ws"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // late event must NOT have been added to the 00:00 window
    assert(emitted(ts("2024-01-01 00:00:00").getTime * 1000) == 1L)
  }


  test("produce → consume round trip through the spool (PutRecord emulation)") {
    val dir = tmp()
    val out = new java.io.ByteArrayOutputStream()
    val acks = Console.withOut(out) {
      Cli.produce(spark, Cli.ProduceConfig(stream = "out", verbose = true, spool = dir),
        Seq("msg one", "msg two", "msg three"))
    }
    // the verbose ack (producer.go:47-50) names exactly the .rec files written
    val written = new File(s"$dir/out").listFiles().toSeq
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .flatMap(d => d.listFiles().toSeq.map(f => (d.getName, f.getName)))
      .sorted
    assert(written.length == 3)
    assert(acks.map { case (shard, seq) => (shard, f"$seq%020d.rec") }.sorted == written)
    assert(out.toString("UTF-8").split("\n").toSeq ==
      acks.flatMap { case (shard, seq) => Seq(s"$shard $seq", "---") })
    val (lines, _) = drain(Cli.consumeFrame(spark,
      Cli.ConsumeConfig(streams = Seq("out"), iterator = "TRIM_HORIZON", spool = dir)))
    assert(messages(lines) == Seq("msg one", "msg three", "msg two"))
  }

  test("producer tolerates per-record failures and continues (producer.go:44-46)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val input = MemoryStream[String]
    // a null partition key is a rejected PutRecord: the sink prints an
    // ERROR line for that record only and commits the healthy rows
    val records = input.toDF()
      .select(when(col("value") === "poison", lit(null: String))
        .otherwise(col("value")).as("partitionKey"),
        col("value").cast("binary").as("data"))
    val q = records.writeStream.format("graft-shards")
      .option("path", dir).option("stream", "out").option("shardCount", "2")
      .option("checkpointLocation", tmp())
      .start()
    try {
      input.addData("ok1", "poison", "ok2")
      q.processAllAvailable()
    } finally q.stop()
    val bodies = ShardSpoolSource.shardDirs(new File(s"$dir/out")).flatMap { d =>
      ShardSpoolSource.seqs(d).map { seq =>
        new String(Files.readAllBytes(rec(dir, "out", d.getName, seq).toPath),
          StandardCharsets.UTF_8).split("\n", 2)(1)
      }
    }
    assert(bodies.sorted == Seq("ok1", "ok2"))
  }

  test("produce-side aggregation round-trips through deaggregate (D4 done properly)") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1 to 25).map(i => Row(s"key${i % 3}", b(s"payload$i"))), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("partitionKey",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("data",
          org.apache.spark.sql.types.BinaryType))))
    val aggregated = ProduceSink.aggregateRecords(df, maxPerRecord = 4)
    assert(aggregated.collect().forall(r => KplCodec.isAggregated(r.getAs[Array[Byte]]("data"))))
    val restored = aggregated.collect()
      .flatMap(r => KplCodec.deaggregate(r.getAs[Array[Byte]]("data")))
      .map { case (k, d) => (k, new String(d, StandardCharsets.UTF_8)) }
    assert(restored.length == 25)
    assert(restored.toSet == (1 to 25).map(i => (s"key${i % 3}", s"payload$i")).toSet)
  }


  test("checkpoint restart resumes from committed offsets, no reprocessing") {
    val dir = tmp()
    val ckpt = s"$dir/_ckpt"
    def run(): Unit = {
      val q = consume(dir, "TRIM_HORIZON").writeStream.format("parquet")
        .option("path", s"$dir/_out").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    produce(dir, Seq("r1"), key = Some("k"))
    run() // processes r1
    produce(dir, Seq("r2"), key = Some("k"))
    run() // NextShardIterator analog: resumes at the checkpointed offset
    assert(messages(spark.read.parquet(s"$dir/_out")) == Seq("r1", "r2"),
      "each record delivered exactly once across restarts")
  }

  test("stream-info table renders the 6-row descriptor (consumer.go:88-114)") {
    val dir = tmp()
    produce(dir, Seq("a1"), key = Some(keyA))
    produce(dir, Seq("b1"), key = Some(keyB))
    val closedShard = ShardSpoolSink.shardFor(keyB, Cli.ProduceShards)
    Files.write(new File(s"$dir/s1/$closedShard/_closed").toPath, Array.emptyByteArray)
    val rows = ShardSpoolSource.streamInfo(spark, dir, "s1")
      .collect().map(x => (x.getString(0), x.getString(1))).toSeq
    assert(rows.map(_._1) == Seq("Stream name:", "Created at:", "Encryption:",
      "Retention:", "Active:", "Closed:"))
    val info = rows.toMap
    assert(info("Stream name:") == "s1")
    assert(info("Created at:").matches("""\w{3}, \d{2} \w{3} \d{4} \d{2}:\d{2}:\d{2} UTC"""),
      info("Created at:"))
    assert(info("Encryption:") == "NONE")
    assert(info("Retention:") == "24 hours")
    assert(info("Active:") == "1 shards")
    assert(info("Closed:") == "1 shards")
  }
}
