package graft

import graft.sources.ShardSpoolSource
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp

/** CLI + control-semantics suite: arg validation (§2 D3, ports the
  * TestRead error cases of consumer_test.go:39-107), fail-fast first-error
  * termination (§2 D1), and the assembled consume pipeline over the
  * `graft-shards` spool.
  */
class CliSpec extends SparkSpec {

  // ---- D3: argument validation (command/consume.go:34-37, produce.go:31-34)
  test("no args → help, exit 0 (root command behavior)") {
    assert(Cli.parse(Nil) == Right(Cli.Help))
  }
  test("consume without --stream → help + exit 1") {
    val Left((msg, code)) = Cli.parse(Seq("consume", "-v")): @unchecked
    assert(code == 1)
    assert(msg.contains("--stream is required"))
    assert(msg.contains("Usage:"))
  }
  test("produce without --stream → help + exit 1") {
    val Left((_, code)) = Cli.parse(Seq("produce")): @unchecked
    assert(code == 1)
  }
  test("unknown command rejected") {
    val Left((msg, code)) = Cli.parse(Seq("destroy", "-s", "x")): @unchecked
    assert(code == 1)
    assert(msg.contains("unknown command"))
  }
  test("consume flags parse with reference defaults (limit 500, interval 100, LATEST)") {
    val Right(Cli.Consume(cfg)) = Cli.parse(Seq("c", "-s", "a,b")): @unchecked
    assert(cfg.streams == Seq("a", "b")) // comma-split fan-in, consumer.go:53
    assert(cfg.limit == 500 && cfg.interval == 100L)
    assert(cfg.iterator == "LATEST" && !cfg.verbose)
    assert(cfg.region == "us-west-2")
  }
  test("consume full flag set") {
    val Right(Cli.Consume(cfg)) = Cli.parse(Seq("consume",
      "--stream", "s1", "-I", "AT_TIMESTAMP", "-t", "2024-01-01T02:00:00Z",
      "-l", "7", "-i", "250", "-c", "zlib", "-v", "--spool", "/tmp/x")): @unchecked
    assert(cfg.iterator == "AT_TIMESTAMP" && cfg.since.contains("2024-01-01T02:00:00Z"))
    assert(cfg.limit == 7 && cfg.interval == 250L)
    assert(cfg.compress.contains("zlib") && cfg.verbose && cfg.spool == "/tmp/x")
  }
  test("produce flags parse (key, aggregated, verbose)") {
    val Right(Cli.Produce(cfg)) = Cli.parse(Seq("p", "-s", "out",
      "-k", "fixed", "-a", "-v")): @unchecked
    assert(cfg.key.contains("fixed") && cfg.aggregated && cfg.verbose)
  }
  test("--verify-md5 parses; default stays reference-parity (no verification)") {
    val Right(Cli.Consume(on)) =
      Cli.parse(Seq("consume", "-s", "a", "--verify-md5")): @unchecked
    assert(on.verifyMd5)
    val Right(Cli.Consume(off)) = Cli.parse(Seq("consume", "-s", "a")): @unchecked
    assert(!off.verifyMd5)
  }

  // ---- the assembled consume pipeline (SURVEY §3.1 lifecycle)
  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
  private def tmp(): String = Files.createTempDirectory("graft-cli").toString

  /** Put one record file into the spool, arriving at `at` (its mtime). */
  private def put(dir: String, seq: String, key: String, payload: Array[Byte],
      at: String = "2024-01-02T03:04:05Z"): Unit = {
    val d = new java.io.File(s"$dir/s1/shardId-000000000000"); d.mkdirs()
    val f = new java.io.File(d, s"$seq.rec")
    Files.write(f.toPath, b(key + "\n") ++ payload)
    f.setLastModified(java.time.Instant.parse(at).toEpochMilli)
  }

  private def drain(df: DataFrame): Seq[String] = {
    val name = s"t${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.table(name).collect().map(_.getString(0)).toSeq
  }

  test("consume pipeline: deaggregate + zlib + console projection end-to-end") {
    val dir = tmp()
    val deflated = {
      val buf = new java.io.ByteArrayOutputStream()
      val dos = new java.util.zip.DeflaterOutputStream(buf)
      dos.write(b("compressed payload\n")); dos.close(); buf.toByteArray
    }
    put(dir, f"${1L}%020d", "parent", graft.kpl.KplCodec.aggregate(Seq("k1" -> deflated)))
    val cfg = Cli.ConsumeConfig(streams = Seq("s1"), iterator = "TRIM_HORIZON",
      compress = Some("zlib"), spool = dir)
    // deaggregated, inflated, trailing \n trimmed, ts-formatted
    assert(drain(Cli.consumeFrame(spark, cfg)) == Seq("2024-01-02 03:04:05 compressed payload"))
  }

  test("--verify-md5 passes NULL-data rows through while dropping corrupt frames") {
    // graft_is_kpl/graft_kpl_md5_ok are nullSafeEval, so without the
    // explicit `data IS NULL OR` arm a NULL-data row would filter to NULL
    // and be silently dropped — diverging from the default path, which
    // passes NULLs through deaggregate. The verify filter must only drop
    // provably-corrupt KPL frames. A spool record always carries data, so
    // the NULL row goes through the same verify/decode step in memory.
    val goodFrame = graft.kpl.KplCodec.aggregate(Seq("k1" -> b("good payload\n")))
    val corruptFrame = {
      val f = goodFrame.clone()
      f(f.length - 1) = (f(f.length - 1) ^ 0x5A).toByte // break the MD5 trailer
      f
    }
    def row(seq: Long, at: String, key: String, data: Array[Byte]) =
      Row("s1", "shardId-000000000000", seq, Timestamp.valueOf(at), key, data)
    val rows = Seq(
      row(1L, "2024-01-02 03:04:05", "pk-good", goodFrame),
      row(2L, "2024-01-02 03:04:06", "pk-corrupt", corruptFrame),
      row(3L, "2024-01-02 03:04:07", "pk-null", null))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      ShardSpoolSource.schema)
    val cfg = Cli.ConsumeConfig(streams = Seq("s1"), iterator = "TRIM_HORIZON",
      verifyMd5 = true)
    val out = Cli.decode(raw, cfg).collect().map(_.getString(0)).sorted
    // corrupt frame dropped whole; good frame deaggregated; NULL-data row kept
    assert(out.length == 2, s"got ${out.toSeq}")
    assert(out.exists(_.endsWith("good payload")))
    assert(out.forall(!_.contains("corrupt")))
  }

  test("produce → consume round trip under -c zlib and --verify-md5") {
    // stdin lines through Cli.produce (plain and -a) come back unchanged:
    // -c zlib passes non-deflated payloads through raw, --verify-md5 keeps
    // every intact KPL frame
    val dir = tmp()
    val plain = Seq("plain one", "plain two")
    val packed = Seq("packed one", "packed two", "packed three")
    Cli.produce(spark, Cli.ProduceConfig(stream = "s1", spool = dir), plain)
    Cli.produce(spark, Cli.ProduceConfig(stream = "s1", key = Some("k"),
      aggregated = true, spool = dir), packed)
    val cfg = Cli.ConsumeConfig(streams = Seq("s1"), iterator = "TRIM_HORIZON",
      compress = Some("zlib"), verifyMd5 = true, spool = dir)
    val out = drain(Cli.consumeFrame(spark, cfg)).map(_.drop("yyyy-MM-dd HH:mm:ss ".length))
    assert(out.sorted == (plain ++ packed).sorted)
  }

  // ---- D1: first stream error terminates the query (consumer.go:57-61)
  test("fail-fast: a poisoned shard file kills the whole query") {
    val dir = tmp()
    put(dir, f"${1L}%020d", "k", b("ok"))
    // a record file whose name is not a sequence number → the shard can't
    // be listed → the query fails
    put(dir, "zzz-poison", "k", b("this is not a record"))
    val cfg = Cli.ConsumeConfig(streams = Seq("s1"), iterator = "TRIM_HORIZON", spool = dir)
    val q = Cli.consumeFrame(spark, cfg).writeStream.format("memory")
      .queryName(s"t${System.nanoTime()}")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[StreamingQueryException] { q.awaitTermination() }
    assert(e.getMessage != null)
  }
}
