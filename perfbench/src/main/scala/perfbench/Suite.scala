package perfbench

import graft.Q
import java.io.File
import org.apache.spark.sql.{Row, SparkSession}

/** The analytics registries over the committed sf0.01 fixture: a fixed
  * sample of [[graft.SparkEntry.queries]] (every 30th query of each
  * registry's name-sorted list, so all nine registries are covered). Each
  * query's rows are first checked against a digest recorded at the seed
  * commit; then the sample runs in sorted order into Spark's noop sink, pass
  * after pass, and a query's time is its median over the passes.
  */
final class Suite(a: Args, tracer: Tracer, tracing: Option[Tracing]) extends Workload {
  import Suite._

  private val dir = a.fixture.getAbsolutePath

  def setup(spark: SparkSession, rep: Int): Unit = {
    if (!new File(a.fixture, "lineitem.parquet").exists())
      throw new IllegalStateException(s"fixture missing: $dir")
    graft.SparkEntry.queries(WarmUp)(spark, dir).write.format("noop").mode("overwrite").save()
  }

  def measure(spark: SparkSession, seconds: Int): Outcome = {
    val queries = graft.SparkEntry.queries
    val names = Sample.map(_._1)
    // the output check runs first and untimed: it is each query's first,
    // cold execution in the session, so the timed passes that follow are warm
    val digests = Digests.load(DigestFile(a))
    val failedQ = scala.collection.mutable.Set.empty[String]
    val mismatched = names.filter { n =>
      val got = try Some(Digests.of(queries(n)(spark, dir).collect().toSeq))
        catch { case e: Exception => failedQ += n; System.err.println(s"[suite] $n failed: $e"); None }
      val want = digests.get(n)
      if (got.isDefined && got != want) System.err.println(s"[suite] $n digest ${got.get}, want $want")
      got.isDefined && got != want
    }
    val before = tracing.map(_.counters.snapshot)
    val t0 = System.nanoTime()
    val build = names.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val exec = names.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var passes = 0
    while (passes < MinPasses || System.nanoTime() - t0 < seconds * 1000000000L) {
      System.gc()
      names.filterNot(failedQ).foreach { n =>
        try tracer.span("suite.query", n) {
          val s = System.nanoTime()
          val df = tracer.span("suite.build", n)(queries(n)(spark, dir))
          val m = System.nanoTime()
          tracer.span("suite.exec", n)(df.write.format("noop").mode("overwrite").save())
          build(n) += (m - s) / 1e9
          exec(n) += (System.nanoTime() - m) / 1e9
        } catch { case e: Exception => failedQ += n; System.err.println(s"[suite] $n failed: $e") }
      }
      passes += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val ok = names.filterNot(failedQ)
    val wallOf = ok.map(n => n -> Stats.median(build(n).indices.map(i => build(n)(i) + exec(n)(i)))).toMap
    val e2e = Map(
      "rate_per_s" -> ok.size / wallOf.values.sum,
      "lat_p50_ms" -> Stats.median(wallOf.values.toSeq) * 1e3,
      "lat_p95_ms" -> Stats.quantile(wallOf.values.toSeq, 0.95) * 1e3)
    val counters = tracing.map { t =>
      t.counters.settle()
      t.counters.snapshot.map { case (k, v) => k -> (v - before.get(k)) }
    }
    val layers = counters.map { c =>
      val module = Sample.toMap
      Layers.common(e2e, c, wallS, tracer) ++
        Layers.Registries.map(r => s"suite.${r}_s" -> ok.filter(module(_) == r).map(wallOf).sum) ++
        Map("suite.build_s" -> ok.map(n => Stats.median(build(n).toSeq)).sum,
          "suite.exec_s" -> ok.map(n => Stats.median(exec(n).toSeq)).sum)
    }.getOrElse(Map.empty)
    Outcome(attempted = names.size, failed = (failedQ.size + mismatched.size).toLong,
      e2e = e2e, layers = layers,
      notes = Map("passes" -> passes.toString, "queries" -> names.size.toString,
        "suite_total_s" -> wallOf.values.sum.toString,
        "suite_geomean_s" -> Stats.geomean(wallOf.values.toSeq).toString) ++
        (if (failedQ.isEmpty) Map.empty else Map("failed_queries" -> failedQ.toSeq.sorted.mkString(","))) ++
        (if (mismatched.isEmpty) Map.empty else Map("digest_mismatch" -> mismatched.mkString(","))))
  }
}

object Suite {
  val MinPasses = 3
  /** Untimed warm-up query of every set-up: the suite's first entry. */
  val WarmUp = "q1_pricing_summary"

  private val registries: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> graft.operators.Relational.all,
    "ScalarQueries" -> graft.functions.ScalarQueries.all,
    "RecordQueries" -> graft.operators.RecordQueries.all,
    "LlmQueries" -> graft.operators.LlmQueries.all,
    "WindowQueries" -> graft.streaming.WindowQueries.all,
    "AdvancedQueries" -> graft.operators.AdvancedQueries.all,
    "Multimodal" -> graft.operators.Multimodal.all,
    "StatsQueries" -> graft.operators.StatsQueries.all,
    "VectorQueries" -> graft.operators.VectorQueries.all)

  /** (query, registry) of every registered query. */
  val All: Seq[(String, String)] =
    registries.flatMap { case (r, qs) => qs.map(_.name -> r) }.sortBy(_._1)

  /** Every 15th query of each registry's name-sorted list, from the first. */
  val Sample: Seq[(String, String)] =
    registries.flatMap { case (r, qs) => qs.map(_.name).sorted.grouped(30).map(_.head -> r) }
      .sortBy(_._1)

  /** Digests recorded at the seed commit, beside the fixture. */
  def DigestFile(a: Args): File = new File(a.fixture.getPath + ".digests.json")

  /** Record (or, without `record`, check) the digest of every registered
    * query; returns the names that do not match.
    */
  def allDigests(spark: SparkSession, a: Args, record: Boolean): Seq[String] = {
    val dir = a.fixture.getAbsolutePath
    val got = All.map { case (n, _) => n -> Digests.of(graft.SparkEntry.queries(n)(spark, dir).collect().toSeq) }
    if (record) { Digests.save(DigestFile(a), got); Nil }
    else {
      val want = Digests.load(DigestFile(a))
      got.filterNot { case (n, d) => want.get(n).contains(d) }.map(_._1)
    }
  }
}

/** Order-insensitive result digests: the row count and the sum (mod 2^64)
  * of a 64-bit hash of each row's rendering. Floating-point values render
  * with 9 significant digits, so a last-bit difference in an unordered
  * floating-point reduction does not read as a wrong answer.
  */
object Digests {
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => if (f.isNaN || f.isInfinite) f.toString else f"${f.toDouble}%.6g"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Seq[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5").digest(render(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(md).getLong
    }
    f"${rows.size}:$sum%016x"
  }

  def load(f: File): Map[String, String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val it = root.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
    b.result()
  }

  def save(f: File, ds: Seq[(String, String)]): Unit =
    java.nio.file.Files.writeString(f.toPath,
      ds.map { case (n, d) => s"  ${Json.str(n)}: ${Json.str(d)}" }.mkString("{\n", ",\n", "\n}\n"))
}
