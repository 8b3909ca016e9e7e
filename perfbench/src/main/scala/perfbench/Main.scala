package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** What one workload reports back to [[Main]]. `e2e` must hold every
  * end-to-end metric and `layers` the per-layer metrics the workload
  * touches; layers it never calls read 0.
  */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    notes: Map[String, String] = Map.empty)

/** A workload: set up (possibly several times), then measure. */
trait Workload {
  /** Fresh inputs and state for one set-up, ending just before the first
    * timed operation. Called once per set-up repetition; the last call's
    * state is the one [[measure]] runs against.
    */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Drops a superseded set-up's files; runs untimed between set-ups. */
  def discard(): Unit = ()
  def measure(spark: SparkSession, seconds: Int): Outcome
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, fixture: File, inject: Option[String], digests: Option[String])

object Main {
  /** Reported by untraced runs; each workload's `lat_p95_ms` is recorded
    * beside them but not reported, being too unsteady on a shared box.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rate_per_s" -> "1/s", "lat_p50_ms" -> "ms")

  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 5

  val Cpus = 4

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("fixture")),
      m.get("inject"), m.get("digests"))
  }

  def session(work: File, tracing: Option[Tracing]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    (graft.Tables.sessionConf ++ graft.Tables.staticConf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracing.foreach { t =>
      spark.sparkContext.addSparkListener(t.counters)
      spark.streams.addListener(t.progress)
    }
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    a.digests.foreach { mode =>
      // record or check the digest of every registered query, then stop
      val spark = session(a.work, None)
      val bad = Suite.allDigests(spark, a, record = mode == "record")
      spark.stop()
      println(s"""{"digests":${Json.str(mode)},"queries":${Suite.All.size},"mismatched":[${bad.map(Json.str).mkString(",")}]}""")
      sys.exit(if (bad.isEmpty) 0 else 1)
    }
    val prov = Provenance.start(a.work)
    val tracing = if (a.trace) Some(new Tracing) else None
    val tracer = new Tracer(a.trace)
    val wl: Workload = a.workload match {
      case "kitkat_ingest" => new Ingest(a, tracer, tracing)
      case "kitkat_tail" => new Tail(a, tracer, tracing)
      case "suite_sf001" => new Suite(a, tracer, tracing)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { rep =>
      if (spark != null) { stop(spark); wl.discard(); tracing.foreach(_.reset()) }
      val t0 = System.nanoTime()
      spark = session(a.work, tracing)
      wl.setup(spark, rep)
      (System.nanoTime() - t0) / 1e9
    }
    tracer.clear()
    val out = wl.measure(spark, a.seconds)
    stop(spark)
    if (a.trace) tracer.write(new File(a.work, s"spans-${a.workload}.json"))

    val e2e = out.e2e + ("setup_s" -> Stats.median(setups))
    val layers = Layers.names.map(n => n -> out.layers.getOrElse(n, 0.0)).toMap
    val reported = if (a.trace) layers.toSeq.map { case (n, v) => (n, v, Layers.unit(n)) }
      else EndToEnd.map { case (n, u) => (n, e2e(n), u) }
    val correct = out.failed == 0
    val provJson = prov.finish()
    // provenance and the unreported side go on a line of their own; the
    // result line is the last line of standard output
    println(s"""{"provenance":$provJson,"setups_s":${Json.arr(setups)},"notes":${Json.obj(out.notes.map { case (k, v) => k -> Json.str(v) })},"e2e":${Json.nums(e2e)}}""")
    val metrics = reported.map { case (n, v, u) => n -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"metrics":${Json.obj(metrics)}}""")
    sys.exit(if (correct) 0 else 1)
  }
}

/** The listeners a traced run registers; re-created per session. */
final class Tracing {
  var counters = new SparkCounters
  var progress = new StreamProgress
  def reset(): Unit = { counters = new SparkCounters; progress = new StreamProgress }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile of (value, weight) pairs: the smallest value whose
    * cumulative weight reaches q of the total.
    */
  def weightedQuantile(xs: Seq[(Double, Double)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val target = q * s.map(_._2).sum
    var cum = 0.0
    s.find { case (_, w) => cum += w; cum >= target }.map(_._1).getOrElse(Double.NaN)
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String = obj(m.map { case (k, v) => k -> num(v) })
}
