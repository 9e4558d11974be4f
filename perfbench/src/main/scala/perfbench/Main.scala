package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What a workload hands back: operation counts, failures found by its
  * checks, the end-to-end metrics and (traced runs) the per-layer ones. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private val born = System.nanoTime()

  /** Record when a phase ended, in seconds since the workload started. */
  def mark(phase: String): Unit = info(s"at_${phase}_s") = (System.nanoTime() - born) / 1e9

  /** Count one failed item, keeping the first few reasons. */
  def fail(why: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += why
  }
  def check(ok: Boolean, why: => String): Unit = { attempted += 1; if (!ok) fail(why) }
}

/** Everything a workload needs. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val work: String, val data: String, val cores: Int,
    val trace: Trace, val meter: Option[Meter]) {
  def path(rel: String): String = s"$work/$rel"
}

/** Spark's bundled Jackson, with Scala collections, for the result and
  * trace files. */
object Json {
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
}

object Stats {
  /** Linear-interpolation percentile (q in 0..1); NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = q * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Entry point of the benchmark JVM (launched by perfbench/run.py):
  *
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --data DIR --cores C --out FILE --trace-out FILE`
  *
  * Runs one workload in a fresh session and writes one JSON object
  * with its counts, checks and metrics to FILE. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    val spark = SparkSession.builder()
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .master(s"local[$cores]").getOrCreate()
    graft.GraftSession.create(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val traced = a("trace") == "1"
    val meter = if (traced) Some(new Meter(spark)) else None
    meter.foreach(_.install())
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toInt, work,
      a("data"), cores, new Trace(traced, spark.sparkContext), meter)
    val res = a("workload") match {
      case "events" => EventWorkloads.events(ctx)
      case "queries" => QueryWorkload.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res.e2e("live_heap_mb") = liveHeapMb()
    res.info("peak_rss_mb") = peakRssMb()
    meter.foreach { m =>
      m.drain()
      val spans = ctx.trace.finish(m)
      ctx.trace.selfMs(spans).toSeq.sortBy(_._1).foreach { case (l, ms) =>
        res.layers(s"$l.self_ms") = ms }
      ctx.trace.write(a("trace-out"), spans)
      res.info("spans") = spans.size
    }
    res.info("heap_max_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
    res.info("spark_version") = spark.version
    Json.mapper.writeValue(new java.io.File(a("out")), Map(
      "attempted" -> res.attempted, "failed" -> res.failed, "problems" -> res.problems,
      "e2e" -> res.e2e, "layers" -> res.layers, "info" -> res.info))
    spark.stop()
  }

  /** Heap still reachable at the end of the workload (after a full GC),
    * in MB: what the program keeps in memory. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    // a collection lets Spark's ContextCleaner drop blocks whose owners
    // died; the later ones reclaim what it released
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
