package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options, as the benchmark's runner passes them. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, out: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", new java.io.File(get("work")).getAbsolutePath,
      new java.io.File(get("out")).getAbsolutePath)
  }
}

/** What one run measured. `e2e` holds the end-to-end metrics every
  * workload reports under the same names; `named` holds the workload's
  * own figures under their descriptive names; `layers` the per-layer
  * metrics, all of which are reported on every workload (0 where the
  * layer does no work).
  */
final class Result(val workload: String) {
  var attempted = 0
  var failed = 0
  val failures = mutable.Buffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val named = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap[String, Double](
    Metrics.perLayer.map(_._1 -> 0.0): _*)
  val selfTimes = mutable.LinkedHashMap.empty[String, Double]

  /** Count one output check; a false one is a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  /** Run one timed operation; an exception counts as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        attempted += 1; failed += 1; failures += s"$what: $e"
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
}

object Metrics {
  /** End-to-end metrics: (name, unit). Every workload reports all four. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "primary_s" -> "s", "secondary_s" -> "s",
    "retained_heap_mb" -> "MB")

  /** Per-layer metrics: (name, unit). */
  val perLayer: Seq[(String, String)] = Seq(
    "functions.fused_us_per_doc" -> "us",
    "functions.stats_us_per_doc" -> "us",
    "functions.scrub_us_per_doc" -> "us",
    "functions.langid_us_per_doc" -> "us",
    "functions.ppl_us_per_doc" -> "us",
    "quality_filter.docs_per_s" -> "1/s",
    "quality_filter.docs_per_s_local1" -> "1/s",
    "quality_filter.scaling_eff" -> "ratio",
    "quality_filter.task_busy_s" -> "s",
    "quality_filter.busy_frac" -> "ratio",
    "spark.gc_s" -> "s",
    "resume.bucket_commit_s_p50" -> "s",
    "resume.buckets_run" -> "count",
    "resume.buckets_skipped" -> "count",
    "resume.heal_appends" -> "count",
    "metrics_store.append_calls" -> "count",
    "metrics_store.append_s" -> "s",
    "metrics_store.rows_appended" -> "count",
    "metrics_store.files" -> "count",
    "metrics_store.read_s" -> "s",
    "dedup.reps_s" -> "s",
    "dedup.links_s" -> "s",
    "dedup.cand_s" -> "s",
    "dedup.pairs_s" -> "s",
    "dedup.decisions_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio",
    "dedup.max_over_median_task_s" -> "ratio",
    "pipeline.corpus_write_s" -> "s",
    "pipeline.report_s" -> "s",
    "plans.compile_s" -> "s",
    "plans.union_job_s" -> "s",
    "plans.anomaly_s" -> "s",
    "plans.summary_s" -> "s",
    "plans.jobs_per_run" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "trace.unattributed_s" -> "s",
    "trace.overhead_frac" -> "ratio")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail latency a run can measure steadily: the upper quartile.
    * A higher percentile with at least ten samples above it would need
    * far more operations than one run holds.
    */
  def tail(xs: Seq[Double]): Double = quantile(xs, 0.75)
}

object Env {
  /** Spark session shaped like the library CLI's (graft.Main): AQE with
    * skew-join handling, UTC; plus a bounded core count, shuffle
    * partitions sized to the machine (two per core at local[4], kept the
    * same at local[1] so both arms run the same plan), and every scratch
    * directory inside the benchmark's work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-local$cores")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Driver heap still in use after forced full collections, in MB: the
    * least of three collections 150 ms apart, so state that Spark's
    * cleaner thread releases after a collection is not counted.
    */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Fixed single-thread CPU probe: milliseconds for 100M FNV-1a steps.
    * Taken before and after a run, it shows a contended machine without
    * changing any metric.
    */
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1469598103934665603L
    var i = 0L
    while (i < 100000000L) { x ^= i; x *= 1099511628211L; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  def memAvailableMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().find(_.startsWith("MemAvailable:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Copy a directory tree; `to` must not exist yet. */
  def copyRecursively(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f =>
        copyRecursively(f, new java.io.File(to, f.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def filesUnder(dir: String, suffix: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(suffix)) 1 else 0
    walk(new java.io.File(dir))
  }

  def bytesUnder(dir: String, suffix: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(suffix)) f.length() else 0L
    walk(new java.io.File(dir))
  }
}
