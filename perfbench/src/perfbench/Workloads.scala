package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FusedScorer, LangId, Perplexity, Scrub, TextStats}
import graft.operators.{Pipeline, QualityFilter}
import graft.plans.{ConfigLoader, Runner}
import graft.sources.MetricsStore

/** Labels Spark SQL executions by the paths their plans write and read. */
object Label {
  // the formatted plan lists the write command's output path as the
  // first of its arguments
  private val writeRe =
    """Execute InsertIntoHadoopFsRelationCommand\s*\nInput: [^\n]*\nArguments: (?:file:)?(/[^\s,]+)""".r
  private val pathRe = """file:(/[^\s,\]\)]+)""".r

  def writes(plan: String): Option[String] =
    writeRe.findFirstMatchIn(plan).map(_.group(1))

  def reads(plan: String): Seq[String] =
    pathRe.findAllMatchIn(plan).map(_.group(1)).toSeq.distinct

  def under(p: String, dir: String): Boolean =
    p == dir || p.startsWith(dir + "/")
}

/** Shared machinery of the workloads. */
abstract class Workload(val a: Args) {
  val r = new Result(a.workload)
  val tracer = new Tracer(a.workload, a.trace)
  val recorder = new SparkRecorder
  val setupParts = mutable.LinkedHashMap.empty[String, Double]

  def run(): Result

  private val born = System.nanoTime()

  def sinceStartS: Double = (System.nanoTime() - born) / 1e9

  /** Progress line on standard error. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] $sinceStartS%7.2fs $msg")

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-up is made three times into separate directories and its median
    * reported, so one slow disk flush does not move the figure.
    */
  def setupMedian(name: String)(make: Int => Unit): Double = {
    val ts = (0 until 3).map(i => time(make(i))._2)
    log(s"$name: ${ts.mkString(" ")}")
    val m = Stats.median(ts)
    setupParts(name) = m
    m
  }

  def traced[T](spark: SparkSession)(body: => T): T = {
    spark.sparkContext.addSparkListener(recorder)
    try body
    finally {
      Trace.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
    }
  }

  /** SQL executions (root ones) inside a recorded span. */
  def execsIn(s: Span): Seq[Exec] =
    recorder.within(s.start - 1.0, s.end + 1.0).filter(x => x.root == x.id)

  /** Per-op Spark counts, the part of the op no execution covers, and
    * self time per execution label; averaged over the traced ops.
    */
  def account(ops: Seq[Span], label: Exec => String): Seq[Seq[(Exec, String)]] = {
    val per = ops.map { s =>
      val xs = execsIn(s).map(x => x -> label(x))
      tracer.addExecs(s, xs)
      xs
    }
    val n = ops.size.toDouble
    val all = per.flatten.map(_._1)
    r.layers("spark.jobs") = all.map(_.jobs).sum / n
    r.layers("spark.stages") = all.map(_.stages).sum / n
    r.layers("spark.tasks") = all.map(_.tasks).sum / n
    r.layers("spark.shuffle_write_bytes") = all.map(_.shuffleWriteBytes).sum / n
    r.layers("spark.spill_bytes") = all.map(_.spillBytes).sum / n
    r.layers("spark.gc_s") = all.map(_.gcMs).sum / 1000.0 / n
    r.layers("trace.unattributed_s") = ops.zip(per).map { case (s, xs) =>
      s.dur - Trace.covered(s.start, s.end, xs.map(x => (x._1.start, x._1.end)))
    }.sum / n
    per.flatten.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (l, xs) =>
      r.selfTimes(l) = xs.map(_._1.dur).sum / n
    }
    r.selfTimes("unattributed") = r.layers("trace.unattributed_s")
    per
  }

  def sumDur(xs: Seq[(Exec, String)], p: String => Boolean): Double =
    xs.filter(x => p(x._2)).map(_._1.dur).sum

  /** Single-thread cost of each measure function on `texts`. */
  def functionCosts(texts: Array[String]): Unit = {
    var sink = 0L
    def usPerDoc(f: String => Any): Double = {
      texts.foreach(t => sink += f(t).hashCode)
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 250000000L) {
        texts.foreach(t => sink += f(t).hashCode)
        n += texts.length
      }
      (System.nanoTime() - t0) / 1e3 / n
    }
    r.layers("functions.fused_us_per_doc") =
      usPerDoc(t => FusedScorer.score(UTF8String.fromString(t), true))
    r.layers("functions.stats_us_per_doc") = usPerDoc(t => TextStats.compute(t))
    r.layers("functions.scrub_us_per_doc") = usPerDoc(t => Scrub.scrubString(t))
    r.layers("functions.langid_us_per_doc") = usPerDoc(t => LangId.predict(t))
    r.layers("functions.ppl_us_per_doc") = usPerDoc(t => Perplexity.perplexity(t))
    if (sink == 42L) System.err.println("")
  }

  /** Order-independent digest of a frame's rows. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val row = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L))).head()
    (row.getLong(0), row.getLong(1))
  }
}

/** pipeline: Pipeline.runFull into fresh directories, and the restart of
  * a run killed after half the buckets. A traced run also times the
  * filter scan (see [[filterScan]]).
  */
final class PipelineRun(a: Args) extends Workload(a) {
  val buckets = 2
  val shape = Gen.PipelineShape(3000)
  /** The warm-up corpus: the same generator at a tenth of the size, with
    * a small boilerplate cluster.
    */
  val warmShape = Gen.PipelineShape(300, cluster = 30)
  val rules = QualityFilter.defaultRules
  val filterDocsN = 2500
  /** No cycle starts once the run is this old, whatever `--seconds`
    * says, so a slow machine cannot push a run past the runner's limit.
    */
  val lastCycleStartS = 90.0

  /** The killed run's directories. They are never run on again: every
    * restart runs on a copy.
    */
  private def killedDir = s"${a.work}/killed"

  def run(): Result = {
    val input = s"${a.work}/input"
    var spark: SparkSession = null
    val (_, sessionS) = time { spark = Env.session(4, a.work) }
    setupParts("session_s") = sessionS
    var sample: Array[String] = null
    setupMedian("materialise_s") { i =>
      val docs = Gen.pipelineDocs(a.seed, shape)
      if (i == 0) sample = docs.take(400).map(_.text)
      Gen.writePages(spark, docs, s"$input$i", 4)
      require(spark.read.parquet(s"$input$i").count() == shape.n)
    }
    r.named("pages") = shape.n
    r.named("boilerplate_cluster") = shape.cluster
    r.named("exact_dups") = shape.exactDups
    r.named("near_dups") = shape.nearDups
    r.named("hot_host_share") = shape.hotHostShare
    val pages = spark.read.parquet(s"${input}0")
    val fresh = mutable.Buffer.empty[Double]
    val resumed = mutable.Buffer.empty[Double]
    var cycle = 0
    def body(): Unit = {
      // warm-up, timed as set-up: a fresh run over a small corpus, then
      // the killed run over the real one. Between them they run every
      // query of a fresh run (bucket commits, ledger appends, the dedup
      // stages, the corpus write and the report), so the timed cycles
      // measure warm code
      val (_, warmS) = time {
        val warmIn = s"${a.work}/warmup/input"
        Gen.writePages(spark, Gen.pipelineDocs(a.seed, warmShape), warmIn, 4)
        val rep = Pipeline.runFull(spark, spark.read.parquet(warmIn),
          s"${a.work}/warmup/out", s"${a.work}/warmup/metrics", "bench",
          buckets = buckets)
        r.check(rep.pages == warmShape.n,
          s"warm-up report pages ${rep.pages} != ${warmShape.n}")
      }
      setupParts("warmup_small_run_s") = warmS
      val (_, killS) = time(killedRun(spark, pages))
      setupParts("warmup_killed_run_s") = killS
      val t0 = System.nanoTime()
      var last = 0.0
      while (cycle < 1 || ((System.nanoTime() - t0) / 1e9 + last < a.seconds &&
          sinceStartS + last < lastCycleStartS)) {
        val c0 = System.nanoTime()
        cycleOnce(spark, pages, cycle, fresh, resumed)
        last = (System.nanoTime() - c0) / 1e9
        cycle += 1
      }
    }
    if (a.trace) traced(spark)(body()) else body()
    if (fresh.isEmpty || resumed.isEmpty)
      throw new IllegalStateException("no pipeline cycle completed")
    r.e2e("setup_s") = setupParts.values.sum
    r.e2e("primary_s") = Stats.median(fresh.toSeq)
    r.e2e("secondary_s") = Stats.median(resumed.toSeq)
    r.named("pipeline_s") = r.e2e("primary_s")
    r.named("resume_s") = r.e2e("secondary_s")
    r.named("pipeline_s_all") = fresh.mkString(" ")
    r.named("resume_s_all") = resumed.mkString(" ")
    r.named("cycles") = cycle
    if (a.trace) {
      traceLayers()
      // one untraced fresh run after the traced cycles: the reference for
      // the tracing overhead
      r.attempt("untraced run") {
        val u = time(Pipeline.runFull(spark, pages, s"${a.work}/untraced/out",
          s"${a.work}/untraced/metrics", "bench", buckets = buckets))._2
        r.layers("trace.overhead_frac") = Stats.median(fresh.toSeq) / u - 1
      }
      functionCosts(sample)
      spark = filterScan(spark)
    }
    Trace.drain(spark.sparkContext)
    r.e2e("retained_heap_mb") = Env.retainedHeapMb()
    Env.stop(spark)
    r
  }

  /** The run killed by `failAfterBuckets` after half the buckets. Its
    * last committed bucket then loses its ledger marker, as a crash
    * between the verdict commit and the ledger append would leave it.
    */
  private def killedRun(spark: SparkSession, pages: DataFrame): Unit = {
    val (out, met) = (s"$killedDir/out", s"$killedDir/metrics")
    val killed = try {
      tracer.span("pipeline.killed", "setup") {
        Pipeline.runFull(spark, pages, out, met, "bench", buckets = buckets,
          failAfterBuckets = buckets / 2)
      }
      false
    } catch { case e: RuntimeException
      if String.valueOf(e.getMessage).contains("injected failure") => true }
    r.check(killed, "killed run did not fail at the injected point")
    val committed = (0 until buckets).filter(b =>
      new java.io.File(s"$out/verdicts/bucket=$b/_SUCCESS").exists())
    r.check(committed.size == buckets / 2,
      s"killed run committed ${committed.size} buckets, want ${buckets / 2}")
    committed.lastOption.foreach(b =>
      new java.io.File(s"$out/verdicts/bucket=$b/_METRICS_OK").delete())
  }

  private def unhealed(out: String): Int = (0 until buckets).count { b =>
    new java.io.File(s"$out/verdicts/bucket=$b/_SUCCESS").exists() &&
      !new java.io.File(s"$out/verdicts/bucket=$b/_METRICS_OK").exists()
  }

  /** Restart a copy of the killed run to completion; checks the report,
    * the skipped buckets, the healed marker and the ledger. Returns the
    * wall seconds of the restart and the corpus digest.
    */
  private def resumeRun(spark: SparkSession, pages: DataFrame,
                        run: String): (Double, (Long, Long)) = {
    val dir = s"${a.work}/$run/resume"
    Env.copyRecursively(new java.io.File(killedDir), new java.io.File(dir))
    val (out, met) = (s"$dir/out", s"$dir/metrics")
    val before = unhealed(out)
    val (rep, s) = tracer.span("pipeline.resume", run) {
      Pipeline.runFull(spark, pages, out, met, "bench", buckets = buckets)
    }
    log(s"$run resumed $s")
    r.check(rep.bucketsSkipped == buckets / 2 &&
      rep.bucketsRun == buckets - buckets / 2,
      s"resume ran ${rep.bucketsRun} and skipped ${rep.bucketsSkipped}")
    r.check(before == 1 && unhealed(out) == 0,
      s"resume left ${unhealed(out)} of $before unmarked buckets")
    val d = checkReport(spark, rep, out)
    checkLedger(spark, met, "resumed")
    if (a.trace && run == "cycle0") {
      r.layers("resume.buckets_run") = rep.bucketsRun
      r.layers("resume.buckets_skipped") = rep.bucketsSkipped
      r.layers("resume.heal_appends") = before - unhealed(out)
    }
    (s, d)
  }

  private def cycleOnce(spark: SparkSession, pages: DataFrame, c: Int,
                        fresh: mutable.Buffer[Double],
                        resumed: mutable.Buffer[Double]): Unit = {
    val base = s"${a.work}/cycle$c"
    val (out, met) = (s"$base/fresh/out", s"$base/fresh/metrics")
    val freshCorpus = r.attempt("fresh run") {
      val (rep, s) = tracer.span("pipeline.fresh", s"cycle$c") {
        Pipeline.runFull(spark, pages, out, met, "bench", buckets = buckets)
      }
      fresh += s
      log(s"cycle$c fresh $s")
      val d = checkReport(spark, rep, out)
      checkLedger(spark, met, "fresh")
      if (a.trace && c == 0) {
        r.layers("metrics_store.rows_appended") =
          new MetricsStore(met).read(spark).count().toDouble
        r.layers("metrics_store.files") = Env.filesUnder(met, ".parquet")
        val cand = spark.read.parquet(s"$out/dedup_stages/cand").count()
        val pairs = spark.read.parquet(s"$out/dedup_stages/pairs").count()
        val links = spark.read.parquet(s"$out/dedup_stages/links").count()
        r.layers("dedup.candidate_pairs") = cand
        r.layers("dedup.verified_pairs") = pairs - links
        r.layers("dedup.verify_yield") =
          if (cand == 0) 0.0 else (pairs - links).toDouble / cand
      }
      d
    }
    r.attempt("resumed run") {
      val (s, d) = resumeRun(spark, pages, s"cycle$c")
      resumed += s
      r.check(freshCorpus.forall(_ == d),
        "resumed corpus differs from the fresh corpus")
    }
    if (!a.trace) Env.deleteRecursively(new java.io.File(base))
  }

  /** pages = input rows; kept = model-dropped + dup-dropped + corpus, with
    * the model gate off (model-dropped 0); the corpus on disk has the
    * reported size. Returns the corpus digest.
    */
  private def checkReport(spark: SparkSession, rep: Pipeline.Report,
                          out: String): (Long, Long) = {
    r.check(rep.pages == shape.n, s"report pages ${rep.pages} != ${shape.n}")
    r.check(rep.qualityKept ==
      rep.modelDropped + rep.dupDropped + rep.corpusDocs &&
      rep.modelDropped == 0, s"report does not reconcile: ${rep.json}")
    r.check(rep.dupDropped > 0, "no duplicate was dropped")
    val d = digest(spark.read.parquet(s"$out/corpus"),
      Seq("url", "scrubbed_text", "keep", "quality_score"))
    r.check(d._1 == rep.corpusDocs, "corpus size differs from the report")
    d
  }

  /** Exactly one ledger row per bucket and rule. */
  private def checkLedger(spark: SparkSession, met: String, what: String): Unit = {
    val row = new MetricsStore(met).read(spark)
      .agg(count(lit(1)), count_distinct(col("url_bucket"), col("name"))).head()
    val (n, keys) = (row.getLong(0), row.getLong(1))
    r.check(n == buckets * rules.size && keys == n,
      s"$what ledger has $n rows, $keys distinct, want ${buckets * rules.size}")
  }

  private def traceLayers(): Unit = {
    val out = s"${a.work}/cycle0/fresh/out"
    val met = s"${a.work}/cycle0/fresh/metrics"
    def label(x: Exec): String = {
      val reads = Label.reads(x.plan)
      Label.writes(x.plan) match {
        case Some(p) if Label.under(p, met) => "metrics_store.append"
        case Some(p) if p.startsWith(s"$out/verdicts/bucket=") =>
          "resume.verdict_commit"
        case Some(p) if p.startsWith(s"$out/dedup_stages/") =>
          "dedup." + p.stripPrefix(s"$out/dedup_stages/").takeWhile(_ != '/')
        case Some(p) if Label.under(p, s"$out/corpus") => "pipeline.corpus_write"
        case Some(_) => "other.write"
        case None if reads.exists(Label.under(_, met)) => "metrics_store.read"
        case None if reads.exists(_.startsWith(s"$out/verdicts/bucket=")) =>
          "metrics_store.stage"
        case None if reads.exists(Label.under(_, s"$out/dedup_stages/decisions")) =>
          "pipeline.report"
        // actions inside the dedup stages (components rounds, cap checks)
        case None if reads.exists(p => Label.under(p, s"$out/dedup_stages") ||
            Label.under(p, s"$out/verdicts")) => "dedup.internal"
        case None => "other"
      }
    }
    val op = lastSpanOf("pipeline.fresh", "cycle0")
    val xs = account(Seq(op), label).head
    r.layers("metrics_store.append_s") = sumDur(xs, _.startsWith("metrics_store."))
    r.layers("metrics_store.read_s") = sumDur(xs, _ == "metrics_store.read")
    r.layers("metrics_store.append_calls") =
      xs.count(_._2 == "metrics_store.append")
    Seq("reps", "links", "cand", "pairs", "decisions").foreach { s =>
      r.layers(s"dedup.${s}_s") = sumDur(xs, _ == s"dedup.$s")
    }
    r.layers("pipeline.corpus_write_s") = sumDur(xs, _ == "pipeline.corpus_write")
    r.layers("pipeline.report_s") = sumDur(xs, _ == "pipeline.report")
    val commits = xs.filter(_._2 == "resume.verdict_commit").map(_._1)
    // one bucket's commit: its verdict write through the last ledger
    // execution before the next bucket's verdict write
    val seq = xs.map(_._1).sortBy(_.start)
    val firstDedup = xs.find(_._2.startsWith("dedup.")).map(_._1.start)
      .getOrElse(op.end)
    val starts = commits.map(_.start).sorted :+ firstDedup
    val perBucket = starts.sliding(2).collect { case Seq(s0, s1) =>
      seq.filter(x => x.start >= s0 && x.start < s1).map(_.end).max - s0
    }.map(_ / 1000.0).toSeq
    if (perBucket.nonEmpty)
      r.layers("resume.bucket_commit_s_p50") = Stats.median(perBucket)
    // skew: the worst Spark stage's slowest task over its median task
    val dedupStages = xs.filter(_._2.startsWith("dedup.")).map(_._1)
      .flatMap(_.stageTaskMs.values).filter(_.size >= 2)
    if (dedupStages.nonEmpty)
      r.layers("dedup.max_over_median_task_s") = dedupStages.map { ts =>
        ts.max / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
      }.max
    val resumeOp = lastSpanOf("pipeline.resume", "cycle0")
    val killedOp = lastSpanOf("pipeline.killed", "setup")
    Seq(resumeOp, killedOp).foreach(s => tracer.addExecs(s,
      execsIn(s).map(x => x -> label(x))))
    r.named("trace_spans") = tracer.spans.size
  }

  /** The filter scan: QualityFilter.run with the default rules over a
    * materialised corpus ([[Gen.filterDocs]]) into a noop sink, at
    * local[4] and then local[1]. The keep count and an order-independent
    * digest of (url, keep, fail_reasons, scrubbed_text) must not change
    * between passes or between the two arms. Returns the local[1] session.
    */
  private def filterScan(spark4: SparkSession): SparkSession = {
    val input = s"${a.work}/filter"
    val docs = Gen.filterDocs(a.seed, filterDocsN)
    r.named("filter_text_bytes") =
      docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    Gen.writePages(spark4, docs, input, 16)
    r.named("filter_parquet_bytes") = Env.bytesUnder(input, ".parquet")

    def pass(s: SparkSession): Unit =
      QualityFilter.run(s.read.parquet(input))
        .write.format("noop").mode("overwrite").save()
    def digestOf(s: SparkSession): (Long, Long, Long) = {
      val row = QualityFilter.run(s.read.parquet(input))
        .agg(count(lit(1)), count_if(col("keep")),
          bit_xor(xxhash64(col("url"), col("keep"),
            concat_ws("|", col("fail_reasons")), col("scrubbed_text")))).head()
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    def arm(s: SparkSession, cores: Int): (Seq[Span], (Long, Long, Long)) = {
      val first = digestOf(s)
      val ops = mutable.Buffer.empty[Span]
      val t0 = System.nanoTime()
      while (r.failed < 3 &&
        (ops.size < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds / 4)) {
        r.attempt(s"local[$cores] pass") {
          tracer.span(s"quality_filter.pass_local$cores", "filter")(pass(s))
          ops += tracer.spans.last
          r.check(true, "")
        }
      }
      val last = digestOf(s)
      r.check(first == last,
        s"local[$cores] digest changed between passes: $first vs $last")
      r.check(first._1 == filterDocsN,
        s"local[$cores] verdict rows ${first._1} != $filterDocsN")
      (ops.toSeq, first)
    }

    val (ops4, d4) = traced(spark4)(arm(spark4, 4))
    val execs = ops4.map(s => execsIn(s).map(_ -> "quality_filter.pass"))
    ops4.zip(execs).foreach { case (s, xs) => tracer.addExecs(s, xs) }
    val wall4 = Stats.median(ops4.map(_.dur))
    val task = execs.flatten.map(_._1.taskRunMs).sum / 1000.0 / ops4.size
    r.layers("quality_filter.task_busy_s") = task
    r.layers("quality_filter.busy_frac") = task / (wall4 * 4)
    Env.stop(spark4)
    val spark1 = Env.session(1, a.work)
    val (ops1, d1) = arm(spark1, 1)
    r.check(d1 == d4, s"local[1] digest $d1 != local[4] digest $d4")
    val wall1 = Stats.median(ops1.map(_.dur))
    r.layers("quality_filter.docs_per_s") = filterDocsN / wall4
    r.layers("quality_filter.docs_per_s_local1") = filterDocsN / wall1
    r.layers("quality_filter.scaling_eff") = wall1 / (4 * wall4)
    r.named("filter_keep_count") = d4._2
    spark1
  }

  private def lastSpanOf(name: String, run: String): Span =
    tracer.spans.filter(s => s.name == name && s.run == run).last
}

/** check_runs: Runner.run over a fixed check config against pages, orders
  * and events, for successive run ids against one ledger.
  */
final class CheckRuns(a: Args) extends Workload(a) {
  val pagesN = 3000
  val ordersN = 10000
  val eventsN = 10000
  val warmups = 1

  val rowCountId: String =
    graft.plans.CheckCompiler.checkId("default", "pages rows", "pages")

  val yaml: String =
    s"""version: 1
       |checks:
       |  - name: pages rows
       |    dataset: pages
       |    type: row_count
       |    condition: gt
       |    threshold: 0
       |  - name: pages rows by lang
       |    dataset: pages
       |    type: row_count
       |    dimensions: [lang]
       |    condition: gt
       |    threshold: 0
       |  - name: orders revenue
       |    dataset: orders
       |    type: sum
       |    measure: o_totalprice
       |    condition: gt
       |    threshold: 0
       |  - name: orders revenue by status
       |    dataset: orders
       |    type: sum
       |    measure: o_totalprice
       |    dimensions: [o_orderstatus]
       |    condition: gt
       |    threshold: 0
       |  - name: events max value
       |    dataset: events
       |    type: max
       |    measure: value
       |    condition: le
       |    threshold: 1000000
       |  - name: pages fields present
       |    dataset: pages
       |    type: not_empty_pct
       |    dimensions: [text, lang]
       |    condition: le
       |    threshold: 0.05
       |  - name: pages rows anomaly
       |    dataset: metrics
       |    type: anomaly
       |    check_id: $rowCountId
       |    condition: between
       |    threshold: [-3.5, 3.5]
       |""".stripMargin

  def run(): Result = {
    val tables = s"${a.work}/tables"
    var spark: SparkSession = null
    val (_, sessionS) = time { spark = Env.session(4, a.work) }
    setupParts("session_s") = sessionS
    var sample: Array[String] = null
    var langs = 0
    setupMedian("materialise_s") { i =>
      val docs = Gen.checkPages(a.seed, pagesN)
      if (i == 0) {
        sample = docs.take(400).map(_.text)
        langs = docs.map(_.lang).distinct.length
      }
      Gen.writePages(spark, docs, s"$tables$i/pages", 2)
      spark.createDataFrame(Gen.ordersRows(a.seed, ordersN), Gen.ordersSchema)
        .repartition(2).write.mode("overwrite").parquet(s"$tables$i/orders")
      spark.createDataFrame(Gen.eventsRows(a.seed, eventsN), Gen.eventsSchema)
        .repartition(2).write.mode("overwrite").parquet(s"$tables$i/events")
    }
    // row_count + by lang + sum + by status + max + 2 not_empty_pct + anomaly
    val expected = 1 + langs + 1 + Gen.orderStatuses.length + 1 + 2 + 1
    r.named("expected_rows_per_run") = expected
    val tbl = Seq("pages", "orders", "events")
      .map(t => t -> spark.read.parquet(s"${tables}0/$t")).toMap
    val cfg = ConfigLoader.parseYaml(yaml)
    val store = new MetricsStore(s"${a.work}/metrics")
    val day0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    var k = 0
    def runOnce(): Runner.RunResult = {
      val rid = f"run$k%04d"
      val res = Runner.run(cfg, spark, tbl, store, rid,
        new java.sql.Timestamp(day0 + k * 86400000L))
      k += 1
      res
    }
    val (_, warmS) = time((0 until warmups).foreach(_ => runOnce()))
    setupParts("warmup_s") = warmS
    r.e2e("setup_s") = setupParts.values.sum

    val lat = mutable.Buffer.empty[Double]
    val compile = mutable.Buffer.empty[Double]
    val firstTimed = k
    def loop(untilS: Double, minRuns: Int,
             into: mutable.Buffer[Double]): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (r.failed < 3 &&
        (n < minRuns || (System.nanoTime() - t0) / 1e9 < untilS)) {
        r.attempt(s"run $k") {
          val (res, s) = tracer.span("plans.run", f"run$k%04d")(runOnce())
          into += s
          log(s"${res.runId} $s")
          r.check(res.total == expected,
            s"${res.runId} total ${res.total} != $expected")
        }
        n += 1
      }
    }
    if (a.trace) {
      val untraced = mutable.Buffer.empty[Double]
      loop(a.seconds / 2, 4, untraced)
      traced(spark) {
        loop(a.seconds / 2, 4, lat)
        (0 until 5).foreach { _ =>
          compile += time(Runner.compile(ConfigLoader.parseYaml(yaml), spark,
            tbl))._2
        }
      }
      r.layers("trace.overhead_frac") =
        Stats.median(lat.toSeq) / Stats.median(untraced.toSeq) - 1
      r.layers("plans.compile_s") = Stats.median(compile.toSeq)
      traceLayers(tables, store.path, lat.size)
      functionCosts(sample)
    } else loop(a.seconds, 5, lat)

    // anomaly rows once history exists: every timed run has exactly one
    val anomalyRows = store.read(spark)
      .filter(col("type") === "anomaly" && col("run_id") >= f"run$firstTimed%04d")
      .groupBy("run_id").count().collect().map(_.getLong(1))
    r.check(anomalyRows.length == k - firstTimed && anomalyRows.forall(_ == 1),
      s"anomaly rows per run: ${anomalyRows.mkString(",")}")

    val tail = Stats.tail(lat.toSeq)
    r.e2e("primary_s") = Stats.median(lat.toSeq)
    r.e2e("secondary_s") = tail
    r.named("check_run_p50_s") = r.e2e("primary_s")
    r.named("check_run_tail_s") = tail
    r.named("check_run_all_s") = lat.mkString(" ")
    r.named("runs_timed") = lat.size
    Trace.drain(spark.sparkContext)
    r.e2e("retained_heap_mb") = Env.retainedHeapMb()
    Env.stop(spark)
    r
  }

  private def traceLayers(tables: String, met: String, tracedRuns: Int): Unit = {
    def label(x: Exec): String = {
      val reads = Label.reads(x.plan)
      Label.writes(x.plan) match {
        case Some(p) if Label.under(p, met) => "metrics_store.append"
        case Some(_) => "other.write"
        case None if reads.exists(Label.under(_, met)) => "metrics_store.read"
        case None if reads.exists(_.startsWith(tables)) => "plans.union_job"
        case None => "other"
      }
    }
    val ops = tracer.spans.filter(_.name == "plans.run").toSeq
      .takeRight(tracedRuns)
    val per = account(ops, label)
    val n = ops.size.toDouble
    r.layers("metrics_store.append_s") =
      per.map(sumDur(_, _ == "metrics_store.append")).sum / n
    r.layers("metrics_store.append_calls") =
      per.map(_.count(_._2 == "metrics_store.append")).sum / n
    r.layers("metrics_store.read_s") =
      per.map(sumDur(_, _ == "metrics_store.read")).sum / n
    r.layers("plans.union_job_s") =
      per.map(sumDur(_, _ == "plans.union_job")).sum / n
    r.layers("plans.jobs_per_run") = per.map(_.map(_._1.jobs).sum).sum / n
    // anomaly phase: after the plan checks' ledger append, before the
    // closing summary query
    r.layers("plans.anomaly_s") = per.map { xs =>
      val seq = xs.map(_._1).sortBy(_.start)
      val firstAppend = xs.find(_._2 == "metrics_store.append").map(_._1.end)
      firstAppend.map(t => (seq.last.start - t) / 1000.0).getOrElse(0.0)
    }.sum / n
    r.layers("plans.summary_s") = per.map(_.map(_._1).maxBy(_.start).dur).sum / n
    r.layers("metrics_store.files") = Env.filesUnder(met, ".parquet")
  }
}
