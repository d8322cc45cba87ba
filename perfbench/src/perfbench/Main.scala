package perfbench

/** Benchmark entry point: one workload per process.
  *
  *   perfbench.Main --workload <pipeline|check_runs>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  *
  * Prints a report line (`{"perfbench_report": ...}`) with the workload's
  * own figures, set-up parts, machine stamp and output-check failures,
  * then, as the last line, the result object: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. A traced run also
  * writes its spans to `<out>/trace-<workload>-<seed>.json`.
  */
object Main {

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def jsonValue(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int    => n.toString
    case n: Long   => n.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other     => jsonValue(String.valueOf(other))
  }

  private def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => s"${jsonValue(k)}:${jsonValue(v)}" }
      .mkString("{", ",", "}")

  private def metrics(defs: Seq[(String, String)],
                      values: collection.Map[String, Double]): String =
    defs.map { case (n, u) =>
      s"${jsonValue(n)}:{\"value\":${num(values(n))},\"unit\":${jsonValue(u)}}"
    }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val probeBefore = Env.cpuProbeMs()
    val memBefore = Env.memAvailableMb()
    val w = a.workload match {
      case "pipeline"    => new PipelineRun(a)
      case "check_runs"  => new CheckRuns(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val r = w.run()
    val stamp = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_available_mb_before" -> memBefore,
      "mem_available_mb_after" -> Env.memAvailableMb(),
      "cpu_probe_ms_before" -> probeBefore,
      "cpu_probe_ms_after" -> Env.cpuProbeMs())
    if (a.trace) {
      new java.io.File(a.out).mkdirs()
      val f = new java.io.File(a.out, s"trace-${a.workload}-${a.seed}.json")
      java.nio.file.Files.write(f.toPath, w.tracer.json.getBytes("UTF-8"))
    }
    val failedFrac = r.failed.toDouble / math.max(1, r.attempted)
    println("{\"perfbench_report\":{" +
      s"\"workload\":${jsonValue(a.workload)},\"seed\":${a.seed}," +
      s"\"trace\":${a.trace},\"failed_frac\":${num(failedFrac)}," +
      s"\"end_to_end\":${obj(r.e2e)},\"named\":${obj(r.named)}," +
      s"\"setup_parts\":${obj(w.setupParts)}," +
      s"\"self_s\":${obj(r.selfTimes)},\"stamp\":${obj(stamp)}," +
      s"\"failures\":${r.failures.map(jsonValue).mkString("[", ",", "]")}}}")
    val m =
      if (a.trace) metrics(Metrics.perLayer, r.layers)
      else metrics(Metrics.endToEnd, r.e2e)
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":$m}""")
  }
}
