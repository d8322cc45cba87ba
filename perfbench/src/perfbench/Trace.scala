package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One interval of the traced run. Times are epoch milliseconds (the
  * clock Spark stamps its listener events with), so benchmark spans and
  * Spark SQL-execution spans share one time line. `parent` is the id of
  * the enclosing span, -1 for a root.
  */
final case class Span(id: Long, name: String, parent: Long, start: Double,
                      end: Double, run: String) {
  def dur: Double = (end - start) / 1000.0
}

/** Everything one Spark SQL execution did: its plan text (used to label it
  * by the paths it reads and writes), wall interval, and the task-level
  * totals of the jobs it ran.
  */
final class Exec(val id: Long, val root: Long, val plan: String,
                 val start: Double) {
  var end: Double = start
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** per Spark stage: task wall times in ms */
  val stageTaskMs = mutable.Map.empty[Int, mutable.Buffer[Long]]
  def dur: Double = (end - start) / 1000.0
}

/** Spark-side accounting, registered from the benchmark only while a run
  * is traced. Jobs are tied to their SQL execution through the
  * `spark.sql.execution.id` job property; jobs outside any execution are
  * kept under id -1.
  */
final class SparkRecorder extends SparkListener {
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val orphan = new Exec(-1L, -1L, "", 0.0)

  private def exec(id: Long): Exec = execs.getOrElse(id, orphan)

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execs(e.executionId) = new Exec(e.executionId,
          e.rootExecutionId.getOrElse(e.executionId),
          e.physicalPlanDescription, e.time.toDouble)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.end = e.time.toDouble)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageExec(s) = id)
    exec(id).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      exec(stageExec.getOrElse(e.stageInfo.stageId, -1L)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = exec(stageExec.getOrElse(e.stageId, -1L))
    x.tasks += 1
    x.stageTaskMs.getOrElseUpdate(e.stageId, mutable.Buffer.empty) +=
      e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      x.taskRunMs += m.executorRunTime
      x.gcMs += m.jvmGCTime
      x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Executions that started inside [t0, t1] (epoch ms). */
  def within(t0: Double, t1: Double): Seq[Exec] = synchronized {
    execs.values.filter(x => x.start >= t0 && x.start <= t1).toSeq
  }
}

/** In-memory span recorder for one benchmark run, written out at the end.
  * Benchmark spans wrap the public calls the benchmark makes; Spark SQL
  * executions inside those calls become child spans labelled by
  * [[Label]].
  */
final class Tracer(val workload: String, val enabled: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private var nextId = 0L
  private val stack = mutable.Stack.empty[Long]
  val spans = mutable.Buffer.empty[Span]

  /** Epoch milliseconds with nanosecond-clock resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Time `body`; when tracing, also record it as a span under the
    * enclosing one (also when it throws). Returns the result and the wall
    * seconds.
    */
  def span[T](name: String, run: String)(body: => T): (T, Double) = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(-1L)
    if (enabled) stack.push(id)
    val t0 = now()
    var t1 = t0
    try {
      val r = body
      t1 = now()
      (r, (t1 - t0) / 1000.0)
    } finally if (enabled) {
      stack.pop()
      if (t1 == t0) t1 = now()
      spans += Span(id, name, parent, t0, t1, run)
    }
  }

  /** Add the SQL executions inside `parent` as its child spans. */
  def addExecs(parent: Span, execs: Seq[(Exec, String)]): Unit =
    execs.foreach { case (x, label) =>
      nextId += 1
      spans += Span(nextId, label, parent.id, x.start, x.end, parent.run)
    }

  def json: String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,""" +
      s""""workload":"$workload","run":"${s.run}"}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  /** Seconds of [t0, t1] covered by at least one interval. */
  def covered(t0: Double, t1: Double, ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur = t0
    ivs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total / 1000.0
  }

  /** Drain the listener bus so every event of the finished calls has been
    * delivered; a slow bus is reported and the run goes on.
    */
  def drain(sc: SparkContext): Unit =
    try org.apache.spark.graftbridge.ListenerBridge
      .waitUntilListenerBusEmpty(sc, 30000L)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        System.err.println(s"[perfbench] listener bus not drained: $e")
    }
}
