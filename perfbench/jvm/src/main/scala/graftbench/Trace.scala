package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Spark execution counters of one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var scanBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "scan_bytes" -> scanBytes.toDouble, "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble, "spill_bytes" -> spillBytes.toDouble)
}

/** One timed call the benchmark made: workload -> query or phase ->
  * construct / plan / exec. `counters` holds the Spark work whose jobs
  * were submitted while this span was the innermost open one. */
final case class Span(id: Int, parent: Int, name: String, kind: String) {
  var startNs = 0L
  var endNs = 0L
  val counters = new Counters
}

/** Span recorder. Spans are kept in memory and written out at the end of
  * the run. With tracing off, `span` only runs the body: no listener is
  * registered and nothing is recorded, so untraced timings carry no
  * instrumentation beyond the benchmark's own clock reads.
  *
  * Jobs are attributed through a Spark local property set for the span's
  * duration (inherited by threads the program starts), so counters land
  * on the right span however late the listener bus delivers the events. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val Prop = "graftbench.span"

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
      Tracer.this.synchronized(id.foreach(i => spans(i).counters.jobs += 1))
      e.stageInfos.foreach(s => id.foreach(i => stageSpan.putIfAbsent(s.stageId, i)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        Option(stageSpan.get(e.stageInfo.stageId)).foreach(i => spans(i).counters.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      Tracer.this.synchronized {
        Option(stageSpan.get(e.stageId)).map(i => spans(i).counters).foreach { c =>
          c.tasks += 1
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.scanBytes += m.inputMetrics.bytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Time `body` as a span named `name` of kind `kind`, nested in the
    * innermost open span. Returns the body's value and the elapsed seconds. */
  def span[T](name: String, kind: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) {
      val v = body
      return (v, (System.nanoTime() - t0) / 1e9)
    }
    val sc = spark.sparkContext
    val s = synchronized {
      val sp = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, kind)
      spans += sp
      sp
    }
    val saved = sc.getLocalProperty(Prop)
    open = s :: open
    sc.setLocalProperty(Prop, s.id.toString)
    s.startNs = t0
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Prop, saved)
    }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  def recorded: Seq[Span] = synchronized(spans.toList)
}
