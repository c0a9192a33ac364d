package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: a named interval on the calling thread, with the span that
  * was open when it started as its parent. Times are epoch nanoseconds
  * so Spark's job events (epoch milliseconds) share the time base.
  */
final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long)

/** Spans and counts around each call into a layer. The untraced run
  * uses [[Tracer.Off]], which records nothing.
  */
sealed trait Tracer {
  def span[A](name: String)(body: => A): A
  def count(name: String, v: Double): Unit
}

object Tracer {
  private val epochOffset =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffset

  object Off extends Tracer {
    def span[A](name: String)(body: => A): A = body
    def count(name: String, v: Double): Unit = ()
  }

  /** Records in memory; operations run on one thread, so a stack gives
    * the parent of each span.
    */
  final class On extends Tracer {
    val spans = mutable.ArrayBuffer.empty[Span]
    val counts = mutable.LinkedHashMap.empty[String, Double]
    private var open = List.empty[Int]
    private var nextId = 0

    def span[A](name: String)(body: => A): A = {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = now()
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, name, t0, now())
      }
    }

    /** A span whose bounds were computed afterwards. */
    def add(parent: Int, name: String, t0: Long, t1: Long): Span = {
      val s = Span(nextId, parent, name, t0, t1)
      nextId += 1
      spans += s
      s
    }

    def count(name: String, v: Double): Unit =
      counts(name) = counts.getOrElse(name, 0.0) + v
  }
}

/** Engine-side counts from Spark's own hooks: jobs, stages and task
  * metrics from the [[SparkListener]] events, planning time from each
  * executed query's `QueryExecution.tracker` phases.
  */
final class SparkStats extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  /** Per stage, over its tasks that read input files: bytes and records
    * read, and executor run seconds.
    */
  val stageInput = mutable.HashMap.empty[Int, (Double, Double, Double)]
  val counts = mutable.LinkedHashMap.empty[String, Double]

  private def add(name: String, v: Double): Unit = synchronized {
    counts(name) = counts.getOrElse(name, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = (e.time * 1000000L, -1L)
    jobStages(e.jobId) = e.stageIds
    add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (t0, _) =>
      jobs(e.jobId) = (t0, e.time * 1000000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      val in = m.inputMetrics
      if (in.bytesRead > 0) synchronized {
        val (b, r, t) = stageInput.getOrElse(e.stageId, (0.0, 0.0, 0.0))
        stageInput(e.stageId) = (b + in.bytesRead, r + in.recordsRead,
          t + m.executorRunTime / 1e3)
      }
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime
      add("spark.scheduler_delay_s", math.max(0L, delay) / 1e3)
    }
  }

  private def planned(qe: QueryExecution): Unit =
    add("queries.plan_s",
      qe.tracker.phases.values.map(_.durationMs).sum / 1e3)

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)
}
