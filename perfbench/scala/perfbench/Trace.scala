package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One closed interval of the benchmark's own work around a call into a
  * library module. `startMs`/`endMs` share the clock Spark stamps its job
  * events with, so jobs can be attributed to the span that was open when
  * they were submitted; `t0S`/`t1S` are seconds on the monotonic clock
  * since the tracer was made. */
final case class Span(id: Int, parent: Int, run: String, name: String,
    startMs: Long, endMs: Long, t0S: Double, t1S: Double, attrs: Map[String, Double])

/** Spans kept in memory and written once at the end. The benchmark calls
  * from one thread, so the open spans form a stack. A disabled tracer runs
  * the body and records nothing. */
final class Tracer(val enabled: Boolean, run: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long, Long, mutable.Map[String, Double])]
  private var nextId = 1
  private val origin = System.nanoTime()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val attrs = mutable.Map.empty[String, Double]
      open = (id, name, System.currentTimeMillis(), System.nanoTime(), attrs) :: open
      try body
      finally {
        val (_, _, ms0, ns0, a) = open.head
        open = open.tail
        val parent = open.headOption.map(_._1).getOrElse(0)
        done += Span(id, parent, run, name, ms0, System.currentTimeMillis(),
          (ns0 - origin) / 1e9, (System.nanoTime() - origin) / 1e9, a.toMap)
      }
    }

  /** A count recorded at the boundary of the innermost open span. */
  def attr(key: String, value: Double): Unit =
    open.headOption.foreach(_._5(key) = value)

  def spans: Seq[Span] = done.toSeq
}

object Tracer { val off = new Tracer(false, "") }

/** Per-job Spark counters, attributed to spans after the run (by submit
  * time) so the listener bus being asynchronous cannot misplace a job. */
final case class JobRec(id: Int, submitMs: Long, tasks: Long, taskS: Double,
    shuffleWriteBytes: Long, spillBytes: Long)

final class JobListener extends SparkListener {
  private final class Acc {
    var tasks = 0L; var runMs = 0L; var shuffle = 0L; var spill = 0L
  }
  private val stageJob = mutable.Map.empty[Int, Int]
  private val started = mutable.Map.empty[Int, Long]
  private val acc = mutable.Map.empty[Int, Acc]
  private val ended = mutable.ArrayBuffer.empty[JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    acc(e.jobId) = new Acc
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); a <- acc.get(j)) {
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffle += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val a = acc.remove(e.jobId).getOrElse(new Acc)
    ended += JobRec(e.jobId, started.getOrElse(e.jobId, e.time), a.tasks, a.runMs / 1e3,
      a.shuffle, a.spill)
  }

  /** Jobs whose end event has been delivered, once every started job has
    * ended or `timeoutMs` has passed. */
  def drained(timeoutMs: Long): Seq[JobRec] = {
    val until = System.currentTimeMillis() + timeoutMs
    while (synchronized(ended.size < started.size) && System.currentTimeMillis() < until)
      Thread.sleep(20)
    synchronized(ended.toSeq.sortBy(_.id))
  }
}
