package storebench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer, timed from the benchmark's side of the boundary.
  * `extra` carries per-call counts the caller measured outside the span
  * (files added, plan time, rows returned, ...). `cpuMs` is the CPU time
  * the process's Java threads (driver, local executors, helper threads)
  * used while the op ran. */
final class OpSample(val kind: String, val layer: String, val startMs: Long,
                     val endMs: Long, val ns: Long, val cpuMs: Double,
                     var ok: Boolean, val timed: Boolean) {
  val extra: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = ns / 1e6
}

/** Records every op of a run. The closed loop runs one op at a time, so
  * every Spark job that starts inside an op's wall-clock span belongs to
  * that op, including jobs submitted from helper threads. */
final class Recorder(val traced: Boolean) {
  val samples = mutable.ArrayBuffer.empty[OpSample]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Ops recorded while false belong to set-up: they are traced, but left
    * out of the end-to-end metrics and the attempted/failed counts. */
  var timed = false
  /** Runs after every op, outside its span (traced runs read cache size). */
  var afterOp: OpSample => Unit = _ => ()

  /** Runs `body` as one op. The check runs after the span closes and is
    * not timed; an op that throws or fails its check counts as failed. */
  def op[T](layer: String, kind: String)(body: => T)(check: T => Boolean)
      : (OpSample, Option[T]) = {
    val c0 = Run.threadCpuNs()
    val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case NonFatal(e) => errors += s"$kind threw: $e"; None
    }
    val t1 = System.nanoTime(); val w1 = System.currentTimeMillis()
    val cpuMs = Run.threadCpuNs().map { case (id, ns) =>
      math.max(0L, ns - c0.getOrElse(id, 0L)) }.sum / 1e6
    val ok = r.exists { v =>
      val good = try check(v) catch {
        case NonFatal(e) => errors += s"$kind check threw: $e"; false
      }
      if (!good) errors += s"$kind output check failed"
      good
    }
    val s = new OpSample(kind, layer, w0, w1, t1 - t0, cpuMs, ok, timed)
    samples += s
    afterOp(s)
    (s, r.filter(_ => ok))
  }

  /** Marks the samples from `from` on as failed: a state check after a
    * cycle found a divergence that any of them may have caused. */
  def failSince(from: Int, why: String): Unit = {
    errors += why
    samples.drop(from).foreach(_.ok = false)
  }
}

/** A Spark job as the listener saw it, with its tasks' summed metrics. */
final class JobRec(val id: Int, val startMs: Long, val marker: Boolean) {
  var endMs: Long = -1L
  var tasks = 0
  var taskMs = 0L
  var inputRecords = 0L
  var shuffleBytes = 0L
}

/** Collects job spans and task metrics. Registered only on traced runs. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val marker = Option(e.properties)
      .exists(_.getProperty(JobListener.MarkerKey) != null)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, marker)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.inputRecords += m.inputMetrics.recordsRead
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Every job seen so far, once the listener bus has delivered all events
    * posted before this call: a marker job is run and awaited. */
  def drained(sc: SparkContext): Seq[JobRec] = {
    sc.setLocalProperty(JobListener.MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobListener.MarkerKey, null)
    val deadline = System.currentTimeMillis() + 30000L
    def done = synchronized(jobs.values.exists(j => j.marker && j.endMs >= 0))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    synchronized(jobs.values.filterNot(_.marker).toList)
  }
}

object JobListener {
  val MarkerKey = "storebench.marker"
}
