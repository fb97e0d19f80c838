package storebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: a workload, timed with tracing off, or traced.
  *
  * {{{
  * Main --workload <ingest|read|operators|lifecycle|operators_full>
  *      --seed <n> --seconds <s> --trace <0|1> --data <sf dir>
  *      --work <work dir> --spans <file>
  * }}}
  *
  * The last stdout line is one JSON object: correctness, op counts, every
  * metric the workload measured, and the run's environment record. With
  * tracing on, op spans and Spark job spans go to the spans file. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val body = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val work = Paths.get(a("work"))
    Files.createDirectories(work)

    val env0 = Env.sample()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.expr.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val rec = new Recorder(traced)
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      rec.afterOp = s => s.extra("cached_mb") =
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)
    }
    val run = new Run(spark, rec, a("seed").toLong, a("seconds").toInt,
      a("data"), work)
    try body(run)
    catch { case NonFatal(e) =>
      // set-up or a check outside any op failed: no result
      e.printStackTrace()
      spark.stop()
      sys.exit(2)
    }
    val env1 = Env.sample()

    val timed = rec.samples.filter(_.timed).toSeq
    val failed = timed.count(!_.ok)
    val m = run.metrics
    // everything before the first timed op: JVM and session start and every
    // set-up step, cold ones included
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    m("setup_s") = ((run.timedStartMs - jvmStartMs) / 1e3, "s")
    run.setupS.zipWithIndex.foreach { case (v, i) => m(s"setup_step${i + 1}_s") = (v, "s") }
    m("session_start_s") = (sessionS, "s")
    m("failed_op_share") = (failed.toDouble / math.max(1, timed.size), "ratio")
    m("ops_per_s") = ((timed.size - failed) / run.wallS, "1/s")
    m("mem_retained_mb") = (run.memRetainedMb, "MB")
    m("timed_wall_s") = (run.wallS, "s")
    m("gc_ms") = (run.gcMs.toDouble, "ms")
    val ok = timed.filter(_.ok)
    val p50 = run.kinds.map(k => k -> Stats.median(ok.filter(_.kind == k).map(_.ms))).toMap
    if (p50.values.forall(v => v > 0)) m("op_p50_ms") = (Stats.geomean(p50.values.toSeq), "ms")
    p50.foreach { case (k, v) => m(s"${k}_p50_ms") = (v, "ms") }
    // CPU of the Java threads inside the op bodies only: checks between
    // ops, JIT compilation and GC are not in it
    val cpu = run.kinds.map(k => k -> Stats.median(ok.filter(_.kind == k).map(_.cpuMs))).toMap
    if (cpu.values.forall(v => v > 0)) m("cpu_ms_per_op") = (Stats.geomean(cpu.values.toSeq), "ms")
    cpu.foreach { case (k, v) => m(s"${k}_cpu_ms") = (v, "ms") }
    def named(name: String, kinds: String*): Unit = {
      val xs = ok.filter(s => kinds.contains(s.kind)).map(_.ms)
      if (xs.nonEmpty) {
        m(s"${name}_p50_ms") = (Stats.median(xs), "ms")
        Stats.tail(xs).foreach { case (pct, v) =>
          m(s"${name}_tail_ms") = (v, "ms")
          m(s"${name}_tail_pct") = (pct, "%")
        }
        m(s"${name}_n") = (xs.size.toDouble, "count")
      }
    }
    named("append", "append")
    named("merge", "merge")
    named("key_history", "history")
    named("state_read", "state_at", "as_of")

    val spansFile = a.get("spans").filter(_ => traced)
    listener.foreach { l =>
      Spans.write(Paths.get(spansFile.get), workload, cores, run,
        rec.samples.toSeq, l.drained(spark.sparkContext))
    }
    spark.stop()

    val env = Env.record(env0, env1, cores)
    val errs = rec.errors.take(20).map(Json.str).mkString("[", ",", "]")
    val metricsJson = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val correct = failed == 0 && rec.errors.isEmpty
    println(s"""{"workload":${Json.str(workload)},"correct":$correct,""" +
      s""""attempted":${timed.size},"failed":$failed,"metrics":$metricsJson,""" +
      s""""env":$env,"errors":$errs}""")
    System.out.flush()
  }
}

/** Per-run environment record, after `graft.Bench`'s forensics. It is
  * informational: it never drops or re-weights a run. */
object Env {
  final case class Sample(wallNs: Long, busyS: Double, iowaitS: Double,
                          stealS: Double, procCpuS: Double, load: String)

  def sample(): Sample = {
    val stat = try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toDouble / 100.0)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(4), f(7))
    } catch { case NonFatal(_) => (-1.0, -1.0, -1.0) }
    val proc = Run.cpuS()
    val load =
      try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
      catch { case NonFatal(_) => "" }
    Sample(System.nanoTime(), stat._1, stat._2, stat._3, proc, load)
  }

  def record(a: Sample, b: Sample, cores: Int): String = {
    val other = if (a.busyS < 0) -1.0
                else math.max(0.0, (b.busyS - a.busyS) - (b.procCpuS - a.procCpuS))
    s"""{"nproc":${Runtime.getRuntime.availableProcessors},"master":"local[$cores]",""" +
      s""""loadavg_start":${Json.str(a.load)},"loadavg_end":${Json.str(b.load)},""" +
      s""""wall_s":${Json.num((b.wallNs - a.wallNs) / 1e9)},""" +
      s""""own_cpu_s":${Json.num(b.procCpuS - a.procCpuS)},""" +
      s""""other_busy_cpu_s":${Json.num(other)},""" +
      s""""iowait_s":${Json.num(b.iowaitS - a.iowaitS)},""" +
      s""""steal_s":${Json.num(b.stealS - a.stealS)}}"""
  }
}

/** Op and job spans of a traced run, one JSON object per line. */
object Spans {
  def write(path: java.nio.file.Path, workload: String, cores: Int, run: Run,
            ops: Seq[OpSample], jobs: Seq[JobRec]): Unit = {
    val lines = mutable.ArrayBuffer.empty[String]
    val bytesPerRow = run.metrics.get("bytes_per_row")
      .map { case (v, _) => s""","bytes_per_row":${Json.num(v)}""" }.getOrElse("")
    lines += s"""{"type":"run","workload":${Json.str(workload)},"cores":$cores,""" +
      s""""wall_s":${Json.num(run.wallS)},"gc_ms":${run.gcMs}$bytesPerRow}"""
    ops.foreach { s =>
      val extra = s.extra.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}")
      lines += s"""{"type":"op","layer":${Json.str(s.layer)},"kind":${Json.str(s.kind)},""" +
        s""""start":${s.startMs},"end":${s.endMs},"ms":${Json.num(s.ms)},""" +
        s""""cpu_ms":${Json.num(s.cpuMs)},"ok":${s.ok},""" +
        s""""timed":${s.timed},"extra":$extra}"""
    }
    jobs.foreach { j =>
      lines += s"""{"type":"job","id":${j.id},"start":${j.startMs},"end":${j.endMs},""" +
        s""""tasks":${j.tasks},"task_ms":${j.taskMs},""" +
        s""""input_records":${j.inputRecords},"shuffle_bytes":${j.shuffleBytes}}"""
    }
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
