package storebench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

import graft.journal.JournalStore

/** What one workload run measured, beside the recorder's op samples. */
final class Run(val spark: SparkSession, val rec: Recorder, val seed: Long,
                val seconds: Int, val dataDir: String, val work: Path) {
  val rnd = new scala.util.Random(seed)
  /** Workload metrics by name: (value, unit). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Wall seconds of each timed set-up step, in order. */
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** Wall-clock ms at which the timed region started. */
  var timedStartMs = 0L
  var wallS = 0.0
  var gcMs = 0L
  var memRetainedMb = 0.0
  /** Kinds that make up the workload's op mix, for the summary metrics. */
  var kinds: Seq[String] = Nil

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def dir(name: String): String = {
    val p = work.resolve(name)
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
    p.toString
  }

  /** Times one set-up step (a fixture load, a store build, a warm-up). */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupS += (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop with one client: `step` runs back to back until
    * `seconds` have passed and at least `minSteps` steps have run; the step
    * in flight always completes. The timed wall ends when the last step
    * does. */
  def timedLoop(step: Int => Unit, minSteps: Int = 1): Unit = {
    rec.timed = true
    timedStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val gc0 = Run.gcMs()
    var i = 0
    do { step(i); i += 1 } while (System.nanoTime() < deadline || i < minSteps)
    wallS = (System.nanoTime() - t0) / 1e9
    gcMs = Run.gcMs() - gc0
    rec.timed = false
    memRetainedMb = Run.retainedMb()
  }
}

object Run {
  /** CPU seconds this process has used: time the hypervisor steals from
    * the machine is not in it. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case s: com.sun.management.OperatingSystemMXBean => s.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** CPU ns of each live Java thread. JIT compiler and GC threads are not
    * Java threads, so their time is not in it; nor is the time of a thread
    * that ends between two samples. */
  def threadCpuNs(): Map[Long, Long] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val ids = mx.getAllThreadIds
    ids.iterator.zip(mx.getThreadCpuTime(ids).iterator).filter(_._2 >= 0).toMap
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Driver heap still held after a full GC. In local mode Spark's
    * storage memory lives in this heap, so cached blocks are included, and
    * so is what the benchmark itself holds (the fixture, the model and the
    * expected results). */
  def retainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def dirBytes(p: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }
}

/** Files a planned query will read, from its executed plan. */
object Scans extends AdaptiveSparkPlanHelper {
  def files(df: DataFrame): Set[String] = {
    val plan = df.queryExecution.executedPlan
    val v2 = collect(plan) { case b: BatchScanExec =>
      b.inputPartitions.flatMap {
        case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
        case _ => Nil
      }
    }.flatten
    val v1 = collect(plan) { case f: FileSourceScanExec =>
      f.relation.location.inputFiles.toSeq
    }.flatten
    (v2 ++ v1).toSet
  }
}

object Workloads {
  /** A quarter of the default 1,000-seq epoch: one `ingest` append in four
    * completes an epoch and writes an auto-checkpoint. */
  val IngestBatchRows = 250
  /** Rows of each `lifecycle` append. */
  val CycleBatchRows = 2000
  val BuildBatchRows = 50000
  val BuildEpoch = 5000L

  val all: Map[String, Run => Unit] = Map(
    "ingest" -> ingest, "lifecycle" -> lifecycle, "read" -> read,
    "operators" -> Operators.run(Operators.Queries),
    "operators_full" -> Operators.run(Operators.FullQueries))

  /** A store op that writes. Traced runs also count the files the op
    * added to the manifest and the bytes of the files it created. */
  private def write(r: Run, st: JournalStore, kind: String)(body: => Long)
                   (check: Long => Boolean): Option[Long] = {
    val before = if (r.rec.traced) Some((st.manifest.files.toSet, Run.dirBytes(st.path)))
                 else None
    val (s, out) = r.rec.op("journal", kind)(body)(check)
    before.foreach { case (files, bytes) =>
      val after = Run.dirBytes(st.path)
      s.extra("files_added") = (st.manifest.files.toSet -- files).size
      s.extra("bytes_written") =
        after.collect { case (f, n) if !bytes.contains(f) => n }.sum.toDouble
    }
    out
  }

  /** The fixture appended in order, `rows` per commit, to a fresh store.
    * Seqs then equal event ids. Epochs of 5,000 seqs keep the store at 100
    * (epoch, ns) directories, the size the repository's own journal
    * queries use for this fixture. */
  private def build(r: Run, fx: Fixture, name: String, rows: Int,
                    model: StateModel): JournalStore = {
    val st = JournalStore.create(r.spark, r.dir(name), epochSize = BuildEpoch)
    fx.events.indices.by(rows).foreach { from =>
      val b = fx.slice(from, rows)
      write(r, st, "append")(st.append(fx.frame(b)))(_ == b.last.id)
      model.append(b)
    }
    st
  }

  private def bytesPerRow(r: Run, st: JournalStore, rows: Long): Unit =
    r.put("bytes_per_row", Run.dirBytes(st.path).values.sum.toDouble / rows, "B")

  /** Appends fixed-size event batches to a fresh default store; no
    * rewrites, no analyze, no reads. Batches go in a seeded order and wrap
    * around the fixture, so keys keep getting new versions. Set-up loads
    * the fixture and appends nine batches to a fresh store, two of which
    * complete an epoch, so both kinds of append are warm. */
  def ingest(r: Run): Unit = {
    r.kinds = Seq("append")
    var fx: Fixture = null
    r.setup {
      fx = new Fixture(r.spark, r.dataDir)
      val warm = JournalStore.create(r.spark, r.dir("ingest-warm"))
      (0 until 9).foreach(j =>
        warm.append(fx.frame(fx.slice(j * IngestBatchRows, IngestBatchRows))))
    }
    val nBatches = (fx.events.size + IngestBatchRows - 1) / IngestBatchRows
    val order = r.rnd.shuffle((0 until nBatches).toVector)
    val st = JournalStore.create(r.spark, r.dir("ingest"))
    val model = new StateModel
    var rows = 0L
    val mark = r.rec.samples.size
    r.timedLoop { i =>
      val b = fx.slice(order(i % nBatches) * IngestBatchRows, IngestBatchRows)
      val expectMax = rows + b.size - 1
      write(r, st, "append")(st.append(fx.frame(b)))(_ == expectMax)
      model.append(b); rows += b.size
    }
    if (!model.matches(st.latest()))
      r.rec.failSince(mark, "ingest: latest() differs from the model")
    bytesPerRow(r, st, rows)
  }

  /** Reads only, against a store built in set-up through the append path.
    * Each round runs one op of every kind with seeded parameters; set-up
    * runs one round. */
  def read(r: Run): Unit = {
    r.kinds = Seq("history", "sql_point", "range_scan", "state_at", "as_of")
    var fx: Fixture = null
    var st: JournalStore = null
    var exp: Expected = null
    val rnd = r.rnd
    def round(): Unit = {
      val path = st.path
      val k = fx.keys(rnd.nextInt(fx.keys.size))
      r.rec.op("journal", "history")(st.history(k._1, Some(k._2)).collect())(exp.history(k, _))
      val k2 = fx.keys(rnd.nextInt(fx.keys.size))
      source(r, st, "sql_point", r.spark.read.format("journal").load(path)
        .where(col("ns") === k2._1 && col("ukey") === k2._2)
        .select("seq", "ns", "ukey", "ts", "payload", "val").orderBy("seq"))(exp.history(k2, _))
      // a range inside one epoch, so every range reads the same directories
      val epochs = (fx.events.size / BuildEpoch).toInt
      val lo = rnd.nextInt(epochs) * BuildEpoch +
        rnd.nextInt((BuildEpoch - Expected.RangeRows).toInt)
      source(r, st, "range_scan", r.spark.read.format("journal").load(path)
        .where(col("seq") >= lo && col("seq") < lo + Expected.RangeRows)
        .select("seq", "ns", "ukey", "ts", "payload", "val"))(exp.range(lo, _))
      val near = exp.near(rnd.nextInt(exp.near.size))
      r.rec.op("journal", "state_at")(st.stateAt(near).collect())(exp.state(near, _))
      val far = exp.far(rnd.nextInt(exp.far.size))
      source(r, st, "as_of", r.spark.read.format("journal")
        .option("asOfSeq", far).load(path))(exp.state(far, _))
    }
    r.setup {
      fx = new Fixture(r.spark, r.dataDir)
      st = build(r, fx, "read", BuildBatchRows, new StateModel)
      exp = new Expected(fx, st, new scala.util.Random(r.seed))
    }
    r.setup(round())
    r.timedLoop(_ => round())
    bytesPerRow(r, st, fx.events.size.toLong)
  }

  /** A read through the `journal` data source, split into planning (to
    * the executed plan) and execution. Traced runs also count the files
    * the plan reads against the files in the manifest. */
  private def source(r: Run, st: JournalStore, kind: String, df: => DataFrame)
                    (check: Array[Row] => Boolean): Unit = {
    var planMs = 0.0; var execMs = 0.0; var d: DataFrame = null
    val (s, rows) = r.rec.op("sources", kind) {
      d = df
      val t0 = System.nanoTime()
      d.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val out = d.collect()
      planMs = (t1 - t0) / 1e6; execMs = (System.nanoTime() - t1) / 1e6
      out
    }(check)
    s.extra("plan_ms") = planMs; s.extra("exec_ms") = execMs
    if (r.rec.traced && d != null) {
      s.extra("files_read") = Scans.files(d).size
      s.extra("files_total") = st.manifest.files.size
      rows.foreach(x => s.extra("rows_returned") = x.length)
    }
  }

  /** Set-up ingests the fixture and analyzes the store; then one cycle of
    * writes and maintenance repeats. The cycle ends with analyze, which
    * re-arms the recorded stats its deletion-vector delete declines. After
    * every cycle the latest state must match the model and the recorded
    * row count must match a scan. */
  def lifecycle(r: Run): Unit = {
    r.kinds = Seq("append", "merge", "delete_where", "delete_where_dv",
      "compact", "checkpoint", "vacuum", "analyze")
    val model = new StateModel
    var fx: Fixture = null
    var st: JournalStore = null
    r.setup {
      fx = new Fixture(r.spark, r.dataDir)
      st = build(r, fx, "lifecycle", BuildBatchRows, model)
      write(r, st, "analyze") { st.analyze(); 0L }(_ => true)
      analyzedCountError(st).foreach(e => throw new IllegalStateException(e))
    }
    val rnd = r.rnd
    val cycleS = mutable.ArrayBuffer.empty[Double]
    var cycleNo = 0
    def upsertSource(n: Int): Seq[Ev] = {
      val picked = rnd.shuffle(fx.keys).take(n)
      val fresh = (0 until n / 10).map(j => (picked(j)._1, 1000000L + cycleNo * 1000L + j))
      val base = fx.events(rnd.nextInt(fx.events.size))
      (picked.drop(n / 10) ++ fresh).zipWithIndex.map { case ((ns, k), j) =>
        Ev(-1L, ns, k, base.ts, s"c$cycleNo-$n-$j", j.toDouble)
      }
    }
    // keys still in the state, so every delete erases rows
    def pickKeys(n: Int): Seq[(String, Long)] = {
      val ns = fx.keys(rnd.nextInt(fx.keys.size))._1
      rnd.shuffle(model.state.keys.filter(_._1 == ns).toVector.sorted).take(n)
    }
    def keyPred(ks: Seq[(String, Long)]) =
      col("ns") === ks.head._1 && col("ukey").isin(ks.map(_._2): _*)
    def cycle(): Unit = {
      val mark = r.rec.samples.size
      val t0 = System.nanoTime()
      (0 until 2).foreach { _ =>
        val b = fx.slice(rnd.nextInt(fx.events.size / CycleBatchRows) * CycleBatchRows,
          CycleBatchRows)
        val expectMax = st.manifest.maxSeq + b.size
        write(r, st, "append")(st.append(fx.frame(b)))(_ == expectMax)
        model.append(b)
      }
      Seq(1000, 20).foreach { n =>
        val src = upsertSource(n)
        write(r, st, "merge")(st.merge(fx.frame(src)))(_ => true)
        model.upsert(src)
      }
      // a rewrite delete refolds the recorded stats, which must stay exact
      val del = pickKeys(5)
      write(r, st, "delete_where")(st.deleteWhere(keyPred(del))) { n =>
        val err = analyzedCountError(st)
        err.foreach(e => r.rec.errors += s"delete_where: $e")
        n > 0 && err.isEmpty
      }
      model.delete(del)
      val dv = pickKeys(5)
      write(r, st, "delete_where_dv")(st.deleteWhereDv(keyPred(dv)))(_ > 0)
      model.delete(dv)
      write(r, st, "compact") {
        st.compact(st.manifest.maxSeq / st.epochSize); 0L }(_ => true)
      write(r, st, "checkpoint") { st.checkpoint(st.manifest.maxSeq); 0L }(_ => true)
      write(r, st, "vacuum") { st.vacuum(retain = 1, graceMs = 0L); 0L }(_ => true)
      // a deletion-vector delete declines the recorded stats by design;
      // analyze re-arms them for the next cycle
      write(r, st, "analyze") { st.analyze(); 0L }(_ => true)
      cycleS += (System.nanoTime() - t0) / 1e9
      cycleNo += 1
      if (!model.matches(st.latest()))
        r.rec.failSince(mark, s"lifecycle: latest() differs from the model after cycle $cycleNo")
      analyzedCountError(st).foreach(e => r.rec.failSince(mark, s"lifecycle cycle $cycleNo: $e"))
    }
    r.setup(cycle())
    cycleS.clear()
    r.timedLoop(_ => cycle())
    r.put("cycle_s", Stats.median(cycleS.toSeq), "s")
    bytesPerRow(r, st, st.scan().count())
  }

  /** The row count the store's recorded stats claim must match a scan. */
  private def analyzedCountError(st: JournalStore): Option[String] = {
    val (claimed, scanned) = (st.analyzedRowCount, st.scan().count())
    if (claimed.contains(scanned)) None
    else Some(s"analyzedRowCount $claimed, scan counts $scanned rows")
  }
}

/** Expected read results, computed in set-up from the fixture rows: the
  * built store assigns seq = event id. */
final class Expected(fx: Fixture, st: JournalStore, rnd: scala.util.Random) {
  private def render(seq: Long, e: Ev): String =
    Seq(seq, e.ns, e.ukey, e.ts, e.payload, e.v).map(Hashing.render).mkString("|")
  private def renderRow(r: Row): String =
    (0 until 6).map(i => Hashing.render(r.get(i))).mkString("|")

  private val byKey: Map[(String, Long), IndexedSeq[Ev]] =
    fx.events.groupBy(e => (e.ns, e.ukey))

  def history(k: (String, Long), rows: Array[Row]): Boolean = {
    val want = byKey.getOrElse(k, IndexedSeq.empty).map(e => render(e.id, e))
    rows.map(renderRow).toSeq == want
  }

  def range(lo: Long, rows: Array[Row]): Boolean = {
    val want = fx.events.filter(e => e.id >= lo && e.id < lo + Expected.RangeRows)
      .map(e => render(e.id, e)).sorted
    rows.map(renderRow).toSeq.sorted == want
  }

  /** Seeded seqs just past a checkpoint (one epoch of tail replay) and
    * seven epochs past one (a long tail replay). */
  private val ckpts = st.manifest.checkpoints.sorted.filter(_ < st.manifest.maxSeq).toIndexedSeq
  require(ckpts.nonEmpty, s"store has no checkpoint below its max seq: ${st.manifest.checkpoints}")
  private def pool(lo: Long, span: Int): IndexedSeq[Long] = IndexedSeq.fill(8) {
    ckpts(rnd.nextInt(ckpts.size)) + lo + rnd.nextInt(span)
  }.map(math.min(_, st.manifest.maxSeq))
  val near: IndexedSeq[Long] = pool(1, 200)
  val far: IndexedSeq[Long] = pool(st.epochSize * 7, 200)

  private val states: Map[Long, (Long, Long)] = {
    val seqs = (near ++ far).distinct.sorted
    val cur = mutable.HashMap.empty[(String, Long), String]
    val out = mutable.HashMap.empty[Long, (Long, Long)]
    var i = 0
    fx.events.foreach { e =>
      while (i < seqs.size && seqs(i) < e.id) { out(seqs(i)) = digest(cur); i += 1 }
      cur((e.ns, e.ukey)) = e.payload
    }
    while (i < seqs.size) { out(seqs(i)) = digest(cur); i += 1 }
    out.toMap
  }

  private def digest(m: mutable.HashMap[(String, Long), String]): (Long, Long) =
    Hashing.digest(m.iterator.map { case ((ns, k), p) => Row(ns, k, p) }.toArray)

  def state(seq: Long, rows: Array[Row]): Boolean =
    Hashing.digest(rows.map(r => Row(r.getAs[String]("ns"), r.getAs[Long]("ukey"),
      r.getAs[String]("payload")))) == states(seq)
}

object Expected {
  val RangeRows = 1000
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of the usual percentiles that leaves at least ten
    * samples above it: (percentile, value), or None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted; val n = s.size
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).iterator.map { p =>
      val idx = math.min(n - 1, math.ceil(p / 100 * n).toInt - 1)
      (p, idx)
    }.collectFirst { case (p, idx) if idx >= 0 && n - 1 - idx >= 10 => (p, s(idx)) }
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}
