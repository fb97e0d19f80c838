package storebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One fixture event in the store's column names. `ts` keeps whatever
  * type the fixture reader produced, so rows read back compare equal. */
final case class Ev(id: Long, ns: String, ukey: Long, ts: Any,
                    payload: String, v: Double) {
  def row: Row = Row(ns, ukey, ts, payload, v)
}

/** The events fixture, loaded once with plain Spark and held in the driver.
  * Every op input is a slice of it (or a seeded rewrite of one), turned
  * into a local DataFrame, so the store sees only generated rows. */
final class Fixture(spark: SparkSession, dataDir: String) {
  private val table = graft.Tables(spark, dataDir, "events")
  val events: IndexedSeq[Ev] = table
    .select("event_id", "event_type", "user_id", "ts", "props", "value")
    .orderBy("event_id").collect().toIndexedSeq
    .map(r => Ev(r.getLong(0), r.getString(1), r.getLong(2), r.get(3),
      r.getString(4), r.getDouble(5)))
  require(events.nonEmpty, s"no events in $dataDir")

  val schema: StructType = StructType(Seq(
    StructField("ns", StringType), StructField("ukey", LongType),
    StructField("ts", table.schema("ts").dataType),
    StructField("payload", StringType), StructField("val", DoubleType)))

  /** Distinct (ns, ukey) pairs in the fixture, in first-seen order. */
  val keys: IndexedSeq[(String, Long)] = events.map(e => (e.ns, e.ukey)).distinct

  def slice(from: Int, rows: Int): IndexedSeq[Ev] =
    events.slice(from, math.min(events.size, from + rows))

  def frame(evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(evs.map(_.row).asJava, schema)
}

/** Driver-side reference of the store's latest state, (ns, ukey) ->
  * payload. Rows of one batch take seqs in (ts, ns, ukey, payload) order,
  * and fixture timestamps are unique and follow event_id, so applying a
  * batch in event_id order reproduces which row wins each key. */
final class StateModel {
  val state = mutable.HashMap.empty[(String, Long), String]
  def append(batch: Seq[Ev]): Unit =
    batch.sortBy(_.id).foreach(e => state((e.ns, e.ukey)) = e.payload)
  def upsert(rows: Seq[Ev]): Unit = rows.foreach(e => state((e.ns, e.ukey)) = e.payload)
  def delete(keys: Seq[(String, Long)]): Unit = keys.foreach(state.remove)

  /** Same keys and payloads as a collected (ns, ukey, payload) state. */
  def matches(df: DataFrame): Boolean = {
    val got = df.select(col("ns"), col("ukey"), col("payload")).collect()
    got.length == state.size && got.forall { r =>
      state.get((r.getString(0), r.getLong(1))).contains(r.getString(2))
    }
  }
}

object Hashing {
  /** Order-independent digest of a result: the row count and the wrapping
    * sum of the first 8 bytes of each row's MD5. Columns are taken in name
    * order, doubles and decimals render as 6-digit scientific numbers and
    * timestamps as epoch microseconds, so `pin_operators.py` renders a
    * DuckDB result the same way. */
  def digest(df: DataFrame): (Long, Long) =
    digest(df.select(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*).collect())

  def digest(rows: Array[Row]): (Long, Long) = {
    var h = 0L
    rows.foreach(r => h += hash64(render(r)))
    (rows.length.toLong, h)
  }

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else "%.5e".format(d)
    case f: Float => render(f.toDouble)
    case d: java.math.BigDecimal => render(d.doubleValue)
    case d: BigDecimal => render(d.toDouble)
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def hash64(s: String): Long =
    java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))).getLong
}
