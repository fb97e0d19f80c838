package storebench

import scala.collection.mutable

/** A fixed set of the repository's declared queries, run once each per
  * pass. Each result must match its pinned row count and order-independent
  * digest (see `Hashing.digest`). */
object Operators {
  /** The `operators` workload: the three cheapest queries of the full set,
    * small enough that a run fits the same time as the store workloads. */
  val Queries: Seq[String] = Seq("agg_groupby_q1", "join_sortmerge", "text_tfidf")
  /** The `operators_full` workload: a pass takes about 50 s warm. */
  val FullQueries: Seq[String] = Queries ++ Seq("dedup_corpus_minhash",
    "text_bpe_encode", "emb_kmeans", "dedup_semantic", "sim_ann_index",
    "graph_pagerank", "graph_triangles")

  /** (rows, digest) per query on the sf0.1 fixture, from each query's
    * DuckDB twin (`pin_operators.py`). The `graph_pagerank` twin exhausts
    * DuckDB's memory and spill limits at this scale, so that one is pinned
    * from a Spark run. */
  val Pinned: Map[String, (Long, Long)] = Map(
    "agg_groupby_q1" -> ((6L, 2843000336642638419L)),
    "join_sortmerge" -> ((5L, 8820309556003581387L)),
    "text_tfidf" -> ((25000L, -5779399061470839770L)),
    "dedup_corpus_minhash" -> ((4756L, -2387329557174589318L)),
    "text_bpe_encode" -> ((5000L, 635147201620500482L)),
    "emb_kmeans" -> ((2000L, 8905772122391636389L)),
    "dedup_semantic" -> ((1933L, -5520110916017154236L)),
    "sim_ann_index" -> ((10L, 2673119633788553788L)),
    "graph_pagerank" -> ((30L, -5163196929392339016L)),
    "graph_triangles" -> ((1L, -8784897063793643662L)))

  /** Prints the DuckDB twin of every query in the set, as JSON. */
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    println(FullQueries.map(q => s"${Json.str(q)}:${Json.str(sql(q))}").mkString("{", ",", "}"))
  }

  def run(queries: Seq[String])(r: Run): Unit = {
    r.kinds = queries
    val qs = graft.SparkEntry.queries
    def query(q: String): OpSample =
      r.rec.op("ops", q)(Hashing.digest(qs(q)(r.spark, r.dataDir))) { got =>
        Pinned.get(q).contains(got) || { r.rec.errors += s"$q got $got"; false }
      }._1
    // a cold pass (JIT, codegen, fixture caches) and a warm one, then at
    // least two timed passes: with fewer, the figures varied about four
    // times as much from run to run
    (1 to 2).foreach(_ => r.setup(queries.foreach(query)))
    // whole passes, so every query has as many timed runs
    val passS = mutable.ArrayBuffer.empty[Double]
    r.timedLoop(_ => passS += queries.map(q => query(q).ms).sum / 1000, minSteps = 2)
    r.put("suite_s", Stats.median(passS.toSeq), "s")
  }
}
