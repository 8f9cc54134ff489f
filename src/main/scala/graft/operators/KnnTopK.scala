package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Skew-safe per-query top-k over an arbitrary candidate set, via a typed
  * bounded top-k Aggregator.
  *
  * A window rank shuffles EVERY candidate pair on query_id and sorts whole
  * partitions — at 100 TB a hot query key melts one reducer. This
  * Aggregator keeps a ≤k-element buffer per (query, map-partition) with
  * map-side partial aggregation (the public `Aggregator` API plans as an
  * ObjectHashAggregate — the TypedImperativeAggregate shape of SURVEY.md
  * §2.2), so the shuffle carries at most k rows per query per map task
  * and reducers merge k-bounded buffers — immune to candidate-count skew.
  *
  * It ranks candidate sets that are NOT a full cross product (IVF probes,
  * cell-join rounds, MaxSim, the NSW graph); the exact |Q| × |db| join is
  * [[graft.plans.KnnJoinPlan.join]].
  *
  * Result semantics: top-k by (dist ASC, id ASC), rn = 1..k.
  */
object KnnTopK {

  case class Neighbor(id: Long, dist: Double)
  case class Cand(query_id: Long, vec_id: Long, dist: Double)
  case class Result(query_id: Long, vec_id: Long, dist: Double, rn: Int)

  private def lt(a: Neighbor, b: Neighbor): Boolean =
    a.dist < b.dist || (a.dist == b.dist && a.id < b.id)

  /** Bounded top-k buffer, sorted (dist ASC, id ASC). A candidate id that
    * arrives more than once (e.g. via several shared probe cells) keeps
    * its MIN dist, so the result equals groupBy(query, vec).min(dist) |>
    * top-k under any arrival order and partitioning — without the extra
    * full-candidate-set exchange that groupBy costs. The O(1) reject of a
    * full buffer against its kth entry comes first, so duplicate-free
    * candidate sets pay no per-candidate id scan. */
  class TopKAgg(k: Int) extends Aggregator[Cand, Array[Neighbor], Array[Neighbor]] {
    def zero: Array[Neighbor] = Array.empty
    def reduce(buf: Array[Neighbor], c: Cand): Array[Neighbor] =
      insert(buf, Neighbor(c.vec_id, c.dist))
    def merge(a: Array[Neighbor], b: Array[Neighbor]): Array[Neighbor] =
      b.foldLeft(a)(insert)
    def finish(r: Array[Neighbor]): Array[Neighbor] = r
    def bufferEncoder: Encoder[Array[Neighbor]] = Encoders.kryo[Array[Neighbor]]
    def outputEncoder: Encoder[Array[Neighbor]] = Encoders.kryo[Array[Neighbor]]
    // Exact under keep-min: a rejected candidate ranks at or after the kth
    // entry, so it can neither enter the top-k nor lower the dist of a
    // buffered copy of its id (that copy ranks at or before the kth).
    private def insert(buf: Array[Neighbor], n: Neighbor): Array[Neighbor] =
      if (buf.length == k && !lt(n, buf(k - 1))) buf
      else {
        val i = buf.indexWhere(_.id == n.id)
        if (i >= 0) {
          if (n.dist < buf(i).dist) buf.updated(i, n).sortBy(x => (x.dist, x.id)) else buf
        } else if (buf.length < k) (buf :+ n).sortBy(x => (x.dist, x.id))
        else buf.updated(k - 1, n).sortBy(x => (x.dist, x.id))
      }
  }

  /** Bounded top-k over an arbitrary candidate set (columns query_id,
    * vec_id, dist) — the shuffle carries ≤ k rows per query per map task
    * instead of every candidate. */
  def topK(cands: DataFrame, k: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select(col("query_id"), col("vec_id"), col("dist")).as[Cand]
      .groupByKey(_.query_id)
      .agg(new TopKAgg(k).toColumn.name("topk"))
      .flatMap { case (qid, arr) =>
        arr.zipWithIndex.map { case (n, i) => Result(qid, n.id, n.dist, i + 1) }
      }
      .toDF()
  }
}
