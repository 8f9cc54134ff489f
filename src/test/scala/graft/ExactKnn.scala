package graft

import graft.functions.Distances
import graft.operators.{Knn, KnnTopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spec-side references for the exact batch kNN join
  * ([[graft.plans.KnnJoinPlan]]), each independent of its KnnJoinExec
  * kernel. Inputs follow the join's contract: queries (query_id,
  * embedding), db (vec_id, embedding); rows are (query_id, vec_id, dist,
  * rn) ordered by (query_id, rn). */
object ExactKnn {

  /** [[KnnTopK.topK]] over the explicit broadcast cross product, scored by
    * the codegen'd squared-L2 expression. */
  def crossTopK(queries: DataFrame, db: DataFrame, k: Int, dim: Int): DataFrame =
    KnnTopK.topK(
      db.crossJoin(broadcast(
          queries.select(col("query_id"), col("embedding").as("q_embedding"))))
        .select(col("query_id"), col("vec_id"),
          Distances.squaredL2Cols(col("q_embedding"), col("embedding"), dim).as("dist")),
      k)

  /** One [[Knn.bruteForce]] scan per query row. */
  def perQuery(queries: DataFrame, db: DataFrame, k: Int): Seq[(Long, Long, Double, Int)] =
    queries.collect().toSeq
      .map(r => (r.getAs[Number]("query_id").longValue,
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
      .sortBy(_._1)
      .flatMap { case (qid, q) =>
        Knn.bruteForce(db, Distances.squaredL2Lit(col("embedding"), q), k,
            keep = Seq("vec_id"))
          .collect().toSeq.zipWithIndex
          .map { case (r, i) => (qid, r.getAs[Number](0).longValue, r.getDouble(1), i + 1) }
      }

  def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.orderBy("query_id", "rn").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
}
