package graft

import graft.core.Fixtures
import graft.operators.KnnTopK
import org.apache.spark.sql.functions._

class KnnTopKSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 7)
    .select(col("vec_id").as("query_id"), col("embedding"))

  test("aggregator top-k over the cross join equals per-query brute force exactly") {
    val viaAgg = ExactKnn.rows(ExactKnn.crossTopK(queries, emb, k = 5, dim = Fixtures.Dim))
    assert(viaAgg == ExactKnn.perQuery(queries, emb, k = 5))
  }

  test("buffer stays bounded at k and merge keeps global order across partitions") {
    val out = ExactKnn.crossTopK(queries, emb.repartition(8), k = 3, dim = Fixtures.Dim)
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == 3L))
    // rn follows (dist asc, id asc) within each query
    val rows = out.orderBy("query_id", "rn")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(1)))
    rows.grouped(3).foreach { g =>
      assert(g.sliding(2).forall { case Array((_, d1, i1), (_, d2, i2)) =>
        d1 < d2 || (d1 == d2 && i1 < i2) })
    }
  }

  test("duplicate ids keep their min dist: order- and partition-independent") {
    // each (query, vec) pair arrives 1-4 times with DIFFERENT dists (small
    // integers, so dist ties exercise the id tie-break too)
    val rnd = new scala.util.Random(7)
    val cands = for {
      q <- 0L until 3L
      _ <- 0 until 60
    } yield (q, rnd.nextInt(15).toLong, rnd.nextInt(40).toDouble)
    val k = 4
    val want = cands.groupBy(c => (c._1, c._2)).toSeq
      .map { case ((q, v), cs) => (q, v, cs.map(_._3).min) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, rs) =>
        rs.sortBy(r => (r._3, r._2)).take(k).zipWithIndex
          .map { case ((q, v, d), i) => (q, v, d, i + 1) }
      }
    for (order <- Seq(cands, cands.reverse); parts <- Seq(1, 8)) {
      val df = spark.sparkContext.parallelize(order, parts).toDF("query_id", "vec_id", "dist")
      assert(ExactKnn.rows(KnnTopK.topK(df, k)) == want,
        s"parts=$parts reversed=${order ne cands}")
    }
  }
}
