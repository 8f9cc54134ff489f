package perfbench

import graft.core.Fixtures
import graft.functions.{Distances, MinHashSigExpr, TextGateStats}
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** Rows per second of each codegen'd kernel in `graft.functions`, alone:
  * fixed seeded input, cached before timing, one expression per pass into
  * the noop sink. Runs in traced runs only, after the workload. */
object Kernels {
  val VecRows = 200000L
  val TextRows = 40000L
  /** `shingles` is a higher-order-function form, ~50× slower per row than
    * the fused kernels; it runs on the first ShingleRows texts so that one
    * pass takes about as long as the others. */
  val ShingleRows = 4000L
  val Reps = 3

  private val words = Seq("the", "a", "of", "and", "to", "in", "spark", "vector", "query",
    "scan", "join", "table", "stream", "batch", "column", "filter", "sort", "hash", "window",
    "merge", "group", "value", "index", "cell", "prune", "shard", "token", "model", "score",
    "data", "row", "page", "cache", "fast", "slow", "big", "small", "key", "line", "order")

  def run(h: Harness): Unit = {
    val spark = h.spark
    val gen = new Gen(h.opts.seed ^ 0xbe7cL)
    val vec = udf((id: Long) => gen.vector(id))
    val vec2 = udf((id: Long) => gen.vector(id + VecRows))
    val vectors = spark.range(0L, VecRows, 1L, h.opts.cores)
      .select(vec(col("id")).as("v"), vec2(col("id")).as("w"))
    val wordArr = typedlit(words.toArray)
    // 8-80 seeded words per document
    val nWords = (pmod(xxhash64(col("id"), lit(h.opts.seed)), lit(73L)) + 8).cast("int")
    val texts = spark.range(0L, TextRows, 1L, h.opts.cores).select(
      array_join(transform(sequence(lit(1), nWords), i =>
        element_at(wordArr, (pmod(xxhash64(col("id"), i, lit(h.opts.seed)),
          lit(words.size.toLong)) + 1).cast("int"))), " ").as("t"))

    val q = Fixtures.Q64
    val coeffs = Dedup.minHashCoeffs(16)
    def ext(e: org.apache.spark.sql.catalyst.expressions.Expression): Column = ColumnBridge.column(e)
    val (vIn, tIn, sIn) = h.setup("kernel input") {
      val a = vectors.persist(StorageLevel.MEMORY_ONLY)
      val b = texts.persist(StorageLevel.MEMORY_ONLY)
      val c = texts.limit(ShingleRows.toInt).persist(StorageLevel.MEMORY_ONLY)
      require(a.count() == VecRows && b.count() == TextRows && c.count() == ShingleRows)
      (a, b, c)
    }
    val cases: Seq[(String, DataFrame, Long, Column)] = Seq(
      ("squaredL2Lit", vIn, VecRows, Distances.squaredL2Lit(col("v"), q)),
      ("l1Lit", vIn, VecRows, Distances.l1Lit(col("v"), q)),
      ("lInfLit", vIn, VecRows, Distances.lInfLit(col("v"), q)),
      ("mahalanobisDiagLit", vIn, VecRows,
        Distances.mahalanobisDiagLit(col("v"), q, Fixtures.InvDiag64)),
      ("squaredL2Cols", vIn, VecRows, Distances.squaredL2Cols(col("v"), col("w"), Gen.Dim)),
      ("minhash", tIn, TextRows, ext(MinHashSigExpr(ColumnBridge.expression(col("t")), 3,
        coeffs.map(_._1).toSeq, coeffs.map(_._2).toSeq, Dedup.MinHashP))),
      ("textGateStats", tIn, TextRows, ext(TextGateStats(ColumnBridge.expression(col("t")),
        Fixtures.Stopwords))),
      ("shingles", sIn, ShingleRows, Dedup.shingles(col("t"), 3)))

    try cases.foreach { case (name, input, rows, expr) =>
      def pass(): Double = h.timed(
        h.tracer.span(s"functions.$name")(input.select(expr).write.format("noop").mode("overwrite").save()))._2
      h.setup(s"kernel $name")(pass()) // warm-up: codegen and JIT
      val s = Stats.median(Seq.fill(Reps)(h.setup(s"kernel $name")(pass())))
      h.layer(s"functions.$name.rows_per_s") = rows / s
    } finally Seq(vIn, tIn, sIn).foreach(_.unpersist(true))
  }
}
