package graft.api

import graft.functions.Distances
import graft.index.{Grid, GridConfig}
import graft.operators.{Knn, Snapshot}
import graft.plans.KnnJoinPlan
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Typed record of the vector store — the Spark analog of the reference's
  * `DatabaseEntry[T]` (reference: vectordb/database.py:11-14) with the id
  * materialized as a column (ids are DB-assigned, monotonically increasing,
  * never reused — vectordb/kd_tree_database.py:253-256). `label` stands in
  * for the generic metadata `T`; [[VectorDatabase.fromDataFrame]] accepts
  * arbitrary extra metadata columns.
  */
final case class VectorRecord(vec_id: Long, embedding: Array[Float], label: Int)

/** Pluggable distance metric — the Spark analog of the reference's
  * `DistanceMetric` ABC (vectordb/distance_metric.py:6-54). `dist` produces
  * a native Column expression (codegen'd); `cellBound` is the closed-form
  * lower bound used for candidate-cell pruning. A custom metric without a
  * closed form can return 0.0 — never prunes, always correct (the safe
  * replacement for the reference's scipy black-box fallback,
  * distance_metric.py:25-54).
  */
trait Metric extends Serializable {
  def dist(v: Column, q: Array[Double]): Column
  def cellBound(q: Array[Double], cell: Long, cfg: GridConfig): Double = 0.0
}
object SquaredL2 extends Metric {
  def dist(v: Column, q: Array[Double]): Column = Distances.squaredL2Lit(v, q)
  override def cellBound(q: Array[Double], cell: Long, cfg: GridConfig): Double =
    Grid.cellLowerBoundSqL2(q, cell, cfg)
}
object L1 extends Metric {
  def dist(v: Column, q: Array[Double]): Column = Distances.l1Lit(v, q)
  override def cellBound(q: Array[Double], cell: Long, cfg: GridConfig): Double =
    Grid.cellLowerBoundL1(q, cell, cfg)
}
object LInf extends Metric {
  def dist(v: Column, q: Array[Double]): Column = Distances.lInfLit(v, q)
  override def cellBound(q: Array[Double], cell: Long, cfg: GridConfig): Double =
    Grid.cellLowerBoundLInf(q, cell, cfg)
}
final case class MahalanobisDiag(invDiag: Array[Double]) extends Metric {
  def dist(v: Column, q: Array[Double]): Column = Distances.mahalanobisDiagLit(v, q, invDiag)
  override def cellBound(q: Array[Double], cell: Long, cfg: GridConfig): Double =
    Grid.cellLowerBoundMahalanobisDiag(q, cell, cfg, invDiag)
}

/** Full-covariance Mahalanobis — the reference's default-surface metric
  * (distance_metric.py:66-82) as a first-class facade Metric. Takes the
  * INVERSE covariance (row-major flat), mirroring [[MahalanobisDiag]];
  * [[MahalanobisFull$.fromCovariance]] factorizes a covariance ONCE
  * driver-side via Gauss-Jordan (the reference re-solves the linear
  * system per PAIR, distance_metric.py:78-80).
  *
  * Cell pruning uses the admissible spectral relaxation
  * d'·S⁻¹·d ≥ λ·‖d‖² with λ = max(0, Gershgorin lower bound on
  * λ_min(S⁻¹)): for SPD A, λ_min(A) ≥ min_i(a_ii − Σ_{j≠i}|a_ij|), so
  * λ·(squared-L2 cell bound) never exceeds the true distance to any
  * point in the cell. A non-diagonally-dominant inverse just yields
  * λ = 0 — pruning disabled, correctness untouched (same safety rule as
  * the black-box 0.0 default in [[Metric.cellBound]]). */
final case class MahalanobisFull(invFlat: Array[Double], mdim: Int) extends Metric {
  require(invFlat.length == mdim * mdim, "inverse covariance must be mdim x mdim, row-major")
  private val lamMin: Double = {
    var m = Double.PositiveInfinity
    var i = 0
    while (i < mdim) {
      var off = 0.0; var j = 0
      while (j < mdim) { if (j != i) off += math.abs(invFlat(i * mdim + j)); j += 1 }
      val g = invFlat(i * mdim + i) - off
      if (g < m) m = g
      i += 1
    }
    math.max(0.0, m)
  }
  def dist(v: Column, q: Array[Double]): Column =
    Distances.mahalanobisFullLit(v, q, invFlat)
  override def cellBound(q: Array[Double], cell: Long, cfg: GridConfig): Double =
    lamMin * Grid.cellLowerBoundSqL2(q, cell, cfg)
}
object MahalanobisFull {
  /** Factorize the covariance once, then broadcast the inverse. */
  def fromCovariance(covFlat: Array[Double], dim: Int): MahalanobisFull =
    MahalanobisFull(Distances.invertSPD(covFlat, dim), dim)
}

/** The reference's `VectorDatabase` contract (vectordb/database.py:18-64)
  * as an immutable snapshot over a cell-indexed DataFrame. Every mutation
  * returns a NEW `VectorDatabase`; the receiver stays valid — the snapshot/
  * value semantics the reference implements with defensive copies
  * (SURVEY.md §1.2) fall out of DataFrame immutability.
  *
  * At scale: `state` carries a `cell_id` column; persist with
  * `save()` (`partitionBy("cell_id")`) so kNN candidate-cell pruning becomes
  * file-level partition pruning on a 100 TB store.
  */
final class VectorDatabase private (
    val spark: SparkSession,
    val state: DataFrame, // schema: vec_id, embedding, metadata..., cell_id
    val cfg: GridConfig,
    val defaultMetric: Metric,
    private val nextIdBase: Long) {

  /** dim accessor (reference database.py:22-25). */
  def dim: Int = cfg.dim

  /** __len__ (reference kd_tree_database.py:307-308). */
  def count(): Long = state.count()

  /** get_entry (reference kd_tree_database.py:272-276). */
  def getEntry(id: Long): Option[org.apache.spark.sql.Row] =
    state.filter(col("vec_id") === id).drop("cell_id").collect().headOption

  /** __iter__ (reference kd_tree_database.py:330-333): the full snapshot. */
  def scan(): DataFrame = state.drop("cell_id")

  /** Max grid depth in use — analog of get_tree_depth
    * (kd_tree_database.py:321-322); constant for the flat grid. */
  def treeDepth: Int = cfg.gridDims

  /** insert: assign fresh monotonic ids, bucket, append
    * (kd_tree_database.py:262-270). Returns (new snapshot, assigned-id df).
    *
    * Dense ids come from `zipWithIndex` (per-partition counts + offset
    * cumsum), NOT a global `row_number()` window — the window formulation
    * moves the whole insert batch through ONE partition, which is the
    * first thing to fall over on a large ingest. The assigned ids are
    * identical: zipWithIndex orders by (partition, row-in-partition),
    * exactly the global order of `monotonically_increasing_id`. */
  def insert(rows: DataFrame): (VectorDatabase, DataFrame) = {
    val base = nextIdBase
    val schema = org.apache.spark.sql.types.StructType(
      rows.schema.fields :+ org.apache.spark.sql.types.StructField(
        "vec_id", org.apache.spark.sql.types.LongType, nullable = false))
    val indexed = rows.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (base + i))
    }
    val withIds = spark.createDataFrame(indexed, schema)
      .withColumn("cell_id", Grid.cellId(col("embedding"), cfg))
    val n = withIds.count()
    val next = new VectorDatabase(spark, Snapshot.insert(state, withIds.select(state.columns.map(col).toSeq: _*)),
      cfg, defaultMetric, nextIdBase + n)
    (next, withIds.select("vec_id"))
  }

  /** delete (kd_tree_database.py:278-283). Ids never reused. */
  def delete(ids: Seq[Long]): VectorDatabase = {
    import spark.implicits._
    new VectorDatabase(spark,
      Snapshot.delete(state, ids.toDF("vec_id"), "vec_id"), cfg, defaultMetric, nextIdBase)
  }

  /** update_position (kd_tree_database.py:310-316): new vector → new cell.
    * The facade is STRICT like the reference — an unknown id fails at
    * action time (kd_tree_database.py:313-315: `self._id_access.get(id)`
    * returns None and `.metadata` raises AttributeError); use
    * [[Snapshot.updatePosition]] directly with `strict = false` for the
    * lenient pipeline behavior. */
  def updatePosition(updates: DataFrame): VectorDatabase =
    new VectorDatabase(spark,
      Snapshot.updatePosition(state.drop("cell_id"), updates, "vec_id",
          "embedding", strict = true)
        .withColumn("cell_id", Grid.cellId(col("embedding"), cfg))
        .select(state.columns.map(col).toSeq: _*),
      cfg, defaultMetric, nextIdBase)

  /** update_metadata (kd_tree_database.py:324-328). */
  def updateMetadata(updates: DataFrame, metaCol: String): VectorDatabase =
    new VectorDatabase(spark,
      Snapshot.updateMetadata(state, updates, "vec_id", metaCol), cfg, defaultMetric, nextIdBase)

  /** find_k_nearest_neighbors (database.py:31-48): filtered kNN with
    * candidate-cell pruning; filter applies BEFORE k; ties break on id. */
  def findKNearestNeighbors(
      q: Array[Double], k: Int,
      filter: Option[Column] = None,
      metric: Option[Metric] = None): Seq[Knn.Neighbor] = {
    val m = metric.getOrElse(defaultMetric)
    Knn.prunedSearch(state, cfg, q, k, pred = filter,
      cellBound = m.cellBound, distExpr = Some(m.dist(col("embedding"), q)))
  }

  /** Radius (range) search: every stored vector within distance `r` of
    * `q`, ordered (dist ASC, id ASC) — the range-query face the reference
    * lacks but any vector store's read API pairs with top-k. Candidate
    * cells are known up front (cell bound ≤ r — no widening loop), so on
    * a saved store this is pure file skipping. */
  def radiusSearch(q: Array[Double], r: Double,
      filter: Option[Column] = None,
      metric: Option[Metric] = None): DataFrame = {
    val m = metric.getOrElse(defaultMetric)
    Knn.prunedRadius(state, cfg, q, r, pred = filter,
      cellBound = m.cellBound, distExpr = Some(m.dist(col("embedding"), q)))
  }

  /** Batch kNN join: k nearest stored vectors for EVERY query row — the
    * cluster-scale form of [[findKNearestNeighbors]] (SURVEY §2.1 #1
    * batch-of-queries), by squared L2. Runs the exact [[KnnJoinPlan]]
    * operator: the query batch is broadcast, the store streams once per
    * partition, and the shuffle carries ≤ k rows per query per partition.
    * Output: (query_id, vec_id, dist, rn). */
  def knnJoin(queries: DataFrame, k: Int,
      queryIdCol: String = "query_id"): DataFrame =
    KnnJoinPlan.join(queries.select(col(queryIdCol).as("query_id"), col("embedding")),
      state, k)

  /** Cell-partitioned parquet (candidate-cell pruning = file skipping) with
    * rows id-sorted inside each partition, so parquet vec_id min/max stats
    * let point lookups and id-range deletes skip whole row groups too. */
  def save(path: String): Unit =
    state.repartition(col("cell_id"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite")
      .partitionBy("cell_id").parquet(path)
}

object VectorDatabase {
  /** Build from an existing id'd DataFrame (vec_id, embedding, metadata...). */
  def fromDataFrame(spark: SparkSession, df: DataFrame, cfg: GridConfig,
      metric: Metric = SquaredL2, validate: Boolean = true): VectorDatabase = {
    val checked =
      if (validate) Grid.requireDim(df, "embedding", cfg.dim) else df
    val indexed =
      if (checked.columns.contains("cell_id"))
        // partitionBy round-trips infer the partition column as INT —
        // normalize back to the LongType the index math uses
        checked.withColumn("cell_id", col("cell_id").cast("long"))
      else checked.withColumn("cell_id", Grid.cellId(col("embedding"), cfg))
    val maxId = indexed.agg(max("vec_id")).collect()(0) match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
    new VectorDatabase(spark, indexed, cfg, metric, maxId + 1)
  }

  def load(spark: SparkSession, path: String, cfg: GridConfig,
      metric: Metric = SquaredL2): VectorDatabase =
    fromDataFrame(spark, spark.read.parquet(path), cfg, metric)
}
