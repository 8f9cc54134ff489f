package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** First-class logical operator for the batch kNN join — the one reference
  * operator family (filtered kNN, `vectordb/kd_tree_database.py:285-304`,
  * batched) whose WHOLE-operator semantics no single built-in relational
  * node expresses. It is the engine's single exact brute-force batch kNN
  * join: a resolved marker [[BinaryNode]] that the planner
  * ([[KnnJoinStrategy]]) lowers to a dedicated physical operator
  * ([[KnnJoinExec]]). [[graft.operators.KnnCellJoin]], the pruned form,
  * falls back to it for small stores and uncertifiable stragglers.
  *
  * Contract: `queries` provides (query_id, embedding ARRAY<FLOAT>) — a
  * SMALL relation (broadcast side); `data` provides (vec_id, embedding
  * ARRAY<FLOAT>). Integral ids are read as LONG. Callers rename their
  * columns to this contract. Output is the top-k rows per query by
  * squared L2, total-ordered
  * (dist ASC, vec_id ASC), rn = 1..k; data rows with null id/vector are
  * skipped (the metadata-filter form pre-filters `data`, preserving the
  * reference's filter-before-k semantics, `kd_tree_database.py:186-190`).
  */
case class KnnJoinPlan(
    queries: LogicalPlan,
    data: LogicalPlan,
    k: Int,
    outputAttrs: Seq[Attribute]) extends BinaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = data
  override def output: Seq[Attribute] = outputAttrs
  // the output attributes are produced HERE, not consumed from children —
  // without this, CheckAnalysis reports them as missing inputs
  override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
  // consumed child columns: exactly the contract columns. Declaring them
  // lets ColumnPruning drop everything else from the child scans (payload
  // columns on a filtered data side never leave the parquet reader) while
  // keeping what the strategy resolves by name.
  override def references: AttributeSet = AttributeSet(
    queries.output.filter(a => a.name == "query_id" || a.name == "embedding") ++
      data.output.filter(a => a.name == "vec_id" || a.name == "embedding"))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnJoinPlan =
    copy(queries = newLeft, data = newRight)
}

object KnnJoinPlan {

  private def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("vec_id", LongType, nullable = false)(),
    AttributeReference("dist", DoubleType, nullable = false)(),
    AttributeReference("rn", IntegerType, nullable = false)())

  /** Public entry: build the logical node over two DataFrames and hand it
    * back as a DataFrame (planned by [[KnnJoinStrategy]] — installed
    * build-time via `spark.sql.extensions=graft.functions.GraftExtensions`
    * or post-hoc via [[install]], which this calls for convenience).
    *
    * Children are pre-projected to the contract columns HERE, in the
    * LOGICAL plan — that is what lets Catalyst push the pruning into the
    * scans, and it must NOT happen inside the strategy: a physical-only
    * Project has no logical counterpart, so AQE's logicalLink-based stage
    * substitution never records the child's materialized query stage and
    * the replan loop adopts a "new" plan forever (livelock, observed with
    * a cached input table). The pre-projection also casts the integral
    * ids to LONG, because [[KnnJoinExec]] reads them with `getLong` and
    * would misread an INT id. For the same reason other id types (a cast
    * would null them, and null ids are skipped) and vector columns that
    * are not ARRAY<FLOAT> (the operator reads `toFloatArray`) are rejected
    * here. */
  def join(queriesDf: DataFrame, dataDf: DataFrame, k: Int): DataFrame = {
    val spark = queriesDf.sparkSession
    install(spark)
    def side(df: DataFrame, id: String): LogicalPlan = {
      val p = df.select(col(id), col("embedding"))
      (p.schema(id).dataType, p.schema("embedding").dataType) match {
        case (ByteType | ShortType | IntegerType | LongType, ArrayType(FloatType, _)) =>
          DatasetBridge.analyzed(p.select(col(id).cast(LongType).as(id), col("embedding")))
        case (i, v) => throw new IllegalArgumentException(
          s"KnnJoinPlan: needs an integral $id and an ARRAY<FLOAT> embedding, got $i and $v")
      }
    }
    DatasetBridge.ofRows(spark,
      KnnJoinPlan(side(queriesDf, "query_id"), side(dataDf, "vec_id"), k, freshOutput()))
  }

  /** Idempotently register the planner strategy + optimizer rule on a
    * live session. */
  def install(spark: SparkSession): Unit = {
    DatasetBridge.addStrategy(spark, KnnJoinStrategy)
    DatasetBridge.addOptimization(spark, KnnTopKPushdown)
  }
}

/** Optimizer rule completing the custom-operator stack (SURVEY.md §2
  * disposition (c): LogicalPlan + Rule[LogicalPlan] + SparkStrategy +
  * SparkPlan): a `Filter` directly above [[KnnJoinPlan]] that bounds the
  * rank column (`rn <= m`, `rn < m`, `rn = m`, conjunctions thereof)
  * shrinks the operator's k to m — the top-m of a top-k IS the top-m
  * (the per-query order is total: dist ASC, vec_id ASC), so the rewrite
  * is semantics-preserving while every executor heap, partial result,
  * and shuffle row count drops from k to m per query. The filter itself
  * is kept (other conjuncts, and `rn = m` selecting one rank, still
  * apply). Runs to fixed point: after the rewrite m == k and the guard
  * `m < k` stops matching.
  *
  * Robustness: the rn side may sit under type-coercion casts
  * (`rn <= 3L` becomes `CAST(rn AS BIGINT) <= 3L`) and the literal may
  * be any integral type — both are normalized before matching. A single
  * TRIVIAL `Project` (attributes/aliases only, the shape ColumnPruning
  * and `.select` insert) between the Filter and the node is matched
  * through; deeper or computing projections are left alone (correctness
  * unaffected — the filter still applies, only the shrink is missed). */
object KnnTopKPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, And, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NamedExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
  import org.apache.spark.sql.types.{ByteType, ShortType}

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  /** Integral literal folded to Int (the operator's k domain). */
  private def litInt(e: Expression): Option[Int] = stripCast(e) match {
    case Literal(m: Int, IntegerType) => Some(m)
    case Literal(m: Long, LongType) if m >= Int.MinValue && m <= Int.MaxValue => Some(m.toInt)
    case Literal(m: Short, ShortType) => Some(m.toInt)
    case Literal(m: Byte, ByteType) => Some(m.toInt)
    case _ => None
  }

  /** Upper bound on rn implied by one conjunct, if any. `rnIds` holds the
    * attributes that carry the rank column at the Filter's level (the
    * node's own rn, plus any pass-through aliases of it). */
  private def rnBound(p: Expression, rnIds: Seq[Attribute]): Option[Int] = {
    def isRn(e: Expression): Boolean = stripCast(e) match {
      case a: Attribute => rnIds.exists(_.semanticEquals(a))
      case _ => false
    }
    p match {
      case LessThanOrEqual(a, l) if isRn(a) => litInt(l)
      case LessThan(a, l) if isRn(a) => litInt(l).map(_ - 1)
      case EqualTo(a, l) if isRn(a) => litInt(l)
      case EqualTo(l, a) if isRn(a) => litInt(l)
      case GreaterThanOrEqual(l, a) if isRn(a) => litInt(l)
      case GreaterThan(l, a) if isRn(a) => litInt(l).map(_ - 1)
      case _ => None
    }
  }

  /** Attributes at the Filter's level that carry kj's rn column: the rn
    * attribute itself, or its pass-through image in a trivial Project. */
  private def rnAt(projList: Option[Seq[NamedExpression]],
      kj: KnnJoinPlan): Seq[Attribute] =
    kj.outputAttrs.find(_.name == "rn").toSeq.flatMap { rn =>
      projList match {
        case None => Seq(rn)
        case Some(ps) => ps.collect {
          case a: Attribute if a.semanticEquals(rn) => a
          case al @ Alias(a: Attribute, _) if a.semanticEquals(rn) => al.toAttribute
        }
      }
    }

  private def shrink(cond: Expression, rnIds: Seq[Attribute],
      kj: KnnJoinPlan): Option[KnnJoinPlan] =
    conjuncts(cond).flatMap(rnBound(_, rnIds)).reduceOption(_ min _) match {
      case Some(m) if m >= 1 && m < kj.k => Some(kj.copy(k = m))
      case _ => None
    }

  private def isTrivial(ps: Seq[NamedExpression]): Boolean = ps.forall {
    case _: Attribute => true
    case Alias(_: Attribute, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, kj: KnnJoinPlan) =>
      shrink(cond, rnAt(None, kj), kj)
        .map(Filter(cond, _)).getOrElse(f)
    case f @ Filter(cond, p @ Project(ps, kj: KnnJoinPlan)) if isTrivial(ps) =>
      shrink(cond, rnAt(Some(ps), kj), kj)
        .map(k2 => Filter(cond, p.copy(child = k2))).getOrElse(f)
  }
}

/** Plans [[KnnJoinPlan]] into [[KnnJoinExec]], resolving the input columns
  * by name against the (already-optimized) child outputs. */
object KnnJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: KnnJoinPlan =>
      // Resolve contract columns by position in the (already-pruned-by-
      // join()) child outputs. NEVER invent logical nodes here: a Project
      // created at planning time has no logicalLink into the logical plan,
      // which breaks AQE's materialized-stage substitution and livelocks
      // the replan loop (see KnnJoinPlan.join scaladoc).
      def idx(side: LogicalPlan, name: String, which: String): Int = {
        val i = side.output.indexWhere(_.name == name)
        require(i >= 0, s"KnnJoinPlan: $which side must provide column '$name' " +
          s"(has ${side.output.map(_.name).mkString(", ")})")
        i
      }
      KnnJoinExec(p.outputAttrs, p.k,
        idx(p.queries, "query_id", "queries"), idx(p.queries, "embedding", "queries"),
        idx(p.data, "vec_id", "data"), idx(p.data, "embedding", "data"),
        planLater(p.queries), planLater(p.data)) :: Nil
    case _ => Nil
  }
}

/** Physical batch kNN join: collect + broadcast the (small) query side,
  * stream the data side once per partition keeping a ≤k bound per query,
  * then merge the k-bounded partials per query with map-side combine.
  *
  * Scale shape (the reason this operator exists rather than a generic
  * join): the shuffle carries at most |Q|·k rows PER MAP PARTITION —
  * independent of data-side row count and immune to candidate skew (the
  * same guarantee as [[graft.operators.KnnTopK]], here enforced by the
  * operator itself instead of by how the query is composed). Distances use
  * the identical float→double left-to-right IEEE loop as
  * [[graft.functions.VecMetricCols]], so results are bit-equal to a
  * [[graft.operators.KnnTopK.topK]] over the scored cross product.
  */
case class KnnJoinExec(
    out: Seq[Attribute], k: Int,
    qIdIdx: Int, qVecIdx: Int, dIdIdx: Int, dVecIdx: Int,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = out
  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): KnnJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val qid = qIdIdx; val qv = qVecIdx; val did = dIdIdx; val dv = dVecIdx
    val kk = k
    // query side: executeCollect is the physical analog of a broadcast
    // build side — the node's contract is |Q| small (ANN forms cover huge
    // query sets)
    val queries: Array[(Long, Array[Float])] = left.executeCollect().collect {
      case r if !r.isNullAt(qid) && !r.isNullAt(qv) =>
        (r.getLong(qid), r.getArray(qv).toFloatArray)
    }
    val bc = sparkContext.broadcast(queries)
    // static helper bound to the primitive k only: task closures must not
    // capture `this` (the whole physical plan tree would be serialized into
    // every task)
    val insertFn = KnnJoinExec.insertBounded(kk)

    val partials: RDD[(Long, Array[(Long, Double)])] = right.execute().mapPartitions { it =>
      val qs = bc.value
      if (qs.isEmpty) Iterator.empty
      else {
        // hot-loop layout: parallel primitive-friendly arrays instead of
        // tuple derefs, and a primitive acceptance check BEFORE the
        // allocating insert — the naive form allocated a (Long, Double)
        // tuple per candidate pair (10^9 allocations at 1k × 1M), which
        // dominated the kernel
        val nq = qs.length
        val qIds = new Array[Long](nq)
        val qVecs = new Array[Array[Float]](nq)
        var p = 0
        while (p < nq) { qIds(p) = qs(p)._1; qVecs(p) = qs(p)._2; p += 1 }
        val bufs = Array.fill(nq)(Array.empty[(Long, Double)])
        it.foreach { row =>
          if (!row.isNullAt(did) && !row.isNullAt(dv)) {
            val id = row.getLong(did)
            val v = row.getArray(dv).toFloatArray
            var i = 0
            while (i < nq) {
              val q = qVecs(i)
              if (v.length != q.length)
                throw new IllegalArgumentException(
                  s"KnnJoinExec: data vector id=$id has dim ${v.length}, " +
                    s"query id=${qIds(i)} has dim ${q.length}; mixed-dimension " +
                    "input is a data error (validate at ingest, cf. Grid.requireDim)")
              // identical IEEE order to VecMetricCols SqL2: per-element
              // float→double subtraction, left-to-right d*d accumulation.
              // Once the per-query heap is full, the running sum is
              // monotone non-decreasing, so the loop aborts as soon as it
              // strictly exceeds the kth distance — the pair would be
              // rejected on any completion (exact: ties at == kth run to
              // the end and tie-break on id as before)
              val buf = bufs(i)
              val len = q.length
              if (buf.length < kk) {
                var s = 0.0
                var j = 0
                while (j < len) {
                  val d = q(j).toDouble - v(j).toDouble
                  s += d * d
                  j += 1
                }
                bufs(i) = insertFn(buf, (id, s))
              } else {
                // chunked early exit: accumulate 16 elements branch-free,
                // then test — a per-element test defeats the JIT's
                // reduction pipelining (measured SLOWER than no pruning)
                val last = buf(kk - 1)
                val thr = last._2
                var s = 0.0
                var j = 0
                var live = true
                while (live && j < len) {
                  val end = if (j + 16 < len) j + 16 else len
                  while (j < end) {
                    val d = q(j).toDouble - v(j).toDouble
                    s += d * d
                    j += 1
                  }
                  if (s > thr) live = false
                }
                if (live && (s < thr || (s == thr && id < last._1)))
                  bufs(i) = insertFn(buf, (id, s))
              }
              i += 1
            }
          }
        }
        Iterator.range(0, nq)
          .filter(i => bufs(i).nonEmpty)
          .map(i => (qIds(i), bufs(i)))
      }
    }

    // k-bounded merge per query: RDD combine-by-key with map-side combine
    // (partials are already ≤k, so reducers see k-bounded buffers only)
    val merged = partials.reduceByKey((a, b) => b.foldLeft(a)(insertFn))

    merged.mapPartitions { it =>
      val proj = GenerateUnsafeProjection.generate(
        out.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) })
      val row = new GenericInternalRow(4)
      it.flatMap { case (q, buf) =>
        buf.iterator.zipWithIndex.map { case ((id, dist), i) =>
          row.update(0, q); row.update(1, id); row.update(2, dist); row.update(3, i + 1)
          proj(row).copy(): InternalRow
        }
      }
    }
  }
}

object KnnJoinExec {
  /** Insert into a (dist ASC, id ASC)-sorted, ≤k-element buffer. Static (no
    * operator state) so task closures stay serialization-minimal. */
  def insertBounded(k: Int): (Array[(Long, Double)], (Long, Double)) => Array[(Long, Double)] =
    (buf, n) => {
      def lt(a: (Long, Double), b: (Long, Double)): Boolean =
        a._2 < b._2 || (a._2 == b._2 && a._1 < b._1)
      if (buf.length < k) (buf :+ n).sortBy(x => (x._2, x._1))
      else if (lt(n, buf(k - 1))) buf.updated(k - 1, n).sortBy(x => (x._2, x._1))
      else buf
    }
}
