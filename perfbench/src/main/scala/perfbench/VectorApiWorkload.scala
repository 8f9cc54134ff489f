package perfbench

import graft.api._
import graft.core.Fixtures
import graft.index.GridConfig
import graft.operators.Knn
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The reference's query surface through `graft.api.VectorDatabase`, on a
  * seeded store of clustered 64-d vectors built with `fromDataFrame` +
  * `save` and then `load`ed.
  *
  * The store is above `Knn`'s 200k-row brute-force threshold, so kNN takes
  * the pruned widening path (several jobs per call). Each cycle of the
  * closed loop runs a fixed op mix with seeded order and arguments: kNN
  * under all four metrics, each with and without a `label` filter, one
  * radius search, one `getEntry` and one batch `knnJoin`; then insert,
  * delete and updatePosition; then one `getEntry` of the written store,
  * which shows what the writes cost later reads. Eight of the fifteen ops
  * are kNN calls, so the median op latency falls among the expensive reads
  * instead of on the step between them and the cheap ops. Every cycle
  * starts from the loaded store (snapshots are immutable), so each cycle
  * costs the same. The window runs whole cycles, at least `MinCycles`,
  * until `--seconds` have passed.
  *
  * Checks, outside the timed ops: one seeded search per cycle (a kNN or the
  * radius search) against `Knn.bruteForce` / `Knn.radiusSearch` on the same
  * snapshot;
  * every `getEntry` and two query ids of every `knnJoin` against vectors
  * the driver rebuilds from the seed; the store's count after the first
  * write.
  */
object VectorApiWorkload {
  val StoreRows = 220000L
  val BuildReps = 3
  /** Cycles per window: the per-op median of one cycle moved by ±5% from
    * cycle to cycle on a quiet host; two cycles give it 30 samples. */
  val MinCycles = 2
  val K = 10
  val JoinQueries = 8
  val Radius = 0.2
  val InsertRows = 50
  val DeleteIds = 20
  val UpdateIds = 20
  val Cfg: GridConfig = GridConfig(Gen.Dim, -1.0, 1.0, 4, 3)

  val Methods: Seq[String] = Seq("findKNearestNeighbors", "radiusSearch", "getEntry",
    "insert", "delete", "updatePosition", "knnJoin")
  val Searches: Set[String] = Set("findKNearestNeighbors", "radiusSearch")
  val Writes: Set[String] = Set("insert", "delete", "updatePosition")

  private val metrics: Seq[Metric] =
    Seq(SquaredL2, L1, LInf, MahalanobisDiag(Fixtures.InvDiag64))
  /** Clusters the query of each kNN slot (see `slot`), the radius search
    * and the join batch are drawn around. */
  private val KnnClusters = Seq(0, 42, 12, 30, 24, 18, 36, 2)
  private def slot(metric: Int, filtered: Boolean): Int = metric * 2 + (if (filtered) 1 else 0)
  private val RadiusCluster = 6
  private val JoinClusters = Seq(3, 9, 15, 21, 27, 33, 39, 45)

  /** What the store holds, tracked on the driver from the ops applied. */
  private final class Model(gen: Gen, n: Long) {
    val deleted = mutable.HashSet.empty[Long]
    val replaced = mutable.HashMap.empty[Long, Array[Float]]
    var nextId: Long = n
    def vector(id: Long): Array[Float] = replaced.getOrElse(id, gen.vector(id))
    def isLive(id: Long): Boolean = id >= 0 && id < nextId && !deleted.contains(id)
    def count: Long = nextId - deleted.size
    def liveId(r: scala.util.Random): Long =
      Iterator.continually(r.nextLong(nextId)).find(isLive).get
    def liveIds(r: scala.util.Random, m: Int): Seq[Long] =
      Iterator.continually(liveId(r)).distinct.take(m).toSeq
    /** Exact k nearest (squared L2) of each query over every live vector. */
    def topK(qs: Seq[Array[Float]], k: Int): Seq[Seq[(Long, Double)]] = {
      val byDist = Ordering[(Double, Long)]
      val heaps = qs.map(_ => mutable.PriorityQueue.empty[(Double, Long)])
      var id = 0L
      while (id < nextId) {
        if (!deleted.contains(id)) {
          val v = vector(id)
          qs.indices.foreach { i =>
            val d = Gen.sqL2(qs(i), v)
            val h = heaps(i)
            if (h.size < k) h.enqueue((d, id))
            else if (byDist.lt((d, id), h.head)) { h.dequeue(); h.enqueue((d, id)) }
          }
        }
        id += 1
      }
      heaps.map(_.toSeq.sorted.map { case (d, i) => (i, d) })
    }
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    val t = h.tracer
    val gen = new Gen(h.opts.seed)
    val vec = udf((id: Long) => gen.vector(id))
    val lab = udf((id: Long) => gen.label(id))
    val source = spark.range(0L, StoreRows, 1L, h.opts.cores * 2)
      .select(col("id").as("vec_id"), vec(col("id")).as("embedding"), lab(col("id")).as("label"))

    // store build, repeated; set-up time takes the median build
    val builds = (0 until BuildReps).map { rep =>
      val path = new java.io.File(h.opts.runDir, s"store_$rep").getPath
      val (db, s) = h.timed(h.setup(s"store build $rep") {
        t.span("api.build") {
          VectorDatabase.fromDataFrame(spark, source, Cfg).save(path)
          VectorDatabase.load(spark, path, Cfg)
        }
      })
      (path, db, s)
    }
    val buildS = Stats.median(builds.map(_._3))
    val (storePath, db0, _) = builds.last
    val storeBytes = dirBytes(new java.io.File(storePath))
    builds.init.foreach { case (p, _, _) => deleteTree(new java.io.File(p)) }
    h.layer("api.build_s") = buildS
    h.layer("store.rows") = StoreRows.toDouble
    h.layer("store.bytes_per_vec_byte") = storeBytes.toDouble / (StoreRows * Gen.Dim * 4L)

    var model = new Model(gen, StoreRows)
    var db = db0
    val qrnd = h.rng(2)
    var qstream = 0L
    /** A query near `cluster`, offset by the seed. Each op slot targets a
      * fixed cluster, so a slot costs about the same under every seed. */
    def query(cluster: Int): Array[Double] = {
      qstream += 1
      gen.around(cluster, new java.util.SplittableRandom(Gen.mix(h.opts.seed ^ 0x7a5L, qstream)))
        .map(_.toDouble)
    }
    def queryBatch(): Seq[Array[Float]] =
      JoinClusters.map(c => query(c).map(_.toFloat))

    def knn(m: Metric, q: Array[Double], filter: Option[Int]): Seq[Knn.Neighbor] =
      t.span("api.findKNearestNeighbors")(
        db.findKNearestNeighbors(q, K, filter.map(l => col("label") === l), Some(m)))
    def radius(q: Array[Double]): Array[Row] =
      t.span("api.radiusSearch")(db.radiusSearch(q, Radius).collect())
    def join(qs: Seq[Array[Float]]): Array[Row] = t.span("api.knnJoin")(db.knnJoin(
      qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("query_id", "embedding"), K)
      .collect())

    // warm-up: the read paths that compile the most code on first use
    val (_, warmS) = h.timed(Seq(
      () => knn(SquaredL2, query(KnnClusters(slot(0, false))), None),
      () => knn(L1, query(KnnClusters(slot(1, true))), Some(0)),
      () => radius(query(RadiusCluster)), () => join(queryBatch())).foreach { f =>
      val (rec, _) = h.op("warmup", "", h.warmOps)(f())
      if (!rec.ok) throw new Harness.SetupFailed("warm-up", new RuntimeException(h.failures.last))
    })
    h.setupS = h.sessionS + buildS + warmS
    h.markLiveHeap()

    sealed trait Op
    final case class KnnOp(metric: Int, filter: Option[Int], check: Boolean) extends Op
    final case class RadiusOp(check: Boolean) extends Op
    case object GetOp extends Op
    final case class WriteOp(kind: String) extends Op
    case object JoinOp extends Op
    val writeKinds = Seq("insert", "delete", "updatePosition")

    // Reads first, then the three writes, then one read of the written
    // store. The composition is fixed; the seed picks the order inside each
    // group, the query vectors, the label filters and the ids.
    def cycle(): Seq[Op] = {
      val slots = metrics.indices.flatMap(m => Seq(m -> false, m -> true))
      // one of the nine searches per cycle is checked against brute force
      val checked = qrnd.nextInt(slots.size + 1)
      val knns = slots.zipWithIndex.map { case ((m, filtered), i) =>
        KnnOp(m, if (filtered) Some(qrnd.nextInt(Gen.Labels)) else None, i == checked)
      }
      qrnd.shuffle(knns ++ Seq(RadiusOp(checked == slots.size), GetOp, JoinOp)) ++
        qrnd.shuffle(writeKinds.map(WriteOp)) :+ GetOp
    }

    var checkNs = 0L
    def checking(rec: OpRec)(body: => Unit): Unit = {
      val c0 = System.nanoTime()
      try body
      catch { case scala.util.control.NonFatal(e) => h.mismatch(rec, s"check threw $e") }
      checkNs += System.nanoTime() - c0
    }
    var writesChecked = false
    var pairs = 0.0
    var joinS = 0.0

    val t0 = System.nanoTime()
    var cycles = 0
    while (cycles < MinCycles || (System.nanoTime() - t0 - checkNs) / 1e9 < h.opts.seconds) {
      // a kNN on a written store takes several times as long: start each
      // cycle from the loaded store
      model = new Model(gen, StoreRows)
      db = db0
      cycle().foreach {
        case KnnOp(metric, filter, check) =>
          val m = metrics(metric)
          val q = query(KnnClusters(slot(metric, filter.isDefined)))
          val snapshot = db
          val (rec, got) = h.op("findKNearestNeighbors", "read")(knn(m, q, filter))
          got.foreach { res =>
            rec.results = res.size
            if (check) checking(rec) {
              val want = Knn.bruteForce(snapshot.state, m.dist(col("embedding"), q), K,
                pred = filter.map(l => col("label") === l)).collect()
                .map(r => (r.getLong(0), r.getDouble(2))).toSeq
              val have = res.map(n => (n.vec_id, n.dist))
              if (have != want) h.mismatch(rec, s"kNN $have != brute force $want")
            }
          }
        case RadiusOp(check) =>
          val q = query(RadiusCluster)
          val snapshot = db
          val (rec, got) = h.op("radiusSearch", "read")(radius(q))
          got.foreach { res =>
            rec.results = res.length
            if (check) checking(rec) {
              val want = Knn.radiusSearch(snapshot.state, SquaredL2.dist(col("embedding"), q),
                Radius).collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
              val have = res.map(r => (r.getLong(0), r.getDouble(2))).toSeq
              if (have != want) h.mismatch(rec, s"radius ${have.size} rows != brute force ${want.size}")
            }
          }
        case GetOp =>
          val id = model.liveId(qrnd)
          val (rec, got) = h.op("getEntry", "read")(t.span("api.getEntry")(db.getEntry(id)))
          got.foreach { res =>
            rec.results = res.size
            checking(rec) {
              val ok = res.exists(r => r.getAs[Long]("vec_id") == id &&
                r.getAs[scala.collection.Seq[Float]]("embedding").toSeq == model.vector(id).toSeq)
              if (!ok) h.mismatch(rec, s"getEntry($id) = $res")
            }
          }
        case WriteOp(kind) =>
          val (rec, got) = kind match {
            case "insert" =>
              val rows = (0 until InsertRows).map { i =>
                (gen.near(Gen.mix((h.opts.seed ^ 0x1a5L) + cycles, model.nextId + i)), qrnd.nextInt(Gen.Labels))
              }
              val df = rows.toDF("embedding", "label")
              val r = h.op(kind, "write")(t.span("api.insert")(db.insert(df)._1))
              if (r._2.isDefined) {
                rows.zipWithIndex.foreach { case ((v, _), i) => model.replaced(model.nextId + i) = v }
                model.nextId += InsertRows
              }
              r
            case "delete" =>
              val ids = model.liveIds(qrnd, DeleteIds)
              val r = h.op(kind, "write")(t.span("api.delete")(db.delete(ids)))
              if (r._2.isDefined) model.deleted ++= ids
              r
            case _ =>
              val ups = model.liveIds(qrnd, UpdateIds).map(id =>
                id -> gen.near(Gen.mix((h.opts.seed ^ 0x2b7L) + cycles, id)))
              val df = ups.toDF("vec_id", "embedding")
              val r = h.op(kind, "write")(t.span("api.updatePosition")(db.updatePosition(df)))
              if (r._2.isDefined) ups.foreach { case (id, v) => model.replaced(id) = v }
              r
          }
          got.foreach { next =>
            db = next
            if (!writesChecked) checking(rec) {
              writesChecked = true
              val n = db.count()
              if (n != model.count) h.mismatch(rec, s"$kind: count $n != ${model.count}")
            }
          }
        case JoinOp =>
          val qs = queryBatch()
          val (rec, got) = h.op("knnJoin", "read")(join(qs))
          got.foreach { res =>
            rec.results = res.length
            pairs += JoinQueries.toDouble * model.count
            joinS += rec.seconds
            checking(rec) {
              val sample = qrnd.shuffle(qs.indices.toList).take(2)
              val want = model.topK(sample.map(qs), K)
              sample.zip(want).foreach { case (qi, w) =>
                val have = res.filter(_.getAs[Long]("query_id") == qi)
                  .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist")))
                  .sortBy { case (id, d) => (d, id) }.toSeq
                if (have != w) h.mismatch(rec, s"knnJoin query $qi: $have != exact $w")
              }
            }
          }
      }
      cycles += 1
    }
    h.windowS = (System.nanoTime() - t0 - checkNs) / 1e9
    h.markLiveHeap()
    deleteTree(new java.io.File(storePath))

    val done = h.okOps
    def p50(kinds: Set[String]) = {
      val xs = done.filter(r => kinds.contains(r.kind)).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    h.layer("api.knn_p50_s") = p50(Set("findKNearestNeighbors"))
    h.layer("api.write_p50_s") = p50(Writes)
    h.layer("api.knnJoin.pairs_per_s") = if (joinS > 0) pairs / joinS else 0.0
    h.summary ++= Seq("cycles" -> cycles, "store_rows" -> StoreRows,
      "knn_p50_s" -> h.layer("api.knn_p50_s"), "write_p50_s" -> h.layer("api.write_p50_s"),
      "pairs_per_s" -> h.layer("api.knnJoin.pairs_per_s"),
      "store_bytes_per_vec_byte" -> h.layer("store.bytes_per_vec_byte"),
      "build_s" -> buildS, "warmup_s" -> warmS, "check_s" -> checkNs / 1e9)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }
}
