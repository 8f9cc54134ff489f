package perfbench

import graft.SparkEntry

/** Registered `SparkEntry.queries` at sf0.1, in two classes:
  *  - `jobbound`: wall time far above executor time (many small jobs, much
  *    of it started while the DataFrame is built);
  *  - `cpubound`: executor CPU at or above wall time (codegen'd kernels and
  *    wide stages).
  *
  * Set-up is fixture prep (`SparkEntry.prepareFixtures`) and one warm-up
  * pass that writes every query's output to parquet; `run.py` compares
  * those outputs with the DuckDB oracle's expected hashes. The measured
  * window then runs whole passes over the query list, each pass in a
  * seeded order, until `--seconds` have passed. One op is build + plan +
  * noop write of one query.
  */
object CatalogWorkload {
  val JobBound: Seq[String] = Seq(
    "knn_join_quantile", "api_lifecycle")
  val CpuBound: Seq[String] = Seq(
    "text_ngram_diversity", "pipeline_pretrain")
  val Queries: Seq[String] = JobBound ++ CpuBound
  def classOf(q: String): String = if (JobBound.contains(q)) "jobbound" else "cpubound"

  /** Fixed parquet roots some store queries write under java.io.tmpdir;
    * removed before every op so each run of a query starts from the same
    * empty directory. */
  private val storeRoots = Seq("graft_versioned_store", "graft_store_roundtrip",
    "graft_autoprune_store", "graft_autoprune_qstore")

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }
  private def cleanStoreRoots(): Unit =
    storeRoots.foreach(n => deleteTree(new java.io.File(sys.props("java.io.tmpdir"), n)))

  def run(h: Harness): Unit = {
    val spark = h.spark
    val dir = h.opts.data
    val t = h.tracer
    val (_, prepS) = h.timed(h.setup("fixture prep") {
      t.span("store.prepare")(SparkEntry.prepareFixtures(spark, dir))
    })
    h.layer("store.prepare_s") = prepS

    // warm-up pass in a fixed order; its outputs are the checked outputs
    val checkDir = new java.io.File(h.opts.runDir, "check").getPath
    val (_, warmS) = h.timed(Queries.foreach { q =>
      cleanStoreRoots()
      val (rec, _) = h.op(q, classOf(q), h.warmOps) {
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$checkDir/$q")
      }
      if (!rec.ok) throw new Harness.SetupFailed(s"warm-up of $q", new RuntimeException(h.failures.last))
      h.clearCaches()
    })
    h.setupS = h.sessionS + prepS + warmS
    h.extra("check_dir") = checkDir
    h.extra("check_queries") = Queries
    h.markLiveHeap()

    val rnd = h.rng(1)
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < h.opts.seconds) {
      rnd.shuffle(Queries).foreach { q =>
        cleanStoreRoots()
        h.op(q, classOf(q)) {
          val df = t.span("SparkEntry.build")(SparkEntry.queries(q)(spark, dir))
          t.span("plans.plan")(df.queryExecution.executedPlan)
          t.span("operators.exec")(df.write.format("noop").mode("overwrite").save())
        }
        h.clearCaches()
      }
      passes += 1
    }
    h.windowS = (System.nanoTime() - t0) / 1e9
    h.markLiveHeap()
    cleanStoreRoots()

    val byClass = h.okOps.groupBy(_.cls).map { case (c, xs) => c -> Stats.median(xs.map(_.seconds)) }
    h.summary ++= Seq("passes" -> passes, "queries" -> Queries.size,
      "prepare_s" -> prepS, "warmup_s" -> warmS) ++
      byClass.toSeq.sortBy(_._1).map { case (c, v) => s"${c}_p50_s" -> v }
  }
}
