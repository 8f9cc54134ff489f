package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark driver process: one workload, one seed, one closed-loop client
  * thread on `local[cores]`.
  *
  * Usage (normally started by `perfbench/run.py`):
  * {{{
  *   perfbench.Main --workload catalog --seed 1 --seconds 10 --trace 0 \
  *     --data perfbench/data/sf0.1 --run-dir .bench_build/runs/x --cores 4
  * }}}
  * Prints one line `PERFBENCH_RESULT {json}` on stdout. A failed set-up step
  * (fixture prep, store build, warm-up) exits with code 3 and prints no
  * result.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, runDir: String, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("run-dir"), m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload: Harness => Unit = o.workload match {
      case "catalog" => CatalogWorkload.run
      case "vector_api" => VectorApiWorkload.run
      case w => System.err.println(s"unknown workload $w"); sys.exit(2)
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val h = new Harness(spark, o, sessionS)
    val code =
      try {
        workload(h)
        if (o.trace) Kernels.run(h)
        println("PERFBENCH_RESULT " + h.resultJson())
        0
      } catch {
        case e: Harness.SetupFailed =>
          System.err.println(s"[perfbench] set-up failed: ${e.getMessage}")
          e.getCause.printStackTrace()
          3
      }
    spark.stop()
    sys.exit(code)
  }
}

/** One timed op of the closed loop. `ok` turns false when the op throws or
  * its output check fails; such an op has no latency sample. */
final class OpRec(val kind: String, val cls: String, val seconds: Double,
    var ok: Boolean, val span: Int) {
  /** Rows the op returned, for rows-read-per-result. */
  var results: Long = 0L
  var persistedAfter: Int = 0
  var cachedBytesAfter: Long = 0L
}

final class Harness(val spark: SparkSession, val opts: Main.Opts, val sessionS: Double) {
  import Harness._

  val tracer = new Tracer(spark.sparkContext, opts.trace)
  val warmOps = mutable.ArrayBuffer.empty[OpRec]
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Set-up seconds (session start + workload set-up), filled by the workload. */
  var setupS: Double = 0.0
  /** Seconds the measured window ran, less the time spent checking outputs. */
  var windowS: Double = 0.0
  /** Layer metrics the workload measured itself (build times, kernels, …);
    * those of the other workload stay 0. */
  val layer = mutable.LinkedHashMap[String, Double](Seq("store.prepare_s", "api.build_s",
    "store.rows", "store.bytes_per_vec_byte", "api.knn_p50_s", "api.write_p50_s",
    "api.knnJoin.pairs_per_s").map(_ -> 0.0): _*)
  /** Workload-specific figures for the human-readable summary line. */
  val summary = mutable.LinkedHashMap.empty[String, Any]
  /** Extra result fields for run.py (e.g. outputs it must check). */
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def rng(stream: Long): scala.util.Random = new scala.util.Random(opts.seed * 1000003L + stream)

  /** A set-up step: failure aborts the run instead of being timed. */
  def setup[A](what: String)(body: => A): A =
    try body catch { case NonFatal(e) => throw new SetupFailed(what, e) }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs one op; records its latency, or a failure if it throws. */
  def op[A](kind: String, cls: String, into: mutable.ArrayBuffer[OpRec] = ops)(
      body: => A): (OpRec, Option[A]) = {
    val spanId = tracer.spans.size
    val t0 = System.nanoTime()
    val r =
      try Right(tracer.span(s"op:$kind")(body))
      catch { case NonFatal(e) => Left(e) }
    val rec = new OpRec(kind, cls, (System.nanoTime() - t0) / 1e9, r.isRight,
      if (opts.trace) spanId else -1)
    r.left.foreach(e => failures += s"$kind: ${e.toString.take(300)}")
    if (opts.trace) {
      val sc = spark.sparkContext
      rec.persistedAfter = sc.getPersistentRDDs.size
      rec.cachedBytesAfter = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    }
    into += rec
    System.err.println(f"[perfbench] op $kind ${rec.seconds}%.3f s${if (rec.ok) "" else " FAILED"}")
    (rec, r.toOption)
  }

  def mismatch(rec: OpRec, what: String): Unit = {
    rec.ok = false
    failures += s"${rec.kind}: output mismatch: $what"
  }

  /** Drops every cached table and persisted RDD (untimed, between ops), so
    * one op's leftovers do not slow the next. */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def okOps: Seq[OpRec] = ops.filter(_.ok).toSeq

  private var liveHeapPeakMb = 0.0

  /** Heap in use right after a full collection: the memory the session
    * holds on to (cached blocks, broadcasts, driver-side state), without
    * the garbage whose amount depends on when the collector last ran.
    * Workloads call it, untimed, after set-up and after the window. */
  def markLiveHeap(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    liveHeapPeakMb = math.max(liveHeapPeakMb, used / 1048576.0)
  }

  private def peakRssMb: Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally status.close()
  }

  def endToEnd: Seq[(String, Double)] = {
    val lat = okOps.map(_.seconds)
    require(lat.nonEmpty, "no op completed in the measured window")
    Seq(
      "setup_s" -> setupS,
      "ops_per_s" -> okOps.size / windowS,
      "latency_p50_s" -> Stats.percentile(lat, 50),
      "live_heap_mb" -> liveHeapPeakMb)
  }

  /** Per-layer metrics from the trace: per-op means over the measured ops,
    * plus the figures the workload put in `layer`. */
  def perLayer: Seq[(String, Double)] = {
    tracer.drain()
    val done = okOps
    def childSpans(rec: OpRec, name: String) =
      tracer.spans.filter(s => s.parent == rec.span && s.name == name)
    def usageOf(ids: Set[Int]) = tracer.usage(ids)
    val perOp = done.map(r => r -> usageOf(tracer.subtree(tracer.spans(r.span)))).toMap
    def meanOver(xs: Seq[OpRec])(f: OpRec => Double): Double = Stats.mean(xs.map(f))
    /** Mean over the ops that called layer `name` of `f` on those calls. */
    def layerSpan(name: String, f: Seq[Tracer.Span] => Double): Double = {
      val xs = done.filter(r => childSpans(r, name).nonEmpty)
      meanOver(xs)(r => f(childSpans(r, name).toSeq))
    }
    val cores = opts.cores
    def util(xs: Seq[OpRec]): Double = {
      val wall = xs.map(_.seconds).sum
      if (wall > 0) xs.map(r => perOp(r).cpuS).sum / (wall * cores) else 0.0
    }
    val m = mutable.LinkedHashMap.empty[String, Double]
    def seconds(ss: Seq[Tracer.Span]) = ss.map(_.seconds).sum
    def jobs(ss: Seq[Tracer.Span]) = ss.map(s => usageOf(tracer.subtree(s)).jobs).sum.toDouble
    m("SparkEntry.build_s") = layerSpan("SparkEntry.build", seconds)
    m("SparkEntry.build_jobs") = layerSpan("SparkEntry.build", jobs)
    m("plans.plan_s") = layerSpan("plans.plan", seconds)
    m("operators.exec_s") = layerSpan("operators.exec", seconds)
    m("operators.exec_jobs") = layerSpan("operators.exec", jobs)
    m("operators.stages") = meanOver(done)(r => perOp(r).stages.toDouble)
    m("operators.tasks") = meanOver(done)(r => perOp(r).tasks.toDouble)
    m("operators.persisted_rdds_after_op") = meanOver(done)(_.persistedAfter.toDouble)
    m("operators.cached_bytes_after_op") = meanOver(done)(_.cachedBytesAfter.toDouble)
    m("spark.jobs_per_op") = meanOver(done)(r => perOp(r).jobs.toDouble)
    m("spark.driver_idle_s") = meanOver(done)(r => math.max(0.0, r.seconds - perOp(r).busyS))
    m("spark.sched_delay_s") = meanOver(done)(r => perOp(r).schedS)
    m("spark.exec_cpu_s") = meanOver(done)(r => perOp(r).cpuS)
    m("spark.core_util") = util(done)
    m("spark.shuffle_read_bytes") = meanOver(done)(r => perOp(r).shuffleRead.toDouble)
    m("spark.shuffle_write_bytes") = meanOver(done)(r => perOp(r).shuffleWrite.toDouble)
    m("spark.spill_bytes") = meanOver(done)(r => perOp(r).spill.toDouble)
    for (cls <- Seq("jobbound", "cpubound")) {
      val xs = done.filter(_.cls == cls)
      m(s"catalog.$cls.p50_s") = if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.seconds))
      m(s"catalog.$cls.core_util") = util(xs)
      m(s"catalog.$cls.jobs_per_op") = meanOver(xs)(r => perOp(r).jobs.toDouble)
      m(s"catalog.$cls.build_jobs") = meanOver(xs)(r => jobs(childSpans(r, "SparkEntry.build").toSeq))
      m(s"catalog.$cls.exec_cpu_s") = meanOver(xs)(r => perOp(r).cpuS)
    }
    for (api <- VectorApiWorkload.Methods) {
      val xs = done.filter(_.kind == api)
      m(s"api.$api.p50_s") = if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.seconds))
      m(s"api.$api.jobs_per_call") = meanOver(xs)(r => perOp(r).jobs.toDouble)
    }
    val storeRows = layer.getOrElse("store.rows", 0.0)
    val searches = done.filter(r => VectorApiWorkload.Searches.contains(r.kind))
    m("index.scan_fraction") =
      if (storeRows == 0) 0.0 else meanOver(searches)(r => perOp(r).recordsIn / storeRows)
    m("index.rows_read_per_result") =
      meanOver(searches)(r => perOp(r).recordsIn.toDouble / math.max(1L, r.results))
    m("trace.bookkeeping_s") = tracer.bookkeepingNs / 1e9 / math.max(1, done.size)
    m("trace.op_wall_s") = meanOver(done)(_.seconds)
    layer.foreach { case (k, v) => m(k) = v }
    m.toSeq
  }

  def resultJson(): String = {
    val metrics = if (opts.trace) perLayer else endToEnd
    // a window holds 4-30 ops, too few for a steady p90: summary line only
    val lat = okOps.map(_.seconds)
    if (lat.nonEmpty) summary ++= Seq("latency_p90_s" -> Stats.percentile(lat, 90),
      "latency_samples" -> lat.size)
    // peak RSS follows how much of the heap the collector has touched
    // (1.7-2.9 GB on the same seed set), too unsteady to judge: summary
    // line only
    summary("peak_rss_mb") = peakRssMb
    if (opts.trace) {
      val f = new java.io.File(opts.runDir, "trace.json")
      java.nio.file.Files.writeString(f.toPath, tracer.toJson)
      extra("trace_file") = f.getPath
    }
    val all = warmOps ++ ops
    Json.obj(
      Seq("attempted" -> all.size, "failed" -> all.count(!_.ok),
        "failures" -> failures.toSeq,
        "measured_ops" -> ops.size, "window_s" -> windowS,
        "metrics" -> Json.Raw(Json.obj(metrics: _*)),
        "summary" -> Json.Raw(Json.obj(summary.toSeq: _*))) ++ extra.toSeq: _*)
  }
}

object Harness {
  final class SetupFailed(what: String, cause: Throwable)
      extends RuntimeException(s"$what: $cause", cause)
}
