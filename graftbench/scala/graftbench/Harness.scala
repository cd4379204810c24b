package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One closed-loop benchmark run: set up a workload, run its operations
  * back to back for a fixed time on one client thread, then check the
  * outputs and write a JSON record of every operation.
  *
  * {{{
  *   graftbench.Harness --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --input <dir> --work <dir> --out <record.json>
  * }}}
  *
  * Only the entry points a user calls are timed: `Ingest.runCatalog` with
  * a YAML catalog, `spark.sql` against `graft.sources.HubCatalog`, and the
  * `SparkEntry.queries` functions. With `--trace 1` every other unit of
  * work runs under the [[Tracer]], so one run yields both the per-layer
  * split and the tracing overhead.
  */
object Harness {

  /** What one operation reports back; `ok = false` counts as failed. */
  final case class OpResult(kind: String, rows: Long, ok: Boolean = true,
      extra: Map[String, Any] = Map.empty)

  final case class Check(name: String, ok: Boolean, detail: String)

  trait Workload {
    /** Module billed for jobs started outside program code. */
    def entryModule: String
    def setup(): Unit
    def op(i: Int): OpResult
    /** May the timed loop stop after operation `i`? */
    def boundary(i: Int): Boolean = true
    /** False once the workload has no more prepared input. */
    def hasNext(i: Int): Boolean = true
    /** Tracing alternates per unit (an operation, or a whole pass). */
    def unit(i: Int): Int = i
    /** Directories whose bytes and files are listed around traced ops;
      * the hub directory comes first.
      */
    def fsRoots: Seq[String] = Nil
    /** Called between operations, outside the timed latency. */
    def between(i: Int): Unit = ()
    /** Adds figures read after operation `i`, outside the timed latency. */
    def after(i: Int, r: OpResult): OpResult = r
    def checks(): Seq[Check]
    def extras(): Map[String, Any]
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val input = a("input")
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, s"$work/hubsql")
    val sessionReady = System.currentTimeMillis()
    val wl: Workload = workload match {
      case "ingest_incremental" => new IngestWorkload(spark, input, work)
      case "hub_sql_ops" => new HubSqlWorkload(spark, input, work, a("seed").toLong)
      case "curation_corpus" => new CurationWorkload(spark, input, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val calibBefore = calibrate(spark)
    val loadBefore = loadAvg()
    val setupStart = System.currentTimeMillis()
    wl.setup()
    val tracer = if (trace) Some(new Tracer(spark, Thread.currentThread(), input)) else None

    final case class Rec(i: Int, r: OpResult, ms: Double, traced: Boolean,
        t0: Long, t1: Long, fsBefore: Option[Seq[(Long, Long)]],
        fsAfter: Option[Seq[(Long, Long)]],
        error: Option[String])
    val recs = ArrayBuffer.empty[Rec]
    val firstOp = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // a traced run covers at least one traced and one untraced unit, so the
    // overhead can be measured even when one unit outlasts the deadline
    def more(i: Int) = System.nanoTime() < deadline || !wl.boundary(i - 1) ||
      (tracer.isDefined && wl.unit(i) < 2)
    while (more(i) && wl.hasNext(i)) {
      wl.between(i)
      val traced = tracer.isDefined && wl.unit(i) % 2 == 0
      val before = if (traced) Some(wl.fsRoots.map(du)) else None
      tracer.foreach(_.on = traced)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val (r0, err) =
        try (wl.op(i), None)
        catch { case NonFatal(e) => (OpResult("error", 0L, ok = false), Some(e.toString)) }
      val ms = (System.nanoTime() - n0) / 1e6
      val t1 = System.currentTimeMillis()
      tracer.foreach(_.on = false)
      val r = if (err.isEmpty) wl.after(i, r0) else r0
      val after = if (traced) Some(wl.fsRoots.map(du)) else None
      recs += Rec(i, r, ms, traced, t0, t1, before, after, err)
      i += 1
    }
    val windowS = (System.currentTimeMillis() - firstOp) / 1e3
    val heapMb = retainedHeapMb()
    tracer.foreach(_ => org.apache.spark.BenchBus.drain(spark.sparkContext))
    val calibAfter = calibrate(spark)
    val loadAfter = loadAvg()
    val checks =
      try wl.checks()
      catch { case NonFatal(e) => Seq(Check("checks", ok = false, e.toString)) }
    val extras = wl.extras()

    val ops = recs.map { r =>
      Map("i" -> r.i, "kind" -> r.r.kind, "ms" -> r.ms, "ok" -> r.r.ok,
        "rows" -> r.r.rows, "traced" -> r.traced, "error" -> r.error,
        "extra" -> r.r.extra,
        "fs_before" -> r.fsBefore.map(_.map(x => Seq(x._1, x._2))),
        "fs_after" -> r.fsAfter.map(_.map(x => Seq(x._1, x._2))),
        "layers" -> (if (r.traced) tracer.map(_.breakdown(r.t0, r.t1, wl.entryModule))
          else None))
    }
    val record = Map(
      "workload" -> workload, "jvm_start_ms" -> jvmStart,
      "setup_phases_s" -> Map("jvm_to_session" -> (sessionReady - jvmStart) / 1e3,
        "calibrate" -> (setupStart - sessionReady) / 1e3,
        "workload_setup" -> (firstOp - setupStart) / 1e3),
      "first_op_ms" -> firstOp, "window_s" -> windowS,
      "heap_retained_mb" -> heapMb, "ops" -> ops,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "extras" -> extras,
      "spans" -> tracer.map(_.spans()),
      "env" -> Map("nproc" -> cpus, "calib_before_s" -> calibBefore,
        "calib_after_s" -> calibAfter, "load_before" -> loadBefore,
        "load_after" -> loadAfter))
    Files.write(Paths.get(a("out")), Json.write(record).getBytes(StandardCharsets.UTF_8))
    tracer.foreach(_.stop())
    spark.stop()
  }

  def session(cpus: Int, hubBase: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.catalog.hub", "graft.sources.HubCatalog")
      .config("spark.sql.catalog.hub.base", hubBase)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The constant-work probe of `graft.Bench`, at a quarter of its size:
    * the same CPU-bound job with no I/O, to tell host drift from plan
    * changes.
    */
  def calibrate(spark: SparkSession): Double = {
    val cpus = spark.sparkContext.defaultParallelism
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, cpus).selectExpr("sum(id * (id % 7)) AS v")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(100)
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes and files under a directory. */
  def du(root: String): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) { bytes += f.length(); files += 1 }
    walk(new File(root))
    (bytes, files)
  }
}
