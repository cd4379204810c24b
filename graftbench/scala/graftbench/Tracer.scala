package graftbench

import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where the time of one operation went, by repo module, measured from
  * outside the program:
  *
  *   - a SparkListener records every job (start, end, tasks, input,
  *     shuffle and spill bytes) and attributes it to the module of the
  *     first `graft.*` frame of its long call site;
  *   - a QueryExecutionListener records each query's analysis time and the
  *     hub files its scans planned (the hub scan names them in the plan);
  *   - a sampler thread reads the operation thread's stack every
  *     `periodMs` and attributes driver time outside jobs (the gaps) to
  *     the innermost `graft.*` frame's module, or to `spark` when no
  *     program frame is on the stack.
  *
  * Spans stay in memory; [[breakdown]] turns one operation's time window
  * into its per-layer figures after the listener bus has drained.
  * Recording happens only while [[on]] is set, so a run can interleave
  * traced and untraced operations to measure the tracing overhead.
  */
final class Tracer(spark: SparkSession, opThread: Thread, sourcePrefix: String,
    periodMs: Int = 5) {
  import Tracer._

  @volatile var on = false
  @volatile private var running = true

  private final class JobRec(val id: Int, val start: Long, val module: Option[String],
      val stages: Seq[Int]) {
    var end: Long = Long.MaxValue
    var tasks = 0L
    var input = 0L
    var shuffle = 0L
    var spill = 0L
  }
  private final case class QeRec(start: Long, analysisMs: Long, planFiles: Long,
      sourceBytes: Long)

  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobById = scala.collection.mutable.Map.empty[Int, JobRec]
  private val jobOfStage = scala.collection.mutable.Map.empty[Int, JobRec]
  private val qes = ArrayBuffer.empty[QeRec]
  private val samples = ArrayBuffer.empty[(Long, String)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
      val j = new JobRec(e.jobId, e.time, callSiteModule(e.properties),
        e.stageInfos.map(_.stageId))
      jobs += j
      jobById(e.jobId) = j
      j.stages.foreach(s => jobOfStage(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.remove(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      jobOfStage.get(si.stageId).foreach { j =>
        j.tasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          j.input += m.inputMetrics.bytesRead
          j.shuffle += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val phase = qe.tracker.phases.get("analysis")
        val start = phase.map(_.startTimeMs).getOrElse(System.currentTimeMillis())
        val rec = QeRec(start, phase.map(_.durationMs).getOrElse(0L),
          planFiles(qe.executedPlan), sourceScanBytes(qe.executedPlan, sourcePrefix))
        Tracer.this.synchronized(qes += rec)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val sampler = new Thread("graftbench-sampler") {
    setDaemon(true)
    override def run(): Unit = while (running) {
      if (on) {
        val m = innermostModule(opThread.getStackTrace)
        val t = System.currentTimeMillis()
        Tracer.this.synchronized(samples += ((t, m)))
      }
      Thread.sleep(periodMs.toLong)
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  sampler.start()

  def stop(): Unit = {
    running = false
    sampler.join()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Per-layer figures of the operation that ran in [t0, t1] (epoch ms).
    * Jobs with no program frame on their call site and none sampled while
    * they ran are billed to `defaultModule`, the layer the operation
    * entered through.
    */
  def breakdown(t0: Long, t1: Long, defaultModule: String): Map[String, Any] = synchronized {
    val wall = (t1 - t0).max(1L).toDouble
    val inWin = jobs.toSeq.filter(j => j.start < t1 && j.end.min(t1) > t0)
      .map(j => (j, j.start.max(t0), j.end.min(t1)))
    val union = unionLength(inWin.map(x => (x._2, x._3)))
    val gap = (wall - union).max(0.0)
    val byMod = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val jobByMod = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val inputByMod = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val summed = inWin.map(x => (x._3 - x._2).toDouble).sum
    val scale = if (summed > 0) union / summed else 0.0
    // a job started from a pool thread has no program frame on its call
    // site: bill it to where the operation thread waited meanwhile
    def waitedIn(a: Long, b: Long): Option[String] = {
      val ss = samples.filter(s => s._1 >= a && s._1 < b && s._2 != "spark")
      if (ss.isEmpty) None else Some(ss.groupBy(_._2).maxBy(_._2.size)._1)
    }
    inWin.foreach { case (j, a, b) =>
      val m = j.module.orElse(waitedIn(a, b)).getOrElse(defaultModule)
      jobByMod(m) += (b - a)
      inputByMod(m) += j.input
      byMod(m) += (b - a) * scale
    }
    val gapSamples = samples.filter { case (t, _) =>
      t >= t0 && t < t1 && !inWin.exists(x => t >= x._2 && t < x._3)
    }
    if (gapSamples.isEmpty) byMod("spark.gap") += gap
    else gapSamples.groupBy(_._2).foreach { case (m, ss) =>
      byMod(m + ".gap") += gap * ss.size / gapSamples.size
    }
    val started = jobs.filter(j => j.start >= t0 && j.start < t1)
    val q = qes.filter(r => r.start >= t0 && r.start < t1)
    Map(
      "wall_ms" -> wall, "job_ms" -> union, "gap_ms" -> gap,
      "jobs" -> started.size, "tasks" -> started.map(_.tasks).sum,
      "input_b" -> started.map(_.input).sum,
      "shuffle_b" -> started.map(_.shuffle).sum,
      "spill_b" -> started.map(_.spill).sum,
      "analyze_ms" -> q.map(_.analysisMs).sum,
      "plan_files" -> q.map(_.planFiles).sum,
      "source_scan_b" -> q.map(_.sourceBytes).sum,
      "module_ms" -> byMod.toMap,
      "job_ms_by_module" -> jobByMod.toMap,
      "input_b_by_module" -> inputByMod.toMap)
  }

  /** Every job and sample as spans, for the trace file. */
  def spans(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> j.end, "module" -> j.module, "tasks" -> j.tasks,
        "input_b" -> j.input, "shuffle_b" -> j.shuffle, "spill_b" -> j.spill)),
      "samples" -> samples.groupBy(_._2).map { case (m, s) => m -> s.size })
  }
}

object Tracer {
  private val HubFiles = """graft-hub v\d+ dirs=\d+/\d+ files=(\d+)""".r

  /** Hub files a plan reads, as the hub scan's description states them. */
  def planFiles(p: SparkPlan): Long =
    HubFiles.findAllMatchIn(p.toString).map(_.group(1).toLong).sum

  /** Bytes of the files that file scans under `prefix` planned to read,
    * walking into adaptive stages and write commands.
    */
  def sourceScanBytes(p: SparkPlan, prefix: String): Long = p match {
    case _ if prefix.isEmpty => 0L
    case a: AdaptiveSparkPlanExec => sourceScanBytes(a.executedPlan, prefix)
    case s: QueryStageExec => sourceScanBytes(s.plan, prefix)
    case c: CommandResultExec => sourceScanBytes(c.commandPhysicalPlan, prefix)
    case f: FileSourceScanExec =>
      if (f.relation.location.rootPaths.exists(_.toString.contains(prefix)))
        f.metrics.get("filesSize").map(_.value).getOrElse(0L)
      else 0L
    case o => (o.children ++ o.subqueries).map(sourceScanBytes(_, prefix)).sum
  }

  /** Module of a program class: the package under `graft`, with the writers
    * split into RAW and HUB, operators kept per class, and the root
    * (parser and extensions) counted as the SQL surface.
    */
  def moduleOf(cls: String): String = {
    val parts = cls.split('.')
    if (parts.length < 3) "sources"
    else {
      val top = parts(2).takeWhile(_ != '$')
      parts(1) match {
        case "writers" => if (top == "RawWriter") "writers.raw" else "writers.hub"
        case "operators" => s"operators.$top"
        case p => p
      }
    }
  }

  private def isProgram(cls: String): Boolean = cls.startsWith("graft.")

  def innermostModule(st: Array[StackTraceElement]): String =
    st.find(f => isProgram(f.getClassName)).map(f => moduleOf(f.getClassName))
      .getOrElse("spark")

  /** First program frame of the job's long call site, if any. */
  def callSiteModule(props: Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("callSite.long")))
      .flatMap(_.split("\n").map(_.trim).find(isProgram))
      .map(line => moduleOf(line.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")))

  def unionLength(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}
