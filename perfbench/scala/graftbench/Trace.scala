package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.graftbench.SparkInternals
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A benchmark span around one public call. Times are epoch milliseconds. */
final case class Span(id: Int, name: String, module: String, parent: Int, start: Double,
                      var end: Double = Double.NaN) {
  def dur: Double = (end - start) / 1e3
  def covers(t: Double): Boolean = start <= t && t <= end
}

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val start: Double, val callModule: Option[String]) {
  @volatile var end: Double = Double.NaN
  var stages = 0
  var failedTasks = 0
  var taskMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** Module of each program source file (its directory under
  * `src/main/scala/graft/`) by file name, and the benchmark's own file
  * names. */
final case class Modules(program: Map[String, String], bench: Set[String])

object Modules {
  private def scalaFiles(dir: String): Seq[java.nio.file.Path] =
    Sys.files(dir).filter(_.toString.endsWith(".scala"))

  def load(): Modules = {
    val base = java.nio.file.Paths.get("src/main/scala")
    val program = scalaFiles("src/main/scala").map { p =>
      val rel = base.relativize(p).iterator().asScala.map(_.toString).toVector
      val file = rel.last
      val module = rel.dropRight(1) match {
        case Vector("graft") => if (file == "SparkEntry.scala") "query" else "graft"
        case Vector("graft", m, _*) => m
        case _ => "functions" // the org.apache.spark.sql.graft expression shim
      }
      file -> module
    }.toMap
    Modules(program, scalaFiles("perfbench/scala").map(_.getFileName.toString).toSet)
  }
}

/** Spans recorded by the benchmark around every public call it makes, plus
  * one SparkListener that attaches each Spark job's task, shuffle, spill and
  * GC metrics, and each executed SQL plan's exchange count, to the
  * enclosing span. Nothing inside the program is instrumented: a job
  * launched inside a pipeline call is attributed to the module of its
  * call-site source file (`SnapshotStore.scala` -> `state`); a job the
  * benchmark itself launches belongs to its span's module. Disabled
  * (untraced runs): `span` just runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean, modules: Modules) {
  private val t0ms = System.currentTimeMillis()
  private val t0ns = System.nanoTime()
  def now: Double = t0ms + (System.nanoTime() - t0ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String, module: String)(f: => T): T =
    if (!attached) f
    else {
      val s = Span(spans.size, name, module, stack.headOption.map(_.id).getOrElse(-1), now)
      spans += s
      stack = s :: stack
      try f finally { s.end = now; stack = stack.tail }
    }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execDetails = new ConcurrentHashMap[Long, String]()
  private val execStart = new ConcurrentHashMap[Long, Double]()
  private val plans = new ConcurrentHashMap[Long, (Int, Boolean)]()
  private val blocks = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]()

  private val Frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r

  /** First program frame of a call-site stack, unless a benchmark frame
    * comes first (the benchmark launched the job itself). */
  private def callModule(stack: String): Option[String] = {
    val it = stack.split("\n").iterator.flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
    while (it.hasNext) {
      val f = it.next()
      if (modules.bench.contains(f)) return None
      val m = modules.program.get(f)
      if (m.isDefined) return m
    }
    None
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val fin = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val cm = fin.flatMap(s => callModule(s.details))
        .orElse(Option(execDetails.get(execId)).flatMap(callModule))
      val r = new JobRec(e.time.toDouble, cm)
      jobs.put(e.jobId, r)
      e.stageIds.foreach(stageJob.put(_, r))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { r =>
        r.synchronized {
          if (e.taskInfo != null && !e.taskInfo.successful) r.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            r.taskMs += m.executorRunTime
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            r.spill += m.diskBytesSpilled
          }
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        blocks.add((System.currentTimeMillis().toDouble, b.memSize + b.diskSize))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execDetails.put(s.executionId, s.details)
        execStart.put(s.executionId, s.time.toDouble)
      // the end event carries the executed plan under the execution id the
      // jobs and the start event use (a QueryExecutionListener callback
      // gets the same plan without that id)
      case e: SparkListenerSQLExecutionEnd => SparkInternals.executedPlan(e).foreach { p =>
        val nodes = planNodes(p)
        plans.put(e.executionId, (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
          nodes.exists(_.expressions.exists(_.find(_.prettyName == "bloom_probe").isDefined))))
      }
      case _ =>
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(planNodes)
  }

  private var attached = false

  /** Registers the listener and records spans (a no-op when disabled). */
  def attach(): Unit = if (enabled && !attached) {
    spark.sparkContext.addSparkListener(listener)
    attached = true
  }

  /** Removes the listener and stops recording spans, so the same calls can
    * be timed untraced for the tracing overhead. */
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    attached = false
  }

  attach()

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) SparkInternals.drainListenerBus(spark.sparkContext)

  // --- queries over the recorded trace ------------------------------------

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.start)

  def jobsIn(s: Span): Seq[JobRec] = allJobs.filter(j => s.covers(j.start))
  def jobsIn(ss: Seq[Span]): Seq[JobRec] = allJobs.filter(j => ss.exists(_.covers(j.start)))

  /** Innermost span open at time t. */
  def innermost(t: Double): Option[Span] = {
    val open = spans.filter(_.covers(t))
    if (open.isEmpty) None else Some(open.maxBy(depth))
  }

  private def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  def moduleOf(j: JobRec): String =
    j.callModule.getOrElse(innermost(j.start).map(_.module).getOrElse("unattributed"))

  /** Length of the union of intervals, seconds. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total / 1e3
  }

  def jobIntervals(js: Seq[JobRec]): Seq[(Double, Double)] =
    js.filterNot(_.end.isNaN).map(j => (j.start, j.end))

  /** Executed plans (exchange count, uses bloom_probe) of SQL executions
    * started inside `s`. */
  def plansIn(s: Span): Seq[(Int, Boolean)] =
    execStart.asScala.toSeq.filter(x => s.covers(x._2)).flatMap(x => Option(plans.get(x._1)))

  def plansIn(ss: Seq[Span]): Seq[(Int, Boolean)] =
    execStart.asScala.toSeq.filter(x => ss.exists(_.covers(x._2))).flatMap(x => Option(plans.get(x._1)))

  /** Bytes of RDD blocks (local checkpoints, caches) stored inside `ss`. */
  def blockBytesIn(ss: Seq[Span]): Long =
    blocks.asScala.filter(b => ss.exists(_.covers(b._1))).map(_._2).sum

  /** Splits [w0, w1] into per-module seconds: an instant where k jobs run
    * gives each job's module 1/k of it (jobs are attributed by call site);
    * an instant with no job goes to the innermost open span's module as
    * driver time; an instant outside every span is unattributed. The parts
    * sum to the window by construction. Returns (module -> (job_s,
    * driver_s), unattributed_s). */
  def attribution(w0: Double, w1: Double): (Map[String, (Double, Double)], Double) = {
    val js = allJobs.filterNot(_.end.isNaN).filter(j => j.end > w0 && j.start < w1)
    val cuts = (Seq(w0, w1) ++ js.flatMap(j => Seq(j.start, j.end)) ++
      spans.flatMap(s => Seq(s.start, s.end))).filter(t => t >= w0 && t <= w1).distinct.sorted
    val jobS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val drvS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var unattributed = 0.0
    val mods = js.map(j => j -> moduleOf(j)).toMap
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val dt = (b - a) / 1e3
      val mid = (a + b) / 2
      val active = js.filter(j => j.start <= mid && j.end >= mid)
      if (active.nonEmpty) active.foreach(j => jobS(mods(j)) += dt / active.size)
      else innermost(mid) match {
        case Some(s) => drvS(s.module) += dt
        case None => unattributed += dt
      }
    }
    val ms = (jobS.keySet ++ drvS.keySet).toSeq.sorted
    (ms.map(m => m -> (jobS(m), drvS(m))).toMap, unattributed)
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfTimes: Seq[(Span, Double)] = spans.toSeq.map { s =>
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    s -> (s.dur - union(kids))
  }

  def spansJson(workload: String, runId: String): Seq[Map[String, Any]] = {
    val self = selfTimes.map { case (s, t) => s.id -> t }.toMap
    spans.toSeq.map { s =>
      val js = jobsIn(s)
      Map("workload" -> workload, "run" -> runId, "id" -> s.id, "name" -> s.name,
        "module" -> s.module, "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end,
        "wall_s" -> s.dur, "self_s" -> self(s.id), "jobs" -> js.size,
        "task_s" -> js.map(_.taskMs).sum / 1e3,
        "gc_s" -> js.map(_.gcMs).sum / 1e3,
        "shuffle_write_mb" -> js.map(_.shuffleWrite).sum / 1048576.0)
    }
  }
}

/** Process-wide engine counters (garbage collection, JIT, Spark codegen) to
  * difference across a measured window. */
final case class EngineSnap(gcMs: Double, jitMs: Double, codegenCount: Long,
                            codegenMs: Double, codegenClasses: Long) {
  def minus(o: EngineSnap): EngineSnap = EngineSnap(gcMs - o.gcMs, jitMs - o.jitMs,
    codegenCount - o.codegenCount, codegenMs - o.codegenMs, codegenClasses - o.codegenClasses)
}

object EngineSnap {
  def take(): EngineSnap = {
    import java.lang.management.ManagementFactory
    import org.apache.spark.metrics.source.CodegenMetrics
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    val ct = CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps a sample reservoir, not a running sum: the total
    // compile time is count x sampled mean
    EngineSnap(gc.toDouble, jit.toDouble, ct.getCount, ct.getCount * ct.getSnapshot.getMean,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }
}
