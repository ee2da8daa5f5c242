package graftbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Page, Quad}
import graft.plans.{PatchWriter, QuadDiff}
import graft.publish.ZipPublisher
import graft.streaming.QuadLogPipeline

/** Operations attempted and failed in one JVM, with what differed. */
final class Ops {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def record(op: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      problems.foreach { p =>
        failures += s"$op: $p"
        System.err.println(s"[perfbench] FAILED $op: $p")
      }
    }
  }

  def toMap: Map[String, Any] =
    Map("attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq)
}

object Workloads {

  /** Pipeline settings of `graft.Bench.pipelineRun`. */
  val NumBuckets = 32
  val MaxQ = 100000
  /** Pages of incremental_stream's base snapshot: sized so every run fits
    * the evaluation's time budget (NOTES.md). */
  val StreamPages = 1500L
  private val Stores = Seq("contrib", "facts", "canon", "graphidx")
  private val MiB = 1048576.0

  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def setupSeconds(a: Args): Double = (Sys.nowMs - a("launched").toDouble) / 1e3

  /** The session of `graft.Bench.mkSession`. run.py points its spill
    * directory (SPARK_LOCAL_DIRS) and warehouse into the run's work
    * directory. */
  private def session(cores: Int): SparkSession = {
    val s = graft.Bench.mkSession(cores.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def publish(spark: SparkSession, pipe: QuadLogPipeline, root: String,
                      sink: String): Seq[ZipPublisher.ZipInfo] =
    ZipPublisher.publish(spark, s"$root/patches", sink, graphIndex = Some(pipe.graphIndex))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Store bytes on disk (all four pipeline stores). */
  private def storeBytes(root: String): Long = Stores.map(s => Sys.bytes(s"$root/$s")).sum

  private def storeFiles(root: String): Map[String, Long] =
    Stores.flatMap(s => Sys.files(s"$root/$s")).map(p => p.toString -> java.nio.file.Files.size(p)).toMap

  /** Longest merge-on-read delta chain over the stores' latest manifests. */
  private def deltaChainMax(root: String): Int = Stores.map { s =>
    val latest = java.nio.file.Paths.get(s"$root/$s/_latest")
    if (!java.nio.file.Files.exists(latest)) 0
    else {
      val id = java.nio.file.Files.readString(latest).trim.toLong
      val m = java.nio.file.Paths.get(f"$root/$s/manifest_$id%014d.txt")
      if (!java.nio.file.Files.exists(m)) 0
      else java.nio.file.Files.readAllLines(m).toArray.count(_.toString.startsWith("D\t"))
    }
  }.max

  // --- per-layer metrics shared by the workloads --------------------------

  /** Engine-wide metrics over the measured spans. */
  private def sparkLayer(tr: Tracer, window: Seq[Span], cores: Int, eng: EngineSnap): Map[String, Double] = {
    val js = tr.jobsIn(window)
    val wall = window.map(_.dur).sum
    val cpu = js.map(_.cpuNs).sum / 1e9
    Map(
      "spark.task_s" -> js.map(_.taskMs).sum / 1e3,
      "spark.cpu_s" -> cpu,
      "spark.cpu_util" -> (if (wall > 0) cpu / (wall * cores) else 0.0),
      "spark.gc_s" -> eng.gcMs / 1e3,
      "spark.shuffle_write_mb" -> js.map(_.shuffleWrite).sum / MiB,
      "spark.shuffle_read_mb" -> js.map(_.shuffleRead).sum / MiB,
      "spark.spill_mb" -> js.map(_.spill).sum / MiB,
      "spark.codegen_compile_s" -> eng.codegenMs / 1e3,
      "spark.codegen_classes" -> eng.codegenClasses.toDouble,
      "spark.jit_s" -> eng.jitMs / 1e3,
      "spark.jobs" -> js.size.toDouble,
      "spark.failed_tasks" -> js.map(_.failedTasks).sum.toDouble)
  }

  /** Per-module split of the measured window (see Tracer.attribution). */
  private def attribLayer(tr: Tracer, window: Seq[Span]): (Map[String, Double], Map[String, Any]) = {
    val w0 = window.map(_.start).min
    val w1 = window.map(_.end).max
    val (mods, unattributed) = tr.attribution(w0, w1)
    val named = Seq("extract", "canon", "state", "plans", "publish", "streaming", "functions",
      "operators", "query")
    val metrics = named.map(m => s"attrib.${m}_s" -> mods.get(m).map(x => x._1 + x._2).getOrElse(0.0)).toMap +
      ("attrib.unattributed_s" -> unattributed)
    val detail = Map[String, Any](
      "window_s" -> (w1 - w0) / 1e3,
      "unattributed_s" -> unattributed,
      "modules" -> mods.map { case (m, (j, d)) => m -> Map("job_s" -> j, "driver_s" -> d) })
    (metrics, detail)
  }

  /** Pipeline-batch metrics of one batch span (bootstrap or incremental). */
  private def streamingLayer(tr: Tracer, batch: Span): Map[String, Double] = {
    val js = tr.jobsIn(batch)
    val jobWall = js.filterNot(_.end.isNaN).map(j => (j.end - j.start) / 1e3).sum
    val union = tr.union(tr.jobIntervals(js))
    Map(
      "streaming.jobs_per_batch" -> js.size.toDouble,
      "streaming.stages_per_batch" -> js.map(_.stages).sum.toDouble,
      "streaming.driver_gap_s" -> (batch.dur - union),
      "streaming.overlap" -> (if (union > 0) jobWall / union else 0.0),
      "streaming.checkpoint_mb" -> tr.blockBytesIn(Seq(batch)) / MiB)
  }

  private def publishLayer(tr: Tracer, span: Span, zips: Seq[ZipPublisher.ZipInfo]): Map[String, Double] = {
    val js = tr.jobsIn(span)
    Map(
      "publish.wall_s" -> span.dur,
      "publish.task_s" -> js.map(_.taskMs).sum / 1e3,
      "publish.driver_s" -> (span.dur - tr.union(tr.jobIntervals(js))),
      "publish.zips" -> zips.size.toDouble,
      "publish.zip_mb" -> zips.map(_.length).sum / MiB,
      "publish.resources" -> zips.map(_.nResources).sum.toDouble)
  }

  private def plansLayer(root: String, batchId: Long, deltaRows: Long,
                         patchWallS: Double): Map[String, Double] = {
    val (files, lines, bytes) = Checks.patchFileStats(s"$root/patches/batch_$batchId")
    Map(
      "plans.patch_wall_s" -> patchWallS,
      "plans.patch_files" -> files.toDouble,
      "plans.patch_lines" -> lines.toDouble,
      "plans.patch_mb" -> bytes / MiB,
      "plans.chunk_fill" -> (if (files > 0) (lines - 4 * files).toDouble / (files * MaxQ) else 0.0),
      "plans.delta_rows" -> deltaRows.toDouble)
  }

  /** Replays, each under its own span and outside the end-to-end timing,
    * of the public calls only reachable inside a pipeline call: extraction
    * of the dumped snapshot, the canonical map of the batch's IRIs, store
    * reads, and the patch writer over the dump's and over the batch's
    * patches. Returns the layer numbers and the replays' wall time. */
  private def replayLayers(spark: SparkSession, tr: Tracer, snapshot: DataFrame,
                           changed: DataFrame, pipe: QuadLogPipeline, dumpPatches: DataFrame,
                           batchPatches: DataFrame, scratch: String): (Map[String, Double], Double) = {
    val t0 = System.nanoTime()
    val (nQuads, exS) = secs(tr.span("replay.extract", "extract")(
      graft.extract.TypedExtractor.pageQuads(snapshot).count()))
    val exSpan = tr.spans.lastOption
    // the pipeline's candidate-IRI set: subjects and IRI objects in the
    // entity namespace
    val iris = graft.extract.TypedExtractor.pageQuads(changed)
      .select(explode(array(col("s"),
        when(col("oKind") === graft.model.TermKind.Iri, col("oLex")))).as("id"))
      .filter(col("id").isNotNull && col("id").startsWith("http://kg.example.org/"))
      .distinct().localCheckpoint()
    val (cm, cS) = secs(tr.span("replay.canon", "canon") {
      val m = graft.canon.IriCanonicalizer.canonicalMap(spark, iris).localCheckpoint()
      m.count(); m
    })
    val canonSpan = tr.spans.lastOption
    val (_, readS) = secs(tr.span("replay.state_read", "state") {
      pipe.facts.read().foreach(noop)
      pipe.contrib.readBuckets(0 until NumBuckets by 4).foreach(noop)
    })
    val (_, dumpPwS) = secs(tr.span("replay.patchwriter.dump", "plans")(
      PatchWriter.write(spark, dumpPatches, s"$scratch/replay_dump", "00000000000000", MaxQ)))
    val (_, pwS) = secs(tr.span("replay.patchwriter.batch", "plans")(
      PatchWriter.write(spark, batchPatches, s"$scratch/replay_batch", "20240102000000", MaxQ)))
    val wall = (System.nanoTime() - t0) / 1e9
    tr.drain()
    val layers = Map(
      "extract.pages" -> snapshot.count().toDouble,
      "extract.quads" -> nQuads.toDouble,
      "extract.wall_s" -> exS,
      "extract.task_s" -> exSpan.map(tr.jobsIn(_).map(_.taskMs).sum / 1e3).getOrElse(0.0),
      "canon.iris" -> iris.count().toDouble,
      "canon.changed_rows" -> cm.filter(col("id") =!= col("canonical")).count().toDouble,
      "canon.jobs" -> canonSpan.map(tr.jobsIn(_).size.toDouble).getOrElse(0.0),
      "canon.wall_s" -> cS,
      "state.read_wall_s" -> readS,
      "plans.patch_wall_s" -> pwS,
      "dump.plans.patch_wall_s" -> dumpPwS)
    (layers, wall)
  }

  private def traceOut(a: Args, tr: Tracer, workload: String, detail: Map[String, Any]): Map[String, Any] = {
    val spansPath = java.nio.file.Paths.get(a("work"), "spans.jsonl")
    java.nio.file.Files.write(spansPath,
      tr.spansJson(workload, a("run")).map(Json.render).mkString("", "\n", "\n").getBytes("UTF-8"))
    detail + ("spans_file" -> spansPath.toString)
  }

  // --- incremental_stream -------------------------------------------------

  /** Per-layer metrics of the dump phase reported as `dump.<name>`. */
  private val DumpLayers = Seq(
    "state.commit_wall_s", "state.mb_written",
    "plans.patch_files", "plans.patch_lines", "plans.patch_mb", "plans.chunk_fill",
    "publish.wall_s", "publish.task_s", "publish.driver_s", "publish.zip_mb",
    "streaming.jobs_per_batch", "streaming.driver_gap_s", "streaming.overlap",
    "spark.task_s", "spark.cpu_util", "spark.gc_s", "spark.codegen_compile_s",
    "spark.codegen_classes", "spark.jit_s")

  /** The incremental_stream workload in one JVM.
    *
    * Set-up: session start and input materialization (the base snapshot,
    * the next snapshot's changed pages and deleted urls).
    *
    * Measured: the bootstrap dump of the base snapshot and its publish — the
    * first pipeline work of the process, so cold, as a one-shot dump is for
    * its user — then one incremental batch followed by publish, the first
    * incremental batch of the process.
    *
    * `--measure-only 1` (the single-core scaling pass) materializes only
    * the base snapshot and stops after the bootstrap. */
  def stream(a: Args): Map[String, Any] = {
    val work = a("work")
    val cores = a.int("cores")
    val measureOnly = a.flag("measure-only")
    val spark = session(cores)
    val tr = new Tracer(spark, a.flag("trace"), Modules.load())
    import spark.implicits._
    val src = PageSource(a.long("seed"), StreamPages)
    val in = s"$work/in"
    src.snapshot(spark, 0).write.parquet(s"$in/snap_0")
    if (!measureOnly) {
      src.changed(spark, 1).write.parquet(s"$in/changed")
      src.deleted(1).map(graft.sources.PageGen.urlFor).toDF("url").write.parquet(s"$in/deleted")
    }
    val snap0 = spark.read.parquet(s"$in/snap_0").as[Page]
    lazy val changed = spark.read.parquet(s"$in/changed").as[Page]
    lazy val deleted = spark.read.parquet(s"$in/deleted").as[String]
    val setupS = setupSeconds(a)

    val root = s"$work/root"
    val sink = s"$work/sink"
    val pipe = new QuadLogPipeline(spark, root, numBuckets = NumBuckets, maxq = MaxQ)
    val eng0 = EngineSnap.take()
    val (r0, bootS) = secs(tr.span("bootstrap", "streaming")(pipe.bootstrap(snap0, "bench", "00000000000000")))
    if (measureOnly) {
      tr.drain()
      return Map("bootstrap_s" -> bootS) ++
        (if (tr.enabled) Map("modules" -> attribLayer(tr, tr.spans.toSeq)._2("modules")) else Map())
    }
    val (zips0, pubS) = secs(tr.span("publish", "publish")(publish(spark, pipe, root, sink)))
    val engDump = EngineSnap.take().minus(eng0)

    val dumpFiles = storeFiles(root)
    val dumpBytes = storeBytes(root)
    val eng1 = EngineSnap.take()
    val (r1, incS) = secs(tr.span("incremental", "streaming")(
      pipe.incremental(1L, "20240102000000", changed, deleted)))
    val (zips1, batchPubS) = secs(tr.span("publish.batch", "publish")(publish(spark, pipe, root, sink)))
    // the peak before any check or replay allocates
    val rssPeakMb = Sys.vmHwmMb()
    val engStream = EngineSnap.take().minus(eng1)
    val chainMax = deltaChainMax(root)

    // checks. The dump: its patch set against the closed-form expected quad
    // set, its '+' lines against BatchResult.added and the published copy.
    // The batch: its counts against BatchResult, its patches replayed onto
    // the dump's (the consumer contract), the result against the store,
    // against a fresh extraction of the next snapshot and against a replay
    // of everything published.
    val ops = new Ops
    val dumpDir =
      if (a.flag("corrupt")) {
        val victim = Checks.corruptCopy(s"$root/patches/batch_0", s"$work/patches_corrupt")
        System.err.println(s"[perfbench] corrupted one patch line in $victim")
        s"$work/patches_corrupt"
      } else s"$root/patches/batch_0"
    val dumpLines = Checks.patchLines(dumpDir)
    val (pub, _) = Checks.publishedLines(sink)
    val pubDump = pub.filter(_.cp == "00000000000000")
    ops.record("bootstrap dump",
      Checks.eq("patch ops", dumpLines.map(_.op).distinct, Seq("+")) ++
        Checks.eq("patch lines vs distinct quads", dumpLines.size, dumpLines.map(_.quad).distinct.size) ++
        Checks.setDiff("bootstrap patch set", dumpLines.map(_.quad).toSet, Checks.expectedBootstrap(src)) ++
        Checks.eq("'+' lines vs BatchResult.added", dumpLines.count(_.op == "+").toLong, r0.added) ++
        Checks.eq("published '+' lines vs BatchResult.added", pubDump.count(_.op == "+").toLong, r0.added) ++
        Checks.eq("published resources vs BatchResult.files", zips0.map(_.nResources).sum, r0.files))

    val state = mutable.HashSet.empty[Quad]
    state ++= Checks.patchLines(s"$root/patches/batch_0").map(_.quad)
    val current = pipe.currentQuads.as[Quad].collect().toSet
    val fresh = pipe.extractedQuads(src.snapshot(spark, 1)).as[Quad].collect().toSet
    val consumer = mutable.HashSet.empty[Quad]
    val batchLines = Checks.patchLines(s"$root/patches/batch_1")
    ops.record("batch 1",
      Checks.eq("'+' lines vs BatchResult.added", batchLines.count(_.op == "+").toLong, r1.added) ++
        Checks.eq("'-' lines vs BatchResult.deleted", batchLines.count(_.op == "-").toLong, r1.deleted) ++
        Checks.replay("batch 1 patches", state, batchLines) ++
        Checks.setDiff("replayed patches vs currentQuads", state.toSet, current) ++
        Checks.setDiff("currentQuads vs fresh extractedQuads", current, fresh) ++
        Checks.replay("published patches", consumer, pub) ++
        Checks.setDiff("published patches vs currentQuads", consumer.toSet, current))

    val stateBytes = storeBytes(root)
    val base = Map[String, Any](
      "setup_s" -> setupS,
      "rss_peak_mb" -> rssPeakMb,
      "bootstrap_s" -> bootS,
      "publish_s" -> pubS,
      "quads" -> r0.added,
      "incremental_s" -> incS,
      "batch_publish_s" -> batchPubS,
      "batch_s" -> (incS + batchPubS),
      "live_quads" -> current.size,
      "state_bytes" -> stateBytes,
      "ops" -> ops.toMap)
    if (!tr.enabled) return base

    // traced run: replays of the calls inside the pipeline, then the
    // per-layer numbers of both phases
    val batchPatches = batchLines.map(l => (l.op, l.quad.s, l.quad.p, l.quad.oLex, l.quad.oKind,
      l.quad.oDtype, l.quad.oLang, l.quad.g)).toDF(("op" +: QuadDiff.quadCols): _*)
    val dumpPatches = pipe.facts.read().get.filter(col("support") > 0)
      .select((lit("+").as("op") +: QuadDiff.quadCols.map(col)): _*)
    def replay() = replayLayers(spark, tr, snap0.toDF(), changed.toDF(), pipe, dumpPatches,
      batchPatches, work)
    // untraced warm-up, traced, untraced: the overhead compares the last two
    tr.detach()
    replay()
    tr.attach()
    val (replayed, tracedWall) = replay()
    tr.detach()
    val (_, plainWall) = replay()
    tr.attach()

    def spanNamed(n: String) = tr.spans.find(_.name == n).get
    val boot = spanNamed("bootstrap")
    val pub0 = spanNamed("publish")
    val incr = spanNamed("incremental")
    val pub1 = spanNamed("publish.batch")
    val dumpWindow = Seq(boot, pub0)
    val window = Seq(incr, pub1)
    val (attrib, detail) = attribLayer(tr, window)
    val (_, dumpDetail) = attribLayer(tr, dumpWindow)
    def stateModule(s: Span): Double =
      tr.attribution(s.start, s.end)._1.get("state").map(x => x._1 + x._2).getOrElse(0.0)
    val written = storeFiles(root).filter { case (p, sz) => !dumpFiles.get(p).contains(sz) }
    val dumpLayers = sparkLayer(tr, dumpWindow, cores, engDump) ++ streamingLayer(tr, boot) ++
      publishLayer(tr, pub0, zips0) ++ plansLayer(root, 0L, r0.added, 0.0) ++ Map(
        "state.commit_wall_s" -> stateModule(boot),
        "state.mb_written" -> dumpBytes / MiB)
    val layers = replayed ++ attrib ++ sparkLayer(tr, window, cores, engStream) ++
      streamingLayer(tr, incr) ++ publishLayer(tr, pub1, zips1) ++
      plansLayer(root, 1L, r1.added + r1.deleted, replayed("plans.patch_wall_s")) ++
      DumpLayers.map(k => s"dump.$k" -> dumpLayers(k)) ++ Map(
        "state.commit_wall_s" -> stateModule(incr),
        "state.files_written" -> written.size.toDouble,
        "state.mb_written" -> written.values.sum / MiB,
        "state.live_mb" -> stateBytes / MiB,
        "state.delta_chain_max" -> chainMax.toDouble,
        "functions.bloom_queries" -> tr.plansIn(window).count(_._2).toDouble,
        "trace.overhead_s" -> (tracedWall - plainWall),
        "trace.overhead_frac" -> (tracedWall - plainWall) / plainWall)
    base ++ Map("layers" -> layers, "trace" -> traceOut(a, tr, "incremental_stream",
      Map("batch" -> detail, "dump" -> dumpDetail,
        "overhead" -> Map("replay_traced_s" -> tracedWall, "replay_untraced_s" -> plainWall))))
  }

  // --- query_leaves -------------------------------------------------------

  /** (rows, order-independent fingerprint) of a result: the decimal sum of
    * xxhash64 over each row's columns (sorted by name) cast to string. */
  def fingerprintOf(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toSeq
    val row = concat_ws("\u0001", cols.map(c => coalesce(col(s"`$c`").cast("string"), lit("\u0000"))): _*)
    val r = df.select(xxhash64(row).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  private def loadFingerprints(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path).getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(leaf, rows, fp) = l.split("\t")
      leaf -> (rows.toLong, fp)
    }.toMap

  def query(a: Args): Map[String, Any] = {
    val work = a("work")
    val sf = a("sf")
    val cores = a.int("cores")
    val spark = session(cores)
    val tr = new Tracer(spark, a.flag("trace"), Modules.load())
    val expected = loadFingerprints(a("fingerprints"))
    val leaves = new scala.util.Random(a.long("seed")).shuffle(graft.Bench.headline)
    val ops = new Ops

    // untimed warm pass: each leaf's full output against its oracle
    // fingerprint. The leaves are latency-bound, so the warm passes run them
    // concurrently; only the timed passes run one leaf at a time.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val warm = leaves.map(leaf => leaf -> Future(fingerprintOf(graft.SparkEntry.queries(leaf)(spark, sf))))
    warm.foreach { case (leaf, f) =>
      ops.record(s"$leaf (warm, fingerprint)", (Try(Await.result(f, Duration.Inf)), expected.get(leaf)) match {
        case (Failure(e), _) => Seq(s"failed: $e")
        case (_, None) => Seq("no oracle fingerprint recorded")
        case (Success(got), Some(want)) => Checks.eq("rows, fingerprint", got, want)
      })
    }
    // then one untimed warm-up pass of the timed passes' calls, also
    // concurrent. After the warm pass alone the JIT was still compiling the
    // leaves' code: the first timed pass ran ~15 % slower than the next
    // and varied most.
    def expectedRows(leaf: String) = expected.get(leaf).map(_._1).getOrElse(-1L)
    leaves.map(leaf => leaf -> Future(Try(graft.SparkEntry.queries(leaf)(spark, sf).count()))).foreach {
      case (leaf, f) => ops.record(s"$leaf (warm-up)", Await.result(f, Duration.Inf) match {
        case Failure(e) => Seq(s"failed: $e")
        case Success(n) => Checks.eq("rows", n, expectedRows(leaf))
      })
    }
    pool.shutdown()
    val setupS = setupSeconds(a)

    val budget = a("seconds").toDouble
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val eng0 = EngineSnap.take()
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < budget) {
      passes += 1
      leaves.foreach { leaf =>
        val (n, s) = secs(tr.span(s"$leaf.$passes", "query")(graft.SparkEntry.queries(leaf)(spark, sf).count()))
        times.getOrElseUpdate(leaf, mutable.ArrayBuffer.empty) += s
        ops.record(s"$leaf (pass $passes)", Checks.eq("rows", n, expectedRows(leaf)))
      }
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    // the peak before the traced run's overhead pass allocates
    val rssPeakMb = Sys.vmHwmMb()
    val eng = EngineSnap.take().minus(eng0)
    val medians = leaves.map(l => l -> Sys.median(times(l).toSeq)).toMap
    val base = Map[String, Any]("setup_s" -> setupS, "rss_peak_mb" -> rssPeakMb, "passes" -> passes,
      "leaf_s" -> medians, "pass_s" -> (0 until passes).map(i => leaves.map(times(_)(i)).sum),
      "measured_s" -> measuredS, "ops" -> ops.toMap)
    if (!tr.enabled) return base

    tr.drain()
    val window = tr.spans.toSeq
    val (attrib, detail) = attribLayer(tr, window)
    val lastPass = window.filter(_.name.endsWith(s".$passes"))
    val perLeaf = lastPass.flatMap { s =>
      val leaf = s.name.stripSuffix(s".$passes")
      Seq(s"query.${leaf}_s" -> medians(leaf),
        s"query.$leaf.exchanges" -> tr.plansIn(s).map(_._1).sum.toDouble,
        s"query.$leaf.shuffle_mb" -> tr.jobsIn(s).map(_.shuffleWrite).sum / MiB)
    }.toMap
    val canonJobs = tr.jobsIn(window).filter(j => tr.moduleOf(j) == "canon")
    // tracing overhead: the last pass again with the listeners detached
    val tracedWall = lastPass.map(_.dur).sum
    tr.detach()
    val (_, plainWall) = secs(leaves.foreach(l => graft.SparkEntry.queries(l)(spark, sf).count()))
    val layers = perLeaf ++ attrib ++ sparkLayer(tr, window, cores, eng) ++ Map(
      "canon.jobs" -> canonJobs.size.toDouble,
      "canon.wall_s" -> attrib("attrib.canon_s"),
      "functions.bloom_queries" -> tr.plansIn(window).count(_._2).toDouble,
      "trace.overhead_s" -> (tracedWall - plainWall),
      "trace.overhead_frac" -> (tracedWall - plainWall) / plainWall)
    base ++ Map("layers" -> layers, "trace" -> traceOut(a, tr, "query_leaves",
      detail + ("overhead" -> Map("pass_traced_s" -> tracedWall, "pass_untraced_s" -> plainWall))))
  }

  // --- maintenance: oracle fingerprints -------------------------------------

  /** Writes each headline leaf's oracle SQL (`--sql-out`), or, given the
    * oracle's parquet results (`--oracle`), checks every Spark leaf against
    * its oracle result and writes the fingerprints file (`--fingerprints`). */
  def fingerprint(a: Args): Map[String, Any] = {
    val spark = session(a.int("cores"))
    a.get("sql-out") match {
      case Some(out) =>
        // the DuckDB oracle cannot read Hadoop-LZ4 parquet
        spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
        graft.SparkEntry.queries("q_ann_ivf_topk")(spark, a("sf")).count()
        Json.write(java.nio.file.Paths.get(out),
          graft.Bench.headline.map(l => l -> graft.SparkEntry.oracleSql(l)).toMap)
        Map("leaves" -> graft.Bench.headline.size)
      case None =>
        val rows = graft.Bench.headline.map { leaf =>
          val mine = fingerprintOf(graft.SparkEntry.queries(leaf)(spark, a("sf")))
          val oracle = fingerprintOf(spark.read.parquet(s"${a("oracle")}/$leaf.parquet"))
          (leaf, mine, oracle)
        }
        val bad = rows.filter(r => r._2 != r._3)
        bad.foreach(r => System.err.println(s"[perfbench] MISMATCH ${r._1}: spark=${r._2} oracle=${r._3}"))
        if (bad.isEmpty) {
          val tables = java.nio.file.Paths.get(a("sf")).getFileName
          val text = s"# leaf\trows\tfingerprint of the oracle result over $tables (perfbench/make_fingerprints.py)\n" +
            rows.map(r => s"${r._1}\t${r._3._1}\t${r._3._2}").mkString("", "\n", "\n")
          java.nio.file.Files.write(java.nio.file.Paths.get(a("fingerprints")), text.getBytes("UTF-8"))
        }
        Map("mismatches" -> bad.map(_._1))
    }
  }
}
