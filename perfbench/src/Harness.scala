package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Verify}
import graft.ml.{Ensemble, Models, ModelingFrame}

/** The JVM half of the benchmark: runs one workload against the engine's
  * public API and writes a raw JSON record with one row per op.
  * `perfbench/run.py` starts it, checks the output hashes and turns the
  * record into metrics.
  *
  * {{{
  * Harness --workload serve_cached|serve_refit --data DIR --seconds S
  *         --trace 0|1 --cores C --out F [--inject throw|wrong]
  * }}}
  *
  * Every op is one `serving_signal` request. On `serve_cached` without
  * tracing it is the registry function itself; otherwise it is the same
  * calls made one by one (see [[serving]]), and on `serve_refit` each
  * request fits the ensemble again. Each of [[SetupRounds]] set-up rounds
  * makes a fresh session and sends [[WarmOps]] requests: the first fills
  * the fit cache. [[JitWarmOps]] more requests on the last session let the
  * JIT settle. Ops then run back to back on that session until `--seconds`
  * have passed (at least one).
  * `--inject` makes op 0 fail on purpose, for the benchmark's self-test.
  */
object Harness {

  val Workloads = Set("serve_cached", "serve_refit")
  val SetupRounds = 3
  val WarmOps = 4
  /** The JIT keeps compiling the driver path for about 50 requests, and
    * op latency falls by about a third until it stops; sf0.1 on 4 vCPUs. */
  val JitWarmOps = 40

  private final class Opts(args: Array[String]) {
    private val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  private lazy val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def write(path: String, value: Any): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      json.writeValueAsString(value))
    ()
  }

  def main(args: Array[String]): Unit = run(new Opts(args))

  // --- measurement helpers --------------------------------------------

  private object Jvm {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuNs: Long = os.getProcessCpuTime
    def gcMs: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
    def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def codegenCompiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def peakRssMb: Double = procStatusKb("VmHWM") / 1024.0
    private def procStatusKb(field: String): Double = {
      val f = scala.io.Source.fromFile("/proc/self/status")
      try f.getLines().find(_.startsWith(field + ":"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
      finally f.close()
    }
  }

  /** Aggregate `/proc/stat` cpu line: (total, iowait, steal) jiffies. */
  private def hostStat(): (Long, Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (v.take(8).sum, v(4), v(7))
    } finally f.close()
  }

  /** Session state a query may leave behind, read without running a job. */
  private final case class SessionState(views: Set[String], conf: Map[String, String])
  private def sessionState(s: SparkSession): SessionState =
    SessionState(s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet,
      s.conf.getAll)
  private def persistedBlocks(s: SparkSession): Int =
    s.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum

  private final case class Span(op: Int, id: Int, parent: Int, name: String,
                                startNs: Long, endNs: Long)

  /** Spans of the traced run; a no-op recorder when tracing is off. */
  private final class Spans(enabled: Boolean) {
    val done = ArrayBuffer.empty[Span]
    private var stack = List.empty[Int]
    private var nextId = 0
    var op = -1
    def apply[A](name: String)(f: => A): A =
      if (!enabled || op < 0) f
      else {
        val id = nextId; nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val t0 = System.nanoTime()
        try f finally {
          stack = stack.tail
          done += Span(op, id, parent, name, t0, System.nanoTime())
        }
      }
    def add(op: Int, parent: Int, name: String, startNs: Long, endNs: Long): Unit = {
      done += Span(op, nextId, parent, name, startNs, endNs); nextId += 1
    }
  }

  // --- the serving request, call by call -------------------------------

  /** `Reference.servingSignal` call by call, with a span around each
    * public call it makes, in the same order. `fitKey` is the session key
    * handed to `Ensemble.fittedCached`: the session itself, as
    * `Reference.servingSignal` does, or a new key per request, which makes
    * every request refit. The head() that fetches the latest feature row is
    * the `ml.frame_materialize` span: on a fit-cache hit it is the action
    * that fills the frame cache, while on a miss the fit's own first action
    * has filled it already. The output is checked against the same pinned
    * hash as the registry path. */
  private def serving(s: SparkSession, dir: String, fitKey: AnyRef, span: Spans): DataFrame =
    span("pipelines.signal") {
      import s.implicits._
      val threshold = 0.6
      val minConfidence = 0.6
      val assembled = span("ml.frame_build") {
        ModelingFrame.assembled(s, dir).coalesce(1).cache()
      }
      try {
        val fitted = span("ml.fit") {
          Ensemble.fittedCached(fitKey, dir, ModelingFrame.Target, assembled)
        }
        val xInput = assembled.orderBy(desc("date_id")).limit(1)
        val x = span("ml.frame_materialize") {
          xInput.select(col(Models.FeaturesCol)).head()
            .getAs[org.apache.spark.ml.linalg.Vector](0).toArray
        }
        val pointPred = span("ml.predict") {
          val local = fitted.members.map(_.scorer.predictLocal(x))
          if (local.forall(_.isDefined))
            fitted.members.zip(local).map { case (m, p) => m.weight * p.get }.sum
          else {
            val row = fitted.withMemberPredictions(xInput)
              .select(fitted.members.map(m => col(s"yhat_${m.name}")): _*).head()
            fitted.members.zipWithIndex.map { case (m, i) => m.weight * row.getDouble(i) }.sum
          }
        }
        span("ml.report") {
          val avgR2 = fitted.members.map(_.r2).sum / fitted.members.size
          val avgMae = fitted.members.map(_.mae).sum / fitted.members.size
          val confidence =
            if (avgR2 >= 0.7) "High" else if (avgR2 >= 0.4) "Medium" else "Low"
          val (signal, reason) =
            if (math.abs(pointPred) < threshold || avgR2 < minConfidence)
              ("WAIT", f"signal ${math.abs(pointPred)}%.4f below threshold $threshold%.2f " +
                f"or confidence $avgR2%.4f below $minConfidence%.2f")
            else if (pointPred > 0)
              ("BUY_A_SELL_B", f"predicted rise ${pointPred}%.4f at confidence $avgR2%.4f")
            else
              ("SELL_A_BUY_B", f"predicted fall ${pointPred}%.4f at confidence $avgR2%.4f")
          val strength = math.min(math.abs(pointPred) / threshold, 1.0)
          Seq((ModelingFrame.Target, pointPred, avgR2, avgMae, confidence, signal,
              strength, reason))
            .toDF("target", "prediction", "avg_r2", "avg_mae", "confidence", "signal",
              "strength", "reason")
        }
      } finally { assembled.unpersist(); () }
    }

  // --- the run ----------------------------------------------------------

  private def run(o: Opts): Unit = {
    val workload = o("workload")
    require(Workloads(workload), s"unknown workload $workload")
    val refit = workload == "serve_refit"
    val dir = o("data")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val inject = o.get("inject")
    val scratch = new java.io.File(o("out")).getAbsoluteFile.getParentFile

    val epochMs0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def msToNs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L
    def secs(ns: Long): Double = ns / 1e9

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(scratch, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val contextS = secs(System.nanoTime() - nano0)
    val capture = if (traced) Some(new Capture) else None
    capture.foreach(spark.sparkContext.addSparkListener)
    val span = new Spans(traced)

    def freshSession(): SparkSession = {
      val s = spark.newSession()
      graft.plans.GraftExtensions.register(s)
      capture.foreach(s.listenerManager.register)
      s
    }

    val fn = SparkEntry.queries("serving_signal")
    def build(s: SparkSession): DataFrame =
      if (refit) serving(s, dir, new AnyRef, span)
      else if (traced) serving(s, dir, s, span)
      else fn(s, dir)

    final case class Op(error: Option[String], hash: String, rows: Long,
                        wallMs: (Long, Long), fields: Map[String, Any])

    def runOp(i: Int, s: SparkSession): Op = {
      val before = sessionState(s)
      val cpu0 = Jvm.cpuNs; val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
      val cg0 = Jvm.codegenCompiles
      span.op = i
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val (hash, rows, error) =
        try span("op:serving_signal") {
          if (inject.contains("throw") && i == 0)
            throw new IllegalStateException("injected failure")
          val df = span("queries.build") { build(s) }
          t1 = System.nanoTime()
          val (h, n) = span("queries.action") { Verify.canonicalHash(df) }
          (if (inject.contains("wrong") && i == 0) "0" * 32 else h, n, None)
        } catch {
          case e: Throwable =>
            ("", 0L, Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
              .take(300)))
        }
      val t2 = System.nanoTime()
      val wall1 = System.currentTimeMillis()
      span.op = -1
      val cpu = Jvm.cpuNs - cpu0; val gc = Jvm.gcMs - gc0; val jit = Jvm.jitMs - jit0
      val codegen = Jvm.codegenCompiles - cg0
      // hygiene counters first, then the benchmark's own sweep restores
      // the session so every op starts from the same state
      val after = sessionState(s)
      val blocksLeft = persistedBlocks(s)
      val viewsLeft = after.views -- before.views
      val confChanged = (after.conf.keySet ++ before.conf.keySet)
        .filter(k => after.conf.get(k) != before.conf.get(k))
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      s.catalog.clearCache()
      viewsLeft.foreach(v => s.catalog.dropTempView(v))
      confChanged.foreach { k =>
        try before.conf.get(k) match {
          case Some(v) => s.conf.set(k, v)
          case None => s.conf.unset(k)
        } catch { case _: Throwable => }
      }
      Op(error, hash, rows, (wall0, wall1), Map(
        "latency_s" -> secs(t2 - t0),
        "cpu_s" -> secs(cpu),
        "queries.build_s" -> secs(t1 - t0),
        "queries.action_s" -> (if (error.isEmpty) secs(t2 - t1) else 0.0),
        "jvm.gc_s" -> gc / 1e3, "jvm.jit_s" -> jit / 1e3,
        "codegen.compiles" -> codegen,
        "plans.blocks_left" -> blocksLeft,
        "plans.temp_views_left" -> viewsLeft.size,
        "plans.conf_changed" -> confChanged.size))
    }

    // set-up: a fresh session, extension registration and the warm-up
    // requests (the first fills the fit cache), repeated; the last session
    // is kept
    var session: SparkSession = null
    val setupS = (1 to SetupRounds).map { _ =>
      val t = System.nanoTime()
      session = freshSession()
      (1 to WarmOps).foreach { _ => Verify.canonicalHash(build(session)); () }
      secs(System.nanoTime() - t)
    }
    (1 to JitWarmOps).foreach { _ => Verify.canonicalHash(build(session)); () }
    val ops = ArrayBuffer.empty[Op]
    val host0 = hostStat()
    val cpuW0 = Jvm.cpuNs
    val w0 = System.nanoTime()
    val deadline = w0 + (seconds * 1e9).toLong
    while (ops.isEmpty || System.nanoTime() < deadline)
      ops += runOp(ops.size, session)
    val elapsed = secs(System.nanoTime() - w0)
    val cpuWindow = secs(Jvm.cpuNs - cpuW0)
    val host1 = hostStat()
    val dTotal = math.max(1L, host1._1 - host0._1)

    // traced run: attribute the listener records to ops by wall time
    val layers: IndexedSeq[Map[String, Any]] = capture match {
      case None => ops.map(_ => Map.empty[String, Any]).toIndexedSeq
      case Some(c) =>
        c.drain(spark.sparkContext)
        val iv = ops.map(_.wallMs).toIndexedSeq
        val jobs = c.jobList.groupBy(j => Capture.attribute(iv, j.startMs))
        val jobOp = c.jobList.map(j => j.id -> Capture.attribute(iv, j.startMs)).toMap
        val stages = c.stageList.groupBy(st => jobOp.getOrElse(st.job, -1))
        val queries = c.queries.asScala.toSeq.groupBy(q => Capture.attribute(iv, q.startMs))
        val blocksPeak = c.blockUpdates.asScala.toSeq
          .groupBy { case (job, _) => jobOp.getOrElse(job, -1) }
          .map { case (op, us) => op -> us.map(_._2).max }
        val harnessSpans = span.done.toSeq.groupBy(_.op)
        // job spans hang under the innermost harness span holding their start
        for ((op, js) <- jobs if op >= 0; j <- js) {
          val (a, b) = (msToNs(j.startMs), msToNs(j.endMs))
          val parent = harnessSpans.getOrElse(op, Nil)
            .filter(sp => sp.startNs <= a && a <= sp.endNs)
            .sortBy(sp => sp.endNs - sp.startNs).headOption.map(_.id).getOrElse(-1)
          span.add(op, parent, "scheduler.job", a, b)
        }
        ops.indices.map { i =>
          val js = jobs.getOrElse(i, Nil)
          val st = stages.getOrElse(i, Nil)
          val qs = queries.getOrElse(i, Nil)
          val wallMs = iv(i)._2 - iv(i)._1
          val busyMs = Capture.unionLength(js.map(j => (j.startMs, j.endMs)))
          val runS = st.map(_.runMs).sum / 1e3
          val mlSpans = harnessSpans.getOrElse(i, Nil)
            .filter(sp => sp.name.startsWith("ml.") || sp.name.startsWith("pipelines."))
            .groupBy(_.name).map { case (n, ss) =>
              (n + "_s") -> ss.map(sp => secs(sp.endNs - sp.startNs)).sum }
          Map[String, Any](
            "plans.actions" -> qs.size,
            "plans.analysis_s" -> qs.map(_.analysisMs).sum / 1e3,
            "plans.optimization_s" -> qs.map(_.optimizationMs).sum / 1e3,
            "plans.planning_s" -> qs.map(_.planningMs).sum / 1e3,
            "plans.blocks_peak" -> blocksPeak.getOrElse(i, 0),
            "scheduler.jobs" -> js.size,
            "scheduler.stages" -> st.size,
            "scheduler.tasks" -> st.map(_.tasks).sum,
            "scheduler.job_busy_s" -> busyMs / 1e3,
            "driver.gap_s" -> math.max(0L, wallMs - busyMs) / 1e3,
            "executor.run_s" -> runS,
            "executor.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
            "executor.utilization" -> runS / math.max(1e-3, wallMs / 1e3 * cores),
            "shuffle.write_mb" -> st.map(_.shuffleWriteB).sum / 1e6,
            "shuffle.read_mb" -> st.map(_.shuffleReadB).sum / 1e6,
            "shuffle.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
            "memory.spill_mb" -> st.map(_.spillB).sum / 1e6,
            "sources.input_mb" -> st.map(_.inputB).sum / 1e6,
            "sources.scan_busy_s" -> Capture.unionLength(
              st.filter(_.inputB > 0).map(x => (x.startMs, x.endMs))) / 1e3
          ) ++ mlSpans
        }
    }

    // self time per layer and op: a span's duration minus the union of
    // its children's intervals, summed by layer (the name before any ':')
    val children = span.done.toSeq.groupBy(_.parent)
    val selfTime = span.done.toSeq.groupBy(_.name.takeWhile(_ != ':')).toSeq.sortBy(_._1)
      .map { case (layer, ss) =>
        layer -> ss.map { sp =>
          val covered = Capture.unionLength(children.getOrElse(sp.id, Nil)
            .map(c => (c.startNs max sp.startNs, c.endNs min sp.endNs)))
          secs(sp.endNs - sp.startNs - covered)
        }.sum / ops.size
      }

    write(o("out"), Map(
      "workload" -> workload,
      "data" -> dir,
      "cores" -> cores,
      "traced" -> traced,
      "context_start_s" -> contextS,
      "setup_s" -> setupS,
      "window" -> Map("elapsed_s" -> elapsed, "process_cpu_s" -> cpuWindow),
      "host" -> Map(
        "steal_pct" -> 100.0 * (host1._3 - host0._3) / dTotal,
        "iowait_pct" -> 100.0 * (host1._2 - host0._2) / dTotal),
      "peak_rss_mb" -> Jvm.peakRssMb,
      "ops" -> ops.indices.map { i =>
        val op = ops(i)
        Map("error" -> op.error.orNull, "hash" -> op.hash,
          "rows" -> op.rows) ++ op.fields ++ layers(i)
      },
      "self_time_s_per_op" -> scala.collection.immutable.ListMap(selfTime: _*),
      "spans" -> span.done.toSeq.sortBy(_.startNs).map(sp => Map(
        "op" -> sp.op, "id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
        "start_s" -> secs(sp.startNs - nano0), "end_s" -> secs(sp.endNs - nano0)))))
    spark.stop()
  }
}
