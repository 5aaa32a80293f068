package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time in a closed loop with one client
  * and writes everything measured to a JSON file; `run.py` turns it
  * into the benchmark's metrics and checks the outputs.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <outFile>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, outFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer
    val ctx = new Ctx(spark, seed, work, tracer)
    val w: Workload = workload match {
      case "qan_analytics" => new Analytics(ctx, data)
      case "qan_ingest" => new Ingest(ctx, 4, 5000, 12)
      case "corpus_index" => new CorpusIndex(ctx, data)
      case other => sys.error(s"unknown workload $other")
    }
    val t1 = System.nanoTime()
    w.setup()
    // no System.gc() here: a full GC clears soft-referenced caches, and
    // the first timed op would pay to refill them
    val setupS = sessionS + (System.nanoTime() - t1) / 1e9

    // timed section: whole blocks, so every run times the same mix of
    // ops: the first (the first two in a traced run), then more while the
    // next one, as long as the last, still ends in time. A traced run
    // alternates traced and untraced blocks, starting with a traced one
    // on even seeds and an untraced one on odd seeds, so neither side
    // always runs first
    val listeners = if (trace) Some(new Listeners(spark)) else None
    val gcBefore = gcSeconds()
    val blocks = mutable.ArrayBuffer[(Boolean, Long, Long, Int)]()
    val tStart = System.nanoTime()
    val deadline = tStart + (seconds * 1e9).toLong
    def nextFits = blocks.lastOption.forall { case (_, b0, b1, _) =>
      System.nanoTime() + (b1 - b0) <= deadline }
    val minBlocks = if (trace) 2 else 1
    while (blocks.size < minBlocks || nextFits) {
      val traced = trace && (blocks.size + (seed & 1L)) % 2 == 0
      val before = ctx.ops.size
      if (traced) { listeners.foreach(_.on()); tracer.enabled = true; ctx.traced = true }
      val b0 = System.nanoTime()
      w.block()
      if (traced) { listeners.foreach(_.off()); tracer.enabled = false; ctx.traced = false }
      blocks += ((traced, b0, System.nanoTime(), ctx.ops.size - before))
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    val gcS = gcSeconds() - gcBefore
    ctx.clearState()
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(50)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min

    val t2 = System.nanoTime()
    val finish = w.finish()
    val finishS = (System.nanoTime() - t2) / 1e9
    val layers =
      if (!trace) Map.empty[String, Any]
      else Layers.compute(ctx, tracer, listeners.get, blocks.toSeq, finish, gcS) ++
        (if (workload == "corpus_index") Kernels.measure(spark, data, seed) else Map.empty)

    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "session_s" -> sessionS, "setup_s" -> setupS, "timed_s" -> timedS, "finish_s" -> finishS,
      "ops" -> ctx.ops.map(o => Map("kind" -> o.kind, "label" -> o.label, "s" -> o.seconds,
        "ok" -> o.ok, "traced" -> o.traced)),
      "rows" -> ctx.rows, "heap_live_mb" -> heapMb, "gc_s" -> gcS,
      "finish" -> finish, "layers" -> layers)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile), Json(out).getBytes("UTF-8"))
    if (trace) writeSpans(tracer, s"$work/spans.jsonl")
    spark.stop()
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** The session profile of graft's own bench: local mode on every
    * core, AQE sizing shuffles by bytes, UTC, no UI; scratch space
    * under the run's directory.
    */
  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  private def writeSpans(tracer: Tracer, path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try tracer.spans.zipWithIndex.foreach { case (s, i) =>
      w.println(Json(Map("id" -> i, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op)))
    } finally w.close()
  }
}

/** Per-layer figures of a traced run, from the spans and the listeners,
  * over the traced blocks only. Times are seconds per call (or per op),
  * counts per op unless named otherwise.
  */
object Layers {
  def compute(ctx: Ctx, tracer: Tracer, l: Listeners,
      blocks: Seq[(Boolean, Long, Long, Int)], finish: Map[String, Any],
      gcS: Double): Map[String, Any] = {
    // listener timestamps are wall-clock millis; ops are nanoTime
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def ms(ns: Long): Double = ns / 1e6 + offsetMs
    val ops = ctx.ops.filter(_.traced)
    val n = math.max(1, ops.size).toDouble
    def within(t: Double, o: Op): Boolean = t >= ms(o.startNs) - 1 && t <= ms(o.endNs) + 1

    val jobs = l.exec.jobs.values.toSeq.filter(_.end >= 0)
    def jobUnionMs(lo: Double, hi: Double): Double = {
      val iv = jobs.map(j => (math.max(j.start.toDouble, lo), math.min(j.end.toDouble, hi)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0; var cur = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cur._1.isNaN || a > cur._2) { if (!cur._1.isNaN) total += cur._2 - cur._1; cur = (a, b) }
        else cur = (cur._1, math.max(cur._2, b))
      }
      if (!cur._1.isNaN) total += cur._2 - cur._1
      total
    }
    val runMs = ops.map(o => jobUnionMs(ms(o.startNs), ms(o.endNs))).sum
    val wallS = ops.map(_.seconds).sum
    val tasks = l.exec.tasks.toSeq.filter(t => ops.exists(o => within(t.finish.toDouble, o)))
    val jobCount = jobs.count(j => ops.exists(o => within(j.start.toDouble, o)))
    val stages = l.exec.stageEnds.count(t => ops.exists(o => within(t.toDouble, o)))
    val phases = l.plans.seen.toSeq
    val progress = l.streams.seen.toSeq

    // spans: per-name call count, total and self seconds
    val self = tracer.selfTimes
    val byName = tracer.spans.indices.groupBy(i => tracer.spans(i).name).map { case (k, is) =>
      k -> (is.size, is.map(i => (tracer.spans(i).endNs - tracer.spans(i).startNs) / 1e9).sum,
        is.map(self).sum)
    }
    def perCall(name: String): Double =
      byName.get(name).map { case (c, t, _) => t / c }.getOrElse(0.0)
    def jobsPerCall(name: String): Double = {
      val ss = tracer.spans.filter(_.name == name)
      if (ss.isEmpty) 0.0
      else jobs.count(j => ss.exists(s => j.start >= ms(s.startNs) - 1 && j.start <= ms(s.endNs) + 1))
        .toDouble / ss.size
    }
    val topLevel = tracer.spans.filter(_.parent < 0).groupBy(_.op)
    val unattributed = ops.map(o =>
      o.seconds - topLevel.getOrElse(o.id, Nil).map(s => (s.endNs - s.startNs) / 1e9).sum)

    val drainS = byName.get("sources.drain").map(_._2).getOrElse(0.0)
    val triggerS = progress.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
    val ticks = math.max(1, byName.get("sources.drain").map(_._1).getOrElse(0))
    def streamPerTick(k: String): Double = progress.map(_.durations.getOrElse(k, 0L)).sum / 1e3 / ticks
    val fin = finish.withDefaultValue(0)
    def num(k: String): Double = fin(k) match { case x: Number => x.doubleValue; case _ => 0.0 }

    val (tracedOps, tracedS, plainOps, plainS) = blocks.foldLeft((0, 0.0, 0, 0.0)) {
      case ((to, ts, po, ps), (tr, b0, b1, k)) =>
        if (tr) (to + k, ts + (b1 - b0) / 1e9, po, ps) else (to, ts, po + k, ps + (b1 - b0) / 1e9)
    }
    val overhead = if (plainOps == 0 || tracedS == 0) 1.0
      else (tracedOps / tracedS) / (plainOps / plainS)

    val code = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1e6
    val classes = ManagementFactory.getClassLoadingMXBean.getLoadedClassCount.toDouble

    val stores = for (s <- Seq("lex", "vec"); (k, v) <- Seq(
        s"$s.build_s" -> num(s"${s}_build_s"),
        s"$s.append_s" -> perCall(s"$s.append"), s"$s.delete_s" -> perCall(s"$s.delete"),
        s"$s.load_s" -> perCall(s"$s.load"), s"$s.serve_s" -> perCall(s"$s.serve"),
        s"$s.compact_s" -> perCall(s"$s.compact"),
        s"$s.append_jobs" -> jobsPerCall(s"$s.append"),
        s"$s.serve_jobs" -> jobsPerCall(s"$s.serve"),
        s"$s.compact_jobs" -> jobsPerCall(s"$s.compact"),
        s"$s.store_files" -> num(s"${s}_store_files"), s"$s.store_mb" -> num(s"${s}_store_mb"),
        s"$s.written_mb" -> num(s"${s}_written_mb"))) yield k -> v

    Map[String, Any](
      "queries.build_s" -> perCall("queries.build"),
      "plans.analyze_s" ->
        (phases.map(_.analysis).sum + ctx.counters("plans.analysis_ms")) / 1e3 / n,
      "plans.optimize_s" -> phases.map(_.optimization).sum / 1e3 / n,
      "plans.physical_s" -> phases.map(_.planning).sum / 1e3 / n,
      "exec.run_s" -> runMs / 1e3 / n,
      "exec.jobs" -> jobCount / n,
      "exec.stages" -> stages / n,
      "exec.tasks" -> tasks.size / n,
      "exec.task_s" -> tasks.map(_.runMs).sum / 1e3 / n,
      "exec.driver_gap_s" -> (wallS - runMs / 1e3) / n,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1e6 / n,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6 / n,
      "exec.spill_mb" -> tasks.map(_.spill).sum / 1e6 / n,
      "sources.poll_s" -> perCall("sources.poll"),
      "sources.drain_s" -> perCall("sources.drain"),
      "sources.staged_files" -> num("staged_files"),
      "streaming.batches" -> progress.size.toDouble / ticks,
      "streaming.latest_offset_s" -> streamPerTick("latestOffset"),
      "streaming.get_batch_s" -> streamPerTick("getBatch"),
      "streaming.planning_s" -> streamPerTick("queryPlanning"),
      "streaming.add_batch_s" -> streamPerTick("addBatch"),
      "streaming.wal_commit_s" -> streamPerTick("walCommit"),
      "streaming.commit_s" -> streamPerTick("commitOffsets"),
      "streaming.startstop_s" -> (if (progress.isEmpty) 0.0 else (drainS - triggerS) / ticks),
      "streaming.state_rows" -> progress.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_commit_s" -> progress.map(_.stateCommitMs).sum / 1e3 / ticks,
      "streaming.state_mb" -> progress.lastOption.map(_.stateBytes / 1e6).getOrElse(0.0),
      "jvm.gc_s" -> gcS,
      "jvm.code_cache_mb" -> code,
      "jvm.classes" -> classes,
      "trace.overhead" -> overhead,
      "trace.unattributed_s" -> unattributed.sum / n,
      "self_s" -> byName.map { case (k, (c, t, s)) => k -> Map("calls" -> c, "total_s" -> t, "self_s" -> s) },
      "traced_ops" -> ops.size, "traced_wall_s" -> wallS,
      "op_unattributed_s" -> unattributed) ++ stores
  }
}

/** Just enough JSON for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}
