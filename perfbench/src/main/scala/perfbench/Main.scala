package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What an operation left behind: the check of its answer (None when
  * correct) and the files and bytes it wrote, both read after the timed
  * call returns.
  */
final case class Done(check: () => Option[String], written: () => (Long, Long) = () => (0L, 0L))

/** One operation of the closed loop. `prep` runs untimed just before it
  * (choosing and staging the operation's input); `run` is the timed call
  * into the engine. `userBytes` is the user data the operation processes.
  */
final case class Op(kind: String, userBytes: Long, run: () => Done, prep: () => Unit = () => ())

final case class OpResult(kind: String, cycle: Int, wall: Double, userBytes: Long, ok: Boolean,
    traced: Boolean, filesWritten: Long, bytesWritten: Long)

/** A workload: seeded inputs, a starting state, and a cycle of operations
  * the client issues back to back.
  */
trait Workload {
  /** One set-up repetition: generate the inputs from the seed into fresh
    * directories and build the state the timed region starts from.
    * Returns the digest of the generated inputs.
    */
  def setup(rep: Int): String
  /** Digest of the inputs `seed + 1` would give, for the seed self-check. */
  def otherSeedDigest(): String
  /** Calls that let the JIT and Spark's code generation settle. */
  def warmup(): Unit
  /** The operations of cycle `i`. */
  def cycle(i: Int): Seq[Op]
  /** Cycles an untraced run times at least, however long they take. */
  def minCycles: Int = 1
  /** Cycles a traced run executes: a fixed count, so count metrics repeat. */
  def tracedCycles: Int
  /** The operation that closes the timed region, if any. */
  def closing: Option[Op] = None
  /** Checks of the final state, outside the timed region: one entry per
    * check, None when it passed.
    */
  def finalCheck(): Seq[Option[String]]
  /** The workload's checks fed deliberately wrong answers: one entry per
    * test, with whether the check rejected the answer.
    */
  def selfTests(): Seq[(String, Boolean)]
  /** Figures per operation kind, printed beside the end-to-end metrics. */
  def details(ops: Seq[OpResult]): Seq[(String, Double, String)]
  /** Per-layer figures only this workload can measure. */
  def layerMetrics(ctx: LayerCtx): Map[String, Double]
}

/** What a workload's per-layer figures can draw on: the operations of
  * the run, the task totals of the traced operations of one kind, and
  * `traced`, which runs a body under a span with the listeners attached
  * and returns the task totals of that span.
  */
final class LayerCtx(val ops: Seq[OpResult], val perKind: String => Agg,
    val traced: (String, () => Unit) => Agg)

object Main {
  val Workloads = Seq("mr_logs", "index_churn")

  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3

  val EndToEnd = Seq(
    "throughput_mb_s" -> "MB/s", "op_p50_s" -> "s", "heap_retained_mb" -> "MB", "setup_s" -> "s")

  val PerLayer = Seq(
    "spark.plan_s" -> "s", "spark.actions" -> "count", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.job_covered_s" -> "s",
    "spark.driver_gap_s" -> "s", "executor.deser_s" -> "s",
    "llm.append_s" -> "s", "llm.delete_s" -> "s", "llm.read_s" -> "s", "llm.compact_s" -> "s",
    "llm.jobs_per_append" -> "count", "llm.jobs_per_delete" -> "count", "llm.jobs_per_read" -> "count",
    "runtime.bytes_written_per_mutation" -> "bytes", "runtime.files_written_per_mutation" -> "count",
    "runtime.compact_bytes_rewritten" -> "bytes", "runtime.index_bytes" -> "bytes",
    "runtime.index_files" -> "count", "runtime.generations" -> "count",
    "runtime.retained_ckpt_rdds" -> "count", "runtime.write_amp" -> "ratio", "runtime.space_amp" -> "ratio",
    "executor.cpu_s" -> "s", "executor.run_s" -> "s", "executor.busy_frac" -> "ratio",
    "functions.minhash_rows_per_cpu_s" -> "rows/s", "llm.lsh_candidates" -> "count",
    "llm.lsh_verified" -> "count", "llm.verify_yield" -> "ratio", "llm.resolve_rounds" -> "count",
    "mr.run_s.lowcard" -> "s", "mr.run_s.highcard" -> "s", "mr.map_records" -> "count",
    "mr.combine_ratio.lowcard" -> "ratio", "mr.combine_ratio.highcard" -> "ratio",
    "shuffle.records" -> "count", "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "spill.bytes" -> "bytes", "executor.gc_s" -> "s",
    "io.read_bytes" -> "bytes", "io.read_records" -> "count", "io.write_bytes" -> "bytes",
    "io.files_written" -> "count", "executor.peak_mem_mb" -> "MB",
    "trace.overhead_frac" -> "ratio", "trace.unattributed_frac" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, cores: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("cores").toInt)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds > 0 && a.cores > 0, "--seconds and --cores must be positive")
    a
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Driver heap after full collections. Spark's context cleaner frees
    * the blocks of unreachable RDDs on its own thread after a collection
    * finds them, so collect until the reading settles.
    */
  private def retainedHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6 }
    var prev = used()
    var cur = prev
    var i = 0
    do { prev = cur; Thread.sleep(250); cur = used(); i += 1 } while (math.abs(cur - prev) > 0.5 && i < 20)
    cur
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.build(s"local[${a.cores}]", s"perfbench-${a.workload}")
    // the engine unpersists checkpointed frames by design; Spark warns on
    // each, which only floods the log
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    val sessionS = secondsSince(t0)
    val code =
      try run(spark, a, sessionS)
      finally spark.stop()
    System.err.println(s"perfbench: total ${secondsSince(t0)} s")
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args, sessionS: Double): Int = {
    val dir = s"${a.work}/${a.workload}"
    val tracer = new Tracer(spark)
    val wl: Workload = a.workload match {
      case "mr_logs"     => new MrLogs(spark, dir, a.seed, tracer)
      case "index_churn" => new IndexChurn(spark, dir, a.seed, tracer)
    }
    val sc = spark.sparkContext

    // ---- set-up: several repetitions, median reported
    val setups = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      val d = wl.setup(r)
      (secondsSince(t), d)
    }
    val digest = setups.head._2
    val tw = System.nanoTime()
    wl.warmup()
    val setupS = sessionS + median(setups.map(_._1)) + secondsSince(tw)
    // every check counts one attempt; None = passed
    val checks = mutable.ArrayBuffer.empty[Option[String]]
    checks += (if (setups.forall(_._2 == digest)) None else Some("same seed gave different input digests"))
    checks += (if (wl.otherSeedDigest() != digest) None else Some("another seed gave the same input digest"))

    // ---- timed region: a closed loop of whole cycles
    val listener = new LayerListener
    val plans = new PlanListener
    val results = mutable.ArrayBuffer.empty[OpResult]
    val cycleWalls = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, wall incl. checks)

    def attach(on: Boolean): Unit =
      if (on) { sc.addSparkListener(listener); spark.listenerManager.register(plans); tracer.on = true }
      else {
        org.apache.spark.perfbench.Drain(sc)
        sc.removeSparkListener(listener); spark.listenerManager.unregister(plans); tracer.on = false
      }

    def runOp(op: Op, cycle: Int, j: Int, traced: Boolean): Unit = {
      val trace = s"${a.workload}/${a.seed}/c$cycle.$j"
      val (wall, done) =
        try {
          tracer.span("bench.prep", op.kind, trace)(op.prep())
          val t = System.nanoTime()
          val d = tracer.span("op", op.kind, trace)(op.run())
          (secondsSince(t), Right(d))
        } catch { case e: Exception => (0.0, Left(s"${op.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}")) }
      val (files, bytes) = done.fold(_ => (0L, 0L), d => tracer.span("bench.measure", op.kind, trace)(d.written()))
      val problem = done.fold(Some(_), d =>
        try tracer.span("bench.check", op.kind, trace)(d.check())
        catch { case e: Exception => Some(s"${op.kind} check: ${e.getMessage}") })
      checks += problem
      results += OpResult(op.kind, cycle, wall, op.userBytes, problem.isEmpty, traced, files, bytes)
    }

    def runCycle(i: Int, traced: Boolean): Unit = {
      if (traced) attach(true)
      val t = System.nanoTime()
      wl.cycle(i).zipWithIndex.foreach { case (op, j) => runOp(op, i, j, traced) }
      cycleWalls += ((traced, secondsSince(t)))
      if (traced) attach(false)
    }

    val regionT0 = System.nanoTime()
    if (!a.trace) {
      var i = 0
      while ((i < wl.minCycles || results.map(_.wall).sum < a.seconds) && results.forall(_.ok)) {
        runCycle(i, traced = false)
        i += 1
      }
    } else {
      // untraced and traced cycles alternate; their difference is the
      // tracing overhead
      (0 until wl.tracedCycles).foreach(i => runCycle(i, traced = i % 2 == 1))
    }
    val closingWall = wl.closing.map { op =>
      if (a.trace) attach(true)
      val t = System.nanoTime()
      runOp(op, -1, 0, a.trace)
      val w = secondsSince(t)
      if (a.trace) attach(false)
      w
    }.getOrElse(0.0)
    val regionS = secondsSince(regionT0)
    val heapMb = retainedHeapMb()
    val retainedCkpt = sc.getPersistentRDDs.size

    // ---- checks outside the timed region
    checks ++= wl.finalCheck()
    checks ++= wl.selfTests().map { case (n, rejected) =>
      if (rejected) None else Some(s"self-test '$n': the check accepted a wrong answer")
    }
    val failures = checks.flatten
    val attempted = checks.size
    val failed = failures.size

    println(s"workload ${a.workload} seed ${a.seed} cores ${a.cores} trace ${if (a.trace) 1 else 0}")
    println(s"input_digest $digest")
    println(s"setup_parts session_s $sessionS reps_s ${setups.map(_._1).mkString(",")} warmup_s ${setupS - sessionS - median(setups.map(_._1))}")
    println(s"region_s $regionS ops ${results.size} cycles ${cycleWalls.size}")
    println("op_walls " + results.map(r => f"${r.kind}:${r.wall}%.3f").mkString(" "))
    failures.foreach(f => println(s"FAILED $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val timed = results.filter(_.cycle >= 0)
        val cycles = timed.groupBy(_.cycle).values.toSeq
        val values = Map(
          "throughput_mb_s" -> median(cycles.map(c => c.map(_.userBytes).sum / 1e6 / c.map(_.wall).sum)),
          "op_p50_s" -> median(cycles.map(_.map(_.wall).sum)),
          "heap_retained_mb" -> heapMb,
          "setup_s" -> setupS)
        println(s"samples cycles ${timed.map(_.cycle).distinct.size} ops ${timed.size}")
        (wl.details(results.toSeq) ++ Seq(("fail_frac", failed.toDouble / attempted, "ratio")))
          .foreach { case (n, v, u) => println(f"metric $n $v $u") }
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val values = layerValues(wl, tracer, listener, plans, results.toSeq, cycleWalls.toSeq,
          closingWall, retainedCkpt, a.cores, attach)
        PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }
    // spans live in memory until here: trace id, id, parent, name, kind,
    // start and end in ms from the region's start
    tracer.spans.foreach { sp =>
      println(f"span ${sp.trace} ${sp.id} ${sp.parent} ${sp.name} ${sp.kind} " +
        f"${(sp.start - regionT0) / 1e6}%.3f ${(sp.end - regionT0) / 1e6}%.3f")
    }
    metrics.foreach { case (n, v, u) => println(s"metric $n $v $u") }
    val ok = failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    0
  }

  /** Per-layer metrics of a traced run, from the spans of the traced
    * operations and the listener totals of the same calls.
    */
  private def layerValues(wl: Workload, tracer: Tracer, listener: LayerListener, plans: PlanListener,
      results: Seq[OpResult], cycleWalls: Seq[(Boolean, Double)], closingWall: Double,
      retainedCkpt: Int, cores: Int, attach: Boolean => Unit): Map[String, Double] = {
    val spans = tracer.spans.toSeq
    // workload extras run after the region and must not count in its totals
    val region = Agg.sum(listener.bySpan.values)
    val tracedWall = cycleWalls.filter(_._1).map(_._2).sum + closingWall
    val untracedWall = cycleWalls.filterNot(_._1).map(_._2)
    val covered = unionMs(listener.jobIntervals.toSeq) / 1e3
    val roots = spans.filter(_.parent == 0)
    val ops = roots.filter(_.name == "op")
    def under(roots: Seq[Span]): Agg = {
      val ids = roots.flatMap(tracer.subtree).toSet
      Agg.sum(listener.bySpan.iterator.filter(e => ids(e._1)).map(_._2).toSeq)
    }
    def jobsPer(kind: String): Double = {
      val k = ops.filter(_.kind == kind)
      if (k.isEmpty) 0.0 else under(k).jobs.toDouble / k.size
    }
    def selfMedian(name: String, kind: String = ""): Double =
      median(spans.filter(s => s.name == name && (kind.isEmpty || s.kind == kind)).map(tracer.selfSeconds))
    val tracedCycleWalls = cycleWalls.filter(_._1).map(_._2)
    val tracedOps = results.filter(_.traced)
    val mutations = tracedOps.filter(r => r.kind == "append" || r.kind == "delete")

    val base = Map[String, Double](
      "spark.plan_s" -> plans.planNs / 1e9,
      "spark.actions" -> plans.actions.toDouble,
      "spark.jobs" -> region.jobs.toDouble,
      "spark.stages" -> region.stages.toDouble,
      "spark.tasks" -> region.tasks.toDouble,
      "spark.job_covered_s" -> covered,
      "spark.driver_gap_s" -> math.max(0.0, tracedWall - covered),
      "executor.deser_s" -> region.deserMs / 1e3,
      "llm.append_s" -> selfMedian("llm.append"),
      "llm.delete_s" -> selfMedian("llm.delete"),
      "llm.read_s" -> selfMedian("llm.read"),
      "llm.compact_s" -> selfMedian("llm.compact"),
      "llm.jobs_per_append" -> jobsPer("append"),
      "llm.jobs_per_delete" -> jobsPer("delete"),
      "llm.jobs_per_read" -> jobsPer("read"),
      "runtime.bytes_written_per_mutation" ->
        (if (mutations.isEmpty) 0.0 else mutations.map(_.bytesWritten).sum.toDouble / mutations.size),
      "runtime.files_written_per_mutation" ->
        (if (mutations.isEmpty) 0.0 else mutations.map(_.filesWritten).sum.toDouble / mutations.size),
      "runtime.compact_bytes_rewritten" -> tracedOps.filter(_.kind == "compact").map(_.bytesWritten).sum.toDouble,
      "runtime.retained_ckpt_rdds" -> retainedCkpt.toDouble,
      "executor.cpu_s" -> region.cpuNs / 1e9,
      "executor.run_s" -> region.runMs / 1e3,
      "executor.busy_frac" -> (if (tracedWall > 0) region.runMs / 1e3 / (tracedWall * cores) else 0.0),
      "mr.run_s.lowcard" -> selfMedian("mr.run", "lowcard"),
      "mr.run_s.highcard" -> selfMedian("mr.run", "highcard"),
      "shuffle.records" -> region.shuffleRecords.toDouble,
      "shuffle.write_bytes" -> region.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> region.shuffleRead.toDouble,
      "shuffle.fetch_wait_s" -> region.fetchWaitMs / 1e3,
      "spill.bytes" -> region.spill.toDouble,
      "executor.gc_s" -> region.gcMs / 1e3,
      "io.read_bytes" -> region.readBytes.toDouble,
      "io.read_records" -> region.readRecords.toDouble,
      "io.write_bytes" -> region.writeBytes.toDouble,
      "io.files_written" -> tracedOps.map(_.filesWritten).sum.toDouble,
      "executor.peak_mem_mb" -> region.peakMem / 1e6,
      "trace.overhead_frac" -> (median(tracedCycleWalls) / median(untracedWall) - 1),
      "trace.unattributed_frac" ->
        (1 - roots.filter(_.kind.nonEmpty).map(_.seconds).sum / tracedWall))

    val extra = wl.layerMetrics(new LayerCtx(results,
      kind => under(ops.filter(_.kind == kind)),
      (name, body) => {
        attach(true)
        val before = tracer.spans.size
        tracer.span(name, "extra")(body())
        attach(false)
        under(Seq(tracer.spans(before)))
      }))
    base ++ extra
  }

  /** Total length of the union of [start, end] intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
