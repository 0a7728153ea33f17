package graft.perfbench

import graft.Registry
import graft.tools.{Artifacts, Checkpoints}
import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark harness: one workload per process.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --t0 <epoch s> --data <dir> --work <dir> --artifacts <dir>
  *        --fingerprints <file>
  *   Main --dump <dir> --data <dir> --work <dir>
  *
  * A run stages the workload's inputs, warms up with one unmeasured
  * pass, then measures passes for about `--seconds` (at least the
  * workload's minimum). Every op's output is checked after its timed
  * window. The last stdout line is the result object; the exit code is
  * non-zero when any op failed or any check did not match.
  *
  * `--trace 1` alternates traced and untraced passes: traced passes
  * record spans at each layer boundary and the listener's scheduler
  * counts, and the report is per layer, with the traced-vs-untraced
  * pass wall as the tracing overhead. `--dump` writes each registry
  * result and its DuckDB oracle SQL, to record the fingerprints.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Int = 10,
      trace: Boolean = false, t0: Double = 0.0, data: String = "", work: String = "",
      artifacts: String = "", fingerprints: String = "", dump: Option[String] = None)

  /** Cores for the local session: never more than the box has, and
    * capped so a bigger box measures the same parallelism. */
  val MaxCores = 4

  def parse(argv: Seq[String]): Args = argv.grouped(2).foldLeft(Args()) {
    case (a, Seq("--workload", v))     => a.copy(workload = v)
    case (a, Seq("--seed", v))         => a.copy(seed = v.toLong)
    case (a, Seq("--seconds", v))      => a.copy(seconds = v.toInt)
    case (a, Seq("--trace", v))        => a.copy(trace = v == "1")
    case (a, Seq("--t0", v))           => a.copy(t0 = v.toDouble)
    case (a, Seq("--data", v))         => a.copy(data = v)
    case (a, Seq("--work", v))         => a.copy(work = v)
    case (a, Seq("--artifacts", v))    => a.copy(artifacts = v)
    case (a, Seq("--fingerprints", v)) => a.copy(fingerprints = v)
    case (a, Seq("--dump", v))         => a.copy(dump = Some(v))
    case (_, other) => throw new IllegalArgumentException(
      s"bad arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv.toSeq))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        2
      }
    System.out.flush()
    sys.exit(code)
  }

  def nowS: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) CPU jiffies of the whole box from /proc/stat; steal
    * is time the hypervisor ran someone else while this box wanted the
    * CPU. Zeros where /proc/stat does not exist. */
  def cpuJiffies(): (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.sum)
      } finally f.close()
    }.getOrElse((0L, 0L))

  /** Heap still live after a full collection, in MB. Spark's cleaner
    * thread releases the blocks of RDDs and broadcasts only once a
    * collection has found them unreachable, so collect, give it a
    * moment, and collect what it freed. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def session(a: Args, cores: Int, confs: Map[String, String]): SparkSession = {
    val s = confs.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(a: Args): Int = {
    val cores = math.min(Runtime.getRuntime.availableProcessors, MaxCores)
    val spark = session(a, cores,
      if (a.dump.nonEmpty) Workload.RegistryConfs else Workload(a.workload).confs)
    try a.dump match {
      case Some(out) => dump(spark, a, out)
      case None      => measure(spark, a, cores)
    } finally spark.stop()
  }

  private def measure(spark: SparkSession, a: Args, cores: Int): Int = {
    val nproc = Runtime.getRuntime.availableProcessors
    val load0 = loadAvg
    val cpu0 = cpuJiffies()
    val tracer = new Tracer(spark.sparkContext)
    val probe = if (a.trace) Some(new Probe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, a.data, a.work, a.artifacts, a.seed, tracer,
      Fingerprint.load(Paths.get(a.fingerprints)))
    val w = Workload(a.workload)

    val sessionAt = nowS - a.t0
    val staged = w.setup(ctx)
    val stagedAt = nowS - a.t0
    val warm = (1 to w.warmupPasses).flatMap(_ => w.pass(ctx, 0))
    heapAfterGcMb()
    val setupS = nowS - a.t0 - ctx.oneTimeS
    System.err.println(f"[perfbench] set-up: session $sessionAt%.2f s, staged " +
      f"${stagedAt - sessionAt}%.2f s (one-time build ${ctx.oneTimeS}%.2f s), " +
      f"warm-up ${setupS + ctx.oneTimeS - stagedAt}%.2f s")

    // untraced passes feed the end-to-end figures; in a traced run the
    // odd passes are traced and the even ones measure the overhead
    val minPasses = if (a.trace) math.max(4, w.minPasses) else w.minPasses
    val passes = ArrayBuffer.empty[(Int, Boolean, Seq[OpSample])]
    var heapPeak = 0.0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def typicalPass = Stats.median(passes.map(_._3.map(_.wallS).sum).toSeq)
    var p = 1
    while (p <= minPasses || elapsed + typicalPass <= a.seconds) {
      tracer.enabled = a.trace && p % 2 == 1
      passes += ((p, tracer.enabled, w.pass(ctx, p)))
      tracer.enabled = false
      heapPeak = math.max(heapPeak, heapAfterGcMb())
      p += 1
    }
    val load1 = loadAvg
    val cpu1 = cpuJiffies()
    val stealPct = 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2)

    val all = staged ++ warm ++ passes.flatMap(_._3)
    val failed = all.filter(_.error.nonEmpty)
    failed.foreach(o => System.err.println(s"[perfbench] FAILED ${o.error.get}"))
    val untraced = passes.filterNot(_._2).map(_._3).toSeq
    val opWalls = untraced.flatten.map(_.wallS)
    // one pass's wall, estimated op by op: the sum of each op's median
    // over the untraced passes (a slow outlier moves one op's median
    // by at most one rank)
    val passWall = untraced.flatten.groupBy(_.op).values
      .map(ops => Stats.median(ops.map(_.wallS))).sum

    val (tail, tailPct, tailN) = Stats.tail(opWalls)
    System.err.println(f"[perfbench] workload=${a.workload} seed=${a.seed} " +
      f"trace=${a.trace} nproc=$nproc cores=$cores loadavg_start=$load0%.2f " +
      f"loadavg_end=$load1%.2f steal=$stealPct%.1f%% passes=${passes.size} ops=${all.size} " +
      f"failed=${failed.size} tail=p$tailPct%.1f of $tailN")

    val box = Seq(
      ("box.nproc", nproc.toDouble, "count"), ("box.cores", cores.toDouble, "count"),
      ("box.loadavg_start", load0, "1"), ("box.loadavg_end", load1, "1"),
      ("box.steal_pct", stealPct, "%"),
      ("tail.percentile", tailPct, "%"), ("tail.samples", tailN.toDouble, "count"))
    val metrics =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", passWall, "s"),
        ("op_s_p50", Stats.median(opWalls), "s"),
        ("op_s_tail", tail, "s"),
        ("heap_peak_mb", heapPeak, "MB"))
      else {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        Layers.report(ctx, probe.get, passes.toSeq, passWall) ++ box
      }

    val records = Paths.get(a.work).getParent.resolve("records")
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    if (a.trace) tracer.writeJsonLines(records.resolve(s"$tag.spans.jsonl"))
    val result = Json.result(failed.isEmpty, all.size, failed.size, metrics)
    Files.createDirectories(records)
    Files.write(records.resolve(s"$tag.json"), (result + "\n").getBytes("UTF-8"))
    println(result)
    if (failed.isEmpty) 0 else 1
  }

  /** Write every registry result the benchmark checks, its fingerprint
    * and its DuckDB oracle SQL, so the fingerprints can be verified
    * against the oracle once and recorded. */
  private def dump(spark: SparkSession, a: Args, out: String): Int = {
    val fps = scala.collection.mutable.LinkedHashMap.empty[String, Fingerprint]
    val oracles = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def one(s: SparkSession, q: graft.GraftQuery, key: String): Unit = {
      val df = q.withConfs(s)(q.run(s, a.data).localCheckpoint(eager = true))
      Checkpoints.drainDeferred(s)
      fps(key) = Fingerprint.of(df)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$key")
      Checkpoints.release(df)
      q.oracle.orElse(graft.queries.TextAnalysis.dynamicOracles(s, a.data).get(q.name))
        .foreach(oracles(key) = _)
      System.err.println(s"[perfbench] dumped $key ${fps(key)}")
    }
    val w = new RegistryWorkload
    val s = spark.newSession()
    (w.graph ++ w.cold ++ w.attached).distinct.foreach(q => one(s, q, q.name))
    val art = s"${a.work}/artifacts"
    deleteTree(Paths.get(art))
    Artifacts.ensureFor(spark, a.data, art)
    Artifacts.detach(spark)
    val s2 = spark.newSession()
    Artifacts.attach(s2, art)
    w.attached.foreach(q => one(s2, q, s"${q.name}@attached"))
    Files.writeString(Paths.get(s"$out/fingerprints.json"), Json.fingerprints(fps.toSeq))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.obj(oracles.toSeq))
    0
  }
}

/** Per-layer figures of a traced run: span self times, listener
  * counts and the workload's own notes, each summed per traced pass
  * and reported as the median over traced passes. */
object Layers {
  /** (name, unit) of every per-layer metric, in report order. */
  val metrics: Seq[(String, String)] = Seq(
    "queries.plan_build_s" -> "s", "queries.plan_build_jobs" -> "count",
    "spark.execute_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.tasks_per_stage" -> "ratio",
    "spark.driver_gap_s" -> "s", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.failed_tasks" -> "count",
    "checkpoints.deferred" -> "count", "checkpoints.drain_s" -> "s",
    "checkpoints.cached_bytes_peak" -> "bytes",
    "artifacts.prep_s" -> "s", "artifacts.built" -> "count",
    "artifacts.cold_wall_s" -> "s",
    "artifacts.derivations_cold" -> "count", "artifacts.derivations_attached" -> "count",
    "artifacts.attached_wall_s" -> "s",
    "sources.scan_s" -> "s", "sources.rows_per_block" -> "ratio",
    "operators.cdc_s" -> "s", "operators.events.new_listing" -> "count",
    "operators.events.price_change" -> "count", "operators.events.off_market" -> "count",
    "sinks.write_s" -> "s", "sinks.jobs" -> "count", "sinks.upserts" -> "count",
    "sinks.new_key_ratio" -> "ratio",
    "trace.overhead_pct" -> "%", "trace.selftime_err_max" -> "ratio")

  def report(ctx: Ctx, probe: Probe, passes: Seq[(Int, Boolean, Seq[OpSample])],
      untracedPassWall: Double): Seq[(String, Double, String)] = {
    val (jobs, stages) = probe.snapshot
    val spans = ctx.tracer.spans
    // a job is attributed by its group; a job submitted from a thread
    // that did not inherit the group falls back to the innermost span
    // open when it started
    def where(j: JobRec): Option[(Int, String, String)] =
      Tracer.parse(j.group).orElse(
        spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
          .sortBy(-_.startNs).headOption.map(s => (s.pass, s.op, s.name)))
    val placed = jobs.flatMap(j => where(j).map(j -> _)).filter(_._2._3 != "check")

    val traced = passes.filter(_._2)
    val perPass = traced.map { case (p, _, ops) =>
      val ps = spans.filter(_.pass == p)
      val self = Spans.selfNs(ps)
      def selfS(name: String) = ps.filter(_.name == name).map(s => self(s.id)).sum / 1e9
      val pj = placed.filter(_._2._1 == p)
      def jobsIn(span: String) = pj.count(_._2._3 == span).toDouble
      val sl = SparkLayer.of(pj.map(_._1.id).toSet, stages)
      val roots = ps.filter(_.name == "op")
      val gapS = roots.map { r =>
        val opJobs = pj.filter(_._2._2 == r.op).map(_._1)
        (r.endMs - r.startMs - SparkLayer.coveredMs(opJobs, r.startMs, r.endMs)) / 1e3
      }.sum
      val selfErr = ops.flatMap { o =>
        val opSpans = ps.filter(_.op == o.key)
        if (opSpans.isEmpty) None
        else Some(Spans.selfSumError(opSpans, (o.wallS * 1e9).toLong))
      }
      val n = ctx.noted(p)
      def noted(k: String) = n.getOrElse(k, ctx.setupLayer.getOrElse(k, 0.0))
      def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
      Map(
        "queries.plan_build_s" -> selfS("queries.plan_build"),
        "queries.plan_build_jobs" -> jobsIn("queries.plan_build"),
        "spark.execute_s" -> selfS("spark.execute"),
        "spark.jobs" -> sl.jobs.toDouble, "spark.stages" -> sl.stages.toDouble,
        "spark.tasks" -> sl.tasks.toDouble,
        "spark.tasks_per_stage" -> ratio(sl.tasks, sl.stages),
        "spark.driver_gap_s" -> gapS, "spark.task_run_s" -> sl.taskRunS,
        "spark.task_cpu_s" -> sl.taskCpuS, "spark.gc_s" -> sl.gcS,
        "spark.shuffle_read_bytes" -> sl.shuffleRead.toDouble,
        "spark.shuffle_write_bytes" -> sl.shuffleWrite.toDouble,
        "spark.spill_bytes" -> sl.spill.toDouble,
        "spark.failed_tasks" -> sl.failedTasks.toDouble,
        "checkpoints.deferred" -> noted("checkpoints.deferred"),
        "checkpoints.drain_s" -> selfS("checkpoints.drain"),
        "checkpoints.cached_bytes_peak" -> noted("checkpoints.cached_bytes_peak"),
        "artifacts.prep_s" -> noted("artifacts.prep_s"),
        "artifacts.built" -> noted("artifacts.built"),
        "artifacts.cold_wall_s" -> noted("artifacts.cold_wall_s"),
        "artifacts.derivations_cold" -> noted("artifacts.derivations_cold"),
        "artifacts.derivations_attached" -> noted("artifacts.derivations_attached"),
        "artifacts.attached_wall_s" -> noted("artifacts.attached_wall_s"),
        "sources.scan_s" -> selfS("sources.scan"),
        "sources.rows_per_block" -> ratio(noted("sources.rows"), noted("sources.blocks")),
        "operators.cdc_s" -> selfS("operators.cdc"),
        "operators.events.new_listing" -> noted("operators.events.new_listing"),
        "operators.events.price_change" -> noted("operators.events.price_change"),
        "operators.events.off_market" -> noted("operators.events.off_market"),
        "sinks.write_s" -> selfS("sinks.write"),
        "sinks.jobs" -> jobsIn("sinks.write"),
        "sinks.upserts" -> noted("sinks.upserts"),
        "sinks.new_key_ratio" -> ratio(noted("sinks.new_keys"), noted("sinks.upserts")),
        "trace.selftime_err_max" -> (if (selfErr.isEmpty) 0.0 else selfErr.max))
    }
    val tracedWall = traced.flatMap(_._3).groupBy(_.op).values
      .map(ops => Stats.median(ops.map(_.wallS))).sum
    val overhead = 100.0 * (tracedWall / untracedPassWall - 1.0)
    metrics.map { case (name, unit) =>
      val v =
        if (name == "trace.overhead_pct") overhead
        else if (name == "trace.selftime_err_max") perPass.map(_(name)).max
        else Stats.median(perPass.map(_(name)))
      (name, v, unit)
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else v.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"  ${str(k)}: ${str(v)}" }.mkString("{\n", ",\n", "\n}\n")

  def fingerprints(fps: Seq[(String, Fingerprint)]): String =
    fps.map { case (k, f) => s"""  ${str(k)}: {"rows": ${f.rows}, "hash": ${str(f.hash)}}""" }
      .mkString("{\n", ",\n", "\n}\n")

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
