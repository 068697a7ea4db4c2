package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> [--cores <n>] [--out <detail.json>]
  * }}}
  *
  * Set-up (inputs, seeded dimension) runs [[Setups]] times on fresh
  * roots, then the last one is warmed up; `setup_s` is the session start
  * plus the median set-up plus the warm-up. The warmed state is measured
  * for `--seconds`, the correctness gates run,
  * and the last stdout line is the result object. A failed gate prints
  * the reason and exits 2 without a result. */
object Main {
  val Setups = 3

  /** End-to-end metrics, reported by every workload with tracing off. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms_p50" -> "ms", "rec_per_s" -> "rec/s")

  /** Layer calls billed by mean self time per call, `<name>_ms`. */
  val WriteLayers: Seq[String] = Seq("Ledger.unprocessed", "Cdc.batchId",
    "Ledger.isProcessed", "SnapshotStore.read", "Scd2.mergeBatch",
    "SnapshotStore.publish", "Ledger.append", "MetadataLog.record")

  /** Layer calls billed by median self time per call, `<name>_ms_p50`. */
  val ReadLayers: Seq[String] = Seq("SnapshotStore.read", "Scd2.current",
    "Scd2.asOf", "Scd2.snapshotDiff", "Scd2.duplicateCurrentKeys",
    "Scd2.timeline", "AsOf.asOfJoin")

  val StreamLayer: Seq[(String, String)] = Seq(
    "CdcStream.trigger_ms_p50" -> "ms", "CdcStream.add_batch_ms_p50" -> "ms",
    "CdcStream.planning_ms_p50" -> "ms", "CdcStream.latest_offset_ms_p50" -> "ms",
    "CdcStream.wal_commit_ms_p50" -> "ms", "CdcStream.idle_ms" -> "ms",
    "CdcStream.batches" -> "count", "CdcStream.backlog_max" -> "count",
    "gen.late_ms_max" -> "ms")

  /** Per-layer metrics, reported by every workload with tracing on (0
    * where the workload does no work in that layer). */
  val PerLayer: Seq[(String, String)] =
    WriteLayers.map(l => s"${l}_ms" -> "ms") ++
      ReadLayers.map(l => s"${l}_ms_p50" -> "ms") ++ Seq(
      "SnapshotStore.publish_jobs" -> "count",
      "SnapshotStore.publish_cpu_ms" -> "ms",
      "SnapshotStore.publish_shuffle_bytes" -> "bytes",
      "SnapshotStore.bytes_written" -> "bytes",
      "SnapshotStore.files_written" -> "count",
      "io.bytes_written_per_rec" -> "bytes") ++ StreamLayer ++ Seq(
      "op.self_ms" -> "ms",
      "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.executor_run_ms_per_op" -> "ms",
      "spark.executor_cpu_ms_per_op" -> "ms",
      "spark.shuffle_write_bytes_per_op" -> "bytes",
      "spark.spill_bytes_per_op" -> "bytes", "spark.gc_ms_per_op" -> "ms",
      "proc.cpu_ms_per_op" -> "ms", "proc.cpu_s" -> "s", "proc.wall_s" -> "s",
      "proc.peak_rss_mb" -> "MB",
      "host.load1_start" -> "load", "host.load1_end" -> "load",
      "host.steal_pct" -> "%", "host.nproc" -> "count",
      "trace.coverage" -> "share", "trace.uncovered_ms" -> "ms",
      "trace.spans" -> "count", "trace.setup_s" -> "s",
      "trace.op_ms_p50" -> "ms")

  val NamePattern = "[A-Za-z0-9_.-]+"

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, cores: Int,
                        out: Option[Path])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"--$k is required"))
    val w = need("workload")
    require(Workloads.all.contains(w),
      s"unknown workload $w (one of ${Workloads.all.keys.toSeq.sorted.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t   => sys.error(s"--trace must be 0 or 1, not $t")
      },
      Paths.get(need("work")).toAbsolutePath,
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      kv.get("out").map(Paths.get(_)))
  }

  def load1(): Double =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble

  /** (steal, total) CPU jiffies of the host since boot, from /proc/stat:
    * time a hypervisor gave this machine's CPUs to other guests. */
  def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = load1()
    val jiffies0 = cpuJiffies()
    val cpu0 = Workloads.cpuNs()
    val wall0 = System.nanoTime()
    Files.createDirectories(a.work)
    val spark = session(a)
    val sessionS = (System.nanoTime() - wall0) / 1e9
    val runId = s"${a.workload}-${a.seed}-${java.util.UUID.randomUUID()}"
    val jobs = if (a.trace) Some(new JobMetrics) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(a.trace, runId,
      if (a.trace) Some(spark.sparkContext) else None)
    val ctx = Ctx(spark, tracer, jobs, a.work, a.seed, a.seconds, runId)
    val w = Workloads.all(a.workload)

    val code = try {
      var setupS = Seq.empty[Double]
      var st: Option[w.State] = None
      for (rep <- 0 until Setups) {
        st.foreach(w.dispose(ctx, _))
        val t0 = System.nanoTime()
        st = Some(w.setup(ctx, rep))
        setupS :+= (System.nanoTime() - t0) / 1e9
      }
      val state = st.get
      val t0 = System.nanoTime()
      w.warm(ctx, state)
      val warmS = (System.nanoTime() - t0) / 1e9
      val m = w.measure(ctx, state)
      w.gate(ctx, state, m)
      val setup = sessionS + Stats.median(setupS) + warmS
      val load9 = load1()
      val jiffies9 = cpuJiffies()
      val stealPct = 100.0 * (jiffies9._1 - jiffies0._1) /
        math.max(1L, jiffies9._2 - jiffies0._2)
      val cpuS = (Workloads.cpuNs() - cpu0) / 1e9
      val wallS = (System.nanoTime() - wall0) / 1e9
      val opP50 = Stats.median(m.opsMs)
      val e2e = Seq(
        "setup_s" -> setup,
        "op_ms_p50" -> opP50,
        "rec_per_s" -> m.records / (m.busyMs / 1000))
      val ctxLine = Json.obj(Seq(
        "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "seconds" -> Json.num(a.seconds), "trace" -> (if (a.trace) "1" else "0"),
        "cores" -> a.cores.toString,
        "nproc" -> Runtime.getRuntime.availableProcessors().toString,
        "load1_start" -> Json.num(load0), "load1_end" -> Json.num(load9),
        "steal_pct" -> Json.num(stealPct),
        "proc_cpu_s" -> Json.num(cpuS), "proc_wall_s" -> Json.num(wallS),
        "setup_runs_s" -> Json.arr(setupS.map(Json.num)),
        "session_s" -> Json.num(sessionS), "warm_s" -> Json.num(warmS),
        "ops" -> m.opsMs.size.toString, "records" -> m.records.toString,
        "window_s" -> Json.num((m.windowEndNs - m.windowStartNs) / 1e9)) ++ m.notes)
      println(s"perfbench context $ctxLine")

      val (metrics, units, spanJson) =
        if (!a.trace) (e2e, EndToEnd.toMap, "[]")
        else {
          jobs.foreach(_.settle())
          val layer = perLayer(ctx, m, setup, opP50, load0, load9, stealPct, cpuS, wallS)
          (layer, PerLayer.toMap, Json.arr(tracer.spans.map(s => Json.obj(Seq(
            "id" -> s.id.toString, "name" -> Json.str(s.name),
            "parent" -> s.parent.toString,
            "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
            "run_id" -> Json.str(s.runId))))))
        }
      val result = Json.obj(Seq(
        "correct" -> "true",
        "attempted" -> m.opsMs.size.toString,
        "failed" -> "0",
        "metrics" -> Json.obj(metrics.map { case (k, v) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(k))))
        })))
      a.out.foreach { p =>
        Files.createDirectories(p.toAbsolutePath.getParent)
        Files.writeString(p, Json.obj(Seq("context" -> ctxLine,
          "result" -> result, "ops_ms" -> Json.arr(m.opsMs.map(Json.num)),
          "spans" -> spanJson)) + "\n")
      }
      println(result)
      0
    } catch {
      case g: GateFailure =>
        System.err.println(s"perfbench: CORRECTNESS GATE FAILED: ${g.getMessage}")
        2
    } finally spark.stop()
    sys.exit(code)
  }

  /** Per-layer metrics of a traced run, from the spans and jobs that fall
    * in the timed window. */
  def perLayer(ctx: Ctx, m: Measured, setupS: Double, opP50: Double,
               load0: Double, load9: Double, stealPct: Double, cpuS: Double,
               wallS: Double): Seq[(String, Double)] = {
    val all = ctx.tracer.spans
    val in = all.filter(s => s.startNs >= m.windowStartNs && s.endNs <= m.windowEndNs)
    val self = Stats.selfTimes(in)
    val jobs = ctx.jobs.get
    def calls(name: String) = in.filter(_.name == name)
    def selfMs(name: String) = calls(name).map(s => self(s.id) / 1e6)
    def work(spans: Seq[Span]) = {
      val groups = spans.map(s => Tracer.group(s.id)).toSet
      jobs.sum((g, _) => groups.contains(g))
    }
    val ops = math.max(1, m.opsMs.size).toDouble
    val publishes = calls("SnapshotStore.publish")
    val pw = work(publishes)
    val np = math.max(1, publishes.size).toDouble
    val win = jobs.sum((_, t) => t >= m.windowStartMs && t <= m.windowEndMs)
    val roots = in.filter(s => s.name == "batch" || s.name == "query")
    val windowNs = m.windowEndNs - m.windowStartNs
    val coverage = Stats.coverage(in, m.windowStartNs, m.windowEndNs)
    val got = WriteLayers.map(l => s"${l}_ms" -> Stats.mean(selfMs(l))) ++
      ReadLayers.map { l =>
        val xs = selfMs(l)
        s"${l}_ms_p50" -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
      } ++ Seq(
      "SnapshotStore.publish_jobs" -> pw.jobs / np,
      "SnapshotStore.publish_cpu_ms" -> pw.cpuMs / np,
      "SnapshotStore.publish_shuffle_bytes" -> pw.shuffleWriteBytes / np,
      "SnapshotStore.bytes_written" -> m.storeBytes / ops,
      "SnapshotStore.files_written" -> m.storeFiles / ops,
      "io.bytes_written_per_rec" ->
        (if (m.writtenBytes == 0) 0.0 else m.writtenBytes.toDouble / m.records)) ++
      StreamLayer.map { case (k, _) => k -> m.layer.getOrElse(k, 0.0) } ++ Seq(
      "op.self_ms" -> Stats.mean(roots.map(s => self(s.id) / 1e6)),
      "spark.jobs_per_op" -> win.jobs / ops,
      "spark.tasks_per_op" -> win.tasks / ops,
      "spark.executor_run_ms_per_op" -> win.runMs / ops,
      "spark.executor_cpu_ms_per_op" -> win.cpuMs / ops,
      "spark.shuffle_write_bytes_per_op" -> win.shuffleWriteBytes / ops,
      "spark.spill_bytes_per_op" -> win.spillBytes / ops,
      "spark.gc_ms_per_op" -> win.gcMs / ops,
      "proc.cpu_ms_per_op" -> m.cpuNs / 1e6 / ops,
      "proc.cpu_s" -> cpuS, "proc.wall_s" -> wallS, "proc.peak_rss_mb" -> peakRssMb(),
      "host.load1_start" -> load0, "host.load1_end" -> load9,
      "host.steal_pct" -> stealPct,
      "host.nproc" -> Runtime.getRuntime.availableProcessors().toDouble,
      "trace.coverage" -> coverage,
      "trace.uncovered_ms" -> (1 - coverage) * windowNs / 1e6,
      "trace.spans" -> in.size.toDouble,
      "trace.setup_s" -> setupS,
      "trace.op_ms_p50" -> opP50)
    require(got.map(_._1) == PerLayer.map(_._1), "per-layer metric list drifted")
    got
  }
}
