package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.engine.{AsOf, Cdc, ChangeGen, Ledger, MetadataLog, Scd2, SnapshotStore}
import graft.streaming.CdcStream

/** What a workload needs from the run: the session, the tracer, the
  * job metrics (traced runs only), its scratch root and its inputs. */
final case class Ctx(spark: SparkSession, tracer: Tracer,
                     jobs: Option[JobMetrics], work: Path,
                     seed: Long, seconds: Double, runId: String)

/** The timed part of one run. `opsMs` holds one latency per operation;
  * `busyMs` is the wall the operations kept the engine busy, and
  * `records` the input records they consumed in it. */
final case class Measured(opsMs: Seq[Double], records: Long, busyMs: Double,
                          cpuNs: Long, windowStartNs: Long, windowEndNs: Long,
                          windowStartMs: Long, windowEndMs: Long,
                          writtenBytes: Long, storeBytes: Long, storeFiles: Long,
                          layer: Map[String, Double],
                          notes: Seq[(String, String)] = Nil)

/** One workload. `setup` builds its inputs and state on a fresh root;
  * `warm` then runs [[Warm]] operations on the state that will be
  * measured, so JIT compilation and first-use costs are paid before the
  * timed window (a run showed batch latency still falling over its
  * first three batches without it). */
trait Workload {
  type State
  def setup(ctx: Ctx, rep: Int): State
  def warm(ctx: Ctx, st: State): Unit
  def dispose(ctx: Ctx, st: State): Unit
  def measure(ctx: Ctx, st: State): Measured
  /** Raise [[GateFailure]] on a wrong answer. */
  def gate(ctx: Ctx, st: State, m: Measured): Unit
}

object Workloads {
  val K = "order_key"; val TS = "cdc_timestamp"; val TIE = "change_id"
  val OP = "operation_type"
  val Warm = 3

  val all: Map[String, Workload] = Map(
    "cdc_backfill" -> Backfill,
    "cdc_trickle" -> Trickle,
    "history_reads" -> HistoryReads)

  def cpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Bytes and files under `roots`. */
  def usage(roots: Path*): (Long, Long) = {
    var bytes = 0L; var files = 0L
    roots.filter(Files.exists(_)).foreach { r =>
      val s = Files.walk(r)
      try s.filter(Files.isRegularFile(_)).forEach { p =>
        bytes += Files.size(p); files += 1
      } finally s.close()
    }
    (bytes, files)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** `nFiles` JSON change files of `perFile` generated changes each
    * (fewer after the generator drops its no-op ticks), named
    * `changes_<first+i>.json` so name order is time order. The change
    * ids are offset by `idOffset` to stay unique across calls. One Spark
    * job writes them all: the rows are rendered to JSON lines by the
    * same writer the JSON source reads, then split by change id. */
  def stage(spark: SparkSession, dir: Path, first: Int, nFiles: Int,
            perFile: Long, nKeys: Int, seed: Long, startTs: String,
            idOffset: Long): Seq[(String, Long)] = {
    Files.createDirectories(dir)
    val df = ChangeGen.changes(spark, nFiles * perFile, nKeys, seed, startTs)
      .withColumn(TIE, col(TIE) + idOffset)
    val rows = df.select(col(TIE), to_json(struct(df.columns.toIndexedSeq.map(col): _*)))
      .collect().map(r => (r.getLong(0) - idOffset, r.getString(1)))
    val byFile = rows.groupBy { case (id, _) => (id / perFile).toInt }
    (0 until nFiles).map { i =>
      val lines = byFile.getOrElse(i, Array.empty).sortBy(_._1).map(_._2)
      val name = f"changes_${first + i}%05d.json"
      Files.write(dir.resolve(name),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      (name, lines.length.toLong)
    }
  }

  def changeSchema(spark: SparkSession): StructType =
    ChangeGen.changes(spark, 1, 1, 0).schema

  /** A dimension of versions seeded from `n` generated changes over
    * `nKeys` keys, two months before the staged change files. */
  def seedDim(spark: SparkSession, n: Long, nKeys: Int, seed: Long): DataFrame =
    Scd2.rebuild(ChangeGen.changes(spark, n, nKeys, seed + 1000,
      "2024-01-01 00:00:00").drop(OP), K, TS, TIE)

  def readChanges(spark: SparkSession, schema: StructType, dir: Path,
                  names: Seq[String]): DataFrame =
    spark.read.schema(schema).json(names.map(n => dir.resolve(n).toString): _*)
}

/** The reference's batch loader (scd2_loader.load_change_logs) over a
  * staged change-file directory, shared by `cdc_backfill` (its timed
  * loop) and `history_reads` (its set-up). */
final class Loader(ctx: Ctx, root: Path, val schema: StructType) {
  import Workloads._
  import ctx.spark.implicits._
  private val tr = ctx.tracer
  val in: Path = root.resolve("in")
  val store = new SnapshotStore(ctx.spark, root.resolve("dim").toString)
  val ledger = new Ledger(ctx.spark, root.resolve("ledger").toString)
  val meta = new MetadataLog(ctx.spark, root.resolve("meta").toString)
  val staged = ArrayBuffer.empty[(String, Long)]
  val applied = ArrayBuffer.empty[String]
  def roots: Seq[Path] = Seq("dim", "ledger", "meta").map(root.resolve)

  /** Stage `nFiles` more change files after those already staged. */
  def stageMore(nFiles: Int, perFile: Long, nKeys: Int, seed: Long): Unit =
    tr.span("ChangeGen.stage") {
      val chunk = staged.size
      staged ++= stage(ctx.spark, in, chunk, nFiles, perFile, nKeys,
        seed + 17L * chunk,
        java.time.LocalDateTime.parse("2024-03-01T00:00:00")
          .plusSeconds(chunk * perFile).toString.replace('T', ' '),
        idOffset = 1000000000L + chunk * perFile)
    }

  def remaining: Int = staged.size - applied.size

  /** Apply the first file of `candidates` the ledger has not seen.
    * Returns the records applied, or None when discovery found nothing. */
  def loadOne(candidates: Seq[String]): Option[Long] = tr.span("batch") {
    val todo = tr.span("Ledger.unprocessed") {
      ledger.unprocessed(candidates.toDF("filename")).as[String].collect().sorted
    }
    todo.headOption.map { f =>
      val batch = ctx.spark.read.schema(schema).json(in.resolve(f).toString)
      val r = tr.span("Cdc.batchId")(Cdc.batchId(batch, TIE).first())
      val (bid, n) = (r.getString(0), r.getLong(1))
      if (!tr.span("Ledger.isProcessed")(ledger.isProcessed(f, bid))) {
        val dim = tr.span("SnapshotStore.read")(store.read().get)
        val m = tr.span("Scd2.mergeBatch") {
          Scd2.mergeBatch(dim, batch, K, TS, TIE, Some(OP))
        }
        try tr.span("SnapshotStore.publish")(store.publish(m.dim))
        finally m.cleanup()
        tr.span("Ledger.append")(ledger.append(f, bid))
        tr.span("MetadataLog.record") {
          meta.record("cdc_backfill", ctx.runId, "completed", n)
        }
        applied += f
      }
      n
    }
  }

  /** Current rows equal a one-shot merge of every applied change into
    * the seeded version 0; SCD2 invariants hold; a replay applies
    * nothing. */
  def gate(what: String): Unit = {
    val dim = store.read().get
    val reference = Scd2.merge(store.readVersion(0),
      readChanges(ctx.spark, schema, in, applied.toSeq), K, TS, TIE, Some(OP))
    Gates.sameCurrentRows(dim, reference, what)
    Gates.scd2Invariants(dim, K, what)
    val before = store.currentVersion()
    val discovered = ledger.unprocessed(applied.toSeq.toDF("filename")).count()
    loadOne(applied.toSeq)
    Gates.replayNoOp(store, before, discovered, what)
  }
}

/** `cdc_backfill`: the batch loader run closed-loop over large change
  * files merged into a large seeded dimension. Every batch runs every
  * loader layer and rewrites the whole dimension, so gains on the write
  * path show here first. */
object Backfill extends Workload {
  import Workloads._
  val SeedChanges = 100000L; val Keys = 30000; val PerFile = 8000L
  val Chunk = 8

  final class State(val loader: Loader, val root: Path)

  def setup(ctx: Ctx, rep: Int): State = {
    val root = ctx.work.resolve(s"backfill-$rep")
    val loader = new Loader(ctx, root, changeSchema(ctx.spark))
    loader.store.publish(seedDim(ctx.spark, SeedChanges, Keys, ctx.seed))
    loader.stageMore(Chunk, PerFile, Keys, ctx.seed)
    new State(loader, root)
  }

  def warm(ctx: Ctx, st: State): Unit =
    (0 until Warm).foreach(_ => st.loader.loadOne(st.loader.staged.map(_._1).toSeq))

  def dispose(ctx: Ctx, st: State): Unit = deleteTree(st.root)

  def measure(ctx: Ctx, st: State): Measured = {
    val l = st.loader
    val b0 = usage(l.roots: _*)._1
    val (sb0, sf0) = usage(l.roots.head)
    val ops = ArrayBuffer.empty[Double]
    var busy = 0L; var cpu = 0L; var records = 0L
    val budget = (ctx.seconds * 1e9).toLong
    val w0 = System.nanoTime(); val w0ms = System.currentTimeMillis()
    while (busy < budget) {
      if (l.remaining == 0) l.stageMore(Chunk, PerFile, Keys, ctx.seed)
      val c0 = cpuNs(); val t0 = System.nanoTime()
      val n = l.loadOne(l.staged.map(_._1).toSeq)
        .getOrElse(sys.error("loader found no staged file to apply"))
      val t1 = System.nanoTime()
      ops += (t1 - t0) / 1e6; busy += t1 - t0; cpu += cpuNs() - c0
      records += n
    }
    val w1 = System.nanoTime(); val w1ms = System.currentTimeMillis()
    val b1 = usage(l.roots: _*)._1
    val (sb1, sf1) = usage(l.roots.head)
    Measured(ops.toSeq, records, busy / 1e6, cpu, w0, w1, w0ms, w1ms,
      b1 - b0, sb1 - sb0, sf1 - sf0, Map.empty)
  }

  def gate(ctx: Ctx, st: State, m: Measured): Unit = st.loader.gate("cdc_backfill")
}

/** `cdc_trickle`: the production streaming path (`CdcStream.start`,
  * one file per micro-batch, back-to-back triggers) fed open-loop: a
  * generator thread lands one small change file in the watched
  * directory every [[IntervalMs]], whether or not the stream kept up.
  * The dimension is small, so each micro-batch is almost all fixed
  * cost: planning, checkpoint log writes, file listing and the publish.
  * The interval is longer than one micro-batch, so the offered rate
  * stays below capacity and the backlog does not grow. */
object Trickle extends Workload {
  import Workloads._
  val SeedChanges = 6000L; val Keys = 2000; val PerFile = 500L
  val IntervalMs = 1700L

  final class State(val root: Path, val stageDir: Path, val in: Path,
                    val store: SnapshotStore, val schema: StructType,
                    val files: Seq[(String, Long)], val query: StreamingQuery,
                    var landed: Int)

  def arrivals(ctx: Ctx): Int =
    math.max(4, math.ceil(ctx.seconds * 1000 / IntervalMs).toInt)

  private def land(st: State, i: Int): Unit = {
    val name = st.files(i)._1
    val src = st.stageDir.resolve(name)
    Files.setLastModifiedTime(src, FileTime.fromMillis(System.currentTimeMillis()))
    Files.move(src, st.in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    st.landed = i + 1
  }

  private def dataBatches(q: StreamingQuery) =
    q.recentProgress.filter(_.numInputRows > 0).toSeq

  private def await(what: String, timeoutMs: Long)(done: => Boolean): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!done) {
      if (System.currentTimeMillis() > end)
        sys.error(s"cdc_trickle: timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  def setup(ctx: Ctx, rep: Int): State = {
    val root = ctx.work.resolve(s"trickle-$rep")
    val stageDir = root.resolve("stage"); val in = root.resolve("in")
    Files.createDirectories(in)
    val schema = changeSchema(ctx.spark)
    val store = new SnapshotStore(ctx.spark, root.resolve("dim").toString)
    store.publish(seedDim(ctx.spark, SeedChanges, Keys, ctx.seed))
    val files = ctx.tracer.span("ChangeGen.stage") {
      stage(ctx.spark, stageDir, 0, Warm + arrivals(ctx), PerFile, Keys,
        ctx.seed, "2024-03-01 00:00:00", 1000000000L)
    }
    val query = CdcStream.start(ctx.spark, in.toString,
      root.resolve("ckpt").toString, store, schema, K, TS, TIE,
      opCol = Some(OP), availableNow = false, maxFilesPerTrigger = 1)
    new State(root, stageDir, in, store, schema, files, query, 0)
  }

  def warm(ctx: Ctx, st: State): Unit =
    (0 until Warm).foreach { i =>
      land(st, i)
      await("a warm-up micro-batch", 120000)(dataBatches(st.query).size > i)
    }

  def dispose(ctx: Ctx, st: State): Unit = {
    st.query.stop()
    deleteTree(st.root)
  }

  def measure(ctx: Ctx, st: State): Measured = {
    val n = arrivals(ctx)
    val roots = Seq(st.root.resolve("dim"), st.root.resolve("ckpt"))
    val b0 = usage(roots: _*)._1
    val (sb0, sf0) = usage(roots.head)
    val dueMs = new Array[Long](n); val lateMs = new Array[Double](n)
    val landedMs = new Array[Long](n)
    val c0 = cpuNs()
    val w0 = System.nanoTime(); val w0ms = System.currentTimeMillis()
    val gen = new Thread(() => {
      for (i <- 0 until n) {
        val due = w0 + i * IntervalMs * 1000000L
        var now = System.nanoTime()
        while (now < due) {
          Thread.sleep(math.max(0L, (due - now) / 1000000L), 0)
          now = System.nanoTime()
        }
        dueMs(i) = w0ms + i * IntervalMs
        land(st, Warm + i)
        landedMs(i) = System.currentTimeMillis()
        lateMs(i) = (System.nanoTime() - due) / 1e6
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    val streamStart = System.nanoTime()
    gen.join((n + 2) * IntervalMs + 60000)
    if (gen.isAlive) sys.error("cdc_trickle: the generator did not finish")
    await("the last arrival to publish", 120000)(dataBatches(st.query).size >= Warm + n)
    val w1 = System.nanoTime(); val w1ms = System.currentTimeMillis()
    val cpu = cpuNs() - c0
    ctx.tracer.record("CdcStream", streamStart, w1)
    val batches = dataBatches(st.query).drop(Warm)
    if (batches.size != n)
      throw new GateFailure(s"cdc_trickle: ${batches.size} micro-batches " +
        s"with data for $n arrivals; one file per micro-batch was expected")
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val endMs = batches.map(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution"))
    // one file per micro-batch, taken in landing order: the k-th batch
    // with data publishes the k-th arrival, so it cannot end before
    // that arrival landed
    (0 until n).find(i => endMs(i) < landedMs(i)).foreach { i =>
      throw new GateFailure(s"cdc_trickle: micro-batch ${batches(i).batchId} " +
        s"ended at ${endMs(i)} ms, before arrival $i landed at ${landedMs(i)} ms")
    }
    val fresh = (0 until n).map(i => endMs(i) - dueMs(i))
    val backlog = (0 until n).map(i => (0 until i).count(j => endMs(j) > landedMs(i)))
    val trig = batches.map(dur(_, "triggerExecution"))
    val b1 = usage(roots: _*)._1
    val (sb1, sf1) = usage(roots.head)
    val p50 = (k: String) => Stats.median(batches.map(dur(_, k)))
    Measured(fresh, st.files.slice(Warm, Warm + n).map(_._2).sum, trig.sum, cpu,
      w0, w1, w0ms, w1ms, b1 - b0, sb1 - sb0, sf1 - sf0,
      Map(
        "CdcStream.trigger_ms_p50" -> Stats.median(trig),
        "CdcStream.add_batch_ms_p50" -> p50("addBatch"),
        "CdcStream.planning_ms_p50" -> p50("queryPlanning"),
        "CdcStream.latest_offset_ms_p50" -> p50("latestOffset"),
        "CdcStream.wal_commit_ms_p50" -> p50("walCommit"),
        "CdcStream.idle_ms" -> ((w1 - w0) / 1e6 - trig.sum),
        "CdcStream.batches" -> batches.size.toDouble,
        "CdcStream.backlog_max" -> backlog.max.toDouble,
        "gen.late_ms_max" -> lateMs.max),
      Seq("stream_run_id" -> Json.str(st.query.runId.toString)))
  }

  def gate(ctx: Ctx, st: State, m: Measured): Unit = {
    val what = "cdc_trickle"
    st.query.stop()
    val dim = st.store.read().get
    val reference = Scd2.merge(st.store.readVersion(0),
      readChanges(ctx.spark, st.schema, st.in, st.files.take(st.landed).map(_._1)),
      K, TS, TIE, Some(OP))
    Gates.sameCurrentRows(dim, reference, what)
    Gates.scd2Invariants(dim, K, what)
    // replay: the same files through the same checkpoint apply nothing
    val before = st.store.currentVersion()
    val replay = CdcStream.start(ctx.spark, st.in.toString,
      st.root.resolve("ckpt").toString, st.store, st.schema, K, TS, TIE,
      opCol = Some(OP))
    replay.awaitTermination()
    Gates.replayNoOp(st.store, before, dataBatches(replay).size.toLong, what)
  }
}

/** `history_reads`: one client running the BI reads of the reference
  * (README.md:427-439) closed-loop over a dimension the batch loader
  * built, versions kept. Every query resolves the store through
  * `SnapshotStore.read`, so a publish layout that speeds writes but
  * slows reads shows here; no ingest layer runs. */
object HistoryReads extends Workload {
  import Workloads._
  val SeedChanges = 30000L; val Keys = 10000; val PerFile = 4000L
  val LoadBatches = 1; val Probes = 5000L

  final case class Query(layer: String, label: String, build: DataFrame => DataFrame,
                         scanned: Long)

  final class State(val loader: Loader, val root: Path, val mix: Seq[Query],
                    val dimRows: Long) {
    val first = scala.collection.mutable.Map.empty[String, (Long, Long)]
  }

  def setup(ctx: Ctx, rep: Int): State = {
    val spark = ctx.spark
    val root = ctx.work.resolve(s"reads-$rep")
    val loader = new Loader(ctx, root, changeSchema(spark))
    loader.store.publish(seedDim(spark, SeedChanges, Keys, ctx.seed))
    loader.stageMore(LoadBatches, PerFile, Keys, ctx.seed)
    (0 until LoadBatches).foreach(_ => loader.loadOne(loader.staged.map(_._1).toSeq))
    val dimRows = loader.store.read().get.count()

    val rng = new scala.util.Random(ctx.seed)
    def instant(base: String, span: Long) =
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.parse(base)
        .plusSeconds((rng.nextDouble() * span).toLong))
    val early = instant("2024-01-01T00:00:00", SeedChanges)
    val late = instant("2024-03-01T00:00:00", LoadBatches * PerFile)
    val mid = instant("2024-01-01T00:00:00", SeedChanges)
    val keys = Seq.fill(2)(rng.nextInt(Keys).toLong)
    val probeSeed = rng.nextLong()
    val probes = spark.range(Probes).select(
      floor(rand(probeSeed) * Keys).cast("long").as(K),
      timestamp_seconds(lit(early.getTime / 1000) +
        floor(rand(probeSeed + 1) * (late.getTime - early.getTime) / 1000)).as("probe_ts"),
      col("id").as("probe_id"))
    val attrs = Seq("order_status", "total_amount")
    val mix = rng.shuffle(Seq(
      Query("Scd2.current", "current", Scd2.current, dimRows),
      Query("Scd2.asOf", s"asOf@$early", Scd2.asOf(_, lit(early)), dimRows),
      Query("Scd2.asOf", s"asOf@$late", Scd2.asOf(_, lit(late)), dimRows),
      Query("Scd2.snapshotDiff", s"snapshotDiff@$mid..$late",
        Scd2.snapshotDiff(_, K, lit(mid), lit(late), attrs), dimRows),
      Query("Scd2.timeline", s"timeline@${keys(0)}",
        d => d.filter(col(K) === keys(0)).orderBy("valid_from"), dimRows),
      Query("Scd2.timeline", s"timeline@${keys(1)}",
        d => d.filter(col(K) === keys(1)).orderBy("valid_from"), dimRows),
      Query("AsOf.asOfJoin", "asOfJoin",
        AsOf.asOfJoin(probes, _, K, "probe_ts", attrs), dimRows + Probes),
      Query("Scd2.duplicateCurrentKeys", "duplicateCurrentKeys",
        Scd2.duplicateCurrentKeys(_, K), dimRows)))
    new State(loader, root, mix, dimRows)
  }

  /** [[Warm]] passes of the mix (query latency still fell over the
    * first three passes without them). The first pass records each
    * answer's first fingerprint, which every later run must reproduce. */
  def warm(ctx: Ctx, st: State): Unit = {
    st.mix.foreach(q => st.first(q.label) = run(ctx, st.loader.store, q))
    for (_ <- 1 until Warm; q <- st.mix)
      Gates.repeatable(q.label, st.first(q.label), run(ctx, st.loader.store, q))
  }

  private def run(ctx: Ctx, store: SnapshotStore, q: Query): (Long, Long) =
    ctx.tracer.span("query") {
      val dim = ctx.tracer.span("SnapshotStore.read")(store.read().get)
      ctx.tracer.span(q.layer)(Gates.fingerprint(q.build(dim)))
    }

  def dispose(ctx: Ctx, st: State): Unit = deleteTree(st.root)

  def measure(ctx: Ctx, st: State): Measured = {
    val ops = ArrayBuffer.empty[Double]
    var busy = 0L; var cpu = 0L; var records = 0L
    val budget = (ctx.seconds * 1e9).toLong
    val w0 = System.nanoTime(); val w0ms = System.currentTimeMillis()
    var i = 0
    while (busy < budget || i % st.mix.size != 0) {
      val q = st.mix(i % st.mix.size)
      val c0 = cpuNs(); val t0 = System.nanoTime()
      val fp = run(ctx, st.loader.store, q)
      val t1 = System.nanoTime()
      ops += (t1 - t0) / 1e6; busy += t1 - t0; cpu += cpuNs() - c0
      records += q.scanned
      Gates.repeatable(q.label, st.first(q.label), fp)
      i += 1
    }
    val w1 = System.nanoTime(); val w1ms = System.currentTimeMillis()
    Measured(ops.toSeq, records, busy / 1e6, cpu, w0, w1, w0ms, w1ms,
      0L, 0L, 0L, Map.empty,
      Seq("fingerprints" -> Json.obj(st.mix.map(q => q.label ->
        Json.arr(Seq(st.first(q.label)._1.toString, st.first(q.label)._2.toString))))))
  }

  def gate(ctx: Ctx, st: State, m: Measured): Unit = {
    val dups = st.first("duplicateCurrentKeys")
    if (dups._1 != 0)
      throw new GateFailure(s"history_reads: ${dups._1} keys have more than one current row")
    st.loader.gate("history_reads")
  }
}
