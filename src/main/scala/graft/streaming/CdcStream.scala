package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}
import graft.engine.{Caches, Compaction, Ledger, Scd2, SnapshotStore}
import graft.ops.{DedupOps, SimilarityOps, TextOps}

/** Streaming CDC → SCD2: the reference's polling loop
  * (/root/reference/src/cdc/log_extractor.py:229-270 + the loader) as a
  * Structured Streaming pipeline (SURVEY §2.9):
  *
  *  - T1 watermark: `withWatermark` on event time replaces the `.watermark`
  *    state file;
  *  - T2 trigger: `Trigger.AvailableNow` (tests/batch drain) or
  *    `ProcessingTime` replaces `while True: extract; sleep`;
  *  - T3 exactly-once: the file-source checkpoint replaces the
  *    `.processed_files` ledger — a re-delivered batch file is never
  *    reprocessed; within a micro-batch [[Scd2.merge]]'s dedup + stale
  *    guard make the merge idempotent at row level;
  *  - T5 state: the dimension snapshot itself, swapped atomically via
  *    [[SnapshotStore]] in `foreachBatch` (the deliberate formulation —
  *    `flatMapGroupsWithState` would hold the whole dimension in stream
  *    state for no benefit, SURVEY §7.4).
  *
  * Every stream here is one [[fileStream]] (reader, checkpoint, one
  * `foreachBatch`, trigger) around a per-batch body; the screening
  * families share one body ([[screenBatch]]) and every absorb runs
  * under one replay protocol ([[absorbOnce]]).
  */
object CdcStream {

  /** Start a stream that merges JSON change-batch files from `inDir` into
    * the SCD2 snapshot at `store`. One micro-batch ≙ one change batch.
    * Pass `opCol` to honor DELETE change records (expire, insert nothing).
    *
    * Cache hygiene: [[Scd2.mergeBatch]] caches its routed batch for
    * intra-job reuse and hands back the cleanup; it is invoked after each
    * publish, so a long-running stream holds at most one routed-batch
    * cache entry at a time and caller-held caches are untouched.
    */
  def start(spark: SparkSession, inDir: String, checkpointDir: String,
            store: SnapshotStore, schema: StructType,
            key: String, ts: String, tie: String,
            opCol: Option[String] = None,
            availableNow: Boolean = true,
            maxFilesPerTrigger: Int = 1,
            dimBuckets: Int = 0,
            manifestCarry: Boolean = false,
            materializeEvery: Int = 0): StreamingQuery =
    // maxFilesPerTrigger is the throughput/latency dial: 1 keeps the
    // one-file-≙-one-batch replay granularity the tests pin; raising it
    // coalesces arriving files into fewer micro-batches, amortizing the
    // per-batch fixed cost (merge planning + snapshot publish) — the
    // production tuning bench/STREAM_r18.md measures. The merge is
    // multi-change-per-key correct either way (interval construction
    // within the batch), so coalescing changes cost, never answers.
    fileStream(spark, inDir, checkpointDir, schema, maxFilesPerTrigger,
      availableNow, watermark = Some(ts)) { (batch, id, _) =>
      applyChangeBatch(store, batch, key, ts, tie, opCol, dimBuckets,
        manifestCarry)
      // manifest chains grow one referenced-owner hop per batch and
      // vacuum must keep every referenced owner — without a
      // scheduled materialization the store could never reclaim.
      // Every N batches, rewrite the snapshot fully local (the
      // OPTIMIZE tick — same amortization posture as the index
      // compaction ticks: periodic, between batches, never
      // concurrent with a merge), so the chain length is bounded by
      // N and the pre-materialize owners age out at the next vacuum.
      if (manifestCarry && every(materializeEvery, id))
        materializeSnapshot(store, dimBuckets)
    }

  /** The ONE micro-batch runner behind [[start]] and every family
    * stream: a JSON file source over `inGlob` (`maxFiles` per trigger —
    * 1 keeps one file ≙ one micro-batch, the replay granularity the
    * ledger protocol pins), optionally watermarked on the `watermark`
    * column, the query's checkpoint, one `foreachBatch`, and the
    * trigger (`AvailableNow` drains what is there and stops; otherwise
    * the default trigger keeps polling). `body` gets each micro-batch,
    * its id and the query's replay memo — created here, once per
    * started query, so it lives exactly as long as the query and a
    * restart re-seeds it from the ledger. */
  private def fileStream(spark: SparkSession, inGlob: String, ckpt: String,
                         schema: StructType, maxFiles: Int = 1,
                         availableNow: Boolean = true,
                         watermark: Option[String] = None)(
                         body: (DataFrame, Long, HighWater) => Unit)
      : StreamingQuery = {
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFiles.toString).json(inGlob)
    val memo = new HighWater
    val writer = watermark.fold(src)(src.withWatermark(_, "1 minute"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) => body(batch, id, memo) }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** The schedule of every maintenance, retrain, rebuild, optimize and
    * materialize tick: each `n`-th micro-batch, run AFTER that batch is
    * fully applied and ledgered (a crash inside the tick re-runs only
    * the tick, whose verbs are idempotent), never on batch 0 (nothing
    * has accumulated yet); `n <= 0` disables the tick. */
  private def every(n: Int, id: Long): Boolean =
    n > 0 && id > 0 && id % n == 0

  /** Publish a fully-LOCAL copy of the current bucketed snapshot (one
    * clustered file per bucket, no manifest) — the OPTIMIZE verb that
    * resets a manifest chain so [[SnapshotStore.vacuum]]'s owner
    * closure stops pinning old versions. O(dim), scheduled (see
    * `materializeEvery`), a no-op on an empty or unbucketed store —
    * and REFUSED when `dimBuckets` disagrees with the current
    * version's `_BUCKETS` sidecar (re-stamping a count the dirs do
    * not have would disarm the stream's layout guard). */
  def materializeSnapshot(store: SnapshotStore, dimBuckets: Int): Unit =
    store.read().foreach { d =>
      if (d.columns.contains(BucketCol)) {
        // the stamped count must describe the EXISTING BucketCol
        // values (this verb re-clusters, it never re-hashes), so it is
        // validated against the current version's own sidecar: a
        // caller-passed mismatch — or an unstamped snapshot whose
        // modulo nobody recorded — is refused loudly, because stamping
        // N over modulo-M dirs would let a restarted stream pass the
        // layout guard and merge keys into the wrong buckets (split
        // version chains, duplicate current rows, silently)
        val stamped = store.currentVersionSidecar(DimBucketsMeta)
        require(stamped.contains(dimBuckets.toString),
          s"materializeSnapshot: bucket count $dimBuckets does not " +
            s"match the current version's $DimBucketsMeta sidecar " +
            s"(${stamped.getOrElse("absent")}) — refusing to stamp a " +
            "layout the dirs do not have")
        store.publish(d.repartition(d(BucketCol)), Seq(BucketCol),
          Map(DimBucketsMeta -> dimBuckets.toString))
      }
    }

  /** The dim snapshot's key-bucket partition column —
    * `pmod(xxhash64(key), dimBuckets)`, hive-materialized so a
    * micro-batch's read AND write touch only the buckets its keys hash
    * into. Named distinctively (payload collision is refused loudly);
    * readers that compare against an unbucketed merge drop it. */
  val BucketCol = "graft_kb"

  /** `df` with its [[BucketCol]] key-bucket column appended — the ONE
    * definition of the snapshot's bucket function, shared by the
    * micro-batch merge and by callers pre-seeding a bucketed snapshot
    * (a seed published with a different hash would route every later
    * batch to the wrong partitions). */
  def bucketed(df: DataFrame, key: String, dimBuckets: Int): DataFrame =
    df.withColumn(BucketCol,
      pmod(xxhash64(df(key)), lit(dimBuckets.toLong)).cast("int"))

  /** One micro-batch of the streaming SCD2 merge — the foreachBatch
    * body of [[start]], public so both publish modes are directly
    * testable.
    *
    * `dimBuckets <= 0` is the original whole-dim formulation: merge
    * against the full snapshot, republish the full snapshot — simple,
    * but per-batch cost is O(dim) (measured in bench/STREAM_r18.md),
    * the wrong shape for a 100-TB dimension fed by hot-key trickle.
    *
    * `dimBuckets > 0` is the copy-on-write formulation: the snapshot
    * is hive-partitioned by [[BucketCol]] and a micro-batch touches
    * ONLY the buckets its keys hash into — the dim-side READ is
    * partition-pruned to those dirs (the batch's distinct bucket set is
    * O(min(batch keys, dimBuckets)) — collected, bounded, never data-
    * sized), the merge runs against just those buckets' rows (merge
    * semantics are per-key, and a key's whole version chain lives in
    * its bucket, so the bucket-local merge IS the global merge), and
    * [[SnapshotStore.publishIncremental]] rewrites just those dirs,
    * carrying every untouched partition over by file-level reuse. Per-
    * batch cost therefore tracks CHANGED-BUCKET data size, not dim size
    * — the r18 verdict's named scale-killer, closed.
    *
    * Bootstrap and migration (empty store, or a snapshot published
    * before bucketing was turned on) take one full partitioned publish
    * to establish the layout; a batch that WIDENS the schema (the live
    * ALTER TABLE case — evolveSchema appends batch-only columns, null
    * for history) also republishes whole, because untouched partition
    * files can't gain the new column by reuse and a mixed-schema dir
    * would make the read schema depend on which file Spark samples.
    * Both are rare, loud-in-the-log events; steady state is
    * incremental. */
  def applyChangeBatch(store: SnapshotStore, batch: DataFrame,
                       key: String, ts: String, tie: String,
                       opCol: Option[String], dimBuckets: Int = 0,
                       manifestCarry: Boolean = false): Unit = {
    if (batch.isEmpty) return
    // the CDC op column is TRANSPORT, not payload: keep it out of the
    // dimension-schema derivations (an empty-batch bootstrap would bake
    // a junk op column into every published version, and a snapshot
    // pre-seeded WITHOUT it would spuriously trip the widened-schema
    // full republish on the first batch). mergeBatch still reads the op
    // from the batch itself.
    val payload = opCol.fold(batch)(c => batch.drop(c))
    require(dimBuckets <= 0 || !batch.columns.contains(BucketCol),
      s"applyChangeBatch: batch carries a '$BucketCol' column — the " +
        "name is reserved for the snapshot's key-bucket partition")
    val meta = Map(DimBucketsMeta -> dimBuckets.toString)
    def withBucket(df: DataFrame) = bucketed(df, key, dimBuckets)
    // the whole current dim — an explicit whole-dim dial MIGRATES a
    // snapshot previously run bucketed BACK (bucket column dropped, next
    // version unbucketed) rather than crashing the merge on the
    // unexpected column
    def wholeDim = store.read().map(_.drop(BucketCol))
      .getOrElse(Scd2.rebuild(payload.limit(0), key, ts, tie))
    // a full partitioned publish (re-)establishes the bucketed layout
    // and its persisted count
    def fullBucketed(d: DataFrame): Unit =
      store.publish(clustered(withBucket(d)), Seq(BucketCol), meta)
    // layout decision from a FILESYSTEM probe, never a schema read: a
    // full partition discovery just to ask "is this snapshot bucketed?"
    // would cost O(partitions) driver listing per micro-batch. The
    // bucket COUNT must also match the CURRENT VERSION's `_BUCKETS`
    // sidecar — dirs are modulo-dimBuckets, so a stream restarted with
    // a different dimBuckets against the incremental path would look
    // keys up in the WRONG dirs (split version chains, duplicate
    // current rows, silently); a count change instead takes the
    // migration arm's full re-bucketing publish. The sidecar lives
    // INSIDE the version dir and rides every publish's all-or-nothing
    // pointer flip, so data and meta can never disagree across a crash
    // (a root-level meta written after the publish could).
    lazy val incremental = store.currentVersion().nonEmpty &&
      store.currentPartitionCols() == Seq(BucketCol) &&
      store.currentVersionSidecar(DimBucketsMeta)
        .contains(dimBuckets.toString)
    val (dim, publish): (DataFrame, DataFrame => Unit) =
      if (dimBuckets <= 0) (wholeDim, store.publish(_))
      // bootstrap (empty store), migration (pre-bucketing snapshot),
      // or a CHANGED bucket count
      else if (!incremental) (wholeDim, fullBucketed)
      else {
        // the batch's bucket set: bounded by dimBuckets, driver-safe
        val affected = withBucket(batch).select(col(BucketCol))
          .distinct().collect().map(_.getInt(0)).toSeq
        // manifest-style dim read: ONLY the affected bucket dirs are
        // listed and scanned — per-batch read cost is O(changed buckets)
        // in files AND in listing, independent of how many buckets the
        // snapshot holds
        val dimAff = store.readCurrentPartitions(BucketCol, affected)
          .drop(BucketCol)
        // schema widened — full republish so every partition's files
        // carry the new columns (see doc above)
        if (Scd2.evolveSchema(dimAff, payload).columns.length !=
            dimAff.columns.length)
          (store.read().get.drop(BucketCol), fullBucketed)
        else (dimAff, (d: DataFrame) => store.publishIncremental(
          withBucket(d), BucketCol, meta, manifestCarry))
      }
    val merged = Scd2.mergeBatch(Scd2.evolveSchema(dim, payload),
      batch, key, ts, tie, opCol)
    // cleanup in finally: a throwing publish replays the batch, and
    // each failed attempt must not leave the routed-batch cache
    // resident (a crash-looping stream accumulates one per attempt)
    try publish(merged.dim)
    finally merged.cleanup()
  }

  /** The per-version bucket-count sidecar — the layout's equivalent of
    * the purge queue's `_SCHEMA`: the guard that keeps a restarted
    * stream from merging modulo-N keys into modulo-M dirs. Rides every
    * publish's atomic pointer flip (and purgeKeys' rewrites carry it),
    * so the count can never disagree with the dirs it describes. */
  private[graft] val DimBucketsMeta = "_BUCKETS"

  /** One writer task per bucket → one file per bucket dir — the write
    * clustering every bucketed publish wants (matches
    * [[SnapshotStore.publishIncremental]]'s internal clustering, which
    * covers the steady-state path). Public so harnesses pre-seeding a
    * bucketed snapshot cluster their seed the same way. */
  def clustered(df: DataFrame): DataFrame =
    df.repartition(df(BucketCol))

  /** Stream-stream interval join: each left event pairs with the right
    * events of the same key whose event time lies within
    * [left.ts - before, left.ts + after]. Both sides carry watermarks, so
    * Spark bounds the join state on each side by the watermark + the
    * interval — the canonical funnel/attribution join (click ⋈ purchase)
    * at unbounded-stream scale. The same call works on batch frames
    * (windowless inner join + the range predicate), which is how the
    * parity test pins its semantics. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   before: String, after: String): DataFrame = {
    val l = left.withWatermark(leftTs, "1 minute").as("l")
    val r = right.withWatermark(rightTs, "1 minute").as("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $before") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $after"))
  }

  /** Per-key running state for a stream of (key, epochSeconds, value)
    * rows. */
  final case class KeyState(key: Long, n_events: Long, max_epoch: Long,
                            total_cents: Long)

  /** Custom stateful operator via `flatMapGroupsWithState` — the right
    * tool exactly when per-key state is small and hand-rolled (a few
    * counters), unlike the SCD2 dimension (which stays in
    * foreachBatch + snapshot, SURVEY §7.4). Emits each key's updated
    * running (count, max event time, exact total-in-cents) every
    * micro-batch; update output mode, no timeout, so state size is
    * O(distinct keys). Value totals accumulate as integer cents —
    * order-independent, so stream and batch agree bit-for-bit. */
  def runningCounts(events: Dataset[(Long, Long, Long)]): Dataset[KeyState] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[KeyState, KeyState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[KeyState]) =>
          val prev = state.getOption.getOrElse(KeyState(key, 0L, Long.MinValue, 0L))
          val next = rows.foldLeft(prev) { (s, r) =>
            KeyState(key, s.n_events + 1L, math.max(s.max_epoch, r._2),
              s.total_cents + r._3)
          }
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming incremental dedup — the screen-and-absorb loop a
    * continuous ingestion pipeline runs: each micro-batch of documents is
    * (1) screened against the stored fingerprint index
    * ([[graft.ops.DedupOps.queryFingerprintIndex]] — broadcast probe,
    * the index never shuffles), with the near-dup audit table handed to
    * `onHits` (route to a quarantine sink, a metrics log, or a filter),
    * then (2) absorbed into the index
    * ([[graft.ops.DedupOps.mergeFingerprintIndex]] — append-only), so
    * LATER batches are screened against this one too. One file ≙ one
    * micro-batch; the checkpoint makes file delivery exactly-once.
    * Crash between screen and absorb replays the whole batch on restart:
    * re-screen is idempotent, and the re-merge is guarded by the
    * [[graft.engine.Ledger]]'s (stream, batch-id) check — the same
    * protocol the SCD2 loader uses
    * (/root/reference/src/warehouse/scd2_loader.py:501-538) — so a
    * replayed batch is re-absorbed only in the residual window between
    * merge start and ledger append (see [[screenAndAbsorb]] for its
    * width and why replays inside it are tolerated).
    *
    * Long-running streams accumulate append debt in the index (one
    * postings file per batch per partition). `maintainEvery` = N > 0
    * runs [[maintainStreamedIndex]] every N batches INSIDE the
    * trigger loop — between batches, never concurrent with a merge,
    * which is the single-writer discipline Compaction requires (merge /
    * compact / vacuum are scheduled, never concurrent; an external
    * compactor racing this stream's merges would lose appended rows to
    * the next vacuum, which the merge-side pointer guard turns into a
    * loud replayable failure rather than silent loss). Periodic, not
    * per batch: compaction rewrites the whole table, so inlining it
    * every batch would make total write work quadratic in stream
    * lifetime; every N batches it amortizes to linear. 0 disables the
    * tick — then schedule [[maintainStreamedIndex]] (kind
    * `fingerprint`) yourself at moments the stream is quiesced
    * (stopped, or drained between AvailableNow runs). */
  def dedupScreenStream(spark: SparkSession, inGlob: String,
                        checkpointDir: String, schema: StructType,
                        indexPath: String,
                        onHits: (DataFrame, Long) => Unit,
                        maintainEvery: Int = 0,
                        maintainMaxFiles: Int = 8): StreamingQuery =
    fileStream(spark, inGlob, checkpointDir, schema) { (batch, id, memo) =>
      screenBatch(spark, batch, id, indexPath, checkpointDir, onHits, memo,
        fingerprint(spark, indexPath))
      if (every(maintainEvery, id))
        maintainStreamedIndex(spark, indexPath, "fingerprint",
          maintainMaxFiles)
    }

  /** One scheduled-maintenance tick for ANY streamed index family —
    * the glue the lifecycle verbs need to actually run beside a
    * live stream (the reference runs its GC inline on a cadence the
    * same way, /root/reference/src/cdc/log_extractor.py:212-227,266-267):
    *
    *  1. vacuum — reclaims versions superseded by the PREVIOUS tick's
    *     compaction, i.e. at least one full maintenance window old, so
    *     any reader planned against them has long finished its scan
    *     (the compact-now / vacuum-next-tick split is the same
    *     publish/vacuum posture as SnapshotStore);
    *  2. compact — rewrites tables whose per-partition append debt
    *     exceeds the threshold, behind the atomic pointer swap (no-op
    *     below it — calling this tick too often costs two file listings,
    *     not a rewrite), with the family's own extras (sidecar
    *     collapse, tombstone serving) inside
    *     [[graft.engine.Compaction.maintainIndex]];
    *  3. the idempotency ledger gets the same treatment (it appends one
    *     tiny file per batch forever).
    *
    * Every stream's `maintainEvery` wiring lands here, so a fix to the
    * tick's ordering or error handling reaches every family at once.
    * MUST run while no merge is in flight on `indexPath` — from the
    * stream's own foreachBatch (between batches, as `maintainEvery`
    * wires it), or with the stream stopped/drained. */
  def maintainStreamedIndex(spark: SparkSession, indexPath: String,
                            kind: String,
                            maxFilesPerPartition: Int = 8,
                            retainApplied: Seq[String] = Nil): Unit = {
    Compaction.maintainIndex(spark, indexPath, kind, maxFilesPerPartition,
      retainApplied)
    Compaction.vacuum(s"$indexPath/_ledger")
    new Ledger(spark, s"$indexPath/_ledger").compact(maxFilesPerPartition)
    ()
  }

  /** One screen-and-absorb micro-batch — the foreachBatch body of
    * [[dedupScreenStream]], public so the replay protocol is directly
    * testable. `streamId` scopes the idempotency ledger rows (two
    * streams feeding one index must not collide on micro-batch ids);
    * [[dedupScreenStream]] passes its checkpoint dir.
    *
    * Replay safety: foreachBatch re-delivers a batch with the SAME id
    * after a crash before checkpoint commit. The screen is read-only
    * (always re-run — `onHits` sinks must themselves be idempotent or
    * keyed by batch id, the standard foreachBatch contract), but the
    * merge appends postings, so it is applied once per (streamId, id):
    * ledger check before, ledger append after. The residual window —
    * crash after the merge STARTS but before the ledger append — spans
    * the whole multi-write merge (mergeFingerprintIndex is three
    * separate writes, see its doc), analogous to the reference's window
    * between DB commit and `.processed_files` append
    * (scd2_loader.py:523-538). A crash inside it replays the full merge
    * on restart; the duplicates that can leave behind are exact-row
    * duplicates that queryFingerprintIndex drops at candidate level, so
    * screening answers survive the replay unchanged (only the advisory
    * hotListDrift signal can overstate).
    *
    * A direct call consults the ledger afresh (one scan); a stream
    * consults it once per started query ([[absorbOnce]]). */
  def screenAndAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                      indexPath: String, streamId: String,
                      onHits: (DataFrame, Long) => Unit): Unit =
    screenBatch(spark, batch, id, indexPath, streamId, onHits,
      new HighWater, fingerprint(spark, indexPath))

  /** What a screening family plugs into [[screenBatch]]: its compaction
    * kind, its id column (`doc_id` / `vec_id`), its screen, tombstone
    * and merge verbs, and `prepare`, which turns the batch's upsert rows
    * into what the screen and the merge take (identity, except the
    * image family's decode + hash). */
  private final case class Screen(kind: String, key: String,
                                  screen: DataFrame => DataFrame,
                                  tombstone: DataFrame => Unit,
                                  merge: DataFrame => Unit,
                                  prepare: DataFrame => DataFrame = df => df)

  private def fingerprint(spark: SparkSession, path: String) =
    Screen("fingerprint", "doc_id",
      DedupOps.queryFingerprintIndex(spark, path, _),
      DedupOps.tombstoneFingerprintIndex(_, path),
      DedupOps.mergeFingerprintIndex(_, path))

  /** The ONE screen-and-absorb micro-batch body every screening family
    * shares: split the batch by op, screen the upserts (hits to
    * `onHits`), then — exactly once per (path, stream, id) — tombstone
    * the deletes and merge the upserts.
    *
    * Per-batch cache scope: the screen/merge ops register the batch's
    * tables; they are released at batch end so a long-running stream
    * stays flat (one batch's caches at a time). `onHits` must therefore
    * consume its DataFrame eagerly.
    *
    * Op-aware: op='DELETE' rows (key only) route to the family's
    * tombstone verb — the CDC deletion path, end-to-end in the stream.
    * The delete→re-insert UPDATE (same batch or a later one) is handled
    * by serving pending deletions inline: when the batch's merge
    * collides with a tombstone, the maintenance tick runs first
    * (between batches — the single-writer-safe moment), physically
    * removing the old rows and clearing the tombstones, and only then
    * does the merge land. Raising instead would crash-loop the stream:
    * the checkpointed batch replays identically forever and the
    * scheduled tick can never run behind a failing batch. */
  private def screenBatch(spark: SparkSession, batch: DataFrame, id: Long,
                          path: String, streamId: String,
                          onHits: (DataFrame, Long) => Unit,
                          memo: HighWater, f: Screen): Unit =
    if (!batch.isEmpty) Caches.withCached {
      val (rows, deletes) = byOp(batch)
      val dels = deletes.map(_.select(f.key)).filterNot(_.isEmpty)
      val adds = if (rows.isEmpty) None else Some(f.prepare(rows))
      // hits against rows this very batch deletes are not real matches —
      // the indexed row is gone the moment the batch commits; screen
      // them out before the sink sees them (text hits name the indexed
      // doc `doc_old`, ANN hits the indexed `vec_id`)
      val hitKey = if (f.key == "doc_id") "doc_old" else f.key
      adds.foreach { a =>
        val raw = f.screen(a)
        onHits(dels.fold(raw)(d => raw.join(
          d.withColumnRenamed(f.key, hitKey), Seq(hitKey), "left_anti")), id)
      }
      absorbOnce(spark, path, streamId, id, memo) {
        dels.foreach(f.tombstone)
        adds.foreach { a =>
          serveTombstonesIfClashing(spark, path, f.kind, a, f.key)
          f.merge(a)
        }
      }
    }

  /** Run the family's maintenance tick iff the batch about to merge
    * collides with a pending tombstone — the inline deletion-serve that
    * makes the CDC delete→re-insert update safe in a stream. Replay-
    * safe: a re-run re-forces an idempotent rewrite. */
  private def serveTombstonesIfClashing(spark: SparkSession,
                                        indexPath: String, kind: String,
                                        adds: DataFrame,
                                        key: String = "doc_id",
                                        retainApplied: Seq[String] = Nil): Unit = {
    val clash = Compaction
      .pendingTombstones(spark, indexPath, key).exists { t =>
        adds.select(col(key))
          .join(graft.engine.Skew.maybeBroadcast(t), Seq(key), "left_semi")
          .limit(1).count() > 0L
      }
    if (clash) maintainStreamedIndex(spark, indexPath, kind,
      retainApplied = retainApplied)
  }

  /** The ONE op split every absorb family uses: an op-aware batch as
    * (upserts, Some(deletes)), both without the `op` column — a null op
    * is an upsert — or (batch, None) when no `op` column rides along.
    * DELETE rows keep the rest of their row image; the key-only
    * families select their key from it. */
  private def byOp(batch: DataFrame): (DataFrame, Option[DataFrame]) =
    if (!batch.columns.contains("op")) (batch, None)
    else (batch.filter(coalesce(col("op") =!= "DELETE", lit(true))).drop("op"),
      Some(batch.filter(col("op") === "DELETE").drop("op")))

  /** One query's replay memo: the highest micro-batch id its stream has
    * absorbed, `None` until [[absorbOnce]] seeds it from the ledger. The
    * ledger stays the source of truth and the memo only caches it, so
    * the memo is owned by whoever runs the batches — one per started
    * query ([[fileStream]]), a fresh one per direct call — and dies
    * with them. */
  private final class HighWater { var absorbed: Option[Long] = None }

  /** Apply `merge` exactly once per (index, stream, micro-batch id) —
    * the ledger replay protocol [[screenAndAbsorb]] established, shared
    * by every absorb family: check the memo (seeded from one ledger
    * scan — micro-batch ids are monotonic per checkpoint, so after
    * seeding, replay detection is an in-memory compare instead of a
    * ledger scan per trigger growing with stream lifetime), run the
    * merge, append the ledger row, advance the memo. A merge that throws
    * (e.g. the Compaction pointer guard) leaves no ledger row, so the
    * batch replays on restart. */
  private def absorbOnce(spark: SparkSession, path: String, streamId: String,
                         id: Long, memo: HighWater)(merge: => Unit): Unit = {
    val ledger = new Ledger(spark, s"$path/_ledger")
    // the max batch id this stream has ever absorbed (-1 = none)
    val highWater = memo.absorbed.getOrElse(
      Option(ledger.read().filter(col("filename") === streamId)
        .agg(max(col("batch_id").cast("long"))).head().get(0))
        .fold(-1L)(_.asInstanceOf[Long]))
    memo.absorbed = Some(highWater)
    if (id > highWater) {
      merge
      ledger.append(streamId, id.toString)
      memo.absorbed = Some(id)
    }
  }

  /** A non-empty batch, in one per-batch cache scope, applied exactly
    * once by [[absorbOnce]]. `apply` gets the batch's stable
    * "stream#id" tag: a crashed-ledger replay lays down byte-identical
    * tagged rows that the views' batch-tagged dedup collapses
    * (TextOps.vocabPartials). */
  private def absorbBatch(spark: SparkSession, batch: DataFrame, id: Long,
                          path: String, streamId: String, memo: HighWater)(
                          apply: String => Unit): Unit =
    if (!batch.isEmpty) Caches.withCached {
      absorbOnce(spark, path, streamId, id, memo)(apply(s"$streamId#$id"))
    }

  /** Streaming embedding dedup — [[dedupScreenStream]]'s ANN twin and
    * the CDC×ANN composition this platform exists for: each micro-batch
    * of (vec_id, embedding) rows is
    *  1. SCREENED against the stored IVF index with the BATCH probe
    *     ([[graft.ops.SimilarityOps.queryIvfIndexBatch]] — the whole
    *     batch shares ONE dynamically-partition-pruned cell scan, not
    *     one scan per vector); rows pairing with an indexed vector at
    *     `cosine ≥ minCosine` go to `onHits` (quarantine sink, metrics,
    *     filter);
    *  2. ABSORBED via [[graft.ops.SimilarityOps.mergeIvfIndex]] (frozen
    *     centroids, append-only cells) under the same (stream,
    *     batch-id) ledger protocol as the text path ([[absorbOnce]]),
    *     so later batches screen against this one and replays are
    *     exactly-once.
    * `maintainEvery` = N > 0 runs the IVF maintenance tick
    * ([[graft.engine.Compaction.maintainIndex]] + ledger compaction)
    * every N batches inside the trigger loop — single-writer by
    * construction, like the fingerprint stream's tick.
    *
    * `retrainEvery` = N > 0 additionally CHECKS the centroid-drift
    * signal every N batches and, when it trips, RETRAINS the index
    * between batches ([[graft.ops.SimilarityOps.retrainIvfIndex]] —
    * atomic republish, drift log reset) — the ANN twin of the
    * tokenizer stream's UNK-drift retrain, closing the churn lifecycle
    * (build → merge drift → signal → retrain) inside the stream that
    * feeds the churn. The retrain is deterministic on the live vector
    * set and self-healing, so a crash mid-tick replays safely; it is
    * gated on [[graft.ops.SimilarityOps.shouldRetrain]], so a stream
    * whose feed matches the indexed distribution never pays the
    * O(corpus) rebuild. 0 (default) keeps drift a scheduled-rebuild
    * decision outside the stream, the prior posture. */
  def annScreenStream(spark: SparkSession, inGlob: String,
                      checkpointDir: String, schema: StructType,
                      indexPath: String, topK: Int, minCosine: Double,
                      onHits: (DataFrame, Long) => Unit,
                      nprobe: Int = 1,
                      maintainEvery: Int = 0,
                      maintainMaxFiles: Int = 8,
                      retrainEvery: Int = 0,
                      retrainThreshold: Double = 2.0,
                      retrainIters: Int = 2): StreamingQuery =
    fileStream(spark, inGlob, checkpointDir, schema) { (batch, id, memo) =>
      screenBatch(spark, batch, id, indexPath, checkpointDir, onHits, memo,
        ann(spark, indexPath, topK, minCosine, nprobe))
      if (every(maintainEvery, id))
        maintainStreamedIndex(spark, indexPath, "ivf", maintainMaxFiles)
      if (every(retrainEvery, id) &&
          SimilarityOps.shouldRetrain(spark, indexPath, retrainThreshold))
        SimilarityOps.retrainIvfIndex(spark, indexPath, iters = retrainIters)
    }

  /** One ANN screen-and-absorb micro-batch — public for direct replay
    * testing, like [[screenAndAbsorb]]. The screen is read-only and
    * always re-run; the merge is applied once per (streamId, id).
    *
    * Op-aware like the text family: op='DELETE' rows (vec_id only)
    * route to [[graft.ops.SimilarityOps.tombstoneAnnIndex]] — the
    * right-to-be-forgotten path for vectors, under the SAME ledger
    * entry as the batch's merge, with the same inline deletion-serve
    * for the delete→re-insert update (the tick runs between batches
    * when the merge collides with a pending tombstone; raising would
    * crash-loop the checkpointed batch). */
  def annScreenAndAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                         indexPath: String, streamId: String,
                         topK: Int, minCosine: Double, nprobe: Int,
                         onHits: (DataFrame, Long) => Unit): Unit =
    screenBatch(spark, batch, id, indexPath, streamId, onHits,
      new HighWater, ann(spark, indexPath, topK, minCosine, nprobe))

  private def ann(spark: SparkSession, path: String, topK: Int,
                  minCosine: Double, nprobe: Int) =
    Screen("ivf", "vec_id",
      a => SimilarityOps.queryIvfIndexBatch(spark, path, a, topK, nprobe)
        .filter(col("cosine") >= minCosine),
      SimilarityOps.tombstoneAnnIndex(_, path),
      SimilarityOps.mergeIvfIndex(_, path))

  /** Streaming IVF-PQ screen-and-absorb — [[annScreenStream]]'s
    * quantized sibling: each vector micro-batch is screened against the
    * stored composite index by pruned ADC (nprobe cells + byte codes —
    * the screen never reads a float vector), then absorbed against both
    * frozen control planes ([[graft.ops.SimilarityOps.mergeIvfPqIndex]]).
    * Same (stream, batch-id) ledger protocol; the maintenance tick runs
    * the `ivfpq` compaction kind. ADC is a DISTANCE, so hits are rows
    * with `adc_dist <= maxAdc` (note an exact copy of an indexed vector
    * screens at its quantization distortion, not 0 — size the threshold
    * from the index's meta distortion).
    *
    * Codebook drift: this stream CANNOT self-retrain the way
    * [[annScreenStream]] does — PQ codes are lossy (byte codes, no
    * stored vectors), so a rebuild needs the original corpus, which
    * only the caller has. `rebuildEvery` = N > 0 closes the lifecycle
    * with that honesty intact: the caller supplies `rebuildFrom`, a
    * reader of its source of truth (e.g. the snapshot store's current
    * view — which the absorbed batches also land in), and every N
    * batches the tick checks
    * [[graft.ops.SimilarityOps.shouldRetrainIvfPq]] — BOTH drift
    * ratios, ADC distortion AND coarse assigned-cell d² (a
    * cluster-structure shift with flat distortion degrades cell
    * pruning silently — the r16 gap) — and, when one trips, rebuilds
    * between batches via
    * [[graft.ops.SimilarityOps.rebuildIvfPqIndex]] (atomic republish of
    * centroids + codebooks + codes under one version swap, tombstones
    * served, drift log reset). 0 (default) keeps drift a
    * scheduled-rebuild decision outside the stream, the prior posture.
    * `rebuildIters`/`rebuildPqIters` thread the coarse-quantizer and
    * codebook training iteration counts into that rebuild (mirroring
    * [[annScreenStream]]'s `retrainIters`) — pass the counts the index
    * was originally built with, or the rebuilt index trains to a
    * different state than the fresh-build parity the oracle assumes. */
  def ivfPqScreenStream(spark: SparkSession, inGlob: String,
                        checkpointDir: String, schema: StructType,
                        indexPath: String, topK: Int, maxAdc: Double,
                        onHits: (DataFrame, Long) => Unit,
                        nprobe: Int = 2,
                        maintainEvery: Int = 0,
                        maintainMaxFiles: Int = 8,
                        rebuildEvery: Int = 0,
                        rebuildThreshold: Double = 2.0,
                        rebuildFrom: SparkSession => DataFrame = null,
                        rebuildIters: Int = 2,
                        rebuildPqIters: Int = 1): StreamingQuery = {
    require(rebuildEvery <= 0 || rebuildFrom != null,
      "ivfPqScreenStream: rebuildEvery > 0 needs rebuildFrom — PQ codes " +
        "are lossy, the rebuild must read the caller's source corpus")
    fileStream(spark, inGlob, checkpointDir, schema) { (batch, id, memo) =>
      screenBatch(spark, batch, id, indexPath, checkpointDir, onHits, memo,
        ivfPq(spark, indexPath, topK, maxAdc, nprobe))
      if (every(maintainEvery, id))
        maintainStreamedIndex(spark, indexPath, "ivfpq", maintainMaxFiles)
      if (every(rebuildEvery, id) &&
          SimilarityOps.shouldRetrainIvfPq(spark, indexPath, rebuildThreshold))
        SimilarityOps.rebuildIvfPqIndex(rebuildFrom(spark), indexPath,
          iters = rebuildIters, pqIters = rebuildPqIters)
    }
  }

  /** One IVF-PQ screen-and-absorb micro-batch — public for direct
    * replay testing, like [[annScreenAndAbsorb]] (op-aware the same
    * way, same inline deletion-serve). The screen is read-only and
    * always re-run; the merge applies once per (streamId, id). */
  def ivfPqScreenAndAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                           indexPath: String, streamId: String,
                           topK: Int, maxAdc: Double, nprobe: Int,
                           onHits: (DataFrame, Long) => Unit): Unit =
    screenBatch(spark, batch, id, indexPath, streamId, onHits,
      new HighWater, ivfPq(spark, indexPath, topK, maxAdc, nprobe))

  private def ivfPq(spark: SparkSession, path: String, topK: Int,
                    maxAdc: Double, nprobe: Int) =
    Screen("ivfpq", "vec_id",
      a => SimilarityOps.queryIvfPqIndexBatch(spark, path, a, topK, nprobe)
        .filter(col("adc_dist") <= maxAdc),
      SimilarityOps.tombstoneAnnIndex(_, path),
      SimilarityOps.mergeIvfPqIndex(_, path))

  /** Streaming IMAGE dedup — [[dedupScreenStream]]'s multimodal twin:
    * each micro-batch of (doc_id, payload) rows carrying REAL image
    * bytes is (1) decoded and signature-hashed
    * ([[graft.ops.Multimodal.imageAHash]] — the narrow per-partition
    * codec pass), (2) SCREENED against the stored banded hash index
    * ([[graft.ops.DedupOps.queryHashIndex]] — the batch broadcast-probes
    * the index's (band, bv) buckets; the index never shuffles), hits to
    * `onHits`, then (3) ABSORBED ([[graft.ops.DedupOps.mergeHashIndex]]
    * — O(|batch|·bands) band-row appends) under the same (stream,
    * batch-id) ledger protocol as every absorb family, so later batches
    * screen against this one and replays are exactly-once. The
    * maintenance tick runs the `ahash` compaction (drops replay-
    * duplicated band rows, re-clusters buckets). Payloads arrive
    * base64-coded in the JSON batch files (the file-stream transport;
    * a production feed reads a binary-file source instead — only the
    * payload column's provenance changes). */
  def imageScreenStream(spark: SparkSession, inGlob: String,
                        checkpointDir: String, schema: StructType,
                        indexPath: String, maxDist: Int,
                        onHits: (DataFrame, Long) => Unit,
                        maintainEvery: Int = 0,
                        maintainMaxFiles: Int = 8): StreamingQuery =
    fileStream(spark, inGlob, checkpointDir, schema) { (batch, id, memo) =>
      screenBatch(spark, batch, id, indexPath, checkpointDir, onHits, memo,
        image(spark, indexPath, maxDist))
      if (every(maintainEvery, id))
        maintainStreamedIndex(spark, indexPath, "ahash", maintainMaxFiles)
    }

  /** One image screen-and-absorb micro-batch — public for direct replay
    * testing. `batch` carries (doc_id, payload base64-string-or-binary);
    * DELETE rows carry the key only (no payload to decode). The aHash
    * is computed ONCE per batch and cached for the batch's scope
    * (screen + absorb share it), released at batch end. */
  def imageScreenAndAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                           indexPath: String, streamId: String,
                           maxDist: Int,
                           onHits: (DataFrame, Long) => Unit): Unit =
    screenBatch(spark, batch, id, indexPath, streamId, onHits,
      new HighWater, image(spark, indexPath, maxDist))

  private def image(spark: SparkSession, path: String, maxDist: Int) =
    Screen("ahash", "doc_id",
      DedupOps.queryHashIndex(spark, _, path, maxDist),
      DedupOps.tombstoneHashIndex(_, path),
      DedupOps.mergeHashIndex(_, path),
      prepare = adds => Caches.ensureCached(graft.ops.Multimodal.imageAHash(
        if (adds.schema("payload").dataType == StringType)
          adds.select(col("doc_id"), unbase64(col("payload")).as("payload"))
        else adds.select(col("doc_id"), col("payload")))))

  /** Streaming incremental-view maintenance for the vocabulary
    * aggregate: each document micro-batch's per-word partial counts are
    * absorbed into the stored view ([[graft.ops.TextOps.mergeVocabIndex]])
    * exactly once under the same (stream, batch-id) ledger protocol the
    * retrieval indexes use — a crash between merge and checkpoint
    * commit replays the batch, and the ledger high-water makes the
    * re-merge a no-op, so partial counts are never double-added (the
    * failure mode an additive aggregate cannot tolerate). The
    * maintenance tick runs the re-aggregating `vocab` compaction. */
  def vocabAbsorbStream(spark: SparkSession, inGlob: String,
                        checkpointDir: String, schema: StructType,
                        viewPath: String,
                        maintainEvery: Int = 0,
                        maintainMaxFiles: Int = 8): StreamingQuery =
    fileStream(spark, inGlob, checkpointDir, schema) { (batch, id, memo) =>
      vocabBatch(spark, batch, id, viewPath, checkpointDir, memo)
      if (every(maintainEvery, id))
        maintainStreamedIndex(spark, viewPath, "vocab", maintainMaxFiles)
    }

  /** [[vocabAbsorbStream]] plus the TOKENIZER lifecycle — the complete
    * streaming loop a production corpus runs: each batch's word counts
    * absorb into the vocab view exactly once (the ledger protocol), and
    * every `retrainEvery` batches the tick measures the BATCH's UNK
    * mass under the stored tokenizer
    * ([[graft.ops.TextOps.shouldRetrainTokenizer]] — data that drifted
    * from the build corpus pushes it up) and, when it trips (or no
    * tokenizer exists yet), refreshes the artifact FROM THE VIEW
    * ([[graft.ops.TextOps.buildTokenizerFromView]] — no corpus pass;
    * the view the stream itself maintains IS the training input). The
    * retrain runs between batches under the single-writer discipline,
    * is idempotent (a replayed tick rebuilds the same artifact from the
    * same view), and readers switch atomically via the artifact's
    * versioned-table pointers. */
  def vocabTokenizerStream(spark: SparkSession, inGlob: String,
                           checkpointDir: String, schema: StructType,
                           viewPath: String, tokPath: String,
                           rules: Int = 3,
                           retrainEvery: Int = 1,
                           unkThreshold: Double = 0.01,
                           maintainEvery: Int = 0,
                           maintainMaxFiles: Int = 8): StreamingQuery =
    fileStream(spark, inGlob, checkpointDir, schema) { (batch, id, memo) =>
      vocabBatch(spark, batch, id, viewPath, checkpointDir, memo)
      // unlike every other tick this one runs on batch 0 (no `every`):
      // the first batch must build the missing tokenizer
      if (retrainEvery > 0 && id % retrainEvery == 0)
        maintainTokenizer(spark, viewPath, tokPath, batch, rules,
          unkThreshold)
      if (every(maintainEvery, id))
        maintainStreamedIndex(spark, viewPath, "vocab", maintainMaxFiles)
    }

  /** One tokenizer-maintenance tick: retrain from the view if no
    * artifact exists yet or `sample`'s UNK mass under the stored
    * artifact exceeds `unkThreshold`. Returns true if a retrain ran.
    * Public for direct tick testing; single-writer discipline. */
  def maintainTokenizer(spark: SparkSession, viewPath: String,
                        tokPath: String, sample: DataFrame, rules: Int,
                        unkThreshold: Double): Boolean = {
    val missing = !TextOps.tokenizerExists(tokPath)
    val due = missing || (!sample.isEmpty &&
      TextOps.shouldRetrainTokenizer(spark, sample, tokPath, unkThreshold))
    if (due) TextOps.buildTokenizerFromView(spark, viewPath, rules, tokPath)
    due
  }

  /** One vocab-absorb micro-batch — public for direct replay testing.
    *
    * Op-aware: a batch carrying an `op` column routes `op = 'DELETE'`
    * rows through [[graft.ops.TextOps.retractVocabIndex]] (negative
    * partials; the delete record must carry the full text image, the
    * CDC delete-capture contract) and the rest through the additive
    * merge — both under ONE ledger entry, so a replayed mixed batch
    * re-applies neither half. Without an `op` column the batch is
    * purely additive, as before. */
  def vocabAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                  viewPath: String, streamId: String): Unit =
    vocabBatch(spark, batch, id, viewPath, streamId, new HighWater)

  private def vocabBatch(spark: SparkSession, batch: DataFrame, id: Long,
                         viewPath: String, streamId: String,
                         memo: HighWater): Unit =
    absorbBatch(spark, batch, id, viewPath, streamId, memo) { tag =>
      // the view reads only doc_id and text, so the split's dropped
      // `op` column is never missed
      byOp(batch) match {
        case (adds, None) => TextOps.mergeVocabIndex(adds, viewPath, s"$tag:merge")
        case (adds, Some(dels)) =>
          if (!adds.isEmpty)
            TextOps.mergeVocabIndex(adds, viewPath, s"$tag:merge")
          if (!dels.isEmpty)
            TextOps.retractVocabIndex(dels, viewPath, s"$tag:retract")
      }
    }

  /** Streaming incremental maintenance for the stored BM25 inverted
    * index — the keyword-retrieval absorb loop: each document
    * micro-batch's postings are merged
    * ([[graft.ops.TextOps.mergeBm25Index]]) exactly once under the
    * (stream, batch-id) ledger protocol, and `op='DELETE'` rows (which
    * carry the full row image, the CDC delete-capture contract) route
    * through [[graft.ops.TextOps.retractBm25Index]] — tombstoned
    * postings stop scoring immediately, lexicon/stats adjust exactly,
    * and the `bm25` maintenance tick makes deletions physical. The
    * delete→re-insert update is served inline like every absorb family
    * ([[serveTombstonesIfClashing]]). */
  def bm25AbsorbStream(spark: SparkSession, inGlob: String,
                       checkpointDir: String, schema: StructType,
                       indexPath: String,
                       maintainEvery: Int = 0,
                       maintainMaxFiles: Int = 8): StreamingQuery =
    fileStream(spark, inGlob, checkpointDir, schema) { (batch, id, memo) =>
      bm25Batch(spark, batch, id, indexPath, checkpointDir, memo)
      if (every(maintainEvery, id))
        maintainStreamedIndex(spark, indexPath, "bm25", maintainMaxFiles)
    }

  /** One BM25 absorb micro-batch — public for direct replay testing.
    * Retraction runs BEFORE the merge (tombstone first, then serve the
    * clash if this very batch re-inserts a deleted doc), both halves
    * under ONE ledger entry so a replayed mixed batch re-applies
    * neither. The inline clash-serve's `_applied` reset RETAINS this
    * batch's just-committed retract signature (it rides the reset's own
    * version swap — Compaction.resetBm25AppliedLog): the ledger entry
    * is still uncommitted at that point, so a crash between the tick
    * and the ledger append replays the batch, and the retraction must
    * still find its signature or it would subtract lexicon df and
    * stats a second time. */
  def bm25Absorb(spark: SparkSession, batch: DataFrame, id: Long,
                 indexPath: String, streamId: String): Unit =
    bm25Batch(spark, batch, id, indexPath, streamId, new HighWater)

  private def bm25Batch(spark: SparkSession, batch: DataFrame, id: Long,
                        indexPath: String, streamId: String,
                        memo: HighWater): Unit =
    absorbBatch(spark, batch, id, indexPath, streamId, memo) { _ =>
      byOp(batch) match {
        case (adds, None) => TextOps.mergeBm25Index(adds, indexPath)
        case (adds, Some(dels)) =>
          // the retract needs the full row image, so DELETE rows keep
          // every column (unlike the key-only screening families)
          val retractSig = Option.when(!dels.isEmpty)(
            TextOps.retractBm25Index(dels, indexPath))
          if (!adds.isEmpty) {
            serveTombstonesIfClashing(spark, indexPath, "bm25", adds,
              retainApplied = retractSig.toSeq)
            TextOps.mergeBm25Index(adds, indexPath)
          }
      }
    }

  /** Streaming maintenance of the distinct-count sketch view
    * ([[graft.engine.Stats.buildDistinctView]]) — the vocab absorb's
    * twin for the HLL family: each micro-batch appends its per-group
    * sketch partials under the shared (stream, batch-id) ledger. A
    * replayed union would be VALUE-harmless (register-max is
    * idempotent), but the ledger still guards it so the view's row
    * count — and therefore its compaction debt and file lineage — stays
    * deterministic under re-delivery. Op-aware (r17): op='DELETE' rows
    * retract through the view's exact companion (deletion-exact reads
    * immediately; the HLL side rebuilds on the `hll` maintenance tick —
    * see [[distinctAbsorb]]). */
  def distinctAbsorbStream(spark: SparkSession, inGlob: String,
                           checkpointDir: String, schema: StructType,
                           viewPath: String, group: String, key: String,
                           maintainEvery: Int = 0,
                           maintainMaxFiles: Int = 8): StreamingQuery =
    fileStream(spark, inGlob, checkpointDir, schema) { (batch, id, memo) =>
      distinctBatch(spark, batch, id, viewPath, group, key, checkpointDir,
        memo)
      if (every(maintainEvery, id))
        maintainStreamedIndex(spark, viewPath, "hll", maintainMaxFiles)
    }

  /** One distinct-view absorb micro-batch — public for replay testing.
    * Op-aware (r17): op='DELETE' rows (full row image — the CDC
    * delete-capture contract) route through
    * [[graft.engine.Stats.retractDistinctView]] into the view's exact
    * companion, the rest through the sketch+exact merge — both under
    * ONE ledger entry with stable (stream, batch-id) tags, so a
    * replayed mixed batch re-applies neither half (the vocab absorb's
    * protocol verbatim). The exact read reflects the deletion
    * IMMEDIATELY; the HLL read over-counts until the scheduled `hll`
    * tick rebuilds the sketches from the netted pairs — bounded
    * staleness of one maintenance interval on the APPROXIMATE path
    * only, the documented trade (an inline per-delete rebuild would be
    * O(live pairs) per batch). A view built before the retractable
    * lifecycle (no exact companion) still refuses DELETE batches
    * loudly inside retractDistinctView — route those to a rebuild. */
  def distinctAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                     viewPath: String, group: String, key: String,
                     streamId: String): Unit =
    distinctBatch(spark, batch, id, viewPath, group, key, streamId,
      new HighWater)

  private def distinctBatch(spark: SparkSession, batch: DataFrame, id: Long,
                            viewPath: String, group: String, key: String,
                            streamId: String, memo: HighWater): Unit =
    absorbBatch(spark, batch, id, viewPath, streamId, memo) { tag =>
      import graft.engine.Stats
      byOp(batch) match {
        case (adds, None) =>
          Stats.mergeDistinctView(adds, group, key, viewPath, s"$tag:merge")
        case (adds, Some(dels)) =>
          if (!dels.isEmpty)
            Stats.retractDistinctView(dels, group, key, viewPath,
              s"$tag:retract")
          if (!adds.isEmpty)
            Stats.mergeDistinctView(adds, group, key, viewPath, s"$tag:merge")
      }
    }

  /** Streaming maintenance for the VERSIONED SNAPSHOT and its derived
    * layout artifacts — the z-ordered OPTIMIZE publish and the verified
    * shard export get the same between-batches lifecycle the stored
    * indexes have, closing the r14 gap where both had batch-only verbs.
    *
    * Per micro-batch: the batch's document rows are unioned into the
    * current snapshot and published as the next version
    * ([[SnapshotStore.publish]] — the store's atomic commit unit),
    * exactly once under the (stream, batch-id) ledger ([[absorbOnce]]).
    * Every `optimizeEvery` batches, AFTER the batch commits and
    * ledgers, [[optimizeSnapshotTick]] runs:
    *
    *  1. OPTIMIZE — re-publish the current version z-ordered on
    *     (`a`, `b`) ([[SnapshotStore.publishZOrdered]], `numFiles`
    *     range partitions): answers unchanged, 2-D box scans pruned;
    *  2. retention — [[SnapshotStore.vacuum]] to `keepVersions`;
    *  3. export — re-materialize the shard export from the optimized
    *     snapshot under the write → re-read → manifest-compare publish
    *     protocol (the ExportSpec loop); a mismatch raises BEFORE the
    *     export is treated as published.
    *
    * Crash safety: a crash BEFORE the publish replays the absorb and
    * the ledger check skips nothing real; a crash AFTER the publish but
    * BEFORE the ledger append re-delivers the batch against a snapshot
    * that already contains it — which is why [[snapshotAbsorb]]'s merge
    * is a keyed last-write-wins UPSERT, making the replayed merge
    * publish a content-identical version (and a genuine update land its
    * new content) instead of baking duplicates into every later version
    * and export. A crash inside the tick re-runs only the
    * tick, whose verbs are idempotent at the answer level — a replayed
    * OPTIMIZE publishes another version with identical content behind
    * the atomic pointer, vacuum re-evaluates, and the export rewrite
    * re-verifies.
    *
    * Scale posture: per-batch publish re-writes the current snapshot
    * (the SCD2 stream's deliberate SnapshotStore formulation — at
    * 100 TB the snapshot is date-partitioned and only touched
    * partitions rewrite); the z-sort's full range shuffle is paid only
    * at the OPTIMIZE cadence, and the export here rewrites all shards —
    * a production cadence exports only the shards the corpus diff
    * invalidated (Curation.corpusDiff's stable-bucket keying exists for
    * exactly that). */
  def snapshotAbsorbStream(spark: SparkSession, inGlob: String,
                           checkpointDir: String, schema: StructType,
                           storeRoot: String, a: String, b: String,
                           tie: String, numFiles: Int = 8,
                           optimizeEvery: Int = 0, keepVersions: Int = 3,
                           exportPath: Option[String] = None,
                           tokensPerShard: Long = 0L,
                           key: String = "doc_id"): StreamingQuery = {
    require(exportPath.isEmpty || tokensPerShard > 0L,
      "snapshotAbsorbStream: an export path needs tokensPerShard > 0")
    fileStream(spark, inGlob, checkpointDir, schema) { (batch, id, memo) =>
      snapshotBatch(spark, batch, id, storeRoot, checkpointDir, key, memo)
      if (every(optimizeEvery, id))
        optimizeSnapshotTick(spark, storeRoot, a, b, tie, numFiles,
          keepVersions, exportPath, tokensPerShard)
    }
  }

  /** One snapshot-absorb micro-batch — public for replay testing.
    *
    * The merge is a LAST-WRITE-WINS UPSERT on `key`, not a blind union:
    * current rows whose key appears in the batch are replaced by the
    * batch's rows. That one shape covers both hazards at once — a
    * legitimate re-delivery of an UPDATED document lands its new
    * content (a key-presence filter would silently discard it), and a
    * crash-replayed batch (published but not yet ledgered — the window
    * the ledger cannot close by itself) replaces its own rows with
    * identical content, publishing a content-identical version instead
    * of baking duplicates into every later version and export. */
  def snapshotAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                     storeRoot: String, streamId: String,
                     key: String = "doc_id"): Unit =
    snapshotBatch(spark, batch, id, storeRoot, streamId, key, new HighWater)

  private def snapshotBatch(spark: SparkSession, batch: DataFrame, id: Long,
                            storeRoot: String, streamId: String, key: String,
                            memo: HighWater): Unit =
    absorbBatch(spark, batch, id, storeRoot, streamId, memo) { _ =>
      val store = new SnapshotStore(spark, storeRoot)
      // op-aware: a batch carrying an `op` column routes op='DELETE'
      // keys to REMOVAL — the right-to-be-forgotten flow a training
      // corpus must support; the delete record needs only the key.
      // Upserts and deletes land in ONE published version (and one
      // ledger entry), so a replayed mixed batch re-applies neither
      // half. Deleting an absent key is a no-op, as in SQL DELETE.
      // Scope honesty: this deletes from the CURRENT version — the
      // versions retained for time travel still carry the key until
      // the compliance sweep (SnapshotStore.purgeKeys) rewrites the
      // whole retained window.
      val (rawUpserts, deletes) = byOp(batch)
      val deleteKeys = deletes.map(_.select(key))
      // intra-batch key discipline: exact duplicate ROWS fold (a file
      // re-delivering the same record twice), but two DIFFERENT rows
      // for one key in one batch are refused loudly — this verb's
      // records carry no sequence column, so "last-write-wins" between
      // them is undefined and keeping both would bake duplicate keys
      // into every published version and export (the anti-join removes
      // cur's row, then the union adds BOTH)
      val upserts = rawUpserts.dropDuplicates()
      require(upserts.groupBy(col(key)).count()
          .filter(col("count") > 1L).isEmpty,
        s"snapshotAbsorb: batch $id carries conflicting rows for the " +
          s"same '$key' — no order column exists to arbitrate " +
          "last-write-wins within a batch; split the batch or dedup " +
          "upstream")
      val next = store.read() match {
        case Some(cur) =>
          val victims = deleteKeys.fold(upserts.select(key))(
            upserts.select(key).unionByName(_))
          cur.join(victims, Seq(key), "left_anti").unionByName(upserts)
        case None => upserts
      }
      store.publish(next)
      ()
    }

  /** The snapshot OPTIMIZE + export maintenance tick — public so a
    * quiesced deployment (or a replay test) can run it directly. MUST
    * not run concurrently with an absorb on `storeRoot` (the
    * single-writer discipline every maintenance verb shares);
    * [[snapshotAbsorbStream]] calls it between batches. */
  def optimizeSnapshotTick(spark: SparkSession, storeRoot: String,
                           a: String, b: String, tie: String,
                           numFiles: Int, keepVersions: Int,
                           exportPath: Option[String],
                           tokensPerShard: Long): Unit = {
    val store = new SnapshotStore(spark, storeRoot)
    store.read().foreach { cur =>
      store.publishZOrdered(cur, a, b, tie, numFiles)
      store.vacuum(keepVersions)
      exportPath.foreach { p =>
        import graft.ops.SamplingOps
        val snap = store.read().get
        SamplingOps.writeShards(snap, tokensPerShard, p)
        // publish-time verification: the re-read export must reproduce
        // the planning manifest row-for-row. Compared DISTRIBUTIVELY
        // (two multiset differences, each short-circuited at the first
        // witness row) — a small tokensPerShard over a large snapshot
        // makes the manifest row count unbounded, so collecting both
        // sides to the driver is the OOM class the MaxDriverGroups
        // posture exists to prevent
        val cols = Seq("shard_id", "n_docs", "n_tokens", "first_doc",
          "last_doc", "content_hash").map(col)
        val planned =
          SamplingOps.shardManifest(snap, tokensPerShard).select(cols: _*)
        // partition-dir column inference types shard_id as INT on
        // re-read — normalize before the manifest compare
        val reread = SamplingOps.manifestOf(
          spark.read.parquet(p).select(col("doc_id"), col("n_tokens"),
            col("shard_id").cast("long").as("shard_id"))).select(cols: _*)
        val mismatch =
          planned.exceptAll(reread).limit(1).count() > 0L ||
            reread.exceptAll(planned).limit(1).count() > 0L
        if (mismatch)
          throw new IllegalStateException(
            s"shard export at $p failed publish-time verification " +
              "(re-read manifest differs from the planning manifest) — " +
              "the export must not be consumed")
      }
    }
  }

  /** Streaming exact dedup — A3's streaming twin: drop re-deliveries of
    * the same `idCol` arriving within the watermark delay, turning an
    * at-least-once file/log source into exactly-once rows before the
    * merge. State holds one entry per id inside the watermark window and
    * is evicted as event time advances — bounded, unlike a naive
    * `dropDuplicates` whose state grows forever. */
  def dedupStream(stream: DataFrame, idCol: String, ts: String,
                  delay: String): DataFrame =
    stream.withWatermark(ts, delay).dropDuplicatesWithinWatermark(idCol)
}
