package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for the four stored-index families (IVF
  * assignments, PQ codes, BM25 postings, fingerprint postings/sizes).
  *
  * Why this exists: every merge path is deliberately append-only — old
  * files are never rewritten, so concurrent readers stay consistent and
  * merge cost is O(|batch|) — but a steady CDC feed then appends one
  * small parquet file per batch per partition FOREVER. At 100 TB the
  * probe scans degrade to small-file soup (per-file open/footer costs
  * dominate, row-group pruning stops paying). Compaction is the
  * missing third verb of the lifecycle: build / merge×N / compact,
  * exactly like log-structured stores (LSM levels, Delta/Iceberg
  * OPTIMIZE) pair appends with periodic rewrites.
  *
  * Commit protocol — the same pointer swap as [[SnapshotStore]]
  * (SnapshotStore.scala:41), applied per table dir:
  * a table path `t` is either PLAIN (parquet files directly under `t`,
  * how builds write it) or VERSIONED (`t/_v{N}` dirs plus a `t/_CURRENT`
  * pointer naming the live one). [[resolve]] picks the live data dir;
  * every merge/query path goes through it. Compaction writes the fully
  * rewritten next version dir, then atomically moves the pointer —
  * readers never observe a half-compacted table, and a crash mid-write
  * leaves only an orphan `_v{N}` dir — invisible to readers in BOTH
  * layouts (`_`-prefixed children are skipped by Spark's listing, and
  * the pointer, when present, still names the last good version). Superseded data stays on disk until [[vacuum]] (in-flight
  * readers planned against it must finish their scans), mirroring the
  * snapshot store's publish/vacuum split.
  *
  * Single-writer discipline (same as [[StoredIndexes]] and the
  * reference's loader): compaction must not run concurrently with
  * merges on the same index — a merge that resolved the live dir just
  * before the pointer swap would append into the superseded version
  * and its rows would become unreachable. Readers need no coordination;
  * writers (merge, compact, vacuum) are scheduled, not concurrent.
  *
  * Builds need no changes: `mode("overwrite")` on the plain path
  * deletes the whole table dir (pointer and version dirs included), so
  * a rebuild always restarts in plain layout.
  */
object Compaction {

  /** Vocab partial rows with the `bsig` batch tag guaranteed present:
    * tables written before the replay heal existed carry no tag column —
    * they get per-row UNIQUE synthetic tags, making the readers'
    * (bsig, word) dedup a no-op on them (pre-tag tables never had a
    * heal; a CONSTANT tag would collapse distinct same-word partials
    * and corrupt the sums). Upgrade path: the first `vocab` compaction
    * rewrites the table into tagged layout. */
  private[graft] def taggedVocabRows(df: DataFrame): DataFrame =
    if (df.columns.contains("bsig")) df
    else df.withColumn("bsig",
      concat(lit("legacy-"), monotonically_increasing_id()))

  private def pointer(table: String): Path = Paths.get(table, "_CURRENT")

  private def currentVersion(table: String): Option[Long] = {
    val p = pointer(table)
    // first line only: the format may grow trailing metadata lines
    if (Files.exists(p)) Some(Files.readString(p).split('\n').head.trim.toLong)
    else None
  }

  /** The live data dir for `table`: `table/_v{N}` once compacted, the
    * plain dir before. All merge appends and query scans resolve
    * through here.
    *
    * Version dirs are `_`-prefixed ON PURPOSE: Spark's file listing
    * skips `_`/`.`-prefixed children, so a crash that leaves a
    * half-written `_v{N}` inside a still-plain table is INVISIBLE to
    * readers of the plain dir (no pointer yet → resolve returns the
    * root, whose listing ignores the orphan). With `v{N}` names the
    * same crash would poison every subsequent read with conflicting
    * directory structures. Reading `table/_v{N}` directly is fine —
    * the filter applies to children during listing, not the root.
    * (A `v{N}` dir named by the pointer is still honored — legacy
    * layout tolerance — but new versions are always `_v{N}`.) */
  def resolve(table: String): String =
    currentVersion(table).map { v =>
      val hidden = s"$table/_v$v"
      if (!Files.exists(Paths.get(hidden)) &&
        Files.exists(Paths.get(s"$table/v$v"))) s"$table/v$v"
      else hidden
    }.getOrElse(table)

  /** Run an append (`body`, handed the resolved live data dir) and then
    * verify the `_CURRENT` pointer did not move while it ran. The
    * documented discipline is single-writer — merge, compact, and
    * vacuum are SCHEDULED, never concurrent — but a scheduling bug that
    * lets a compactor swap the pointer mid-append would otherwise be
    * SILENT data loss: the rows land in the superseded version dir and
    * the next vacuum deletes them. This guard NARROWS that race — it
    * does not close it: it only detects swaps that complete strictly
    * inside the append. A compactor that snapshotted the live dir
    * before this append started and publishes its pointer after the
    * post-append re-resolve still strands the appended rows silently —
    * the single-writer schedule remains the actual invariant; this is
    * a backstop for the common scheduling bug, not a substitute.
    * When it does fire, the failure lands AFTER the write but BEFORE
    * the caller records the batch as applied (ledger append /
    * checkpoint commit), so the
    * batch replays against the new live version on restart — the same
    * recovery path as a crash mid-merge. Replayed appends can leave
    * duplicate rows behind (the compactor may have caught part of the
    * lost write): the fingerprint read path tolerates them inline
    * (candidate-level dedup, DedupOps.queryFingerprintIndex), and every
    * family's [[compactIndex]] layout dedups on the natural key, so the
    * next scheduled compaction removes them permanently. */
  def guardedAppend[T](table: String)(body: String => T): T = {
    val live = resolve(table)
    val out = body(live)
    val after = resolve(table)
    if (after != live)
      throw new java.util.ConcurrentModificationException(
        s"append to $table raced a compaction (live dir moved " +
          s"$live -> $after): single-writer discipline violated; " +
          "the batch was NOT recorded as applied and must be replayed")
    out
  }

  /** Mark a tag-protocol batch COMMITTED — the appender's LAST step
    * (after its parquet append returns), so a mid-append crash leaves
    * the tag uncommitted and the fold then treats its rows as a TORN
    * append: passed through verbatim, never folded into the `compacted`
    * aggregate, never recorded `_absorbed`. The mandated replay is then
    * still healed by the view's (bsig, …) dedup instead of being
    * skipped against rows the fold already consumed — closing the
    * replay-before-compaction ordering hazard for direct-API callers
    * (the stream loop replays at restart, before any tick, and is safe
    * either way). Markers live at the TABLE ROOT
    * (`table/_committed/t{md5(tag)}`), outside the version dirs:
    * invisible to Spark's listing, surviving compaction swaps without
    * carry, one empty file per batch ever appended — the batch rate,
    * not the data rate. Back-compat: a table with no marker dir treats
    * every tag as committed (the pre-marker posture). */
  def commitTag(table: String, tag: String): Unit = {
    val dir = Paths.get(table, "_committed")
    Files.createDirectories(dir)
    try Files.createFile(dir.resolve(tagMarkerName(tag)))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  /** Establish the commit-marker protocol for `table` — builds and
    * appenders call this BEFORE any rows land, so a torn FIRST append
    * is already distinguishable from a pre-marker legacy append. A
    * pre-marker table's existing live tags are COMPLETED appends (the
    * old posture treated every tag as committed), so the one-time
    * upgrade marks them all committed — staged into a temp dir and
    * atomically moved, so a crash mid-upgrade can never leave some
    * legacy tags classified torn (they would never fold, never record
    * `_absorbed`, and a retraction's sketch rebuild would drop their
    * counts FOREVER — a permanent silent under-count with no replay
    * owed to heal it). */
  def ensureTagProtocol(spark: SparkSession, table: String): Unit = {
    val dir = Paths.get(table, "_committed")
    if (Files.exists(dir)) return
    // NEW/EMPTY tables have no schema to infer — nothing to backfill
    // (AnalysisException). Any OTHER read failure (corrupt footer, IO)
    // must ABORT the upgrade: swallowing it would install an empty
    // marker dir, and the exists-guard above makes that unrepeatable —
    // every legacy tag permanently classified torn, the exact silent
    // under-count this staged upgrade exists to prevent.
    val legacy =
      try {
        val df = spark.read.parquet(resolve(table))
        if (!df.columns.contains("bsig")) Nil
        else df.select("bsig").distinct().collect().map(_.getString(0))
          .filterNot(t => t == "compacted" || t == "build").toSeq
      } catch {
        case _: org.apache.spark.sql.AnalysisException => Nil
      }
    val tmp = Paths.get(table, "_committed.tmp")
    if (Files.exists(tmp)) deleteRec(tmp)
    Files.createDirectories(tmp)
    legacy.foreach(t => Files.createFile(tmp.resolve(tagMarkerName(t))))
    try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    catch {
      // lost the (single-writer-backstop) race to commitTag's
      // createDirectories — MERGE the staged legacy markers into the
      // winner instead of dropping them (idempotent creates), or the
      // lost upgrade would classify every legacy tag torn forever
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException =>
        val stream = Files.list(tmp)
        try {
          val it = stream.iterator()
          while (it.hasNext) {
            val m = it.next()
            try Files.createFile(dir.resolve(m.getFileName.toString))
            catch {
              case _: java.nio.file.FileAlreadyExistsException => ()
            }
          }
        } finally stream.close()
        deleteRec(tmp)
    }
  }

  /** `df` restricted to committed batches (drop the torn tags) — the
    * fold/record side of the torn-append split. */
  private def committedOnly(df: DataFrame, torn: Seq[String]): DataFrame =
    if (torn.isEmpty) df else df.filter(!col("bsig").isin(torn: _*))

  /** The torn rows themselves — the pass-through side (callers guard
    * `torn.nonEmpty`). */
  private def tornOnly(df: DataFrame, torn: Seq[String]): DataFrame =
    df.filter(col("bsig").isin(torn: _*))

  /** Filesystem-safe marker name for an arbitrary tag string (stream
    * tags may carry separators; derived tags carry 38-digit decimals). */
  private def tagMarkerName(tag: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    "t" + md.digest(tag.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  /** The live batch tags in `snap` whose appends never committed — the
    * torn appends a fold must pass through rather than consume.
    * Reserved fold tags (`compacted`, `build`) and the read-time
    * synthetic `legacy-` tags are always committed; a table without a
    * marker dir (pre-marker appends) reports none. Bounded collect:
    * distinct batch tags, the batch rate. */
  private[graft] def tornTags(table: String, snap: DataFrame): Seq[String] = {
    val dir = Paths.get(table, "_committed")
    if (!Files.exists(dir) || !snap.columns.contains("bsig")) return Nil
    snap.select("bsig").distinct().collect().map(_.getString(0))
      .filterNot(t => t == "compacted" || t == "build" ||
        t.startsWith("legacy-") ||
        Files.exists(dir.resolve(tagMarkerName(t))))
      .toSeq
  }

  /** Parquet data files per leaf directory under `root`, mirroring
    * Spark's listing rule: any path with a `_`/`.`-prefixed component
    * BELOW the root is skipped (crash-orphaned `_v{N}` dirs and sidecar
    * files are invisible to readers, so they must be invisible to the
    * compaction trigger too — counting them would fire a rewrite of a
    * table with no real debt). */
  private def countParquet(root: Path): Map[String, Int] = {
    if (!Files.exists(root)) return Map.empty
    val stream = Files.walk(root)
    try {
      val it = stream.iterator()
      val counts = scala.collection.mutable.Map.empty[String, Int]
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (name.endsWith(".parquet") && Files.isRegularFile(p)) {
          val rel = root.relativize(p)
          val hidden = (0 until rel.getNameCount).exists { i =>
            val c = rel.getName(i).toString
            c.startsWith("_") || c.startsWith(".")
          }
          if (!hidden) {
            val part = root.relativize(p.getParent).toString
            counts(part) = counts.getOrElse(part, 0) + 1
          }
        }
      }
      counts.toMap
    } finally stream.close()
  }

  /** Parquet data files per leaf directory of the live version —
    * hive-partitioned tables (IVF's `cluster=N/`) count per partition
    * dir, flat tables count as one partition. The compaction trigger
    * reads THIS, never the data. */
  def filesPerPartition(table: String): Map[String, Int] =
    countParquet(Paths.get(resolve(table)))

  // Per-partition file counts AT publish — the debt baseline — stored
  // as a `_BASE` sidecar INSIDE the version dir (one "count\tpartition"
  // line per partition): crash-safe (the pointer lands only after the
  // dir, sidecar included, is complete), invisible to Spark's listing,
  // and sized by partition count rather than squeezing a map into the
  // pointer file. Empty for plain (never-compacted) tables.
  private def writeBase(dir: String, counts: Map[String, Int]): Unit =
    Files.writeString(Paths.get(dir, "_BASE"),
      counts.toSeq.sorted.map { case (p, n) => s"$n\t$p" }.mkString("\n"))

  /** Record `table`'s CURRENT per-partition file counts as its debt
    * baseline. Builds call this right after writing a plain-layout
    * table: a legitimately large fresh build (layout repartitions can
    * emit hundreds of files) must read as zero debt, not as an instant
    * trigger — without a baseline the first scheduled [[compactTable]]
    * would pointlessly rewrite a table no merge has touched. */
  def seedBase(table: String): Unit =
    writeBase(resolve(table), filesPerPartition(table))

  private def publishedBase(table: String): Map[String, Int] = {
    val p = Paths.get(resolve(table), "_BASE")
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).split('\n').filter(_.nonEmpty).map { line =>
      // limit -1: the flat-table partition name is the empty string
      val Array(n, part) = line.split("\t", -1)
      part -> n.trim.toInt
    }.toMap
  }

  /** Rewrite `table`'s live contents under `layout` (the family's
    * repartition + sort) into the next version dir and publish it with
    * the atomic pointer swap. Returns false (no-op) while every
    * partition's APPEND DEBT — files beyond the count the live version
    * was published with — stays ≤ `maxFilesPerPartition`. Debt, not an
    * absolute count: a 100 GB flat table legitimately compacts to
    * hundreds of files, and an absolute threshold would then rewrite
    * the whole table on every scheduled run forever; measuring against
    * the published baseline fires only when merges have actually
    * accumulated new small files.
    *
    * The superseded version is left ON DISK — same retention posture as
    * [[SnapshotStore.publish]]/[[SnapshotStore.vacuum]]: an in-flight
    * reader planned against the old version finishes its scan (deleting
    * under it would fail the query mid-flight — on a 1000-executor
    * cluster some scan is always in flight). Reclaim space with
    * [[vacuum]] once the old readers' window has passed. */
  def compactTable(spark: SparkSession, table: String,
                   layout: DataFrame => DataFrame,
                   partitionBy: Seq[String] = Nil,
                   maxFilesPerPartition: Int = 8,
                   force: Boolean = false,
                   beforePublish: String => Unit = _ => ()): Boolean =
    Lease.withLease(table, "compactTable") {
    val counts = filesPerPartition(table)
    // debt is PER PARTITION against that partition's published count
    // (new partitions debit from 0): a single large partition must not
    // grant slack to small ones under a global max. A plain table with
    // no `_BASE` measures against 0 — correct for pure-append tables
    // like the Ledger (every file IS debt), while build paths seed
    // their baseline explicitly ([[seedBase]]) so a large fresh build
    // does not read as instant debt.
    val base = publishedBase(table)
    val inDebt = counts.exists { case (part, n) =>
      n - base.getOrElse(part, 0) > maxFilesPerPartition
    }
    // `force` bypasses the debt trigger — for rewrites with their own
    // SLA (pending tombstones), where "not enough small files yet" is
    // not a reason to defer a deletion
    if ((!force && !inDebt) || counts.isEmpty) false
    else {
    val live = resolve(table)
    val next = currentVersion(table).getOrElse(-1L) + 1L
    val nextDir = s"$table/_v$next"
    val w = layout(spark.read.parquet(live)).write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(nextDir)
    // `beforePublish` runs with the complete-but-unpublished version
    // dir: the hook a family uses to carry version-scoped sidecars
    // (IVF's `_centroids`) into the new version BEFORE the swap makes
    // it live — a reader must never see a version missing its sidecar
    beforePublish(nextDir)
    // record the fresh layout's per-partition counts BEFORE publishing:
    // they become the next trigger's debt baseline
    writeBase(nextDir, countParquet(Paths.get(nextDir)))
    val tmp = Paths.get(table, s"_CURRENT.tmp$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, pointer(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    true
    }
  }

  /** Publish a WHOLLY NEW version of `table` under the same versioned
    * pointer protocol as [[compactTable]], with the caller producing the
    * version dir's contents: `write` receives the allocated (not yet
    * live) version dir and writes everything the version holds — data
    * files AND any `_`-prefixed sidecars (invisible to Spark's listing
    * and to the debt counter). The pointer swap is the single atomic
    * publication point, so multi-table state that must change TOGETHER
    * (an ANN retrain's centroids + the assignments computed against
    * them) rides one version dir and can never be observed torn. A
    * crash before the swap leaves the old version fully live; the
    * orphan dir is reclaimed by the next [[vacuum]]. Single-writer,
    * like every Compaction verb. */
  def publishVersion(table: String)(write: String => Unit): Unit =
    Lease.withLease(table, "publishVersion") {
    val next = currentVersion(table).getOrElse(-1L) + 1L
    val nextDir = s"$table/_v$next"
    write(nextDir)
    writeBase(nextDir, countParquet(Paths.get(nextDir)))
    val tmp = Paths.get(table, s"_CURRENT.tmp$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, pointer(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Remove superseded data: version dirs older than the published one
    * (and, after the first compaction, the original plain-layout files
    * at the table root). Call on the maintenance schedule, one reader
    * window after [[compactTable]] — never inline with it. Returns the
    * paths removed. No-op on a never-compacted (plain) table. */
  def vacuum(table: String): Seq[String] =
    Lease.withLease(table, "vacuum") { currentVersion(table) match {
    case None => Seq.empty
    case Some(cur) =>
      val root = Paths.get(table)
      val victims = {
        val stream = Files.list(root)
        try {
          val it = stream.iterator()
          val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
          while (it.hasNext) {
            val p = it.next()
            val n = p.getFileName.toString
            // `v$cur` kept too: legacy-layout live dir (see resolve);
            // `_committed` is the table-lifetime batch-commit marker
            // store ([[commitTag]]) — version-independent by design;
            // `_LEASE` is THIS verb's own held writer lease
            if (n != s"_v$cur" && n != s"v$cur" && n != "_CURRENT" &&
                n != "_committed" && n != "_LEASE") buf += p
          }
          buf.toSeq
        } finally stream.close()
      }
      victims.foreach(deleteRec)
      victims.map(_.toString)
  } }

  private def deleteRec(p: Path): Unit = {
    val stream = Files.walk(p)
    try stream.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { Files.deleteIfExists(f); () })
    finally stream.close()
  }

  private def copyRec(src: Path, dst: Path): Unit = {
    val stream = Files.walk(src)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else {
          Files.createDirectories(t.getParent)
          Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    } finally stream.close()
  }

  /** Drop `path`'s ENTIRE pending-tombstone set — for rewrites that
    * just served every deletion physically in one shot (an index
    * RETRAIN republishes the whole scan table from the screened live
    * set). Single-writer, like [[appendTombstones]]: safe only because
    * no concurrent deleter can append between the rewrite's screen and
    * this clear. */
  def clearTombstones(path: String): Unit = {
    val t = Paths.get(s"$path/tombstones")
    if (Files.exists(t)) deleteRec(t)
  }

  /** Reset an advisory sidecar (the IVF/PQ `merge_log`) to empty — the
    * drift ledger restarts from zero after a retrain republishes the
    * index (accumulated drift was measured against centroids that no
    * longer exist). Removes the live dir AND any `._collapse` tmp so a
    * crashed collapse can't resurrect pre-retrain rows. Single-writer,
    * like every sidecar verb. */
  def sidecarReset(dir: String): Unit = {
    val tmp = Paths.get(dir + "._collapse")
    if (Files.exists(tmp)) deleteRec(tmp)
    val live = Paths.get(dir)
    if (Files.exists(live)) deleteRec(live)
  }

  /** Republish the live BM25 lexicon version with its `_applied`
    * replay-signature log wiped down to `retainApplied` (data and
    * `_stats` carried unchanged) — the deletion-serving tick's half of
    * the replay contract documented at `TextOps.publishBm25Side`.
    *
    * `retainApplied` names the signatures of the IN-FLIGHT batch — the
    * one whose inline clash-serve triggered this tick while its own
    * ledger entry is still uncommitted ([[graft.streaming.CdcStream
    * .bm25Absorb]]'s delete→re-insert path). Wiping those too would
    * re-open exactly the double-apply the log exists to prevent: a
    * crash between this tick and the batch's ledger append replays the
    * batch, and its retraction — signature gone — would subtract
    * lexicon df and stats a second time. Retention rides the SAME
    * version swap as the wipe, so there is no crash window between
    * "log reset" and "sig re-committed". Stale signatures (committed
    * batches whose re-insert collision the reset guards against) still
    * drop: their ledger entries are committed, so nothing ever replays
    * them. No-op for a never-versioned lexicon or a log the wipe would
    * not change. The republish keeps the swap discipline (never mutate
    * a published version in place). */
  private def resetBm25AppliedLog(spark: SparkSession, path: String,
                                  retainApplied: Seq[String]): Unit = {
    val lex = s"$path/lexicon"
    val live = resolve(lex)
    val appliedDir = Paths.get(live, "_applied")
    if (!Files.exists(appliedDir)) return
    val cur = spark.read.parquet(appliedDir.toString)
    val keepSet = retainApplied.toSet
    val rows = cur.collect()
    // pre-seq logs read back as one sig column; modern logs (seq, sig)
    val kept: Seq[org.apache.spark.sql.Row] =
      if (cur.columns.length == 1)
        rows.toSeq.filter(r => keepSet.contains(r.getString(0)))
          .map(r => org.apache.spark.sql.Row(0L, r.getString(0)))
      else rows.toSeq.filter(r => keepSet.contains(r.getString(1)))
    if (kept.length == rows.length && cur.columns.length == 2) return
    val stats = Paths.get(live, "_stats")
    // materialize the carried data before writing under the same root
    val data = spark.read.parquet(live).localCheckpoint(true)
    publishVersion(lex) { dir =>
      data.write.mode("overwrite").parquet(dir)
      if (Files.exists(stats)) copyRec(stats, Paths.get(dir, "_stats"))
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(kept).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("seq",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sig",
            org.apache.spark.sql.types.StringType))))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_applied")
    }
  }

  /** Compact one stored index in place — the maintenance verb a
    * deployment schedules beside its merges. `kind` picks the family's
    * layout (the same shuffle + within-partition sort its BUILD writes,
    * so a compacted table is indistinguishable from a freshly built one
    * to every query plan):
    *  - "ivf":         assignments re-partitioned by cell, one file per
    *                   cell dir (`cluster=N/` partition pruning intact);
    *  - "pq":          codes re-clustered by vec_id;
    *  - "bm25":        postings re-clustered by term, sorted
    *                   (term, doc_id) — term-pushdown row groups again;
    *  - "fingerprint": postings by fp sorted (fp, doc_id), sizes by
    *                   doc_id.
    *
    * Every layout also DEDUPS on the table's natural key. On a healthy
    * index that is a no-op (merges are key-disjoint by contract), but a
    * crash- or guard-replayed merge can append the same batch twice
    * (exact-duplicate rows — see [[guardedAppend]] and
    * DedupOps.mergeFingerprintIndex's atomicity note), and for the
    * IVF/PQ/BM25 read paths, which have no inline replay tolerance, a
    * duplicated vec would otherwise occupy two top-k slots forever.
    * Compaction is the scheduled verb that heals it: duplicates are
    * identical rows, so keeping any one of them is deterministic.
    * Returns true if any table was rewritten. */
  // The shared ANN-kind rewrite (ivf/pq/ivfpq differ only in scan
  // table, layout, and sidecar list): pending vec_id tombstones FORCE
  // the rewrite, the layout drops the tombstoned rows and heals replay
  // duplicates, the version-scoped control-plane sidecars carry into
  // the new version before its swap, and the served tombstones clear
  // after it.
  private def compactAnnTable(spark: SparkSession, path: String,
                              table: String,
                              layout: DataFrame => DataFrame,
                              partitionBy: Seq[String],
                              sidecars: Seq[String],
                              maxFilesPerPartition: Int): Boolean = {
    val tomb = pendingTombstones(spark, path, "vec_id")
    val live = sidecars.map(s => (Paths.get(resolve(table), s), s))
    val rewrote = compactTable(spark, table,
      df => layout(dropTombstoned(df, tomb, "vec_id")
        .dropDuplicates("vec_id")),
      partitionBy = partitionBy,
      maxFilesPerPartition = maxFilesPerPartition,
      force = tomb.isDefined,
      beforePublish = nextDir => live.foreach { case (src, name) =>
        if (Files.exists(src)) copyRec(src, Paths.get(nextDir, name))
      })
    clearServedTombstones(path, tomb,
      rewrote || filesPerPartition(table).isEmpty)
    rewrote
  }

  /** `retainApplied`: BM25-only — signatures of the caller's in-flight
    * (ledger-uncommitted) batch that the deletion-serving `_applied`
    * reset must carry through its version swap instead of wiping; see
    * [[resetBm25AppliedLog]]. Committed-batch callers (the scheduled
    * between-batches tick, direct maintenance) leave it empty. */
  /** Record a fold's absorbed batch tags into `nextDir/_absorbed`:
    * the currently-live dir's previous sidecar ∪ `cur` (the snapshot's
    * committed, non-"compacted" tags — None for pre-tag tables, which
    * have nothing to record; torn tags were NOT folded, so recording
    * them would skip their replay). ONE implementation for the vocab
    * and hll folds, so the absorbed-tag contract cannot drift. */
  private def recordAbsorbed(spark: SparkSession, liveDir: String,
                             nextDir: String,
                             cur: Option[DataFrame]): Unit = {
    val sideIn = Paths.get(liveDir, "_absorbed")
    val prev =
      if (Files.exists(sideIn)) Some(spark.read.parquet(sideIn.toString))
      else None
    val all = (prev, cur) match {
      case (Some(p), Some(c)) => Some(p.union(c).distinct())
      case (p, c) => p.orElse(c)
    }
    all.foreach(_.coalesce(1).write.mode("overwrite")
      .parquet(s"$nextDir/_absorbed"))
  }

  def compactIndex(spark: SparkSession, path: String, kind: String,
                   maxFilesPerPartition: Int = 8,
                   retainApplied: Seq[String] = Nil): Boolean =
    Lease.withLease(path, "compactIndex") { kind match {
    // The three ANN kinds share the fingerprint/ahash deletion
    // protocol, keyed by vec_id: pending tombstones FORCE the rewrite
    // (deletion has an SLA that file debt does not), the layout drops
    // the tombstoned vectors' rows (making the logical deletes
    // physical), and the served tombstones clear after the pointer
    // swap. The advisory side tables (meta distortion, merge_log drift)
    // are NOT adjusted — same posture as the fingerprint family's dfs.
    // One recipe, three layouts: a retrained/rebuilt index keeps its
    // control planes INSIDE the scan table's version dir
    // (SimilarityOps.retrainIvfIndex / rebuildPqIndex /
    // rebuildIvfPqIndex) — the rewrite must carry those sidecars into
    // the version it publishes, BEFORE the swap, or the post-compaction
    // reader would fall back to the stale build-time tables.
    case "ivf" =>
      compactAnnTable(spark, path, s"$path/assignments",
        _.repartition(col("cluster")).sortWithinPartitions("vec_id"),
        partitionBy = Seq("cluster"), sidecars = Seq("_centroids"),
        maxFilesPerPartition)
    case "pq" =>
      compactAnnTable(spark, path, s"$path/codes",
        _.repartition(col("vec_id")).sortWithinPartitions("vec_id"),
        partitionBy = Nil, sidecars = Seq("_codebooks"),
        maxFilesPerPartition)
    case "ivfpq" => // cluster-partitioned code table: the IVF recipe on codes
      compactAnnTable(spark, path, s"$path/codes",
        _.repartition(col("cluster")).sortWithinPartitions("vec_id"),
        partitionBy = Seq("cluster"),
        sidecars = Seq("_centroids", "_codebooks"),
        maxFilesPerPartition)
    case "vocab" => // distributive-aggregate re-sum: the one recipe whose
      // rewrite CHANGES row counts — per-batch partials collapse back
      // toward one row per word, which is sound exactly because the
      // aggregate is distributive (Σ of partial Σs = Σ). Retraction
      // (negative partials, TextOps.retractVocabIndex) nets out here:
      // fully-deleted words collapse to zero and are dropped; a word
      // netting NEGATIVE means a retraction that was never absorbed (or
      // absorbed with different text) — corrupt by contract, so fail
      // loudly instead of publishing it.
      // a pre-tag (no `bsig` column) table FORCES the rewrite like a
      // pending tombstone does: appending tagged rows into an untagged
      // dir would give files with diverging schemas (old rows reading
      // back null/dropped tags), so the upgrade must land before the
      // first tagged append — TextOps' appenders call this on sight.
      //
      // The fold and the `_absorbed` tag list MUST derive from the SAME
      // file listing ("snap", whose relation pins its files at read
      // time): if a batch append races this tick (a single-writer
      // violation guardedAppend backstops), files landing between two
      // separate listings could be recorded as absorbed without being
      // folded — the mandated replay would then be skipped and the
      // batch lost. From one snapshot, a file is either folded AND
      // recorded, or neither (the replay re-appends it and the dedup
      // heals) — never the fatal half.
      //
      // CALLER ORDERING: a crashed mid-append batch (only part of its
      // files visible) must be REPLAYED before this tick runs, or its
      // tag is recorded here from the partial rows and the replay is
      // then skipped — the batch's missing rows are lost silently. The
      // stream loop satisfies this structurally (replay happens at
      // restart, before any tick); direct-API callers own the ordering
      // — documented on TextOps.mergeVocabIndex/retractVocabIndex.
      val snapTry = scala.util.Try(
        spark.read.parquet(resolve(s"$path/counts")))
      // UNCOMMITTED (torn-append) tags are excluded from the fold and
      // passed through VERBATIM — their replay must still find live
      // rows to dedup against ([[commitTag]]); they fold on the first
      // tick after the replay commits them. Lazy: the distinct-bsig
      // scan runs only when the debt/force check lets the fold fire,
      // never on a no-op scheduled tick.
      lazy val vocabTorn = snapTry.toOption.toSeq
        .flatMap(s => tornTags(s"$path/counts", s))
      compactTable(spark, s"$path/counts",
        // replay-duplicate heal FIRST (the batch-tagged dedup every
        // view reader applies — TextOps.vocabPartials), then the
        // distributive re-sum; the compacted rows carry the reserved
        // "compacted" tag (at most one such row per word in any live
        // version, so later dedups never collapse legitimate rows)
        _ => {
          val tagged = taggedVocabRows(snapTry.get)
            .dropDuplicates("bsig", "word")
          val folded = committedOnly(tagged, vocabTorn)
            .groupBy("word")
            .agg(sum("tf").as("tf"), sum("df").as("df"))
            .withColumn("_ok",
              when(col("tf") >= 0L && col("df") >= 0L, lit(true))
                .otherwise(raise_error(concat(
                  lit("vocab view: word '"), col("word"),
                  lit("' netted negative counts — retraction without a " +
                    "matching absorb")))))
            .filter(col("_ok") && col("tf") > 0L).drop("_ok")
            .withColumn("bsig", lit("compacted"))
          (if (vocabTorn.isEmpty) folded
           else folded.unionByName(tornOnly(tagged, vocabTorn)
             .select("word", "tf", "df", "bsig")))
            .repartition(col("word")).sortWithinPartitions("word")
        },
        maxFilesPerPartition = maxFilesPerPartition,
        // the `_absorbed` sidecar accumulates every batch tag this
        // rewrite folds into the `compacted` aggregate: a batch whose
        // rows are gone can no longer heal its own replay through the
        // view's (bsig, word) dedup — the crashed-ledger window the
        // tags exist for — so the appenders (TextOps.mergeVocabIndex /
        // retractVocabIndex) consult this list and SKIP a replayed
        // append instead of double-adding. One string per batch ever
        // absorbed, rewritten per compaction tick: control-plane tiny
        // at any corpus scale (the batch rate, not the data rate).
        beforePublish = { nextDir =>
          val live = snapTry.get // the fold's own snapshot, never re-listed
          val cur =
            if (live.columns.contains("bsig"))
              Some(committedOnly(live.select("bsig")
                  .where(col("bsig") =!= "compacted"), vocabTorn)
                .distinct())
            else None
          recordAbsorbed(spark, resolve(s"$path/counts"), nextDir, cur)
        },
        force = snapTry.toOption
          .exists(!_.columns.contains("bsig"))) // empty table: no upgrade
    case "bm25" =>
      // deletion-aware like the fingerprint kind: tombstoned docs'
      // postings drop physically here (the lexicon/stats adjustments
      // already happened exactly at retract time — TextOps
      // .retractBm25Index — so the rewrite only has to serve the
      // posting rows), and the served tombstones clear after the swap
      val tomb = pendingTombstones(spark, path)
      val rewrote = compactTable(spark, s"$path/postings",
        df => dropTombstoned(df, tomb).dropDuplicates("term", "doc_id")
          .repartition(col("term")).sortWithinPartitions("term", "doc_id"),
        maxFilesPerPartition = maxFilesPerPartition,
        force = tomb.isDefined)
      val served = rewrote || filesPerPartition(s"$path/postings").isEmpty
      // the `_applied` replay-signature log (TextOps.publishBm25Side)
      // exists so a crashed-ledger batch's replay skips its second
      // exact-arithmetic apply; a re-insert of a deleted id is only
      // legal AFTER this tick (the merge clash guard forces it) and
      // must not be mistaken for the pre-deletion batch — reset the log
      // BEFORE the tombstones clear (a crash between the two leaves the
      // tombstones pending, so re-inserts stay blocked and the ordering
      // is safe); the in-flight batch's own signatures ride the swap
      if (tomb.isDefined && served)
        resetBm25AppliedLog(spark, path, retainApplied)
      clearServedTombstones(path, tomb, served)
      rewrote
    case "fingerprint" =>
      // pending tombstones force BOTH rewrites (deletion SLA) and the
      // layouts drop the tombstoned ids' rows; tombstones clear only
      // after both tables are SERVED — rewrote, or empty (a table with
      // zero live files holds nothing to screen; treating it as
      // unserved would leave tombstones pending forever and wedge
      // every future re-insert)
      val tomb = pendingTombstones(spark, path)
      def served(table: String, rewrote: Boolean): Boolean =
        rewrote || filesPerPartition(table).isEmpty
      val p = compactTable(spark, s"$path/postings",
        df => dropTombstoned(df, tomb).dropDuplicates("fp", "doc_id")
          .repartition(col("fp")).sortWithinPartitions("fp", "doc_id"),
        maxFilesPerPartition = maxFilesPerPartition,
        force = tomb.isDefined)
      val s = compactTable(spark, s"$path/sizes",
        df => dropTombstoned(df, tomb).dropDuplicates("doc_id")
          .repartition(col("doc_id")).sortWithinPartitions("doc_id"),
        maxFilesPerPartition = maxFilesPerPartition,
        force = tomb.isDefined)
      clearServedTombstones(path, tomb,
        served(s"$path/postings", p) && served(s"$path/sizes", s))
      p || s
    case "hll" => // sketch re-union: like `vocab`, the rewrite CHANGES
      // row counts — per-batch sketch partials collapse to one row per
      // group, sound because HLL union is associative and commutative
      // (union of unions = union).
      //
      // RETRACTABLE views (r17) carry an `exact` companion — per-(grp,
      // key) count partials under the vocab view's tag protocol — and
      // this kind services its whole deletion lifecycle:
      //  1. fold the exact partials (vocab-shape re-sum from ONE
      //     snapshot, `_absorbed` tags recorded from the same listing,
      //     fully-retracted pairs dropped, negative nets fail-loud); a
      //     pending `_retracted` marker FORCES the fold (deletion SLA);
      //  2. when the marker is pending, REBUILD the sketch table from
      //     the netted pairs — HLL union cannot subtract, so the exact
      //     table is the source of truth the sketches re-derive from —
      //     and clear the marker only after the rebuild's pointer swap
      //     (a crash between the two re-runs an idempotent rebuild).
      // Sketch-only views (no companion) keep the plain debt-triggered
      // collapse; their build-time contract stays "cannot retract".
      val exactT = s"$path/exact"
      val marker = Paths.get(s"$path/_retracted")
      val hasExact = Files.exists(Paths.get(exactT))
      val snapTryH = scala.util.Try(spark.read.parquet(resolve(exactT)))
      // torn (uncommitted) tags pass through the fold verbatim, exactly
      // as in `vocab` — see [[commitTag]]. Lazy for the same no-op-tick
      // reason; both the fold and the marker decision below share it.
      lazy val hllTorn =
        if (!hasExact) Nil
        else snapTryH.toOption.toSeq.flatMap(s => tornTags(exactT, s))
      val exactDone = if (hasExact) {
        compactTable(spark, exactT,
          _ => {
            val snap = snapTryH.get.dropDuplicates("bsig", "grp", "k")
            // the fold IS the read path's netted view ([[Stats
            // .nettedPairs]] — one definition for both files)
            val folded = Stats.nettedPairs(committedOnly(snap, hllTorn))
              .withColumn("bsig", lit("compacted"))
            (if (hllTorn.isEmpty) folded
             else folded.unionByName(tornOnly(snap, hllTorn)
               .select("grp", "k", "cnt", "bsig")))
              .repartition(col("grp")).sortWithinPartitions("grp", "k")
          },
          maxFilesPerPartition = maxFilesPerPartition,
          // same snapshot discipline as `vocab`: fold and tag list from
          // ONE listing, and torn tags are neither folded nor recorded
          beforePublish = { nextDir =>
            val live = snapTryH.get
            val cur = Some(committedOnly(live.select("bsig")
                .where(col("bsig") =!= "compacted"), hllTorn)
              .distinct())
            recordAbsorbed(spark, resolve(exactT), nextDir, cur)
          },
          force = Files.exists(marker))
      } else false
      val sketchDone =
        if (hasExact && Files.exists(marker)) {
          // the rebuild nets COMMITTED pairs only, mirroring the exact
          // fold: a torn retraction's partials must not bake into the
          // sketch — its replay re-writes the marker and the tick after
          // the replay commits rebuilds with it
          val net = Stats.nettedPairs(
            committedOnly(spark.read.parquet(resolve(exactT)), hllTorn))
          val r = compactTable(spark, s"$path/sketches",
            _ => net.groupBy("grp")
              .agg(hll_sketch_agg(col("k")).as("sketch"))
              .repartition(col("grp")).sortWithinPartitions("grp"),
            maxFilesPerPartition = maxFilesPerPartition, force = true)
          // the marker is the rebuild's debt note — clear it only when
          // the rebuild actually PUBLISHED (compactTable no-ops on a
          // sketches dir with no data files even under force; clearing
          // then would silently forget an owed rebuild and the HLL read
          // would over-count until some later retraction re-marked it)
          // AND no torn tag is live: a torn retraction's rows were
          // excluded from this rebuild, so its rebuild is still owed —
          // keeping the marker keeps `queryDistinctView`'s stale flag
          // TRUE through the crash-to-replay window (a conservative
          // false-stale for a torn merge costs one extra rebuild; a
          // false-fresh over-count is the failure the flag exists for).
          // The one no-rebuild case that owes nothing: the exact
          // companion itself has no live files, so there is no netted
          // state for any future rebuild to serve.
          if ((r || filesPerPartition(exactT).isEmpty) && hllTorn.isEmpty)
            Files.deleteIfExists(marker)
          r
        } else compactTable(spark, s"$path/sketches",
          df => df.groupBy("grp")
            .agg(hll_union_agg(col("sketch")).as("sketch"))
            .repartition(col("grp")).sortWithinPartitions("grp"),
          maxFilesPerPartition = maxFilesPerPartition)
      exactDone || sketchDone
    case "ahash" => // banded 64-bit-signature index: the rewrite drops
      // the exact-duplicate band rows replayed merges can leave (the
      // natural key IS the whole row), drops TOMBSTONED rows (making
      // the logical deletes physical), and re-clusters by bucket.
      // Pending tombstones FORCE the rewrite (threshold 0): deletion
      // has an SLA that file debt does not. Clearing the served
      // tombstones after the pointer swap is crash-safe: if the clear
      // is lost, the tombstones re-apply against rows that no longer
      // exist — a no-op — and the single-writer schedule means no new
      // tombstone can land between the rewrite and the clear.
      val tomb = pendingTombstones(spark, path)
      val rewrote = compactTable(spark, s"$path/bands",
        df => dropTombstoned(df, tomb)
          .dropDuplicates("band", "bv", "doc_id")
          .repartition(col("band"), col("bv"))
          .sortWithinPartitions("band", "bv", "doc_id"),
        maxFilesPerPartition = maxFilesPerPartition,
        force = tomb.isDefined)
      clearServedTombstones(path, tomb,
        rewrote || filesPerPartition(s"$path/bands").isEmpty)
      rewrote
    case other =>
      throw new IllegalArgumentException(
        s"compactIndex: unknown index kind '$other' " +
          "(expected ivf | pq | ivfpq | vocab | bm25 | fingerprint | hll | ahash)")
  } }

  /** The one tombstone WRITE verb every stored-index family shares —
    * deletion as an LSM-style APPEND of key rows (O(|ids|), previously
    * written files untouched, a writer verb under the same single-writer
    * schedule as merges): the probes screen against the set immediately
    * ([[pendingTombstones]]), the family's compaction makes the
    * deletion physical and clears the served set. `ids`'s FIRST column
    * carries the keys; `keyCol` names the index's key (`doc_id` for the
    * text/image families, `vec_id` for the ANN families) so the readers
    * join on the right column. */
  def appendTombstones(ids: DataFrame, path: String,
                       keyCol: String = "doc_id"): Unit =
    guardedAppend(s"$path/tombstones") { live =>
      ids.select(col(ids.columns.head).cast("long").as(keyCol))
        .coalesce(1).write.mode("append").parquet(live)
    }

  /** The pending tombstone set of the index at `path`, if any — one
    * shared reader for every family's compaction and for callers
    * deciding whether a deletion still needs serving. `keyCol` must
    * match the name the family's [[appendTombstones]] writes. */
  def pendingTombstones(spark: SparkSession, path: String,
                        keyCol: String = "doc_id"): Option[DataFrame] = {
    val dir = s"$path/tombstones"
    if (!Files.exists(Paths.get(dir))) None
    else Some(spark.read.parquet(resolve(dir))
      .select(col(keyCol)).distinct())
  }

  /** Fail-loud re-insert guard shared by every stored-index merge: a
    * tombstoned key must stay GONE until the family's maintenance tick
    * serves the deletion physically — merging it back early would let
    * the standing tombstone silently re-screen the fresh rows. The
    * probe is one size-guarded semi-join against the pending set
    * ([[graft.engine.Skew.maybeBroadcast]] — a mass purge falls back to
    * planner strategy). One definition so a protocol fix lands once;
    * `verb` names the caller in the error. */
  def requireNoTombClash(rows: DataFrame, path: String, keyCol: String,
                         verb: String): Unit =
    pendingTombstones(rows.sparkSession, path, keyCol).foreach { t =>
      val clash = rows.select(col(keyCol))
        .join(Skew.maybeBroadcast(t), Seq(keyCol), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"$verb: batch re-inserts tombstoned ${keyCol}s at $path — run " +
          "the index maintenance tick (physical deletion) before " +
          "re-inserting a deleted id")
    }

  private def dropTombstoned(df: DataFrame, tomb: Option[DataFrame],
                             keyCol: String = "doc_id"): DataFrame =
    tomb match {
      // size-guarded (Skew.maybeBroadcast): steady-state tombstone sets
      // broadcast, but a mass purge (delete a whole source in one
      // batch) can exceed the broadcast threshold — the rewrite then
      // falls back to a shuffle anti-join instead of a driver OOM
      case Some(t) =>
        df.join(Skew.maybeBroadcast(t), Seq(keyCol), "left_anti")
      case None => df
    }

  /** The shared tombstone epilogue of a deletion-aware compaction kind:
    * clear the served tombstones once every rewritten table has either
    * been rewritten or holds nothing to screen (a table with zero live
    * files; treating it as unserved would leave tombstones pending
    * forever and wedge every future re-insert). Crash-safe: a lost
    * clear re-applies the tombstones against rows that no longer exist
    * — a no-op — and the single-writer schedule means no new tombstone
    * lands between the rewrite and the clear. */
  private def clearServedTombstones(path: String, tomb: Option[DataFrame],
                                    served: Boolean): Unit =
    if (tomb.isDefined && served)
      deleteRec(Paths.get(s"$path/tombstones"))

  /** One scheduled-maintenance tick for any stored-index family:
    * vacuum first (reclaims versions superseded by the PREVIOUS tick —
    * at least one full maintenance window old, so readers planned
    * against them have finished), then a debt-triggered compact.
    * MUST run under the single-writer discipline (no merge in flight on
    * `path`) — from a stream's own foreachBatch between batches (see
    * CdcStream.maintainStreamedIndex, which adds the idempotency
    * ledger to this verb) or with writers quiesced. Returns true if the
    * compact rewrote anything. */
  def maintainIndex(spark: SparkSession, path: String, kind: String,
                    maxFilesPerPartition: Int = 8,
                    retainApplied: Seq[String] = Nil): Boolean = {
    vacuumIndex(path, kind)
    val logCollapsed = kind match {
      // IVF/PQ merges append one tiny drift row (file) per absorbed
      // batch; without this the streamed absorb re-accumulates exactly
      // the unbounded small-file debt the tick exists to bound
      case "ivf" | "pq" | "ivfpq" =>
        // the drift signal is distributive — sum(n) and the n-weighted
        // mean — so the collapse reduces the per-merge rows to ONE
        // partial instead of only coalescing files: the log stays O(1)
        // rows on a long-running stream, and shouldRetrain recovers the
        // identical weighted mean from the single partial
        def collapseDriftLog(dir: String): Boolean =
          collapseSidecar(spark, dir, maxFilesPerPartition,
            df => df.agg(
              sum("n").cast("long").as("n"),
              (sum(col("mean_d2") * col("n").cast("double")) /
                sum(col("n").cast("double"))).as("mean_d2"))
              .filter(col("n").isNotNull))
        val mergeLog = collapseDriftLog(s"$path/merge_log")
        // the composite's coarse-cell drift ledger (same shape, own
        // dir — shouldRetrainIvfPq's second signal); absent on ivf/pq
        // and pre-r17 ivfpq indexes, where the collapse no-ops
        val cellLog = kind == "ivfpq" && collapseDriftLog(s"$path/cell_log")
        mergeLog || cellLog
      case _ => false
    }
    compactIndex(spark, path, kind, maxFilesPerPartition,
      retainApplied) || logCollapsed
  }

  /** Collapse a tiny append-per-merge sidecar (the IVF/PQ `merge_log`:
    * one ~1-row file per absorbed batch) back to a single file once it
    * holds more than `maxFiles` data files. The sidecar is UNVERSIONED
    * (advisory drift rows — the same posture as the fingerprint
    * family's dfs table), so this must only run under the tick's
    * single-writer discipline. The rewrite lands in a sibling temp dir
    * first (so it never reads the path it replaces), then the live dir
    * is deleted and the temp renamed into place. `tmp/_SUCCESS` marks a
    * complete rewrite: from that point the temp dir is authoritative,
    * so recovery replaces whatever remains of the live dir with it —
    * including a PARTIALLY deleted live dir, which must never win over
    * the full copy. A temp dir without `_SUCCESS` is an interrupted
    * write and is discarded — UNLESS the live dir is already gone, in
    * which case the temp dir is the only copy left and is adopted
    * (that state is unreachable under this writer, which verifies the
    * marker before touching live, but must not be answered by deleting
    * the sole survivor). The writer fails loudly after the rewrite if
    * the committer was configured to skip `_SUCCESS`
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`) —
    * proceeding to delete live would open exactly that unrecoverable
    * window. In the crash window `shouldRetrain`/`shouldRetrainPq` may
    * see a missing log and report "no drift" — an advisory signal
    * outage of one maintenance interval, not data loss.
    *
    * Fresh-rows window, CLOSED at the writer: the r14 shape lost drift
    * rows a restarted stream appended to the live dir between a crash
    * mid-collapse and the next tick's recovery (recovery replaces live
    * with the pre-crash snapshot; a union could not distinguish "fresh
    * append" from "pre-crash row also in tmp" in a PARTIALLY deleted
    * live dir, so it would double-count). The fix is ordering, not
    * unioning: every sidecar writer appends through [[sidecarAppend]],
    * which COMPLETES any pending recovery first — fresh rows therefore
    * always land in a recovered live dir, and by the time the tick's
    * recovery runs, anything it finds in live beside a marked tmp is by
    * construction pre-crash residue, safe to replace. */
  private def collapseSidecar(spark: SparkSession, dir: String,
                              maxFiles: Int,
                              collapse: DataFrame => DataFrame =
                                identity): Boolean = {
    val live = Paths.get(dir)
    recoverSidecar(dir)
    if (!Files.exists(live)) return false
    if (filesPerPartition(dir).values.sum <= maxFiles) return false
    val tmp = Paths.get(dir + "._collapse")
    collapse(spark.read.parquet(dir)).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    // the recovery protocol keys off tmp/_SUCCESS: if the committer was
    // configured to skip the marker, deleting live now would leave a
    // crash window with NO authoritative copy — refuse instead
    if (!Files.exists(tmp.resolve("_SUCCESS"))) {
      deleteRec(tmp)
      throw new IllegalStateException(
        s"collapseSidecar: rewrite of $dir produced no _SUCCESS marker " +
          "(committer configured with marksuccessfuljobs=false?) — " +
          "aborting before deleting the live sidecar")
    }
    deleteRec(live)
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    true
  }

  /** Complete any pending sidecar-collapse recovery on `dir` — the
    * crash-recovery head of [[collapseSidecar]], factored out so every
    * sidecar TOUCH (the tick's collapse, a stream's drift append, an
    * advisory read) runs it first. A completed rewrite
    * (`tmp/_SUCCESS` present) is the one full copy — live may be whole,
    * partial, or gone, and is replaced; a marker-less tmp is adopted
    * only when live is gone (sole survivor), discarded otherwise.
    * Idempotent and cheap (two existence probes) when there is nothing
    * to recover. Same single-writer discipline as every Compaction
    * verb. */
  def recoverSidecar(dir: String): Unit = {
    val live = Paths.get(dir)
    val tmp = Paths.get(dir + "._collapse")
    if (Files.exists(tmp.resolve("_SUCCESS"))) {
      if (Files.exists(live)) deleteRec(live)
      Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    } else if (Files.exists(tmp) && !Files.exists(live)) {
      // no marker but live is gone: tmp is the only copy — adopt it
      Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    } else if (Files.exists(tmp)) {
      deleteRec(tmp) // orphan of an interrupted write; live is complete
    }
  }

  /** The authoritative data dir of a sidecar WITHOUT mutating anything:
    * a marked-complete `._collapse` tmp is authoritative (the crash
    * window's one full copy), else the live dir if present. Pure — the
    * read-side companion to [[recoverSidecar]] for advisory readers
    * (retrain signals, monitors) that must NOT join the single-writer
    * protocol: a reader that ran recovery could delete a collapse's
    * in-flight tmp dir out from under the maintenance tick. Returns
    * None when neither copy exists. */
  def sidecarReadPath(dir: String): Option[String] = {
    val tmp = dir + "._collapse"
    if (Files.exists(Paths.get(tmp, "_SUCCESS"))) Some(tmp)
    else if (Files.exists(Paths.get(dir))) Some(dir)
    else None
  }

  /** Append to an UNVERSIONED advisory sidecar (the IVF/PQ `merge_log`),
    * recovery-first: completing any pending collapse recovery BEFORE
    * the append is what closes the fresh-rows loss window
    * ([[collapseSidecar]]'s doc) — a row appended here can never land
    * in a live dir that a later recovery will discard, because the
    * recovery that would have discarded it has already run. `body`
    * receives the recovered dir path. */
  def sidecarAppend[T](dir: String)(body: String => T): T = {
    recoverSidecar(dir)
    body(dir)
  }

  /** [[vacuum]] over every table [[compactIndex]] maintains for `kind` —
    * the second half of the maintenance schedule, run one reader window
    * after the compaction that superseded the data. */
  def vacuumIndex(path: String, kind: String): Seq[String] = (kind match {
    case "ivf"         => Seq(s"$path/assignments")
    case "pq" | "ivfpq" => Seq(s"$path/codes")
    case "vocab"       => Seq(s"$path/counts")
    // the lexicon versions too: every merge/retraction republishes the
    // side tables as a new lexicon version (publishBm25Side), so a
    // long-running stream accretes one superseded version dir per batch
    case "bm25"        => Seq(s"$path/postings", s"$path/lexicon")
    case "fingerprint" =>
      // dfs rides the versioned pointer swap as of the atomic merge
      // rewrite — reap its superseded versions with the data tables
      Seq(s"$path/postings", s"$path/sizes", s"$path/dfs")
    // the exact companion's superseded versions too (a never-built
    // companion has no pointer — vacuum no-ops)
    case "hll"         => Seq(s"$path/sketches", s"$path/exact")
    case "ahash"       => Seq(s"$path/bands")
    case other =>
      throw new IllegalArgumentException(
        s"vacuumIndex: unknown index kind '$other' " +
          "(expected ivf | pq | ivfpq | vocab | bm25 | fingerprint | hll | ahash)")
  }).flatMap(vacuum)
}
