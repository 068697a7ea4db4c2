package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Scd2, SnapshotStore}

/** A wrong answer. The run reports no metric when one is raised. */
final class GateFailure(msg: String) extends RuntimeException(msg)

/** The correctness gates every run passes before it reports a number. */
object Gates {

  private def fail(msg: String): Nothing = throw new GateFailure(msg)

  /** Order-independent fingerprint of a frame: (row count,
    * bit_xor of xxhash64 over every column). An empty frame reads (0, 0). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.toIndexedSeq.map(c => s"`$c`").mkString(", ")
    val r = df.selectExpr("count(1)", s"bit_xor(xxhash64($cols))").head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Current rows of `dim` must equal those of `reference` on every
    * column except `version_no` and `cdc_operation`: both count how many
    * batches a key's history arrived in, so they differ between a
    * per-batch load and a one-shot merge without either being wrong. */
  def sameCurrentRows(dim: DataFrame, reference: DataFrame,
                      what: String): Unit = {
    val cols = dim.columns.sorted.toSeq
      .filterNot(c => c == "version_no" || c == "cdc_operation")
    val missing = cols.filterNot(reference.columns.contains)
    if (missing.nonEmpty)
      fail(s"$what: reference lacks columns ${missing.mkString(", ")}")
    val a = Scd2.current(dim).select(cols.map(col): _*)
    val b = Scd2.current(reference).select(cols.map(col): _*)
    val (fa, fb) = (fingerprint(a), fingerprint(b))
    if (fa != fb) {
      val extra = a.exceptAll(b).limit(1).collect().headOption
      val lost = b.exceptAll(a).limit(1).collect().headOption
      fail(s"$what: current rows differ from the one-shot Scd2.merge " +
        s"(count, xor) $fa vs $fb; first row only in the load: " +
        s"${extra.getOrElse("-")}; first row only in the reference: " +
        s"${lost.getOrElse("-")}")
    }
  }

  /** No key has two current rows, and no two versions of a key have
    * overlapping `[valid_from, valid_to)` intervals. */
  def scd2Invariants(dim: DataFrame, key: String, what: String): Unit = {
    val dups = Scd2.duplicateCurrentKeys(dim, key).limit(5).collect()
    if (dups.nonEmpty)
      fail(s"$what: keys with more than one current row: ${dups.mkString(", ")}")
    val w = Window.partitionBy(col(key)).orderBy(col("valid_from"), col("version_no"))
    val overlaps = dim
      .withColumn("_prev_to", lag(col("valid_to"), 1).over(w))
      .withColumn("_prev_open", lag(col("valid_to").isNull, 1).over(w))
      .filter(col("_prev_open") ||
        col("_prev_to") > col("valid_from") ||
        (col("valid_to").isNotNull && col("valid_to") < col("valid_from")))
      .select(key, "valid_from", "valid_to", "version_no")
      .limit(5).collect()
    if (overlaps.nonEmpty)
      fail(s"$what: overlapping validity intervals at ${overlaps.mkString(", ")}")
  }

  /** Replaying the load must apply nothing: discovery finds no file and
    * the store's version does not move. */
  def replayNoOp(store: SnapshotStore, versionBefore: Option[Long],
                 discovered: Long, what: String): Unit = {
    if (discovered != 0)
      fail(s"$what: replay discovered $discovered files, expected 0")
    val after = store.currentVersion()
    if (after != versionBefore)
      fail(s"$what: replay moved the store from version $versionBefore to $after")
  }

  /** Every repetition of a query must give the answer its first run gave. */
  def repeatable(name: String, first: (Long, Long), again: (Long, Long)): Unit =
    if (first != again)
      fail(s"history query $name answered (count, xor) $again, " +
        s"but its first run answered $first")
}
