package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.tools.InternalCaches

/** The commit protocol of the tombstoned, swapped stored indexes —
  * near-dup ([[Dedup]]), semantic and IVF-PQ ([[Similarity]]), and the
  * stored LM ([[LanguageModel]]). A family supplies constants and its
  * data work; everything that decides what survives a crash, and which
  * memoized frames survive a commit, lives here.
  *
  * Layout under a store root:
  *   - one directory per table; `tables` are the ones appends grow and
  *     a compaction rewrites, each swapped tmp → old → live on its own;
  *   - `frozen` artifacts (hot list, centroids, codebook) are written
  *     only by a build or a rebuild;
  *   - `deletes/` holds takedown tombstones keyed by `tombstoneKey`
  *     (absent for stores without a tombstone table);
  *   - `_batch_commits/b<id>` are the exactly-once append markers.
  *
  * Crash rules, one per verb:
  *   - every entry heals first ([[enter]]): a crashed whole-store swap,
  *     then every table's swap, each completed by one rename;
  *   - [[appendOnce]] writes its marker AFTER the data — a crash between
  *     the two makes the redelivery double-append, which the next
  *     compaction's rewrite repairs; marker-first would lose the batch;
  *   - [[rewrite]], the compaction, stages every table before swapping
  *     any, and clears tombstones only after the LAST swap (a crash
  *     between leaves them anti-joining already-absent keys — a no-op);
  *   - [[rebuild]] builds a complete store beside the live one and swaps
  *     the root as one unit, moving the markers with it.
  *
  * Invalidation is one rule ([[InternalCaches.releaseByPath]]): a commit
  * releases the memoized frames that read any table it wrote, and a
  * tombstone commit also releases the frames reading the tables its
  * tombstones filter — a frame memoized before the FIRST takedown has no
  * tombstone path in its file snapshot, so releasing `deletes/` alone
  * could never reach it. Frozen artifacts are released only by a build
  * or a rebuild, so batch-side frames keyed on them stay warm.
  *
  * Everything here is driver-side control plane apart from the
  * tombstone write; single writer per store, as every verb documents.
  */
private[graft] final case class StoreLifecycle(
    tables: Seq[String],
    tombstoneKey: Option[String] = None,
    frozen: Seq[String] = Nil,
    guard: (SparkSession, String) => Unit = (_, _) => ()) {
  require(tables.nonEmpty && tables.forall(t => !frozen.contains(t)),
    s"a store needs tables, none of them frozen: $tables / $frozen")

  import StoreLifecycle._

  /** Heal, then the family's guard (the near-dup format gate). Every
    * verb that reads or writes the stored tables calls this first. */
  def enter(spark: SparkSession, root: String): Unit = {
    heal(spark, root)
    guard(spark, root)
  }

  private def heal(spark: SparkSession, root: String): Unit = {
    IndexFs.recoverSwap(spark, root)
    tables.foreach(t => IndexFs.recoverSwap(spark, s"$root/$t"))
  }

  /** `df` with the store's tombstones anti-joined out (merge-on-read).
    * The tombstone table is request-sized and broadcasts. */
  def live(spark: SparkSession, root: String, df: DataFrame): DataFrame = {
    val del = s"$root/$Tombstones"
    tombstoneKey match {
      case Some(k) if IndexFs.exists(spark, del) =>
        df.join(broadcast(spark.read.parquet(del).distinct()), Seq(k), "left_anti")
      case _ => df
    }
  }

  /** A build commit: `write` lays down every table and frozen artifact
    * under `root`; frames reading any of them are released. */
  def build(spark: SparkSession, root: String)(write: => Unit): Unit = {
    write
    release(spark, root, tables ++ frozen)
  }

  /** An in-place commit that grows the tables (append, or the LM's
    * negated-count takedown). Heals first: `mode("append")` into a
    * missing live table would mint a batch-only table and fork the
    * store away from its staged copy. Returns what `write` returns. */
  def append[T](spark: SparkSession, root: String)(write: => T): T = {
    enter(spark, root)
    val out = write
    release(spark, root, tables)
    out
  }

  /** [[append]] at most once per `batchId` under at-least-once delivery.
    * The root heals before the marker probe (the markers live inside the
    * swapped root). Returns whether the append ran. */
  def appendOnce(spark: SparkSession, root: String, batchId: Long)(
      write: => Unit): Boolean = {
    heal(spark, root)
    val marker = s"$root/$Markers/b$batchId"
    if (IndexFs.exists(spark, marker)) false
    else {
      write
      IndexFs.touch(spark, marker)
      true
    }
  }

  /** Takedown: the non-null distinct keys land as one tombstone file
    * (set semantics — a replay is a no-op). */
  def tombstone(spark: SparkSession, root: String, keys: DataFrame): Unit = {
    val k = tombstoneKey.getOrElse(
      throw new IllegalStateException(s"store at $root has no tombstone table"))
    enter(spark, root)
    keys.select(col(k)).filter(col(k).isNotNull).distinct()
      .repartition(1).write.mode("append").parquet(s"$root/$Tombstones")
    release(spark, root, Tombstones +: tables)
  }

  /** Per-table compaction. `compacted(staged)` writes each table's
    * compacted copy to `staged(table)`, reading the live tables
    * (tombstones applied); every copy completes before the first swap. */
  def rewrite(spark: SparkSession, root: String)(
      compacted: (String => String) => Unit): Unit = {
    enter(spark, root)
    compacted(t => staging(s"$root/$t"))
    tables.foreach(t => IndexFs.swapCompact(spark, s"$root/$t"))
    IndexFs.delete(spark, s"$root/$Tombstones")
    release(spark, root, tables :+ Tombstones)
  }

  /** Whole-store rebuild: `write(staged)` writes a complete store at
    * `staged`, which swaps in as one unit — tables and frozen artifacts
    * change together, and the swapped-in store starts without
    * tombstones. No guard: a rebuild is the remedy for a store the guard
    * rejects. Markers move file by file ([[moveMarkers]]): back from a
    * crashed predecessor's staging before it is cleared, forward just
    * before the swap. */
  def rebuild(spark: SparkSession, root: String)(write: String => Unit): Unit = {
    heal(spark, root)
    val tmp = staging(root)
    moveMarkers(spark, s"$tmp/$Markers", s"$root/$Markers")
    IndexFs.delete(spark, tmp)
    write(tmp)
    moveMarkers(spark, s"$root/$Markers", s"$tmp/$Markers")
    IndexFs.swapCompact(spark, root)
    InternalCaches.releaseByPath(spark, root)
  }

  private def release(spark: SparkSession, root: String, names: Seq[String]): Unit =
    names.foreach(n => InternalCaches.releaseByPath(spark, s"$root/$n"))
}

private[graft] object StoreLifecycle {

  private val Tombstones = "deletes"
  private val Markers = "_batch_commits"

  /** Where a table (or a whole root) is staged before its swap. */
  private def staging(dir: String): String = s"$dir.compact"

  /** Move the zero-byte markers under `fromDir` into `toDir` file by
    * file, then drop `fromDir`. A marker on both sides collapses to one
    * (its content is its existence); any other failed rename throws.
    * No-op when `fromDir` is absent.
    *
    * A bare directory rename degrades committed batches to
    * at-least-once both ways: a stale staged `_batch_commits` left by a
    * crashed rebuild makes Hadoop `rename` return false (destination
    * exists) and the swap then promotes the stale set over the newer
    * live one; and a rebuild re-run that clears the staging without
    * first moving its markers back deletes the only copy of every batch
    * committed before the crash.
    */
  private def moveMarkers(spark: SparkSession, fromDir: String, toDir: String): Unit = {
    val f = IndexFs.fs(spark, fromDir)
    val from = new Path(fromDir)
    if (f.exists(from)) {
      val to = new Path(toDir)
      f.mkdirs(to)
      f.listStatus(from).foreach { st =>
        val dst = new Path(to, st.getPath.getName)
        if (f.exists(dst)) f.delete(st.getPath, false)
        else if (!f.rename(st.getPath, dst))
          throw new IllegalStateException(s"marker move failed: ${st.getPath} -> $dst")
      }
      f.delete(from, true)
    }
  }
}
