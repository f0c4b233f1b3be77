package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem plumbing shared by the stored-index lifecycles
  * ([[StoreLifecycle]], the gram index, the session store): markers,
  * small control files and the checked tmp → old → live swap, all
  * through the Hadoop [[FileSystem]] API so the same code runs against
  * `file:`, `hdfs:`, or `s3a:` index directories. The round-13 `*Once`
  * appends proved their exactly-once semantics with `java.io.File`
  * markers — correct on a laptop, and
  * silently broken the moment `indexDir` is an HDFS/S3 URI (the marker
  * lands on one node's local disk, `exists()` is always false, and
  * every redelivered batch double-appends). This object is the fix:
  * resolve every control-plane path through the directory's own
  * filesystem, exactly like the parquet/sidecar I/O beside it.
  *
  * Everything here is driver-side control-plane: one RPC per call,
  * never a Spark job.
  */
object IndexFs {

  /** The filesystem owning `path` (scheme-resolved: file/hdfs/s3a/...). */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hash-partition `df` by `c` at the session's configured shuffle
    * partition count, EXPLICITLY. The bare `repartition(col)` leaves
    * the count to AQE, whose byte-based coalescing is blind to
    * `partitionBy` DIRECTORY fanout: a byte-small frame coalesces to
    * one task, which then commits every partition directory
    * SEQUENTIALLY — measured 20.4 s → 5.3 s on the 1024-cell
    * production-stamp semantic build once the explicit count restores
    * the parallel commit (and ~1.4× even at 10× data; HEADROOM round
    * 18). Each key still hashes to exactly one partition, so the
    * one-file-per-directory-per-write layout every screen's
    * partition pruning depends on is unchanged — only commit
    * parallelism is. `maxKeys` caps the count at the caller's known
    * key fanout (bucket count, centroid cap): more tasks than keys
    * buys nothing — several write only empty output — and the first
    * full-surface bench after the un-capped version showed exactly
    * that as +0.5–1 s on every small-fanout index entry (16 forged
    * centroids shuffled across 32 tasks), while the capped form keeps
    * the 1024-dir production write at full session parallelism.
    */
  def keyPartitioned(df: org.apache.spark.sql.DataFrame,
      c: org.apache.spark.sql.Column, maxKeys: Long): org.apache.spark.sql.DataFrame =
    df.repartition(math.min(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toLong,
      math.max(1L, maxKeys)).toInt, c)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Create a zero-byte marker file, parents included. The marker's
    * content is its existence; overwrite is fine (a re-touch of a
    * marker that already exists changes nothing observable).
    */
  def touch(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val f = fs(spark, path)
    f.mkdirs(p.getParent)
    f.create(p, true).close()
  }

  /** Complete a compaction swap that crashed between `rename(live, old)`
    * and `rename(live.compact, live)` — the one window in the
    * tmp → old → live discipline where no live directory exists. The
    * signature of that crash is unambiguous (live missing, a complete
    * `.compact` copy present), so recovery is one rename. Called at the
    * top of every lifecycle entry point that reads or appends a swapped
    * table: a reader after the crash self-heals instead of failing on
    * the missing path, and an APPEND after the crash must heal first or
    * its `mode("append")` write would mint a fresh table containing
    * only the batch — forking the index away from the orphaned
    * `.compact` copy. Returns whether a recovery ran. A stale `.old`
    * left by the same crash is harmless and is deleted by the next
    * swap's first step.
    */
  def recoverSwap(spark: SparkSession, liveDir: String): Boolean = {
    val f = fs(spark, liveDir)
    val live = new Path(liveDir)
    val compact = new Path(liveDir + ".compact")
    if (!f.exists(live) && f.exists(compact)) f.rename(compact, live)
    else false
  }

  /** Recursive delete; no-op when the path is absent. */
  def delete(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(new Path(path), true)

  /** Rename that THROWS on failure (Hadoop `rename` returns false
    * silently — on a commit path that silence is state corruption, not
    * an option). Callers must have cleared the destination: on the
    * local filesystem a rename ONTO an existing directory would move
    * the source INSIDE it instead of replacing it.
    */
  def renameOrFail(spark: SparkSession, from: String, to: String,
      what: String): Unit =
    require(fs(spark, from).rename(new Path(from), new Path(to)),
      s"$what: rename $from -> $to failed")

  /** Child names of `dir` (not paths); empty when the dir is absent. */
  def listNames(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Read a small control-plane file as UTF-8, None when absent. */
  def readSmall(spark: SparkSession, path: String): Option[String] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Write a small control-plane file (UTF-8, overwrite, parents made). */
  def writeSmall(spark: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val f = fs(spark, path)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Recursive COPY of a small control-plane directory; no-op when the
    * source is absent. Copy, not move, is the crash-safe transport for
    * state that must survive a tmp → old → live swap (the gram index's
    * pending-takedown ledger): a move would leave the live directory
    * without the state during the build window, and a retry after a
    * crash there rewrites tmp wholesale (`mode("overwrite")`) —
    * deleting the only copy. With a copy the live original stays in
    * place until the swap demotes it, and the promoted directory
    * carries the duplicate.
    */
  def copyDir(spark: SparkSession, from: String, to: String): Unit = {
    val f = fs(spark, from)
    val src = new Path(from)
    if (f.exists(src))
      require(org.apache.hadoop.fs.FileUtil.copy(f, src, fs(spark, to),
        new Path(to), false, spark.sparkContext.hadoopConfiguration),
        s"copy $from -> $to failed")
  }

  /** The compaction swap: demote live to `.old`, promote `.compact` to
    * live, drop `.old`. Every step leaves a complete copy of the table
    * on disk; the only step with no LIVE path is the window
    * [[recoverSwap]] repairs, so "crash anywhere, re-run (or just read)
    * to finish" is the real guarantee. Callers must have finished
    * writing `liveDir.compact` before calling.
    *
    * Checked: a missing `.compact` throws BEFORE the demote, and both
    * renames throw on failure. Unchecked, a swap with nothing staged
    * demoted live to `.old` and then failed the promote (the local
    * filesystem throws, HDFS returns false) — leaving the table only in
    * `.old`, a state [[recoverSwap]] cannot see and the next swap's
    * opening delete destroys.
    */
  def swapCompact(spark: SparkSession, liveDir: String): Unit = {
    demote(spark, liveDir)
    promote(spark, liveDir)
    delete(spark, liveDir + ".old")
  }

  /** First half of a swap: clear a stale `.old`, then demote live
    * (absent live = the [[recoverSwap]] window; the promote finishes it). */
  private def demote(spark: SparkSession, liveDir: String): Unit = {
    val f = fs(spark, liveDir)
    require(f.exists(new Path(liveDir + ".compact")),
      s"swap $liveDir: no staged .compact copy — the live table stays in place")
    f.delete(new Path(liveDir + ".old"), true)
    if (f.exists(new Path(liveDir)))
      renameOrFail(spark, liveDir, liveDir + ".old", "swap demote")
  }

  private def promote(spark: SparkSession, liveDir: String): Unit =
    renameOrFail(spark, liveDir + ".compact", liveDir, "swap promote")

  /** Copy the flat files under `fromDir` whose names are neither in
    * `knownNames` nor already present under `toDir` — the RESCUE half
    * of [[swapCompactRescue]]. Copy (never move): the source is about
    * to be deleted wholesale by the caller, and a crash mid-rescue must
    * leave every file readable somewhere ([[recoverSwap]] cannot see
    * inside a half-moved control dir). Skipping names that already
    * exist at the destination makes a crashed-then-retried rescue
    * idempotent. No-op when `fromDir` is absent.
    */
  def copyNewFiles(spark: SparkSession, fromDir: String, toDir: String,
      knownNames: Set[String]): Unit = {
    val f = fs(spark, fromDir)
    val src = new Path(fromDir)
    if (f.exists(src)) {
      val dstFs = fs(spark, toDir)
      val dst = new Path(toDir)
      f.listStatus(src).filterNot(_.isDirectory).foreach { st =>
        val name = st.getPath.getName
        val to = new Path(dst, name)
        if (!knownNames.contains(name) && !dstFs.exists(to)) {
          dstFs.mkdirs(dst)
          require(org.apache.hadoop.fs.FileUtil.copy(f, st.getPath, dstFs, to,
            false, spark.sparkContext.hadoopConfiguration),
            s"rescue copy ${st.getPath} -> $to failed")
        }
      }
    }
  }

  /** [[swapCompact]] for tables that carry a request-side control-plane
    * subdir (the gram index's `_pending_deletes` ledger): between the
    * promotion and the final `.old` delete, files that LANDED in the
    * carried subdir after the caller's snapshot (`appliedNames` — the
    * ledger files the caller copied forward or applied in the rebuild)
    * are rescued into the promoted directory. Without the rescue, a
    * takedown request racing a maintenance verb's build window — the
    * one verb pair a streaming deployment genuinely overlaps — would be
    * swept away with `.old`, applied nowhere: a silently lost
    * right-to-be-forgotten request, the failure class the ledger exists
    * to prevent. Over-rescue is safe by set semantics (a re-carried
    * already-applied request re-filters absent doc_ids — a no-op);
    * under-rescue is the bug. Crash anywhere: before the demote =
    * plain retry; between demote and promote = [[recoverSwap]]'s
    * window; during the rescue = `.old` still holds every unrescued
    * file and the state reads as "crashed before the final delete" —
    * re-running the VERB re-reaches a consistent state (the ledger
    * files inside `.old` are the only loss surface, and they are the
    * ones being copied). A crash DURING the rescue leaves a stale
    * `.old` whose unrescued ledger files the next swap's opening
    * delete would silently discard — so this verb COMPLETES a crashed
    * predecessor's rescue first: any carry-subdir file still in the
    * stale `.old` and absent from the live dir is re-carried before
    * the delete (knownNames empty — over-rescue is safe by set
    * semantics, and the re-carried file then rides the normal
    * demote → rescue path of THIS swap).
    */
  def swapCompactRescue(spark: SparkSession, liveDir: String,
      carrySubdir: String, appliedNames: Set[String]): Unit = {
    copyNewFiles(spark, s"$liveDir.old/$carrySubdir",
      s"$liveDir/$carrySubdir", Set.empty)
    demote(spark, liveDir)
    promote(spark, liveDir)
    copyNewFiles(spark, s"$liveDir.old/$carrySubdir", s"$liveDir/$carrySubdir",
      appliedNames)
    delete(spark, liveDir + ".old")
  }
}
