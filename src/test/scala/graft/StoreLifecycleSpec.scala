package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, IndexFs, LanguageModel, Similarity}
import graft.tools.InternalCaches

/** The shared stored-index commit protocol (`graft.ext.StoreLifecycle`)
  * crash-tested at every commit point, for each of the four families
  * that commit through it: near-dup, semantic, IVF-PQ and the stored LM.
  *
  * Each crash state is built by hand on disk — the pre-state copied,
  * the real verb run on a second copy for the post-state, and the
  * files of the two assembled into what a crash at that point leaves.
  * The next verb then runs, and the store must read as its pre-state
  * or its post-state (identical screen, search or score output) with
  * no committed batch lost. A double-append is allowed only between an
  * append's data and its marker, and the next compaction repairs it.
  */
class StoreLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def fs = IndexFs.fs(spark, "/")

  private def copy(from: String, to: String): Unit =
    assert(FileUtil.copy(fs, new Path(from), fs, new Path(to), false,
      spark.sparkContext.hadoopConfiguration), s"copy $from -> $to")

  private def rename(from: String, to: String): Unit =
    IndexFs.renameOrFail(spark, from, to, "stage crash")

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_life_$tag").toString + "/idx"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def rowCount(dir: String): Long = spark.read.parquet(dir).count()

  /** One family: its stored tables, a seeded store (built, batch 7
    * appended once, one takedown), its read, and its verbs. */
  private final case class Family(
      name: String,
      tables: Seq[String],
      tombstones: Boolean,
      seed: String => Unit,
      read: String => Seq[String],
      compact: String => Unit,
      rebuild: Option[String => Unit] = None,
      // the batch-7 append without its marker, and with it
      appendData: Option[String => Unit] = None,
      appendOnce: Option[String => Boolean] = None)

  // ---- fixtures ---------------------------------------------------------

  private def ndCorpus = Seq(
    (1L, "a b c d e f g h"), (2L, "p q r s t u v w"),
    (3L, "m n o m2 n2 o2 m3 n3"), (4L, "a b c d e f g h")).toDF("doc_id", "text")
  private def ndBatch = ndCorpus.filter(col("doc_id") >= 3L)
  private def ndProbe = Seq((10L, "a b c d e f g h"), (11L, "m n o m2 n2 o2 m3 x"),
    (12L, "p q r s t u v x")).toDF("doc_id", "text")

  private val nearDup = Family("near-dup", Seq("shingles", "sizes", "hashes"),
    tombstones = true,
    seed = idx => {
      Dedup.writeNearDupIndex(ndCorpus.filter(col("doc_id") <= 2L), idx, n = 3)
      assert(Dedup.appendNearDupIndexOnce(ndBatch, idx, batchId = 7L, n = 3))
      Dedup.deleteFromNearDupIndex(Seq(1L).toDF("doc_id"), idx)
    },
    read = idx => rows(Dedup.screenAgainstNearDupIndex(ndProbe, idx, n = 3,
      minJaccard = 0.5)),
    compact = idx => Dedup.compactNearDupIndex(spark, idx),
    rebuild = Some(idx => Dedup.rebuildNearDupIndex(ndCorpus, idx, n = 3)),
    appendData = Some(idx => Dedup.appendNearDupIndex(
      Seq((5L, "k l j k2 l2 j2 k3 l3")).toDF("doc_id", "text"), idx, n = 3)),
    appendOnce = Some(idx => Dedup.appendNearDupIndexOnce(
      Seq((5L, "k l j k2 l2 j2 k3 l3")).toDF("doc_id", "text"), idx,
      batchId = 8L, n = 3)))

  private val dim = 64
  private def unit(axis: Int, eps: (Int, Float)*): Seq[Float] =
    Seq.tabulate(dim) { d =>
      if (d == axis) 1.0f
      else eps.collectFirst { case (a, e) if a == d => e }.getOrElse(0.0f)
    }
  private def emb(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")
  private def vecs = emb(0L -> unit(0), 1L -> unit(0, 1 -> 0.3f),
    100L -> unit(1), 101L -> unit(1, 2 -> 0.3f))
  private def bench = emb(900L -> unit(0, 1 -> 0.3f), 901L -> unit(1, 2 -> 0.3f))

  private val semantic = Family("semantic", Seq("vectors"), tombstones = true,
    seed = idx => {
      Similarity.writeSemanticIndex(vecs.filter(col("vec_id") =!= 101L), idx)
      assert(Similarity.appendSemanticIndexOnce(
        vecs.filter(col("vec_id") === 101L), idx, batchId = 7L))
      Similarity.deleteFromSemanticIndex(Seq(1L).toDF("vec_id"), idx)
    },
    read = idx => rows(Similarity.semanticScreenIndex(bench, idx, minCos = 0.99)),
    compact = idx => Similarity.compactSemanticIndex(spark, idx),
    rebuild = Some(idx => Similarity.rebuildSemanticIndex(spark, idx)),
    appendData = Some(idx => Similarity.appendSemanticIndex(
      emb(102L -> unit(1, 3 -> 0.3f)), idx)),
    appendOnce = Some(idx => Similarity.appendSemanticIndexOnce(
      emb(102L -> unit(1, 3 -> 0.3f)), idx, batchId = 8L)))

  private val ivfPq = Family("IVF-PQ", Seq("codes"), tombstones = true,
    seed = idx => {
      Similarity.ivfPqWriteIndex(vecs.filter(col("vec_id") =!= 101L), idx)
      Similarity.ivfPqAppendIndex(vecs.filter(col("vec_id") === 101L), idx)
      Similarity.deleteFromIvfPqIndex(Seq(1L).toDF("vec_id"), idx)
    },
    read = idx => rows(Similarity.ivfPqSearchIndex(vecs, idx,
      queryIds = Seq(0L, 100L), k = 3, nprobe = 2)),
    compact = idx => Similarity.ivfPqCompactIndex(spark, idx),
    rebuild = Some(idx => Similarity.ivfPqRebuildIndex(vecs, idx)))

  private def lmDocs = Seq(
    (1L, "the cat sat on the mat the cat sat", "en"),
    (2L, "the dog sat on the mat the dog ran", "en"),
    (3L, "zebras graze quietly zebras graze calmly zebras doze", "en"))
    .toDF("doc_id", "text", "lang")

  private val lm = Family("LM", Seq("bigrams"), tombstones = false,
    seed = idx => {
      LanguageModel.writeLmIndex(lmDocs.filter(col("doc_id") <= 2L), idx)
      LanguageModel.appendLmIndex(lmDocs.filter(col("doc_id") === 3L), idx, "b7")
      LanguageModel.deleteFromLmIndex(lmDocs.filter(col("doc_id") === 1L), idx, "d1")
    },
    read = idx => rows(LanguageModel.scoreAgainstLmIndex(lmDocs, idx)),
    compact = idx => LanguageModel.compactLmIndex(spark, idx))

  private val families = Seq(nearDup, semantic, ivfPq, lm)

  private def assertClean(f: Family, idx: String): Unit = {
    f.tables.foreach { t =>
      assert(!IndexFs.exists(spark, s"$idx/$t.compact") &&
        !IndexFs.exists(spark, s"$idx/$t.old"), s"${f.name}: $t swap leftovers")
    }
    if (f.tombstones)
      assert(!IndexFs.exists(spark, s"$idx/deletes"),
        s"${f.name}: tombstones clear after the last swap")
  }

  // ---- compaction: every commit point ----------------------------------

  families.foreach { f =>
    test(s"${f.name}: a compaction crashed at any commit point reads as " +
        "pre- or post-state, and the re-run finishes it") {
      val pre = fresh(s"${f.name}_cpre")
      f.seed(pre)
      val post = fresh(s"${f.name}_cpost")
      copy(pre, post)
      f.compact(post)
      val want = f.read(pre)
      assert(f.read(post) === want, s"${f.name}: compaction moves no output")
      // the states a crash leaves: every table staged; then the swap
      // interrupted at each table (earlier tables already swapped, this
      // one demoted but not promoted); then every table swapped with the
      // tombstones not yet cleared
      val stagedAll: String => Unit = x =>
        f.tables.foreach(t => copy(s"$post/$t", s"$x/$t.compact"))
      def swappedThrough(x: String, n: Int): Unit =
        f.tables.take(n).foreach { t =>
          IndexFs.delete(spark, s"$x/$t")
          rename(s"$x/$t.compact", s"$x/$t")
        }
      val states: Seq[(String, String => Unit)] =
        Seq("staged" -> stagedAll) ++
          f.tables.indices.map { i =>
            s"demoted ${f.tables(i)}" -> { (x: String) =>
              stagedAll(x)
              swappedThrough(x, i)
              rename(s"$x/${f.tables(i)}", s"$x/${f.tables(i)}.old")
            }
          } :+
          ("all swapped, tombstones kept" -> { (x: String) =>
            stagedAll(x)
            swappedThrough(x, f.tables.size)
          })
      states.foreach { case (label, crash) =>
        val x = fresh(s"${f.name}_crash")
        copy(pre, x)
        crash(x)
        assert(f.read(x) === want, s"${f.name} / $label: the read heals")
        f.compact(x)
        assert(f.read(x) === want, s"${f.name} / $label: re-run compaction")
        assertClean(f, x)
        f.tables.foreach(t => assert(rowCount(s"$x/$t") === rowCount(s"$post/$t"),
          s"${f.name} / $label: $t holds the compacted rows"))
      }
    }
  }

  // ---- append-once: the data → marker window ---------------------------

  families.filter(_.appendOnce.isDefined).foreach { f =>
    test(s"${f.name}: an append crashed between data and marker " +
        "double-appends once, never again, and the compaction repairs it") {
      val clean = fresh(s"${f.name}_aclean")
      f.seed(clean)
      val x = fresh(s"${f.name}_acrash")
      copy(clean, x)
      assert(f.appendOnce.get(clean))
      assert(!f.appendOnce.get(clean), "a committed batch skips")
      f.appendData.get(x) // the crash: data landed, marker did not
      assert(f.appendOnce.get(x), "the redelivery re-appends (documented window)")
      assert(!f.appendOnce.get(x), "and commits its marker: never a third copy")
      f.compact(clean)
      f.compact(x)
      assert(f.read(x) === f.read(clean), s"${f.name}: the compaction repairs " +
        "the double-append")
      f.tables.foreach(t => assert(rowCount(s"$x/$t") === rowCount(s"$clean/$t")))
    }
  }

  test("LM: a replayed append or takedown under the same batch id is a no-op") {
    val idx = fresh("lm_replay")
    lm.seed(idx)
    val want = lm.read(idx)
    LanguageModel.appendLmIndex(lmDocs.filter(col("doc_id") === 3L), idx, "b7")
    LanguageModel.deleteFromLmIndex(lmDocs.filter(col("doc_id") === 1L), idx, "d1")
    assert(lm.read(idx) === want)
  }

  // ---- rebuild: every commit point --------------------------------------

  families.filter(_.rebuild.isDefined).foreach { f =>
    test(s"${f.name}: a rebuild crashed at any commit point reads as pre- " +
        "or post-state and keeps every committed marker") {
      val pre = fresh(s"${f.name}_rpre")
      f.seed(pre)
      val post = fresh(s"${f.name}_rpost")
      copy(pre, post)
      f.rebuild.get(post)
      val (before, after) = (f.read(pre), f.read(post))
      def readsWhole(x: String, label: String): Unit = {
        val got = f.read(x)
        assert(got === before || got === after, s"${f.name} / $label: $got")
      }
      def markersKept(x: String, label: String): Unit =
        f.appendOnce.foreach { _ =>
          assert(IndexFs.exists(spark, s"$x/_batch_commits/b7"),
            s"${f.name} / $label: batch 7's marker survives")
        }
      // staged store built; markers still live, or already moved into
      // the staging: the next verb is the rebuild re-run
      Seq(
        "staged, markers live" -> { (x: String) =>
          copy(pre, x); copy(post, s"$x.compact")
          IndexFs.delete(spark, s"$x.compact/_batch_commits")
        },
        "staged, markers moved" -> { (x: String) =>
          copy(pre, x); copy(post, s"$x.compact")
          IndexFs.delete(spark, s"$x/_batch_commits")
        }).foreach { case (label, crash) =>
        val x = fresh(s"${f.name}_rcrash")
        crash(x)
        readsWhole(x, label)
        f.rebuild.get(x)
        assert(f.read(x) === after, s"${f.name} / $label: re-run rebuild")
        markersKept(x, label)
        assert(!IndexFs.exists(spark, s"$x.compact") && !IndexFs.exists(spark, s"$x.old"))
      }
      // the root swap interrupted between its renames, and after the
      // promote with the demoted store not yet dropped: the next verb
      // is any read
      Seq(
        "root demoted" -> { (x: String) =>
          copy(pre, s"$x.old"); copy(post, s"$x.compact")
        },
        "root promoted, old kept" -> { (x: String) =>
          copy(post, x); copy(pre, s"$x.old")
        }).foreach { case (label, crash) =>
        val x = fresh(s"${f.name}_rcrash")
        crash(x)
        assert(f.read(x) === after, s"${f.name} / $label: the read heals")
        markersKept(x, label)
      }
    }
  }

  // ---- the checked swap --------------------------------------------------

  test("a swap with nothing staged throws and leaves the live table readable") {
    val root = Files.createTempDirectory("graft_life_swap").toString
    val live = s"$root/table"
    Seq(1L, 2L).toDF("v").write.parquet(live)
    intercept[Exception](IndexFs.swapCompact(spark, live))
    assert(spark.read.parquet(live).count() === 2L)
    intercept[Exception](
      IndexFs.swapCompactRescue(spark, live, "_pending", Set.empty))
    assert(spark.read.parquet(live).count() === 2L)
    assert(!IndexFs.exists(spark, s"$live.old"), "nothing was demoted")
  }

  // ---- invalidation: one rule, by construction --------------------------

  test("a takedown releases index-side frames memoized before the first " +
      "takedown; an append releases the frames reading what it wrote") {
    val idx = fresh("invalidate")
    Dedup.writeNearDupIndex(ndCorpus.filter(col("doc_id") <= 2L), idx, n = 3)
    // index-side frames memoized while no tombstone exists: their file
    // snapshots carry no tombstone path
    def memo(t: String) = InternalCaches.persist(spark.read.parquet(s"$idx/$t"))
    def cached(df: DataFrame) =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val before = Seq("shingles", "sizes", "hashes").map(memo)
    before.foreach(_.count())
    assert(before.forall(cached))
    Dedup.deleteFromNearDupIndex(Seq(1L).toDF("doc_id"), idx)
    assert(!before.exists(cached),
      "the takedown must release every frame reading a table it filters")
    // the store's own read no longer returns the document
    assert(!rows(Dedup.screenAgainstNearDupIndex(ndProbe, idx, n = 3,
      minJaccard = 0.5)).exists(_.contains("drop_exact")))
    // an append commit: a frame memoized before it must not keep
    // serving the pre-append files
    val hashes = memo("hashes")
    assert(hashes.where(col("doc_id") === 5L).count() === 0L)
    Dedup.appendNearDupIndex(Seq((5L, "k l j k2 l2 j2 k3 l3"))
      .toDF("doc_id", "text"), idx, n = 3)
    assert(memo("hashes").where(col("doc_id") === 5L).count() === 1L,
      "the re-memoized read returns the appended document")
  }
}
