package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.convert.SchemaConverter
import graft.ext.{Dedup, Sampling, TextAnalysis}
import graft.map.{DataMapper, DocSizeAudit}
import graft.operators.Catalog
import graft.sinks.{JsonDirSink, ZipArraySink}
import graft.sources.Tables
import graft.tools.{DriverPool, InternalCaches, LocalFs}
import graft.workload.LogPipeline
import Workload.WarmupOps

object Workload {
  /** Untimed warm-up ops of each kind: the first ops of a JVM run well
    * above the steady state while the JIT compiles the engine's planning,
    * scheduling and commit code, which runs only a few times per op.
    */
  val WarmupOps = 3
}

/** One workload: `inputs` writes the seeded inputs, `warmup` runs
  * [[Workload.WarmupOps]] untimed ops of each kind, `measure` runs timed
  * ops as a closed loop of one client until `seconds` have passed,
  * checking each op's output outside its timed region. Every op ends
  * with InternalCaches.release, so no op is served from a cache a
  * previous op filled.
  *
  * In a traced run every other op runs with tracing detached, so the
  * run measures its own tracing overhead.
  */
abstract class Workload(val spark: SparkSession, val work: File, val trace: Trace,
    traced: Boolean) {
  /** (wall seconds, documents, traced) of each timed op that succeeded. */
  val ops = mutable.ArrayBuffer.empty[(Double, Long, Boolean)]
  /** Share of each traced op's wall time its layer spans cover. */
  val covered = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  /** Seconds spent checking outputs inside the measured window. */
  var checkSeconds = 0.0
  val failures = mutable.ArrayBuffer.empty[String]

  /** Extra per-layer values of the traced run. */
  def layerExtras: Map[String, Double] = Map.empty
  /** Write the seeded inputs. */
  def inputs(): Unit
  /** Untimed ops of each kind. */
  def warmup(): Unit
  def measure(seconds: Double): Unit
  /** Work after the timed region: whole-run checks, traced extras. */
  def finish(): Unit = ()
  /** Facts the outside checker needs (x93's oracle compare). */
  def extraResult: Map[String, Any] = Map.empty

  protected def path(name: String): String = new File(work, name).getPath

  /** Run `body` as one attempted op; a throw is a failed op. */
  protected def attempt[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Exception =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }

  /** One timed op of the measured loop; `body` returns the documents it
    * produced. Returns whether it succeeded.
    */
  protected def op(name: String)(body: => Long): Boolean = {
    val on = traced && ops.size % 2 == 0
    trace.set(on)
    val mark = trace.size
    val r = attempt(name)(body)
    r.foreach { case (docs, s) =>
      ops += ((s, docs, on))
      if (on) covered += trace.secondsSince(mark) / s
    }
    trace.set(traced)
    r.isDefined
  }

  protected def check(name: String, ok: Boolean, what: => String): Unit =
    if (!ok) failures += s"$name: $what".take(500)

  protected def elapsed(start: Long): Double = (System.nanoTime() - start) / 1e9
}

/** The paper's pipeline run whole over a seeded relational source and a
  * seeded query log: introspect → mine the log → convert → pre-flight
  * the document budget → nest every root → write both sinks. Calls the
  * layer functions directly: MigrationPipeline's memo tables would serve
  * every op after the first for free.
  */
final class Migrate(spark: SparkSession, work: File, trace: Trace, traced: Boolean,
    seed: Long, sf: Double, logRecords: Int) extends Workload(spark, work, trace, traced) {

  private val dir = path("tpch")
  private val log = path("general.log")
  private val sourceRows = Gen.tpchRows(sf)
  // roots of the fixture's conversion: region and part have no FK,
  // lineitem (three FKs) is referencing; everything else nests
  private val expectedRoots = Seq("region", "part", "lineitem")

  def inputs(): Unit = {
    // seven tiny independent writes: overlap their per-job latency
    DriverPool.awaitAll(Gen.tpch(spark, seed, sf).toSeq.map { case (t, df) =>
      () => df.write.parquet(s"$dir/$t.parquet") })
    Files.write(new File(log).toPath, Gen.queryLog(seed, logRecords).getBytes(UTF_8))
  }

  def warmup(): Unit = for (_ <- 0 until WarmupOps) {
    pipeline(path("warmup"))
    InternalCaches.release(spark)
    LocalFs.deleteRecursively(new File(path("warmup")))
  }

  /** The pipeline; returns each root's document count. */
  private def pipeline(out: String): Seq[(String, Long)] = {
    val db0 = trace.span("operators.introspect")(
      Catalog.introspect(spark, dir, Tables.tpchSpec))
    val db = trace.span("workload.logmine") {
      import spark.implicits._
      val rowCounts = db0.tables.map(t => (t.name, t.numOfRows)).toDF("table_name", "num_rows")
      val stmts = LogPipeline.statements(spark, log, LogPipeline.MySqlLog)
      LogPipeline.applyWorkload(db0,
        LogPipeline.workloadStats(LogPipeline.tableMentions(stmts), rowCounts))
    }
    val converted = trace.span("convert.convert")(SchemaConverter.convert(db))
    val schema = trace.span("map.preflight") {
      val audit = new DocSizeAudit(spark, dir, db)
      SchemaConverter.enforceDocBudget(db, converted, audit.maxDocBytes,
        DocSizeAudit.MongoDocLimit)._1
    }
    val roots = trace.span("map.nest") {
      new DataMapper(spark, dir, db).mapAll(schema).map { case (n, df) =>
        val p = df.persist()
        (n, p, p.count())
      }
    }
    try {
      val cols = roots.map { case (n, df, _) => n -> df }
      trace.span("sinks.json")(JsonDirSink(s"$out/json").write(cols))
      trace.span("sinks.zip")(ZipArraySink(s"$out/docs.zip").write(cols))
      roots.map { case (n, _, c) => n -> c }
    } finally roots.foreach(_._2.unpersist(blocking = true))
  }

  def measure(seconds: Double): Unit = {
    val start = System.nanoTime()
    var i = 0
    while (elapsed(start) < seconds || attempted < 3) {
      val out = path(s"out$i")
      var counts = Seq.empty[(String, Long)]
      if (op("migrate") { counts = pipeline(out); counts.map(_._2).sum }) {
        val t0 = System.nanoTime()
        verify(out, counts)
        checkSeconds += elapsed(t0)
      }
      InternalCaches.release(spark)
      LocalFs.deleteRecursively(new File(out))
      i += 1
    }
  }

  /** Root document counts match their source tables, and both sinks hold
    * the same documents.
    */
  private def verify(out: String, counts: Seq[(String, Long)]): Unit = {
    val json = counts.map { case (n, _) => Digest.jsonLines(new File(s"$out/json/$n")) }
    val zip = Digest.zipArrays(new File(s"$out/docs.zip"))
    val problems =
      (if (counts.map(_._1) == expectedRoots) Nil
       else Seq(s"roots ${counts.map(_._1)} != $expectedRoots")) ++
      counts.collect { case (n, c) if !sourceRows.get(n).contains(c) =>
        s"$n has $c documents, its source table ${sourceRows.get(n)} rows" } ++
      (if (json == zip) Nil else Seq(s"JSON-lines digests $json != zip digests $zip"))
    check("migrate", problems.isEmpty, problems.mkString("; "))
  }
}

/** x93, the curation capstone, over a corpus directory: the near-dup
  * layer used in batch, beside the stored index's incremental use.
  */
object Curation {
  // graft.queries.ExtQueries.MaxShingleDf, the cap x93 applies
  private val maxShingleDf = 5

  /** Forces x93 under the `queries.x93` span, then each stage of its
    * chain alone over its own input (materialized untimed first) to
    * attribute cost; the composition mirrors
    * graft.queries.ExtQueries.curationV2. Writes x93's output and oracle
    * SQL under `out` for the outside DuckDB compare; returns the forced
    * action's row count.
    */
  def attribute(spark: SparkSession, trace: Trace, dir: String, out: String): Long = {
    def forced(df: DataFrame): Long = df.queryExecution.toRdd.count()
    val x93 = graft.SparkEntry.queries("x93_curation_v2")
    val rows = trace.span("queries.x93")(forced(x93(spark, dir)))
    InternalCaches.release(spark)
    x93(spark, dir).write.parquet(s"$out/x93_out")
    InternalCaches.release(spark)
    Files.write(new File(s"$out/x93_oracle.sql").toPath,
      graft.SparkEntry.oracleSql("x93_curation_v2").getBytes(UTF_8))

    val docs = Tables.load(spark, dir, "documents")
    val cut = Dedup.removeDuplicateSpans(docs, k = 8)
      .filter(length(col("clean_text")) > 0)
      .select(col("doc_id"), col("clean_text").as("text"))
    trace.span("ext.spancut")(forced(cut))
    val cleaned = cut.persist()
    cleaned.count()
    val lang = TextAnalysis.languageId(cleaned).select(col("doc_id"), col("lang_pred"))
    trace.span("ext.langid")(forced(lang))
    val qual = TextAnalysis.quality(cleaned).select(col("doc_id"),
      col("n_tokens").cast("long").as("n_tokens"), col("quality_score"))
    trace.span("ext.quality")(forced(qual))
    val keep = Dedup.resolveClusters(cleaned, Dedup.ngramJaccardFromShingles(
        InternalCaches.persist(Dedup.hashedShingleSet(cleaned, maxShingleDf = maxShingleDf)),
        minJaccard = 0.8).select(col("doc_a"), col("doc_b")))
      .filter(col("keep")).select(col("doc_id"), col("cluster_id"))
    trace.span("ext.cluster")(forced(keep))
    val gated = lang.join(qual, Seq("doc_id")).join(keep, Seq("doc_id"))
      .filter(col("quality_score") >= 0.5).persist()
    gated.count()
    trace.span("ext.sample")(forced(Sampling.stratifiedByHash(gated, "lang_pred", "doc_id",
      ratesPct = Seq("en" -> 50, "es" -> 30, "de" -> 20, "fr" -> 10), defaultPct = 5)))
    gated.unpersist(blocking = true)
    cleaned.unpersist(blocking = true)
    InternalCaches.release(spark)
    rows
  }
}

object Ingest {
  /** Per-layer values only ingest measures: one build and one takedown
    * per run, and the slowest batch (a compaction inside an append).
    */
  val Extras: Seq[String] = Seq("ingest.build_s", "ingest.takedown_p50_s", "ingest.batch_max_s")
}

/** The stored near-dup index driven the way x114 drives it: build over
  * the first quarter of a seeded corpus, then micro-batches that each
  * screen against the index, write the verdicts, then append; a takedown
  * after every tenth batch; one compaction at the end. Batches arrive as
  * local frames, as x114's MemoryStream batches do.
  */
final class Ingest(spark: SparkSession, work: File, trace: Trace, traced: Boolean,
    seed: Long, nDocs: Int, batchDocs: Int) extends Workload(spark, work, trace, traced) {

  private lazy val corpus = Gen.corpus(seed, nDocs)
  private val nBuild = nDocs / 4
  private val index = path("index")
  private val verdicts = path("verdicts")
  // graft.queries.ExtQueries.MaxShingleDf, the hot-shingle cap x114 builds with
  private val maxShingleDf = 5
  private val takedownDocs = 5
  // (batch id, docs) per screened batch; doc ids taken down after a batch
  private val screened = mutable.ArrayBuffer.empty[(Long, Seq[Gen.Doc])]
  private val takedowns = mutable.HashMap.empty[Long, Seq[Long]]
  private val takedownSeconds = mutable.ArrayBuffer.empty[Double]
  private var buildSeconds = 0.0
  private var x93Rows: Option[Long] = None

  override def layerExtras: Map[String, Double] = Ingest.Extras.zip(Seq(
    buildSeconds,
    if (takedownSeconds.isEmpty) 0.0 else Trace.median(takedownSeconds.toSeq),
    if (ops.isEmpty) 0.0 else ops.map(_._1).max)).toMap

  private def frame(docs: Seq[Gen.Doc]): DataFrame = Gen.docsFrame(spark, docs)

  private def screenAndAppend(idx: String, out: String, id: Long, docs: Seq[Gen.Doc]): Unit = {
    val batch = frame(docs)
    trace.span("ext.screen")(Dedup.screenAgainstNearDupIndex(batch, idx, n = 3, minJaccard = 0.8)
      .repartition(1).write.mode("overwrite").parquet(s"$out/batch=$id"))
    trace.span("ext.append")(Dedup.appendNearDupIndexOnce(batch, idx, id, n = 3))
  }

  // batches arrive as local frames, so the inputs are the corpus itself
  def inputs(): Unit = corpus

  def warmup(): Unit = {
    // every verb, on a throwaway index
    val idx = path("warmup_index")
    Dedup.writeNearDupIndex(frame(corpus.docs.take(200)), idx, n = 3, maxShingleDf = maxShingleDf)
    for (b <- 1 to WarmupOps)
      screenAndAppend(idx, path("warmup_verdicts"), b, corpus.docs.slice(200 * b, 200 * b + 200))
    Dedup.deleteFromNearDupIndex(frame(corpus.docs.take(2)), idx)
    Dedup.compactNearDupIndex(spark, idx)
    InternalCaches.release(spark)
    LocalFs.deleteRecursively(new File(idx))
    LocalFs.deleteRecursively(new File(path("warmup_verdicts")))
  }

  def measure(seconds: Double): Unit = {
    val start = System.nanoTime()
    val build = corpus.docs.take(nBuild)
    attempt("build")(trace.span("ext.build")(
      Dedup.writeNearDupIndex(frame(build), index, n = 3, maxShingleDf = maxShingleDf)))
      .foreach(r => buildSeconds = r._2)
    val live = mutable.LinkedHashSet.empty[Long] ++= build.map(_.docId)
    val rest = corpus.docs.drop(nBuild).grouped(batchDocs).toIndexedSeq
    val rng = new java.util.SplittableRandom(seed ^ 0x54444eL)
    var b = 0
    while (b < rest.size && (elapsed(start) < seconds || b < 10)) {
      val docs = rest(b)
      val id = b + 1L
      op("batch") { screenAndAppend(index, verdicts, id, docs); docs.size.toLong }
      screened += ((id, docs))
      live ++= docs.map(_.docId)
      if (id % 10 == 0) {
        // take down live sources whose copies arrive in the next few
        // batches, so the tombstones change verdicts this run still sees
        val later = rest.slice(b + 1, b + 4).flatten.flatMap(d => corpus.copyOf.get(d.docId))
          .filter(live.contains).distinct
        val pool = if (later.nonEmpty) later else live.toSeq
        val ids = Seq.fill(takedownDocs)(pool(rng.nextInt(pool.size))).distinct
        import spark.implicits._
        attempt("takedown")(trace.span("ext.takedown")(
          Dedup.deleteFromNearDupIndex(ids.toDF("doc_id"), index))).foreach { r =>
          takedownSeconds += r._2
          takedowns(id) = ids
          live --= ids
        }
      }
      b += 1
    }
    attempt("compact")(trace.span("ext.compact")(Dedup.compactNearDupIndex(spark, index)))
      .foreach { _ =>
        val stored = spark.read.parquet(s"$index/hashes").select("doc_id").distinct()
          .collect().map(_.getLong(0)).toSet
        check("compact", stored == live.toSet,
          s"index holds ${stored.size} documents, ${live.size} are live")
      }
    InternalCaches.release(spark)
  }

  /** Checks the whole run's verdicts; in a traced run, also attributes
    * x93's cost over the same documents (see [[Curation]]).
    */
  override def finish(): Unit = {
    checkVerdicts()
    if (traced) {
      // the batch side of the near-dup layer: x93 over the build corpus
      val dir = path("corpus")
      Gen.docsFrame(spark, corpus.docs.take(nBuild)).coalesce(1)
        .write.parquet(s"$dir/documents.parquet")
      attempt("x93")(Curation.attribute(spark, trace, dir, work.getPath))
        .foreach(r => x93Rows = Some(r._1))
    }
  }

  override def extraResult: Map[String, Any] = x93Rows.map(n => Map(
    "x93_counts" -> Seq(n),
    "x93_out" -> path("x93_out"),
    "x93_sql" -> path("x93_oracle.sql"),
    "documents" -> path("corpus/documents.parquet"))).getOrElse(Map.empty)

  /** A planted copy is flagged exactly when its source sat live in the
    * index before the copy's batch; nothing else is flagged.
    */
  private def checkVerdicts(): Unit = {
    if (screened.isEmpty) return
    val got = spark.read.parquet(verdicts)
      .select(col("batch").cast("long"), col("doc_id"), col("verdict"), col("near_dup_of"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val live = mutable.HashSet.empty[Long] ++= corpus.docs.take(nBuild).map(_.docId)
    for ((id, docs) <- screened) {
      val bad = docs.flatMap { d =>
        val want = corpus.copyOf.get(d.docId).filter(live.contains) match {
          case None => ("keep", None)
          case Some(s) if corpus.exact.contains(d.docId) => ("drop_exact", Some(s))
          case Some(s) => ("drop_near", Some(s))
        }
        got.get((id, d.docId)) match {
          case Some(v) if v == want => None
          case other => Some(s"doc ${d.docId}: got $other, want $want")
        }
      }
      check(s"batch $id", bad.isEmpty, s"${bad.size} wrong verdicts, e.g. ${bad.take(3).mkString("; ")}")
      live ++= docs.map(_.docId)
      takedowns.get(id).foreach(live --= _)
    }
  }
}

/** Order-independent digests of a sink's documents: per collection, the
  * document count and the sum of a 64-bit hash of each document's bytes.
  * Both sinks serialize rows with Spark's JSON generator, so the same
  * document has the same bytes in either.
  */
object Digest {
  private def add(acc: (Long, Long), b: Array[Byte], from: Int, until: Int): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(b, from, until - from)
    (acc._1 + 1, acc._2 + java.nio.ByteBuffer.wrap(md.digest()).getLong)
  }

  /** The documents of a JSON-lines directory, one per line. */
  def jsonLines(dir: File): (Long, Long) =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("part-")).foldLeft((0L, 0L)) { (acc, f) =>
        val b = Files.readAllBytes(f.toPath)
        var a = acc
        var from = 0
        for (i <- b.indices if b(i) == '\n') {
          if (i > from) a = add(a, b, from, i)
          from = i + 1
        }
        if (b.length > from) add(a, b, from, b.length) else a
      }

  /** One digest per zip entry, in entry order: the top-level objects of
    * the entry's JSON array.
    */
  def zipArrays(zip: File): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val z = new java.util.zip.ZipFile(zip)
    try z.entries().asScala.toList.map { e =>
      val b = z.getInputStream(e).readAllBytes()
      require(b.nonEmpty && b(0) == '[' && b.last == ']', s"${e.getName} is not a JSON array")
      var acc = (0L, 0L)
      var depth = 0
      var inString = false
      var escaped = false
      var from = 1
      for (i <- 1 until b.length - 1) {
        val c = b(i)
        if (inString) {
          if (escaped) escaped = false
          else if (c == '\\') escaped = true
          else if (c == '"') inString = false
        } else if (c == '"') inString = true
        else if (c == '{' || c == '[') depth += 1
        else if (c == '}' || c == ']') depth -= 1
        else if (c == ',' && depth == 0) { acc = add(acc, b, from, i); from = i + 1 }
      }
      if (b.length - 1 > from) add(acc, b, from, b.length - 1) else acc
    } finally z.close()
  }
}
