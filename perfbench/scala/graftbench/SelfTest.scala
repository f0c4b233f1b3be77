package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.convert.SchemaConverter
import graft.model.{CollectionNode, DocumentSchema}
import graft.operators.Catalog
import graft.sources.Tables
import graft.workload.LogPipeline

/** The benchmark's own tests, of its input generators. Run with
  * `python3 perfbench/selftest.py`; exits non-zero on any failure.
  */
object SelfTest {

  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def decisions(s: DocumentSchema): Seq[(String, String, Int)] = {
    def walk(n: CollectionNode, depth: Int): Seq[(String, String, Int)] =
      (n.name, n.kind.label, depth) +: n.embedded.flatMap(walk(_, depth + 1))
    s.roots.flatMap(walk(_, 0))
  }

  def main(args: Array[String]): Unit = {
    val work = Files.createTempDirectory(new File(args(0)).toPath, "selftest").toFile
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    test("same seed, same log bytes; another seed, other bytes") {
      val a = Gen.queryLog(7, 5000)
      assert(md5(a) == md5(Gen.queryLog(7, 5000)))
      assert(md5(a) != md5(Gen.queryLog(8, 5000)))
      // every record is a header line; the MySQL splitter finds the Query bodies
      assert(LogPipeline.splitRecords(a, LogPipeline.MySqlLog).size > 3000)
    }

    test("same seed, same corpus bytes; another seed, other bytes") {
      def bytes(seed: Long) = md5(Gen.corpus(seed, 3000).docs.map(d => s"${d.docId}\t${d.lang}\t${d.source}\t${d.text}").mkString("\n"))
      assert(bytes(7) == bytes(7))
      assert(bytes(7) != bytes(8))
    }

    test("same seed, same tables under any partitioning") {
      def rows(seed: Long, parts: Int) = Gen.tpch(spark, seed, 0.001).toSeq.sortBy(_._1)
        .map { case (t, df) => t + df.repartition(parts).collect().map(_.toString).sorted.mkString }
        .mkString
      assert(md5(rows(7, 1)) == md5(rows(7, 3)))
      assert(md5(rows(7, 1)) != md5(rows(8, 1)))
    }

    test("generated log converts to the fixture log's roots and decisions") {
      val dir = new File(work, "tpch").getPath
      Gen.tpch(spark, 3, 0.01).foreach { case (t, df) => df.write.parquet(s"$dir/$t.parquet") }
      val log = new File(work, "general.log")
      Files.write(log.toPath, Gen.queryLog(3, 20000).getBytes(UTF_8))
      val db0 = Catalog.introspect(spark, dir, Tables.tpchSpec)
      val rowCounts = db0.tables.map(t => (t.name, t.numOfRows)).toDF("table_name", "num_rows")
      def convert(stmts: org.apache.spark.sql.Dataset[String]) = SchemaConverter.convert(
        LogPipeline.applyWorkload(db0,
          LogPipeline.workloadStats(LogPipeline.tableMentions(stmts), rowCounts)))
      val generated = convert(LogPipeline.statements(spark, log.getPath, LogPipeline.MySqlLog))
      val fixture = convert(LogPipeline.statementsFromText(spark,
        graft.queries.Fixtures.mysqlLog, LogPipeline.MySqlLog))
      assert(generated.roots.map(r => (r.name, r.kind.label)) ==
        Seq("region" -> "root", "part" -> "root", "lineitem" -> "referencing"),
        generated.roots.map(r => (r.name, r.kind.label)))
      assert(decisions(generated) == decisions(fixture), decisions(generated))
    }

    test("corpus plants copies and boilerplate at the fixed rates") {
      val n = 20000
      val c = Gen.corpus(11, n)
      val copies = c.copyOf.size.toDouble / n
      val exact = c.exact.size.toDouble / n
      val originals = n - c.copyOf.size
      val boiler = c.boilerplate.size.toDouble / originals
      assert(math.abs(copies - (Gen.NearCopyRate + Gen.ExactCopyRate)) < 0.01, copies)
      assert(math.abs(exact - Gen.ExactCopyRate) < 0.005, exact)
      assert(math.abs(boiler - Gen.BoilerplateRate) < 0.015, boiler)
      val byId = c.docs.map(d => d.docId -> d).toMap
      assert(c.copyOf.values.toSet.size == c.copyOf.size, "a source copied twice")
      assert(c.copyOf.forall { case (cp, s) => s < cp && !c.copyOf.contains(s) })
      assert(c.exact.forall(e => byId(e).text == byId(c.copyOf(e)).text))
      assert(c.boilerplate.forall(b => Gen.boilerplateSpans.exists(byId(b).text.contains(_))))
      assert(c.docs.forall(d => !d.text.contains("  ") && d.text == d.text.trim))
    }

    test("the only near-duplicate pairs are the planted ones") {
      val c = Gen.corpus(5, 4000)
      val pairs = graft.ext.Dedup.ngramJaccard(Gen.docsFrame(spark, c.docs), 3, 0.8)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(pairs == c.copyOf.map { case (cp, s) => (s, cp) }.toSet,
        s"${pairs.size} pairs vs ${c.copyOf.size} planted")
    }

    test("marker languages are recognised") {
      val c = Gen.corpus(5, 4000)
      val pred = graft.ext.TextAnalysis.languageId(Gen.docsFrame(spark, c.docs))
        .select(col("doc_id"), col("lang_pred")).as[(Long, String)].collect().toMap
      val wrong = c.docs.count(d => pred(d.docId) != (if (d.lang == "zh") "und" else d.lang))
      assert(wrong.toDouble / c.docs.size < 0.01, s"$wrong misidentified")
    }

    spark.stop()
    graft.tools.LocalFs.deleteRecursively(work)
    if (failed > 0) sys.exit(1)
  }
}
