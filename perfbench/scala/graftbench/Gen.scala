package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every generator is a pure function of its
  * seed and size: the same arguments give the same rows and the same
  * bytes, so a run is reproducible from `--seed` alone and the program
  * under test sees only what these functions produce.
  */
object Gen {

  // ---- relational source: the TPC-H-like star schema of Tables.tpchSpec

  /** Row counts per table at scale factor `sf` (TPC-H ratios; region and
    * nation are fixed).
    */
  def tpchRows(sf: Double): Map[String, Long] = {
    def n(perUnit: Long) = math.max(1L, math.round(perUnit * sf))
    Map("region" -> 5L, "nation" -> 25L, "customer" -> n(150000),
      "supplier" -> n(10000), "part" -> n(200000), "orders" -> n(1500000),
      "lineitem" -> 4 * n(1500000))
  }

  /** The seven source tables at `sf`, as lazy frames whose every value is
    * a hash of (seed, table, column, row id) — deterministic under any
    * partitioning. Column names and types follow the repository's
    * fixture tables (Tables.tpchSpec declares the keys).
    */
  def tpch(spark: SparkSession, seed: Long, sf: Double): Map[String, DataFrame] = {
    val rows = tpchRows(sf)
    def u(salt: String): Column = xxhash64(lit(seed), lit(salt), col("id"))
    def pick(salt: String, n: Long): Column = pmod(u(salt), lit(n))
    def money(salt: String, cents: Long): Column = (pick(salt, cents) / 100.0).cast("double")
    def oneOf(salt: String, vs: Seq[String]): Column =
      element_at(array(vs.map(lit): _*), (pick(salt, vs.size.toLong) + 1).cast("int"))
    // 1992-01-01 + up to 2557 days
    def day(salt: String): Column =
      timestamp_seconds(lit(694224000L) + pick(salt, 2557) * 86400L)
    def range(t: String) = spark.range(0, rows(t), 1, if (rows(t) > 100000) 4 else 1)
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    Map(
      "region" -> range("region").select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> range("nation").select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        // five nations per region, as in TPC-H: a seeded mapping would
        // make the largest region document, and so the nesting's
        // slowest task, differ from seed to seed
        pmod(col("id"), lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> range("customer").select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        pick("c_nationkey", 25).cast("int").as("c_nationkey"),
        money("c_acctbal", 1000000).as("c_acctbal"),
        oneOf("c_mktsegment", segments).as("c_mktsegment")),
      "supplier" -> range("supplier").select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        pick("s_nationkey", 25).cast("int").as("s_nationkey"),
        money("s_acctbal", 1000000).as("s_acctbal")),
      "part" -> range("part").select(col("id").as("p_partkey"),
        concat_ws(" ", oneOf("p_name1", Seq("large", "small", "hot", "cold", "bright")),
          oneOf("p_name2", Seq("ring", "bolt", "gear", "valve", "spring"))).as("p_name"),
        concat(lit("Brand#"), pick("p_brand", 25) + 1).as("p_brand"),
        oneOf("p_type", Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL")).as("p_type"),
        (pick("p_size", 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + money("p_retailprice", 110000)).as("p_retailprice")),
      "orders" -> range("orders").select(col("id").as("o_orderkey"),
        pick("o_custkey", rows("customer")).as("o_custkey"),
        oneOf("o_orderstatus", Seq("O", "F", "P")).as("o_orderstatus"),
        money("o_totalprice", 50000000).as("o_totalprice"),
        day("o_orderdate").as("o_orderdate"),
        oneOf("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> range("lineitem").select((col("id") / 4).cast("long").as("l_orderkey"),
        pick("l_partkey", rows("part")).as("l_partkey"),
        pick("l_suppkey", rows("supplier")).as("l_suppkey"),
        (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
        (pick("l_quantity", 50) + 1).cast("double").as("l_quantity"),
        money("l_extendedprice", 10000000).as("l_extendedprice"),
        (pick("l_discount", 11) / 100.0).as("l_discount"),
        (pick("l_tax", 9) / 100.0).as("l_tax"),
        oneOf("l_returnflag", Seq("A", "N", "R")).as("l_returnflag"),
        oneOf("l_linestatus", Seq("O", "F")).as("l_linestatus"),
        day("l_shipdate").as("l_shipdate")))
  }

  // ---- query log: a MySQL general query log over the tpch tables

  /** The statement mix of the fixture log (graft.queries.Fixtures
    * .mysqlLog), one template per fixture statement, each equally likely.
    * Reads dominate the row-weighted access counts and the only DML
    * lands on customer (below the update threshold), nation and part, so
    * the conversion keeps the fixture's roots: region and part as roots,
    * lineitem referencing. `%d` slots take seeded literals; `\n` marks a
    * continuation line of a multi-line record.
    */
  private val templates: IndexedSeq[String] = IndexedSeq(
    "SELECT * FROM lineitem WHERE l_quantity > %d",
    "SELECT l_orderkey, o_totalprice\n    FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_orderkey < %d",
    "SELECT * FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_custkey = %d",
    "SELECT c_name, n_name, r_name FROM customer\n    JOIN nation ON c_nationkey = n_nationkey\n    JOIN region ON n_regionkey = r_regionkey WHERE c_custkey = %d",
    "SELECT * FROM supplier WHERE s_suppkey = %d",
    "SELECT * FROM part WHERE p_size = %d",
    "UPDATE customer SET c_acctbal = %d WHERE c_custkey = %d",
    "UPDATE nation SET n_name = 'N%d' WHERE n_nationkey = %d",
    "INSERT INTO part VALUES (%d, 'widget', 'B#1', 'TYPE', 1, 9.99)",
    "DELETE FROM part WHERE p_partkey = %d",
    "CREATE TABLE tmp_report_%d AS SELECT l_orderkey FROM lineitem",
    "SET autocommit = %d")

  /** A MySQL general query log of `records` records (Query records
    * wrapped in Connect / Quit session records), as one string the way
    * the server writes it: a `yymmdd h:mm:ss` stamp on the first record
    * of each second, blank-padded thread ids otherwise.
    */
  def queryLog(seed: Long, records: Int): String = {
    val r = new SplittableRandom(seed ^ 0x4c4f47L)
    val sb = new java.lang.StringBuilder(records * 100)
    var clock = 1718100000L // 2024-06-11 10:00:00 UTC
    var lastStamped = -1L
    var thread = 10
    var inSession = 0
    def record(cmd: String, body: String): Unit = {
      clock += r.nextInt(2)
      val prefix =
        if (clock != lastStamped) {
          lastStamped = clock
          val t = java.time.LocalDateTime.ofEpochSecond(clock, 0, java.time.ZoneOffset.UTC)
          f"${t.getYear % 100}%02d${t.getMonthValue}%02d${t.getDayOfMonth}%02d " +
            f"${t.getHour}%2d:${t.getMinute}%02d:${t.getSecond}%02d"
        } else " " * 15
      sb.append(prefix).append(f"${thread}%9d ").append(f"$cmd%-9s").append(' ')
        .append(body).append('\n')
    }
    var n = 0
    while (n < records) {
      if (inSession == 0) {
        thread += 1 + r.nextInt(3)
        record("Connect", s"app@10.0.${r.nextInt(256)}.${r.nextInt(256)} on tpch")
        inSession = 5 + r.nextInt(20)
      } else if (inSession == 1) {
        record("Quit", "")
        inSession = 0
      } else {
        val tpl = templates(r.nextInt(templates.size))
        val args = Seq.fill(2)(Int.box(r.nextInt(100000)))
        record("Query", tpl.format(args: _*))
        inSession -= 1
      }
      n += 1
    }
    sb.toString
  }

  // ---- document corpus: marker languages, near-duplicates, boilerplate

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** A generated corpus plus what was planted in it: `copyOf` maps each
    * planted copy to its source (exact copies are also in `exact`), and
    * `boilerplate` holds the documents carrying a shared span.
    */
  final case class Corpus(docs: IndexedSeq[Doc], copyOf: Map[Long, Long],
      exact: Set[Long], boilerplate: Set[Long])

  /** Planting rates, fixed across seeds and sizes. */
  val NearCopyRate = 0.08
  val ExactCopyRate = 0.02
  val BoilerplateRate = 0.25

  // the languages graft.ext.TextAnalysis.languageId recognises, plus an
  // unmarked one ('zh' in the fixture) that it must label 'und'
  private val markers: Map[String, IndexedSeq[String]] = Map(
    "en" -> IndexedSeq("the", "a", "and", "of", "is"),
    "es" -> IndexedSeq("el", "la", "los", "de", "es"),
    "de" -> IndexedSeq("der", "die", "und", "das", "ist"),
    "fr" -> IndexedSeq("le", "les", "et", "est", "une"),
    "zh" -> IndexedSeq.empty)
  private val langWeights = Seq("en" -> 40, "es" -> 20, "de" -> 15, "fr" -> 15, "zh" -> 10)

  // 4096 content words of two or three syllables; none equals a marker
  private val syllables = IndexedSeq("ka", "lo", "mi", "ru", "te", "sa", "no", "vi",
    "po", "ze", "da", "fu", "ri", "go", "be", "xu")
  private val vocab: IndexedSeq[String] = (0 until 4096).map { i =>
    val w = syllables(i & 15) + syllables((i >> 4) & 15)
    if (i < 256) w else w + syllables((i >> 8) & 15)
  }

  /** Six shared 12-token spans (site chrome, licence footers): every
    * document carrying one shares it verbatim with about 4% of the
    * corpus, so the span cut removes all but its first occurrence and
    * the near-dup index learns its shingles as hot.
    */
  val boilerplateSpans: IndexedSeq[String] = (0 until 6).map { b =>
    (0 until 12).map(j => "bp" + syllables(b) + syllables(j)).mkString(" ")
  }

  /** `nDocs` documents. A document is a near copy of an earlier original
    * (last token replaced, one token appended: shingle Jaccard ≥ 0.85 at
    * the minimum length) with probability [[NearCopyRate]], an exact copy
    * with [[ExactCopyRate]], else an original of 40–120 tokens in one
    * language, carrying a boilerplate span with [[BoilerplateRate]].
    * Each original is copied at most once, so the only pairs above a
    * 0.8 Jaccard are (source, copy).
    */
  def corpus(seed: Long, nDocs: Int): Corpus = {
    val r = new SplittableRandom(seed ^ 0x444f43L)
    val docs = new Array[Doc](nDocs)
    val copyOf = Map.newBuilder[Long, Long]
    val exact = Set.newBuilder[Long]
    val boiler = Set.newBuilder[Long]
    val uncopied = new java.util.ArrayList[Long]()
    def word(): String = vocab(r.nextInt(vocab.size))
    def lang(): String = {
      var x = r.nextInt(100)
      langWeights.find { case (_, w) => x -= w; x < 0 }.get._1
    }
    def takeSource(): Option[Long] =
      if (uncopied.isEmpty) None
      else {
        val i = r.nextInt(uncopied.size)
        val last = uncopied.remove(uncopied.size - 1)
        Some(if (i == uncopied.size) last else uncopied.set(i, last))
      }
    for (i <- 0 until nDocs) {
      val id = i.toLong
      val roll = r.nextDouble()
      val src = if (roll < NearCopyRate + ExactCopyRate) takeSource() else None
      docs(i) = src match {
        case Some(s) =>
          val orig = docs(s.toInt)
          copyOf += id -> s
          val text =
            if (roll < ExactCopyRate) { exact += id; orig.text }
            else orig.text.substring(0, orig.text.lastIndexOf(' ')) + " " + word() + " " + word()
          Doc(id, text, orig.lang, s"src${i % 20}")
        case None =>
          val l = lang()
          val ms = markers(l)
          val toks = Array.fill(40 + r.nextInt(81)) {
            if (ms.nonEmpty && r.nextInt(100) < 15) ms(r.nextInt(ms.size)) else word()
          }
          // sentence ends: a period on roughly one token in twelve
          for (j <- toks.indices if r.nextInt(12) == 0) toks(j) = toks(j) + "."
          val body = toks.mkString(" ")
          val text =
            if (r.nextDouble() < BoilerplateRate) {
              boiler += id
              val cut = toks.take(r.nextInt(toks.length)).mkString(" ")
              val span = boilerplateSpans(r.nextInt(boilerplateSpans.size))
              if (cut.isEmpty) span + " " + body
              else cut + " " + span + body.substring(cut.length)
            } else body
          uncopied.add(id)
          Doc(id, text, l, s"src${i % 20}")
      }
    }
    Corpus(docs.toIndexedSeq, copyOf.result(), exact.result(), boiler.result())
  }

  /** Documents in the schema of the fixture's `documents` table. */
  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
