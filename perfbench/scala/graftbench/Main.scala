package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM half. perfbench/run.py starts it with
  *
  * {{{
  *   --workload migrate|ingest --seed N --seconds S --trace 0|1
  *   --work DIR --spawned EPOCH_SECONDS
  * }}}
  *
  * and it writes `DIR/result.json`: attempted ops, failure messages,
  * and the end-to-end metrics (untraced) or the per-layer
  * metrics (traced). All inputs are generated from the seed under DIR.
  */
object Main {

  /** Input sizes: a run of either workload takes about a minute on 4
    * cores, with enough timed ops in a 20 s window for a steady median.
    */
  val MigrateSf = 0.01
  val MigrateLogRecords = 20000
  val IngestDocs = 8000
  val IngestBatchDocs = 250

  /** Every per-layer span of every workload: a traced run reports all of
    * them, 0 for a layer its workload does not use.
    */
  val AllSpans: Seq[String] = Seq(
    "operators.introspect", "workload.logmine", "convert.convert", "map.preflight",
    "map.nest", "sinks.json", "sinks.zip",
    "queries.x93", "ext.spancut", "ext.langid", "ext.quality", "ext.cluster", "ext.sample",
    "ext.build", "ext.screen", "ext.append", "ext.takedown", "ext.compact")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val spawned = opt("spawned").toDouble
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(spark)
    val w = workload match {
      case "migrate" => new Migrate(spark, work, trace, traced, seed, MigrateSf, MigrateLogRecords)
      case "ingest" => new Ingest(spark, work, trace, traced, seed, IngestDocs, IngestBatchDocs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionS = System.currentTimeMillis() / 1000.0 - spawned
    val inputsS = timeOf(w.inputs())
    val warmupS = timeOf(w.warmup())
    val setupS = System.currentTimeMillis() / 1000.0 - spawned
    trace.set(traced)
    w.measure(seconds)
    w.finish()
    trace.set(false)

    val secs = w.ops.map(_._1).toSeq
    val metrics: Map[String, Double] =
      if (!traced) Map(
        "op_p50_s" -> Trace.median(secs),
        "docs_per_s" -> Trace.median(w.ops.map(o => o._2 / o._1).toSeq),
        "setup_s" -> setupS)
      else {
        val on = w.ops.filter(_._3).map(_._1).toSeq
        val off = w.ops.filterNot(_._3).map(_._1).toSeq
        trace.report(AllSpans) ++ Ingest.Extras.map(_ -> 0.0) ++ w.layerExtras ++ Map(
          "jvm.heap_peak_mb" -> heapPeakMb(),
          "trace.overhead_s" -> (if (on.isEmpty || off.isEmpty) 0.0
            else Trace.median(on) - Trace.median(off)),
          "trace.gap_frac" -> (if (w.covered.isEmpty) 0.0
            else 1 - Trace.median(w.covered.toSeq)))
      }
    val result = Map[String, Any](
      "attempted" -> w.attempted,
      "failures" -> w.failures.take(20).toSeq,
      "metrics" -> metrics,
      "ops" -> secs,
      "stamp" -> Map("heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> spark.version, "setup_session_s" -> sessionS, "setup_inputs_s" -> inputsS,
        "setup_warmup_s" -> warmupS, "check_s" -> w.checkSeconds, "gc_s" -> gcSeconds()),
      "extra" -> w.extraResult)
    Files.write(new File(work, "result.json").toPath, json(result).getBytes(UTF_8))
    spark.stop()
  }

  private def timeOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds the JVM has spent in garbage collection. */
  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
  }

  /** Peak used heap, summed over the heap memory pools. */
  private def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Minimal JSON for the result file: maps, sequences, strings, numbers. */
  def json(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }
}
