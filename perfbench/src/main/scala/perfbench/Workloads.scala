package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.archive.Catalog
import graft.functions.{BlockLink, ChainSequenceAggregator, ShingleHashes, SimhashFingerprint, WinnowFingerprints}
import graft.sources.{AvroArchiveSink, AvroArchiveSource}

object Workloads {
  /** Unit of a metric, from its name. */
  def unitOf(n: String): String =
    if (n == "archive_bytes_per_block") "B"
    else if (n.endsWith("_ns_per_record") || n.endsWith("_ns_per_row")) "ns"
    else if (n.endsWith("_per_s")) "1/s"
    else if (n.endsWith("_s")) "s"
    else if (n.endsWith("_mb") || n.endsWith(".mb_written")) "MB"
    else if (n.endsWith("_frac") || n.endsWith("_per_live_byte")) "ratio"
    else "count"

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1" else BigDecimal(v).underlying.stripTrailingZeros.toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c    => c.toString
    } + "\""

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toList
    all.reverse.foreach(Files.deleteIfExists)
  }

  /** Archive files under `dir` as (path relative to dir, bytes). */
  def archiveFiles(dir: Path): Seq[(String, Long)] =
    if (!Files.exists(dir)) Seq.empty
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".avro"))
      .map(p => dir.relativize(p).toString -> Files.size(p)).toList.sortBy(_._1)

  def isSingle(rel: String): Boolean = !rel.split('/').last.startsWith("range-")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def v2(spark: SparkSession, dir: String, kind: String): DataFrame =
    spark.read.format("avro-archive").option("kind", kind).load(dir)

  private object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Files the DSv2 source planned for an executed `df` (one input
    * partition per file). Reads the plan the last action ran; no re-plan.
    */
  def v2FilesPlanned(df: DataFrame): Int =
    PlanWalk.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.inputPartitions.size
    }.sum

  /** Per-call medians of the spans named `name`, with their Spark work. */
  def commandMetrics(t: Tracer, cmd: String, spanName: String, cores: Int): Map[String, Double] = {
    val ss = t.all.filter(_.name == spanName)
    def med(f: Span => Double) = if (ss.isEmpty) 0.0 else Stats.median(ss.map(f))
    val p = s"commands.$cmd"
    Map(
      s"${p}_s" -> med(_.seconds),
      s"${p}_jobs" -> med(s => t.subtreeWork(s.id).jobs.toDouble),
      s"${p}_tasks" -> med(s => t.subtreeWork(s.id).tasks.toDouble),
      s"${p}_shuffle_mb" -> med(s => t.subtreeWork(s.id).shuffleWriteBytes / 1e6),
      s"${p}_exec_busy_frac" -> med(s => t.subtreeWork(s.id).execRunMs / 1e3 / (s.seconds * cores)))
  }

  def spanSeconds(t: Tracer, name: String): Double =
    t.all.filter(_.name == name).map(_.seconds).sum

  /** Layer probes over a finished archive: listing, full decode of both
    * kinds, the catalog range algebra, and an encode of `encodeRecords`
    * into a fresh directory. Each is its own span.
    */
  def archiveProbes(spark: SparkSession, t: Tracer, o: Outcome, archive: Path,
      heights: Long, txes: Long, encode: Seq[(String, DataFrame)], encodeDir: Path): Map[String, Double] = {
    val dir = archive.toString
    val files = t.span("sources.list")(AvroArchiveSource.listAvroFiles(spark, dir))
    val decoded = t.span("sources.decode") {
      Seq("blocks", "txes").map { kind =>
        AvroArchiveSource.readArchive(spark, dir, kind).count()
      }.sum
    }
    o.check("probe.decode_records", decoded == heights + txes, s"decoded $decoded of ${heights + txes}")
    val missing = t.span("archive.catalog") {
      val cat = Catalog.withParsedNames(spark.createDataFrame(
        files.map(Tuple1(_))).toDF("path")).cache()
      val slots = Catalog.groupTables(cat).filter(col("duplicate")).count()
      val gaps = Catalog.missingHeights(spark, cat, 0L, heights - 1).count()
      cat.unpersist()
      slots + gaps
    }
    o.check("probe.catalog", missing == 0, s"$missing duplicate slots or missing heights")
    deleteTree(encodeDir)
    t.span("sources.encode") {
      encode.foreach { case (kind, df) => AvroArchiveSink.writeSingles(df, kind, encodeDir.toString) }
    }
    val written = archiveFiles(encodeDir)
    val decodeSpan = t.all.filter(_.name == "sources.decode").last
    val decodeS = decodeSpan.seconds
    Map(
      "sources.list_s" -> spanSeconds(t, "sources.list"),
      "sources.files_listed" -> files.size.toDouble,
      "sources.decode_s" -> decodeS,
      "sources.decode_records" -> decoded.toDouble,
      "sources.decode_ns_per_record" -> decodeS * 1e9 / math.max(decoded, 1L),
      "sources.decode_tasks" -> t.subtreeWork(decodeSpan.id).tasks.toDouble,
      "sources.encode_s" -> spanSeconds(t, "sources.encode"),
      "sources.files_written" -> written.size.toDouble,
      "sources.mb_written" -> written.map(_._2).sum / 1e6,
      "archive.catalog_s" -> spanSeconds(t, "archive.catalog"))
  }

  private val KernelRows = 200000
  private val LinkRows = 20000

  /** ns/row of the native kernels through their public Column/Aggregator
    * entry points, over fixed inputs (independent of the seed). Each is
    * materialised through the noop sink; the median of three is kept.
    */
  def kernelProbes(spark: SparkSession, t: Tracer): Map[String, Double] = {
    import spark.implicits._
    // 32 tokens per row over a 500-word vocabulary
    val docs = spark.range(KernelRows).repartition(4)
      .select(expr("transform(sequence(0, 31), i -> concat('w', pmod(hash(id, i), 500)))").as("tokens"))
      .cache()
    docs.count()
    val links = (0 until LinkRows).map(h => BlockLink(h, s"b$h", s"b${h - 1}")).toDS()
      .repartition(4).cache()
    links.count()
    def time(name: String, rows: Int)(body: => Unit): Double = {
      val xs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        t.span(s"functions.$name")(body)
        (System.nanoTime() - t0).toDouble
      }
      Stats.median(xs) / rows
    }
    val m = Map(
      "functions.shingle_hashes_ns_per_row" ->
        time("shingle_hashes", KernelRows)(noop(docs.select(ShingleHashes(col("tokens"), 3)))),
      "functions.simhash_ns_per_row" ->
        time("simhash", KernelRows)(noop(docs.select(SimhashFingerprint(col("tokens"))))),
      "functions.winnow_ns_per_row" ->
        time("winnow", KernelRows)(noop(docs.select(WinnowFingerprints(col("tokens"))))),
      "functions.chain_sequence_ns_per_row" ->
        time("chain_sequence", LinkRows)(links.select(ChainSequenceAggregator.toColumn).head()))
    docs.unpersist()
    links.unpersist()
    m
  }
}
