package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.archive.Catalog
import graft.commands.Commands
import graft.sources.{AvroArchiveSink, AvroArchiveSource}

object Scan {
  /** Range files for the backfill, one hash-less single per height and kind
    * for the recent tail that has not been compacted yet.
    */
  val Size: ChainSize = ChainSize(blocks = 1000, tail = 40, waves = 1, forks = 0,
    holes = 0, chunk = 100)

  /** Queries per pass, by kind: mostly narrow height windows over range
    * files, some over the single-file tail, then catalog range algebra,
    * whole-archive tx aggregations and structural verifies. Fixed counts
    * keep the mix, and so the percentiles, the same for every seed.
    */
  val Mix: Seq[(String, Int)] = Seq("window_range" -> 4, "window_tail" -> 2,
    "catalog" -> 1, "full_scan" -> 2, "verify" -> 2)
}

/** `archive-scan`: read-only analytics over a finished archive. No query
  * writes, so decode and planning are all it measures.
  */
final class Scan(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import Scan._

  private var chain: Chain = _
  private var archive: Path = _
  private var files: Seq[(String, Long)] = Nil
  private val rnd = new Random(seed ^ 0x5ca9L)
  private val planned = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]

  def setup(dir: Path): Unit = {
    chain = ChainGen.generate(Size, seed)
    archive = dir.resolve("archive")
    val arch = archive.toString
    val back = chain.canonical.take(Size.blocks)
    val tail = chain.canonical.drop(Size.blocks)
    Commands.archiveAvro(spark, chain.blockRecords(spark, back), arch, 0L, Size.blocks - 1L,
      Size.chunk, "blocks")
    Commands.archiveAvro(spark, chain.txRecords(spark, back), arch, 0L, Size.blocks - 1L,
      Size.chunk, "txes")
    AvroArchiveSink.writeSingles(chain.blockRecords(spark, tail), "blocks", arch)
    AvroArchiveSink.writeSingles(chain.txRecords(spark, tail), "txes", arch)
    files = Workloads.archiveFiles(archive)
  }

  /** A window of `len` heights at a seeded offset in [lo, lo + span). */
  private def window(lo: Long, span: Long, len: Int): (Long, Long) = {
    val s = lo + rnd.nextInt((span - len + 1).toInt)
    (s, s + len - 1)
  }

  private def windowQuery(name: String, lo: Long, hi: Long, kind: String, t: Tracer, o: Outcome): Unit = {
    val arch = archive.toString
    val sumCol = if (kind == "blocks") "height" else "index"
    val df = Workloads.v2(spark, arch, kind)
      .filter(col("height").between(lo, hi))
      .agg(count(lit(1)), sum(sumCol))
    o.op(name)(t.span(s"sources.v2.$name")(df.collect().head)).foreach { r =>
      val (n, s) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      val (wn, ws) =
        if (kind == "blocks") (hi - lo + 1, (lo + hi) * (hi - lo + 1) / 2)
        else (chain.txesIn(lo, hi), chain.txIndexSumIn(lo, hi))
      o.check(s"$name.$kind", n == wn && s == ws, s"[$lo,$hi] count $n sum $s, expected $wn and $ws")
    }
    if (t.enabled) {
      val total = files.count(f => AvroArchiveSource.parseKindS(f._1.split('/').last).contains(kind))
      planned += ((Workloads.v2FilesPlanned(df), total))
    }
  }

  def pass(dir: Path, t: Tracer, o: Outcome): Unit =
    run(rnd.shuffle(Mix.flatMap { case (q, k) => Seq.fill(k)(q) }), t, o)

  /** One query of each kind. */
  override def warmup(dir: Path, t: Tracer, o: Outcome): Unit = run(Mix.map(_._1), t, o)

  private def run(queries: Seq[String], t: Tracer, o: Outcome): Unit = {
    val arch = archive.toString
    val n = Size.heights.toLong
    queries.zipWithIndex.foreach { case (q, i) =>
      val kind = if (i % 2 == 0) "blocks" else "txes"
      q match {
        case "window_range" =>
          val (lo, hi) = window(0L, Size.blocks, 100)
          windowQuery(q, lo, hi, kind, t, o)
        case "window_tail" =>
          val (lo, hi) = window(Size.blocks, Size.tail, 20)
          windowQuery(q, lo, hi, kind, t, o)
        case "catalog" =>
          val (lo, hi) = window(0L, n, 300)
          o.op(q)(t.span("archive.catalog.query") {
            val cat = Catalog.withParsedNames(spark.createDataFrame(
              AvroArchiveSource.listAvroFiles(spark, arch).map(Tuple1(_))).toDF("path"))
            (Catalog.intersecting(cat, lo, hi).count(), Catalog.missingHeights(spark, cat, lo, hi).count())
          }).foreach { case (hits, missing) =>
            val want = files.count { f =>
              AvroArchiveSource.parseRangeS(f._1.split('/').last).exists(r => r._1 <= hi && r._2 >= lo)
            }
            o.check("catalog.intersecting", hits == want && missing == 0,
              s"[$lo,$hi] $hits files and $missing missing heights, expected $want and 0")
          }
        case "full_scan" =>
          o.op(q)(t.span("sources.full_scan") {
            Workloads.v2(spark, arch, "txes").agg(count(lit(1)), sum("index"), countDistinct("height")).head()
          }).foreach { r =>
            o.check("full_scan.txes", r.getLong(0) == chain.txCount &&
              r.getLong(1) == chain.txIndexSumIn(0L, n - 1) && r.getLong(2) == n,
              s"${r.getLong(0)} txes over ${r.getLong(2)} heights, index sum ${r.getLong(1)}")
          }
        case "verify" =>
          o.op(q)(t.span("commands.verify") {
            Commands.verify(spark, arch, "avro").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          }).foreach { v =>
            val want = Map("dup-heights" -> 0L, "missing-heights" -> 0L, "chain-breaks" -> 0L,
              "total-blocks" -> n)
            o.check("verify.clean", v == want, s"$v")
          }
      }
    }
  }

  def extraMetrics(o: Outcome): Map[String, Double] = Map(
    "request_p50_s" -> Stats.median((o.samples("window_range") ++ o.samples("window_tail")).toSeq),
    "verify_s" -> Stats.median(o.samples("verify").toSeq),
    "full_scan_s" -> Stats.median(o.samples("full_scan").toSeq),
    "archive_bytes_per_block" -> files.map(_._2).sum.toDouble / Size.heights)

  def layerMetrics(t: Tracer, o: Outcome, work: Path): Map[String, Double] = {
    val tail = chain.canonical.drop(Size.blocks)
    val probes = Workloads.archiveProbes(spark, t, o, archive, Size.heights, chain.txCount,
      Seq("blocks" -> chain.blockRecords(spark, tail), "txes" -> chain.txRecords(spark, tail)),
      work.resolve("encode-probe"))
    val kernels = Workloads.kernelProbes(spark, t)
    t.drain()
    val idle = Seq("archive", "stream", "fix", "compact", "reverify")
      .flatMap(c => Workloads.commandMetrics(t, c, s"commands.$c", cores))
    probes ++ kernels ++ idle ++ Workloads.commandMetrics(t, "verify", "commands.verify", cores) ++ Map(
      "commands.fix_healed" -> 0.0,
      "commands.verify_deleted" -> 0.0,
      "streaming.batches" -> 0.0,
      "streaming.batch_p50_s" -> 0.0,
      "streaming.rows_per_s" -> 0.0,
      "sources.v2_files_planned" -> Stats.median(planned.map(_._1.toDouble).toSeq),
      "sources.v2_files_kept_frac" -> Stats.median(planned.map(p => p._1.toDouble / p._2).toSeq),
      "archive.compact_rows_read" -> 0.0,
      "archive.singles_merged" -> 0.0,
      "archive.singles_left" -> files.count(f => Workloads.isSingle(f._1)).toDouble,
      "archive.rewrite_bytes_per_live_byte" -> 0.0)
  }
}
