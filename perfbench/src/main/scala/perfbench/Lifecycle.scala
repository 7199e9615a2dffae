package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.archive.Filenames
import graft.commands.{Commands, VerifyFull}
import graft.model.BitcoinAdapter
import graft.sources.AvroArchiveSource

object Lifecycle {
  /** Sized so several whole lifecycles fit one run: the streamed singles,
    * one file per height and kind, dominate the cost, as they do at the
    * reference's 20k-block scale.
    */
  val Size: ChainSize = ChainSize(blocks = 500, tail = 50, waves = 6, forks = 3,
    holes = 4, chunk = 50)

  /** Full scans of the finished archive at the end of each measured pass. */
  val ScanRepeats = 3

  val HeadSchema: StructType = StructType(Seq(
    StructField("height", LongType), StructField("blockId", StringType),
    StructField("parentId", StringType), StructField("payload", StringType)))
}

/** `chain-lifecycle`: the command lifecycle of an archive, in a fresh
  * directory per pass — backfill, a heads tail with orphan forks, holes
  * punched in the tx singles, fix, verify with fix.clean, compact, a second
  * verify, and a consumer's full scan of the result.
  */
final class Lifecycle(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import Lifecycle._

  private var chain: Chain = _
  private var waveFiles: Seq[Path] = Nil
  private var blocksAll, txAll, txTail, blocksBackfill, txBackfill, canonical: DataFrame = _
  private var lastArchive: Path = _
  private var bytesPerBlock = Double.NaN
  // layer counts from the latest traced pass
  private var compactRowsRead, singlesMerged, singlesLeft = 0L
  private var rewriteBytesPerLiveByte = 0.0
  private var healed, verifyDeleted = 0L

  def setup(dir: Path): Unit = {
    chain = ChainGen.generate(Size, seed)
    val tail = chain.canonical.drop(Size.blocks)
    blocksAll = chain.blockRecords(spark, chain.canonical)
    txAll = chain.txRecords(spark, chain.canonical)
    txTail = chain.txRecords(spark, tail ++ chain.orphans)
    blocksBackfill = chain.blockRecords(spark, chain.canonical.take(Size.blocks))
    txBackfill = chain.txRecords(spark, chain.canonical.take(Size.blocks))
    canonical = chain.canonicalHashes(spark)
    waveFiles = chain.waves.zipWithIndex.map { case (w, i) =>
      val out = dir.resolve(s"wave$i")
      chain.heads(spark, w).coalesce(1).write.parquet(out.toString)
      Files.list(out).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    }
  }

  def pass(dir: Path, t: Tracer, o: Outcome): Unit = lifecycle(dir, t, o, ScanRepeats)

  /** The warm-up scans once: the repeats only steady a measured median. */
  override def warmup(dir: Path, t: Tracer, o: Outcome): Unit = lifecycle(dir, t, o, 1)

  private def lifecycle(dir: Path, t: Tracer, o: Outcome, scans: Int): Unit = {
    val archive = dir.resolve("archive")
    val arch = archive.toString
    val heads = Files.createDirectories(dir.resolve("heads"))
    val ckpt = dir.resolve("checkpoint").toString
    lastArchive = archive
    val last = Size.heights - 1L
    val backfillEnd = Size.blocks - 1L

    o.op("archive")(t.span("commands.archive") {
      (Commands.archiveAvro(spark, blocksBackfill, arch, 0L, backfillEnd, Size.chunk, "blocks"),
        Commands.archiveAvro(spark, txBackfill, arch, 0L, backfillEnd, Size.chunk, "txes"))
    }).foreach { case (nb, nt) =>
      o.check("archive.records", nb == Size.blocks && nt == chain.txesIn(0L, backfillEnd),
        s"wrote $nb blocks and $nt txes")
    }

    // each wave of heads lands in the heads directory and one stream call
    // archives it: one micro-batch per wave
    t.span("commands.stream") {
      waveFiles.zipWithIndex.foreach { case (f, i) =>
        Files.copy(f, heads.resolve(s"wave$i.parquet"))
        o.op("stream_wave")(Commands.streamAvro(spark, heads.toString, HeadSchema, arch, ckpt,
          rawTxes = Some(txTail)))
      }
    }
    val streamed = Workloads.archiveFiles(archive).map(_._1)
    o.check("stream.files", streamed == chain.expectedFiles,
      s"${streamed.size} files, expected ${chain.expectedFiles.size}")

    t.span("bench.holes") {
      chain.holes.foreach { h =>
        val p = archive.resolve(Filenames.relativeSinglePath(h, "txes", Some(chain.canonical(h.toInt).hash)))
        o.check("holes.delete", Files.deleteIfExists(p), s"no tx single at $h")
      }
    }

    o.op("fix")(t.span("commands.fix") {
      Commands.fixAvro(spark, arch, Map("blocks" -> blocksAll, "txes" -> txAll), 0L, last,
        forkHashCol = Some("blockId")).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }).foreach { got =>
      healed = got.size
      val want = chain.holes.map(h => ("txes", h)).toSet
      o.check("fix.healed", got == want, s"healed ${got.toSeq.sorted.take(10)}, planted ${want.toSeq.sorted}")
    }

    def verify(name: String, opts: VerifyFull.Options) = o.op(name)(t.span(s"commands.$name") {
      val r = Commands.verifyFull(spark, arch, BitcoinAdapter, 0L, last, canonical, opts)
      (r.batches.collect(), r.deleted)
    })
    def ok(b: org.apache.spark.sql.Row) = b.getAs[Boolean]("blocks_ok") && b.getAs[Boolean]("txes_ok")
    def base(p: String) = p.split('/').last

    verify("verify", VerifyFull.Options(fixClean = true, chunkSize = Size.chunk)).foreach {
      case (batches, deleted) =>
        o.check("verify.green", batches.nonEmpty && batches.forall(ok),
          s"${batches.count(b => !ok(b))} of ${batches.length} batches broken")
        verifyDeleted = deleted.size
        val want = chain.orphans.flatMap(b => Seq("blocks", "txes")
          .map(k => base(Filenames.relativeSinglePath(b.height, k, Some(b.hash))))).toSet
        val got = deleted.map(d => base(d._1)).toSet
        o.check("verify.deleted", got == want && deleted.forall(_._2 == "forked-out"),
          s"deleted ${deleted.map(d => base(d._1) -> d._2).take(10)}, planted ${want.size} orphan files")
    }

    if (t.enabled) {
      val singles = Workloads.archiveFiles(archive).map(_._1).filter(Workloads.isSingle).map(archive.resolve(_).toString)
      compactRowsRead =
        AvroArchiveSource.readArchiveFiles(spark, singles.filter(_.endsWith(".block.avro")), "blocks").count() +
          AvroArchiveSource.readArchiveFiles(spark, singles.filter(_.endsWith(".txes.avro")), "txes").count()
    }
    val beforeCompact = Workloads.archiveFiles(archive).map(_._1).toSet
    o.op("compact")(t.span("commands.compact") {
      val (v, d) = Commands.compactAvro(spark, arch, Size.chunk)
      (v.collect(), d)
    }).foreach { case (_, deleted) => singlesMerged = deleted.size }

    val after = Workloads.archiveFiles(archive)
    if (t.enabled) {
      singlesLeft = after.count(f => Workloads.isSingle(f._1))
      val written = after.filterNot(f => beforeCompact(f._1)).map(_._2).sum
      rewriteBytesPerLiveByte = written.toDouble / math.max(after.map(_._2).sum, 1L)
    }
    bytesPerBlock = after.map(_._2).sum.toDouble / Size.heights

    // Known defect: compact should leave every complete chunk of every kind
    // as one range file, but it compares a chunk's row count to its height
    // span, so a tx chunk (more than one row per height) never compacts. The
    // chunk is then split across a block range file and tx singles, which
    // the periodic verify sees as incomplete groups. Both findings are
    // reported as the defect; anything else either step finds is a failure.
    def rangeOf(f: String) = AvroArchiveSource.parseRangeS(base(f)).get
    val split = (for {
      kind <- Seq("blocks", "txes")
      c <- 0L until Size.heights / Size.chunk
      s = c * Size.chunk
      e = s + Size.chunk - 1
      if !after.exists(_._1 == Filenames.relativeRangePath(s, e, kind)) ||
        after.exists { case (f, _) => Workloads.isSingle(f) &&
          AvroArchiveSource.parseKindS(base(f)).contains(kind) && rangeOf(f)._1 >= s && rangeOf(f)._1 <= e }
    } yield (kind, s, e)).toSeq
    def inSplit(s: Long, e: Long) = split.exists(c => s >= c._2 && e <= c._3)
    val splitNote = split.map(c => s"${c._1}[${c._2},${c._3}]").mkString(" ")
    o.knownDefect("compact.complete_chunks_ranged", split.isEmpty,
      s"complete chunks not compacted: $splitNote; ${after.count(f => Workloads.isSingle(f._1))} singles left")

    // The periodic verify reports and plans deletions but does not apply
    // them (dry run): on a split chunk, fix.clean would delete live data.
    verify("reverify", VerifyFull.Options(fixClean = true, dryRun = true, chunkSize = Size.chunk)).foreach {
      case (batches, planned) =>
        val broken = batches.filterNot(ok)
          .map(b => (b.getAs[Long]("group_s"), b.getAs[Long]("group_e")))
        val (knownBroken, otherBroken) = broken.partition { case (s, e) => inSplit(s, e) }
        val (knownDel, otherDel) = planned.partition(d => inSplit(rangeOf(d._1)._1, rangeOf(d._1)._2))
        o.check("reverify.green", batches.nonEmpty && otherBroken.isEmpty,
          s"${otherBroken.length} of ${batches.length} batches broken outside split chunks: ${otherBroken.take(5).toSeq}")
        o.check("reverify.deleted", otherDel.isEmpty,
          s"would delete ${otherDel.map(d => base(d._1) -> d._2).take(5)}")
        o.knownDefect("reverify.split_chunks", knownBroken.isEmpty && knownDel.isEmpty,
          s"${knownBroken.length} broken batches and ${knownDel.size} planned deletions in $splitNote")
    }

    // A pass measures one of every other command, but scans are read-only
    // and cheap, so several give full_scan_s a median within the pass.
    (1 to scans).foreach { _ =>
      o.op("full_scan")(t.span("sources.full_scan") {
        val b = Workloads.v2(spark, arch, "blocks").agg(count(lit(1)), sum("height")).head()
        val x = Workloads.v2(spark, arch, "txes").agg(count(lit(1)), sum("index")).head()
        (b.getLong(0), b.getLong(1), x.getLong(0), x.getLong(1))
      }).foreach { case (nb, sb, nt, st) =>
        val n = Size.heights.toLong
        o.check("full_scan.blocks", nb == n && sb == n * (n - 1) / 2, s"$nb blocks, height sum $sb")
        o.check("full_scan.txes", nt == chain.txCount && st == chain.txIndexSumIn(0L, n - 1),
          s"$nt txes of ${chain.txCount}, index sum $st")
      }
    }
  }

  def extraMetrics(o: Outcome): Map[String, Double] = Map(
    "request_p50_s" -> Stats.median(o.samples("stream_wave").toSeq),
    "verify_s" -> Stats.median(o.samples("verify").toSeq),
    "full_scan_s" -> Stats.median(o.samples("full_scan").toSeq),
    "archive_bytes_per_block" -> bytesPerBlock)

  def layerMetrics(t: Tracer, o: Outcome, work: Path): Map[String, Double] = {
    val tail = chain.canonical.drop(Size.blocks)
    val probes = Workloads.archiveProbes(spark, t, o, lastArchive, Size.heights, chain.txCount,
      Seq("blocks" -> chain.blockRecords(spark, tail), "txes" -> chain.txRecords(spark, tail)),
      work.resolve("encode-probe"))
    val kernels = Workloads.kernelProbes(spark, t)
    t.drain()
    val cmds = Seq("archive", "stream", "fix", "verify", "compact", "reverify")
      .flatMap(c => Workloads.commandMetrics(t, c, s"commands.$c", cores))
    val (streams, batches) = t.batchesIn("commands.stream")
    val txScan = Workloads.v2(spark, lastArchive.toString, "txes")
    txScan.collect()
    val planned = Workloads.v2FilesPlanned(txScan)
    probes ++ kernels ++ cmds ++ Map(
      "commands.fix_healed" -> healed.toDouble,
      "commands.verify_deleted" -> verifyDeleted.toDouble,
      "streaming.batches" -> batches.size.toDouble / streams.max(1),
      "streaming.batch_p50_s" -> (if (batches.isEmpty) 0.0 else Stats.median(batches.map(_._1))),
      "streaming.rows_per_s" -> (if (batches.isEmpty) 0.0 else batches.map(_._2).sum / batches.map(_._1).sum),
      "sources.v2_files_planned" -> planned.toDouble,
      "sources.v2_files_kept_frac" -> planned.toDouble /
        Workloads.archiveFiles(lastArchive).count(_._1.contains(".txes.")).max(1),
      "archive.compact_rows_read" -> compactRowsRead.toDouble,
      "archive.singles_merged" -> singlesMerged.toDouble,
      "archive.singles_left" -> singlesLeft.toDouble,
      "archive.rewrite_bytes_per_live_byte" -> rewriteBytesPerLiveByte)
  }
}
