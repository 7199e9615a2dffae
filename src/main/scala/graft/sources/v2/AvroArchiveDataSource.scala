package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.model.Schemas
import graft.sources.{AvroArchiveSink, AvroArchiveSource, ContainerRows}

/** DataSourceV2 connector for the reference's Avro object-container archive
  * layout: `spark.read.format("avro-archive").option("kind", "blocks")
  * .load(dir)`.
  *
  * What makes this the Spark-native read path (vs the binaryFiles seam in
  * [[graft.sources.AvroArchiveSource]]):
  *
  *  - **Filename-range partition pruning.** The archive's filename IS its
  *    zone map (`range-<min>_<max>.<kind>.avro` — reference
  *    src/archiver/filenames.rs:51-83), so height predicates prune whole
  *    container files at PLAN time: `pushFilters` extracts the conjunctive
  *    height bounds and `planInputPartitions` drops every file whose range
  *    doesn't intersect. A 100-TB archive query for one 1000-block chunk
  *    plans exactly one input partition. (Filters are still re-applied by
  *    Spark post-scan — the source prunes files, it does not claim
  *    row-exact evaluation.)
  *  - **Column-pruned decode.** `pruneColumns` narrows the conversion to
  *    the columns the query needs: a `select(height)` over a payload-heavy
  *    blocks archive never materializes the json/uncle blobs into rows
  *    (the container itself is row-major, so the byte stream is still
  *    read — the saving is decode/alloc, the dominant cost for blob
  *    columns).
  *  - **One file per partition** — the natural unit, since range files are
  *    chunk-bounded by construction (≤1000 blocks, src/args.rs:136).
  *
  * Schemas are the pinned static ones (Schemas.schemaFor — never
  * inference; reference src/storage/avro_reader.rs:28-70).
  */
class AvroArchiveDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "avro-archive"

  private def kindOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("kind")).getOrElse(
      throw new IllegalArgumentException(
        "avro-archive requires .option(\"kind\", blocks|txes|traces)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.schemaFor(kindOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new AvroArchiveTable(schema, kindOf(opts),
      Option(opts.get("path")).getOrElse(
        throw new IllegalArgumentException("avro-archive requires a path")))
  }
}

final class AvroArchiveTable(tableSchema: StructType, kind: String, dir: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"avro-archive($kind, $dir)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroArchiveScanBuilder(tableSchema, kind, dir,
      options.getBoolean("lenient", false))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroArchiveWriteBuilder(info.schema(), kind, dir,
      Option(info.options.get("codec")).getOrElse("snappy"))
}

final class AvroArchiveScanBuilder(fullSchema: StructType, kind: String,
    dir: String, lenient: Boolean = false) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty

  /** Conjunctive height bounds of a filter, as (lo, hi) deltas. */
  private def heightBounds(f: Filter): Option[(Long, Long)] = f match {
    case EqualTo("height", v: Long)            => Some((v, v))
    case GreaterThan("height", v: Long)        => Some((v + 1, Long.MaxValue))
    case GreaterThanOrEqual("height", v: Long) => Some((v, Long.MaxValue))
    case LessThan("height", v: Long)           => Some((Long.MinValue, v - 1))
    case LessThanOrEqual("height", v: Long)    => Some((Long.MinValue, v))
    case And(l, r) =>
      (heightBounds(l), heightBounds(r)) match {
        case (Some((a, b)), Some((c, e))) => Some((math.max(a, c), math.min(b, e)))
        case (one @ Some(_), None)        => one
        case (None, one)                  => one
      }
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(heightBounds(_).isDefined)
    filters // conservative: Spark re-evaluates everything post-scan
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val (lo, hi) = accepted.flatMap(heightBounds).foldLeft(
      (Long.MinValue, Long.MaxValue)) { case ((a, b), (c, e)) =>
      (math.max(a, c), math.min(b, e))
    }
    new AvroArchiveScan(required, kind, dir, lo, hi, lenient)
  }
}

final case class AvroFilePartition(path: String) extends InputPartition

final class AvroArchiveScan(required: StructType, kind: String, dir: String,
    lo: Long, hi: Long, lenient: Boolean = false) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // Catalog-sized driver-side planning: list + filename-parse + prune.
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val all = AvroArchiveSource.filesOfKind(spark,
      AvroArchiveSource.listAvroFiles(spark, dir), kind)
    val kept = all.filter { p =>
      val base = p.substring(p.lastIndexOf('/') + 1)
      AvroArchiveSource.parseRangeS(base) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None           => true // unparsable range: never silently drop
      }
    }
    kept.map(AvroFilePartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    new AvroPartitionReaderFactory(conf, required, lenient)
  }

  override def description(): String =
    s"avro-archive kind=$kind dir=$dir heightBounds=[$lo, $hi] " +
      s"readSchema=${required.fieldNames.mkString(",")}"
}

final class AvroPartitionReaderFactory(conf: SerializableConfiguration,
    required: StructType, lenient: Boolean = false)
    extends PartitionReaderFactory {

  /** One container per partition through the shared decoder
    * ([[graft.sources.ContainerRows]]): `lenient = true` turns an
    * unreadable or mid-stream-corrupt container into "the records stop
    * here" instead of a task failure — the verify tier then surfaces the
    * damage through its coverage checks.
    */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = new Path(partition.asInstanceOf[AvroFilePartition].path)
    val rows = new ContainerRows(() => p.getFileSystem(conf.value).open(p),
      required.fields, lenient, null)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = rows.hasNext
      override def get(): InternalRow = rows.next()
      override def close(): Unit = rows.close()
    }
  }
}

/** The connector's write side: `df.write.format("avro-archive")
  * .option("kind", ...).mode("append").save(dir)`.
  *
  * Commit protocol — the V2 shape of the sink's never-overwrite claim
  * (reference src/storage/fs.rs:33-39): every task streams its partition
  * through the sink's one container writer into a HIDDEN temp container
  * and reports it, already named, in its commit message; the job's
  * `BatchWrite.commit` then commits all of them, all or nothing: it
  * claims EVERY target first and renames only once every claim has
  * succeeded.
  * Spark's task-commit coordination guarantees one message per
  * partition, so a speculative duplicate attempt can never race a claim —
  * its `abort` just deletes its temp. A name collision (two partitions
  * covering the same height range, or a pre-existing archive file)
  * releases the markers this commit claimed and fails the JOB before any
  * rename; the job's abort then deletes every temp, so the archive is
  * left exactly as it was.
  *
  * Reference-kind tables with a height column land at the discoverable
  * range/single layout (the filename IS the metadata); other kinds fall
  * back to flat `part-<pid>.<kind>.avro` names.
  */
final class AvroArchiveWriteBuilder(schema: StructType, kind: String,
    dir: String, codec: String) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new AvroArchiveBatchWrite(
      AvroArchiveSink.writeSpec(SparkSession.active, schema, kind, dir, codec,
        scala.util.Try(graft.archive.Filenames.normalizeKind(kind)).toOption
          .filter(_ => schema.fieldNames.contains("height"))))
  }
}

private[sources] final case class AvroWriteCommit(staged: Option[AvroArchiveSink.Staged])
    extends WriterCommitMessage

final class AvroArchiveBatchWrite private[sources] (spec: AvroArchiveSink.WriteSpec)
    extends BatchWrite {

  @transient private lazy val fs = new Path(spec.outDir).getFileSystem(spec.conf.value)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    fs.mkdirs(new Path(spec.outDir))
    new AvroArchiveWriterFactory(spec)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.collect { case AvroWriteCommit(Some(s)) => s }
    val claimed = scala.collection.mutable.ArrayBuffer.empty[Path]
    staged.foreach { s =>
      val target = new Path(spec.outDir, s.target)
      if (!AvroArchiveSink.claimTarget(fs, target)) {
        claimed.foreach(fs.delete(_, false)) // release this commit's markers
        throw new IllegalStateException(
          s"archive file exists (never overwritten): $target")
      }
      claimed += target
    }
    staged.zip(claimed).foreach { case (s, target) =>
      AvroArchiveSink.commitClaimed(fs, new Path(s.tmp), target)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case AvroWriteCommit(Some(s)) =>
        try fs.delete(new Path(s.tmp), false)
        catch { case _: Throwable => () }
      case _ => ()
    }
}

final class AvroArchiveWriterFactory private[sources] (spec: AvroArchiveSink.WriteSpec)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val w = new AvroArchiveSink.ContainerWriter(spec, partitionId)
      override def write(row: InternalRow): Unit = w.write(row) // no split key: never rolls
      override def commit(): WriterCommitMessage = AvroWriteCommit(w.finish())
      override def abort(): Unit = w.abort()
      override def close(): Unit = ()
    }
}
