package graft.sources

import java.nio.ByteBuffer
import java.util.UUID

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import graft.archive.Filenames

/** Writer for the reference's Avro object-container archive format
  * (reference: src/storage/fs.rs:135-219; codecs snappy | zstd(9),
  * src/global.rs:34-46) — so archives this engine produces stay readable
  * by the reference tooling and vice versa.
  *
  * The Avro schema is DERIVED from the engine's static StructTypes
  * (graft.model.Schemas) — same field names/types the reference embeds.
  * Every write — `write`, `writeSingles`, `writeChunked` and the
  * DataSourceV2 writer — runs the one roll-over [[ContainerWriter]]; they
  * differ only in where a new file starts and in what a taken name means.
  *
  * ALL IO goes through `org.apache.hadoop.fs.FileSystem`, resolved from
  * the output path's scheme — local paths, HDFS and object stores (the
  * reference's S3 backend, src/storage/objects.rs:170-330) take the same
  * code path. The never-overwrite protocol is: write the container to a
  * hidden temp object, then claim the final name
  * (`create(target, overwrite=false)` IS the claim on HDFS — the namenode
  * serializes it; on `file://` the claim drops to a java.nio O_EXCL create
  * because Hadoop's local create is check-then-act), then swap the claimed
  * marker for the data in ONE atomic rename. A crashed task can only ever
  * leave a hidden temp orphan, never a partial file under a final name.
  *
  * Atomicity caveat, scoped honestly: the claim is atomic on HDFS and
  * `file://` only. On S3A, `create(overwrite=false)` is itself
  * check-then-act (a HEAD then PUT), so concurrent writers of the SAME
  * target can both "win" — last PUT wins, same best-effort semantics as
  * the reference's own S3 backend, whose never-overwrite is also a
  * list-then-put (objects.rs:112-167,170-230). Callers that need a hard
  * guarantee on object stores must fence at the job level (the archive
  * commands already do: one task owns one chunk by partitioning).
  */
object AvroArchiveSink {

  /** Avro record schema for a Spark StructType (timestamps as
    * timestamp-millis longs, binaries as bytes, nullables as unions —
    * matching src/avros.rs's shapes).
    */
  def avroSchema(st: StructType, name: String): Schema = {
    var fields = SchemaBuilder.record(name).namespace("graft").fields()
    st.fields.foreach { f =>
      val base = f.dataType match {
        case StringType    => Schema.create(Schema.Type.STRING)
        case LongType      => Schema.create(Schema.Type.LONG)
        case IntegerType   => Schema.create(Schema.Type.INT)
        case BinaryType    => Schema.create(Schema.Type.BYTES)
        case DoubleType    => Schema.create(Schema.Type.DOUBLE)
        case TimestampType | TimestampNTZType =>
          val s = Schema.create(Schema.Type.LONG)
          org.apache.avro.LogicalTypes.timestampMillis().addToSchema(s)
        case other => throw new IllegalArgumentException(s"unsupported: $other")
      }
      fields =
        if (f.nullable)
          fields.name(f.name)
            .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL), base))
            .withDefault(null)
        else
          fields.name(f.name).`type`(base).noDefault()
    }
    fields.endRecord()
  }

  private def mkCodec(codec: String): CodecFactory = codec match {
    case "snappy"  => CodecFactory.snappyCodec()
    case "zstd"    => CodecFactory.zstandardCodec(9)
    case "deflate" => CodecFactory.deflateCodec(6)
    case "null"    => CodecFactory.nullCodec()
    case other     => throw new IllegalArgumentException(s"codec: $other")
  }

  /** Claim a target path. On HDFS `create(overwrite = false)` is the
    * atomic claim; on object stores it is best-effort check-then-act (see
    * the class scaladoc caveat — the reference's S3 backend has the same
    * semantics, objects.rs:170-230); on
    * `file://` Hadoop's local create is a non-atomic check-then-act, so
    * the claim drops to java.nio's O_EXCL create. Returns false when the
    * target already exists (the reference's never-overwrite skip,
    * src/storage/fs.rs:33-39 / stream.rs:49-52).
    */
  private[sources] def claimTarget(fs: FileSystem, target: Path): Boolean =
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(target.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      try { java.nio.file.Files.createFile(local); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try { fs.create(target, false).close(); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }

  /** Swap a successfully-claimed marker for the written temp container in
    * ONE atomic rename — never delete-then-rename, which would reopen the
    * claim window (a speculative/retried task could re-claim the name
    * between the two calls and both writers would commit). On `file://`
    * that is java.nio's ATOMIC_MOVE (rename(2) replaces the marker
    * atomically); elsewhere it is `FileContext.rename(OVERWRITE)`, which
    * HDFS serializes in the namenode.
    */
  private[sources] def commitClaimed(fs: FileSystem, tmp: Path, target: Path): Unit =
    if (fs.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      org.apache.hadoop.fs.FileContext
        .getFileContext(fs.getUri, fs.getConf)
        .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  /** Write `df` as one Avro container file per partition under `outDir`.
    *
    * Archive kinds (blocks/txes/traces aliases) with a `heightCol` column
    * get the reference's discoverable layout — the filename IS the
    * metadata (src/archiver/filenames.rs:51-83): each partition lands at
    * `L1/range-<min>_<max>.<kind>.avro`, or `L1/L2/<h>.<suffix>.avro` when
    * it holds a single height. Callers control file ranges by partitioning
    * (e.g. `repartition(col(chunk))`); partitions must not collide on a
    * name — an existing target throws (the reference's never-overwrite
    * `create`, src/storage/fs.rs:33-39). Non-archive tables (no reference
    * kind) fall back to flat `part-<pid>.<kind>.avro` names.
    *
    * Returns the number of records written.
    */
  def write(df: DataFrame, kind: String, outDir: String,
      codec: String = "snappy", heightCol: String = "height",
      forkHashCol: Option[String] = None): Long = {
    val refKind = scala.util.Try(Filenames.normalizeKind(kind)).toOption
      .filter(_ => df.columns.contains(heightCol))
    // reorg singles carry their block hash in the name (filenames.rs:60-63)
    run(df, writeSpec(df.sparkSession, df.schema, kind, outDir, codec, refKind,
      heightCol, forkHashCol), skipExisting = false)
  }

  /** Write one single-height container PER HEIGHT (the stream command's
    * file shape: one `L1/L2/<h>[.<hash>].<suffix>.avro` per archived
    * block, reference src/command/stream.rs + archiver.rs:53-113).
    * Existing targets are SKIPPED, not overwritten — the reference
    * stream's `overwrite: false` (stream.rs:49-52), which is what makes
    * replays idempotent. Rows are co-partitioned by height and split into
    * files on (height, fork-hash) boundaries inside each partition, so
    * hash-partition collisions can never merge two heights into a range
    * file. Returns the number of records in files that actually landed.
    */
  def writeSingles(df: DataFrame, kind: String, outDir: String,
      codec: String = "snappy", heightCol: String = "height",
      forkHashCol: Option[String] = None): Long = {
    val split = heightCol +: forkHashCol.toSeq
    run(df.repartition(col(heightCol)).sortWithinPartitions(split.map(col): _*),
      writeSpec(df.sparkSession, df.schema, kind, outDir, codec,
        Some(Filenames.normalizeKind(kind)), heightCol, forkHashCol, split),
      skipExisting = true)
  }

  /** One container PER CHUNK (the compact command's range files): rows are
    * co-partitioned by `chunkCol` and split on chunk boundaries INSIDE
    * each sorted partition — hash-partition collisions can therefore never
    * merge two chunks into one file. Each file is named from its own
    * min/max height (`L1/range-<s>_<e>.<kind>.avro`, or a single path for
    * one-height chunks); existing targets are kept (create-if-absent).
    * The chunk key drives file splitting but is NOT part of the record.
    * Returns records written into files that landed.
    */
  def writeChunked(df: DataFrame, kind: String, outDir: String,
      chunkCol: String, codec: String = "zstd",
      heightCol: String = "height"): Long =
    run(df.repartition(col(chunkCol)).sortWithinPartitions(col(chunkCol), col(heightCol)),
      writeSpec(df.sparkSession, df.schema, kind, outDir, codec,
        Some(Filenames.normalizeKind(kind)), heightCol, split = Seq(chunkCol),
        dropCol = Some(chunkCol)),
      skipExisting = true)

  /** What every task of one write needs: the input row layout, the record
    * (the input columns at `recordIdx`), the columns whose change starts a
    * new file, and the parts of the file name.
    */
  private[sources] final case class WriteSpec(outDir: String, kind: String,
      codec: String, fields: Array[StructField], recordIdx: Array[Int],
      schemaJson: String, refKind: Option[String], heightIdx: Int,
      forkIdx: Int, splitIdx: Seq[Int], conf: SerializableConfiguration) {

    /** The split key of `row`, copied out of it. */
    def keyOf(row: InternalRow): Seq[Any] = splitIdx.map { i =>
      if (row.isNullAt(i)) null
      else row.get(i, fields(i).dataType) match {
        case s: UTF8String => s.toString
        case v             => v
      }
    }

    /** The one naming rule: the reference's single-or-range layout for
      * archive kinds, else a flat per-partition name.
      */
    def target(partitionId: Int, mn: Long, mx: Long, fork: Option[String]): String =
      refKind match {
        case Some(k) => Filenames.relativePath(mn, mx, k, fork)
        case None    => f"part-$partitionId%05d.$kind.avro"
      }
  }

  private[sources] def writeSpec(spark: SparkSession, schema: StructType,
      kind: String, outDir: String, codec: String, refKind: Option[String],
      heightCol: String = "height", forkHashCol: Option[String] = None,
      split: Seq[String] = Nil, dropCol: Option[String] = None): WriteSpec = {
    val record = StructType(schema.fields.filterNot(f => dropCol.contains(f.name)))
    WriteSpec(outDir, kind, codec, schema.fields,
      record.fieldNames.map(schema.fieldIndex), avroSchema(record, kind).toString,
      refKind, refKind.fold(-1)(_ => schema.fieldIndex(heightCol)),
      forkHashCol.filter(_ => refKind.isDefined).fold(-1)(schema.fieldIndex),
      split.map(schema.fieldIndex),
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
  }

  /** A closed temp container awaiting its claim; `target` is relative to
    * the output directory.
    */
  private[sources] final case class Staged(tmp: String, target: String, n: Long)

  /** The one container writer. Rows are appended to a hidden temp
    * container, rolling over to a fresh one whenever the split key
    * changes; each closed container comes back as a [[Staged]] file named
    * from its min/max height and fork, for the caller to claim and commit.
    */
  private[sources] final class ContainerWriter(spec: WriteSpec, partitionId: Int) {
    private[sources] lazy val fs: FileSystem =
      new Path(spec.outDir).getFileSystem(spec.conf.value)
    private lazy val schema = new Schema.Parser().parse(spec.schemaJson)
    private var out: DataFileWriter[GenericRecord] = null
    private var tmp: Path = null
    private var key: Seq[Any] = null
    private var fork: Option[String] = None
    private var n = 0L
    private var mn = Long.MaxValue
    private var mx = Long.MinValue

    /** Append `row`; returns the container it closed when `row` starts a
      * new one.
      */
    def write(row: InternalRow): Option[Staged] = {
      val k = spec.keyOf(row)
      val rolled = if (out != null && k != key) finish() else None
      if (out == null) {
        tmp = new Path(spec.outDir, s".graft-tmp-${UUID.randomUUID()}")
        out = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
        out.setCodec(mkCodec(spec.codec))
        out.create(schema, fs.create(tmp, true))
        key = k
        fork = if (spec.forkIdx < 0 || row.isNullAt(spec.forkIdx)) None
          else Some(row.getUTF8String(spec.forkIdx).toString)
        n = 0L; mn = Long.MaxValue; mx = Long.MinValue
      }
      val rec = new GenericData.Record(schema)
      var j = 0
      while (j < spec.recordIdx.length) {
        val i = spec.recordIdx(j)
        rec.put(j, toAvro(row, i, spec.fields(i).dataType))
        j += 1
      }
      out.append(rec)
      if (spec.heightIdx >= 0) {
        val h = row.getLong(spec.heightIdx)
        if (h < mn) mn = h
        if (h > mx) mx = h
      }
      n += 1
      rolled
    }

    /** Close the open container, if any, and name it. */
    def finish(): Option[Staged] =
      if (out == null) None
      else {
        out.close(); out = null
        Some(Staged(tmp.toString, spec.target(partitionId, mn, mx, fork), n))
      }

    /** Drop the open container, if any. */
    def abort(): Unit =
      if (out != null) {
        try out.close() catch { case _: Throwable => () }
        out = null
        try fs.delete(tmp, false) catch { case _: Throwable => () }
      }
  }

  /** Catalyst value → Avro runtime value for a pinned field type
    * (timestamps floor micros → millis). Strings and binaries are copied
    * out of the row. A type the archive schema cannot hold throws.
    */
  private def toAvro(row: InternalRow, i: Int, dt: DataType): AnyRef =
    if (row.isNullAt(i)) null
    else dt match {
      case StringType  => new Utf8(row.getUTF8String(i).getBytes)
      case LongType    => java.lang.Long.valueOf(row.getLong(i))
      case IntegerType => java.lang.Integer.valueOf(row.getInt(i))
      case DoubleType  => java.lang.Double.valueOf(row.getDouble(i))
      case BinaryType  => ByteBuffer.wrap(row.getBinary(i))
      case TimestampType | TimestampNTZType =>
        java.lang.Long.valueOf(Math.floorDiv(row.getLong(i), 1000L))
      case other => throw new IllegalArgumentException(
        s"avro-archive write: unsupported type $other")
    }

  /** Run the one writer over every partition of `df` and land each file
    * it closes: claim the final name, then rename the temp into it. A name
    * already taken either skips the file (`skipExisting`: 0 records land)
    * or fails the write. Returns the number of records that landed.
    */
  private def run(df: DataFrame, spec: WriteSpec, skipExisting: Boolean): Long = {
    new Path(spec.outDir).getFileSystem(spec.conf.value).mkdirs(new Path(spec.outDir))
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val w = new ContainerWriter(spec, pid)
      def land(s: Staged): Long = {
        val target = new Path(spec.outDir, s.target)
        if (claimTarget(w.fs, target)) { commitClaimed(w.fs, new Path(s.tmp), target); s.n }
        else {
          w.fs.delete(new Path(s.tmp), false) // keep the existing file
          if (skipExisting) 0L
          else throw new IllegalStateException(
            s"archive file exists (never overwritten): $target — partition " +
              "the input so file ranges don't collide")
        }
      }
      var landed = 0L
      try {
        rows.foreach(row => w.write(row).foreach(landed += land(_)))
        w.finish().foreach(landed += land(_))
      } catch { case t: Throwable => w.abort(); throw t }
      Iterator.single(landed)
    }.sum().toLong
  }
}
