package graft.archive

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One archive file, parsed from its name (reference: the `FileReference`
  * (path, kind, range) of src/storage/mod.rs:231-258). `kind` is
  * canonical; `fork` is the block hash of a fork-named single, "" when the
  * name has none.
  */
case class ArchiveFile(path: String, kind: String, start: Long, end: Long, fork: String) {
  def file: String = path.substring(path.lastIndexOf('/') + 1)
  def single: Boolean = start == end
}

/** File-catalog operations (reference: src/storage/mod.rs:231-258 — the
  * `FileReference` stream, and the per-level listings in
  * src/storage/objects.rs:79-168 / fs.rs:62-132).
  *
  * The catalog the commands decide on is a driver-side `Seq[ArchiveFile]`
  * parsed once from the listing: every decision over file NAMES (verify's
  * preprocess and merge_small, compact's settled singles, fix coverage
  * bounds, notifications) is plain Scala over it, like the reference's
  * loops over its listing. Spark does the data-sized work only. The
  * DataFrame forms ([[withParsedNames]] and the functions over it) stay
  * for catalog queries that run as Spark plans.
  */
object Catalog {

  /** The files of `paths` whose names parse to a known kind, in listing
    * order; foreign names and unknown kinds are dropped.
    */
  def parse(paths: Seq[String]): Seq[ArchiveFile] = paths.flatMap { p =>
    Filenames.parseS(p.substring(p.lastIndexOf('/') + 1)).flatMap { case (s, e, k, fork) =>
      Filenames.KindAliases.get(k).map(ArchiveFile(p, _, s, e, fork))
    }
  }

  /** The catalog of every archive file under `dir`. */
  def list(spark: SparkSession, dir: String): Seq[ArchiveFile] =
    parse(graft.sources.AvroArchiveSource.listAvroFiles(spark, dir))

  /** Files sharing one (range, fork): the reference's ArchiveGroup
    * (src/archiver/range_group.rs).
    */
  case class Group(start: Long, end: Long, fork: String, files: Seq[ArchiveFile]) {
    def single: Boolean = start == end
    def has(kind: String): Boolean = files.exists(_.kind == kind)
  }

  /** The groups of `files`, ordered by (start, end, fork). */
  def groups(files: Seq[ArchiveFile]): Seq[Group] =
    files.groupBy(f => (f.start, f.end, f.fork)).toSeq
      .map { case ((s, e, fork), fs) => Group(s, e, fork, fs) }
      .sortBy(g => (g.start, g.end, g.fork))

  /** `deduplicate` (verify.rs:372-406): intersecting groups form islands,
    * which break where a start passes the largest end seen so far (so
    * adjacent ranges stay apart). Each island keeps its longest range;
    * ties go to the earliest start, then the smallest fork hash. Returns
    * (kept, dropped).
    */
  def dedupRanges(groups: Seq[Group]): (Seq[Group], Seq[Group]) = {
    val islands = scala.collection.mutable.ArrayBuffer.empty[Seq[Group]]
    var reach = Long.MinValue
    groups.sortBy(g => (g.start, g.end, g.fork)).foreach { g =>
      if (g.start > reach) islands += Seq(g) else islands(islands.size - 1) :+= g
      reach = math.max(reach, g.end)
    }
    val (kept, dropped) = islands.toSeq.map { i =>
      val best = i.minBy(g => (g.start - g.end, g.start, g.fork))
      (best, i.filterNot(_ eq best))
    }.unzip
    (kept, dropped.flatten)
  }

  /** `merge_small` (verify.rs:237-267): adjacent small groups (≤
    * `threshold` blocks and `mergeable`) verify as one batch, so content
    * checks read whole islands instead of single files. A group that is
    * not small keeps its own batch; the reference never merges INCOMPLETE
    * groups, which would break the verified sequence (verify.rs:243-247).
    * Islands follow the ends of small groups only: a group starts a new
    * batch when it is not small or starts past the largest small end so
    * far + 1. Call it per chunk: batches never cross chunk boundaries in
    * the reference (split_chunks, verify.rs:414). Returns every group with
    * the (start, end) of its batch.
    */
  def smallBatches(groups: Seq[Group], threshold: Long,
      mergeable: Group => Boolean = _ => true): Seq[(Group, Long, Long)] = {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Group]]
    var smallReach = Long.MinValue
    groups.sortBy(g => (g.start, g.end, g.fork)).foreach { g =>
      val small = g.end - g.start + 1 <= threshold && mergeable(g)
      if (!small || g.start > smallReach + 1) batches += Seq(g)
      else batches(batches.size - 1) :+= g
      if (small) smallReach = math.max(smallReach, g.end)
    }
    batches.toSeq.flatMap { b =>
      val (s, e) = (b.map(_.start).min, b.map(_.end).max)
      b.map(g => (g, s, e))
    }
  }

  /** Parse catalog columns out of a `path` column. */
  def withParsedNames(files: DataFrame): DataFrame = {
    val base = regexp_extract(col("path"), "([^/]+)$", 1)
    files
      .withColumn("file", base)
      .withColumn("kind", Filenames.parseKind(col("file")))
      .withColumn("start_h", Filenames.parseStart(col("file")))
      .withColumn("end_h", Filenames.parseEnd(col("file")))
      .withColumn("fork_hash", Filenames.parseForkHash(col("file")))
  }

  /** Files whose range intersects [s, e] — the reference's offset listing
    * + early exit (objects.rs:112-167) is Catalyst partition pruning here.
    */
  def intersecting(catalog: DataFrame, s: Long, e: Long): DataFrame =
    catalog.filter(col("start_h") <= e && col("end_h") >= s)

  /** Group files of the same range into per-kind slots; count > 1 in a slot
    * is a duplicate error (reference: src/archiver/range_group.rs:44-128).
    */
  def groupTables(catalog: DataFrame): DataFrame =
    catalog
      .groupBy("start_h", "end_h")
      .pivot("kind", Seq("blocks", "txes", "traces"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("blocks", "txes", "traces"))
      .withColumn("duplicate",
        col("blocks") > 1 || col("txes") > 1 || col("traces") > 1)
      .withColumn("complete",
        col("blocks") >= 1 && col("txes") >= 1)

  /** `find_incomplete_tables` — heights in [s, e] with no (or partial)
    * coverage (reference: src/storage/mod.rs:143-207). Returns heights
    * missing entirely; per-kind gaps come from [[groupTables]].
    */
  def missingHeights(spark: SparkSession, catalog: DataFrame, s: Long, e: Long): DataFrame = {
    import spark.implicits._
    val covered = intersecting(catalog, s, e)
      .select(col("start_h").as("s"), col("end_h").as("e"))
    // Explode covered ranges chunk-wise (ranges are ≤ chunk_size=1000 blocks
    // by construction, so per-row sequences stay small and distributed).
    val coveredHeights = covered
      .select(explode(sequence(col("s"), col("e"))).as("height"))
      .distinct()
    spark.range(s, e + 1).toDF("height")
      .join(coveredHeights, Seq("height"), "left_anti")
  }
}
