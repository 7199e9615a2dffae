package graft.archive

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Mirrors the reference's find_incomplete_tables / range-group scenarios
  * (src/storage/mod.rs:260-611, src/archiver/range_group.rs).
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def catalogOf(files: String*) =
    Catalog.withParsedNames(files.toDF("path"))

  // fork hashes in filenames are always the full 64-hex block hash
  // (reference RE_SINGLE pins `[a-f0-9]{64}`, filenames.rs:8)
  private def h64(seed: Char) = seed.toString * 64

  test("parse mixed singles and ranges from paths") {
    val c = catalogOf(
      "/a/000000000/000000000/000000100.blocks.avro",
      "/a/000000000/range-000000200_000000299.txes.avro",
      s"/a/000000000/000000000/000000101.${h64('a')}.blocks.avro")
      .orderBy("start_h").collect()
    assert(c.map(_.getAs[Long]("start_h")).toSeq === Seq(100L, 101L, 200L))
    assert(c.map(_.getAs[Long]("end_h")).toSeq === Seq(100L, 101L, 299L))
    assert(c.map(_.getAs[String]("kind")).toSeq === Seq("blocks", "blocks", "txes"))
    assert(c.map(_.getAs[String]("fork_hash")).toSeq === Seq(null, h64('a'), null))
  }

  test("groupTables flags duplicates and incomplete groups") {
    val g = Catalog.groupTables(catalogOf(
      "/a/000000100.blocks.avro", "/a/000000100.txes.avro",      // complete
      "/a/000000101.blocks.avro",                                 // missing txes
      "/a/000000102.blocks.avro", s"/a/000000102.${h64('a')}.blocks.avro", // duplicate blocks
      "/a/000000102.txes.avro"))
      .orderBy("start_h").collect()
    assert(g.map(_.getAs[Boolean]("complete")).toSeq === Seq(true, false, true))
    assert(g.map(_.getAs[Boolean]("duplicate")).toSeq === Seq(false, false, true))
  }

  test("missingHeights: gaps vs mixed single+range coverage") {
    val c = catalogOf(
      "/a/000000010.blocks.avro",
      "/a/range-000000012_000000014.blocks.avro",
      "/a/000000017.blocks.avro")
    val missing = Catalog.missingHeights(spark, c, 10L, 18L)
      .orderBy("height").as[Long].collect().toSeq
    assert(missing === Seq(11L, 15L, 16L, 18L))
  }

  test("smallBatches merges adjacent small ranges, leaves large ones alone") {
    // reference scenarios (verify.rs:237-267): contiguous singles batch
    // together; a big range keeps its own group; gaps split batches
    val groups = Catalog.groups(Catalog.parse(
      (0L to 5L).map(h => f"/a/$h%09d.blocks.avro") ++ Seq(
        "/a/range-000000100_000000999.blocks.avro",
        "/a/000001000.blocks.avro",
        "/a/000001001.blocks.avro",
        "/a/000002000.blocks.avro")))
    // per 1000-block chunk, like verify's split_chunks loop
    val g = groups.groupBy(_.start / 1000L).values
      .flatMap(Catalog.smallBatches(_, threshold = 10L))
      .map { case (grp, s, e) => (grp.start, s, e) }.toSeq.sorted
    assert(g.filter(_._1 <= 5L).forall(x => x._2 === 0L && x._3 === 5L))
    assert(g.find(_._1 == 100L).get === ((100L, 100L, 999L)))
    assert(g.find(_._1 == 1000L).get === ((1000L, 1000L, 1001L)))
    assert(g.find(_._1 == 1001L).get === ((1001L, 1000L, 1001L)))
    assert(g.find(_._1 == 2000L).get === ((2000L, 2000L, 2000L)))
  }

  test("parse keeps fork hashes and drops foreign names and unknown kinds") {
    val c = Catalog.parse(Seq(
      "/a/000000000/000000000/000000100.block.avro",
      s"/a/000000000/000000000/000000101.${h64('a')}.txes.avro",
      "/a/000000000/range-000000200_000000299.traces.avro",
      "/a/000000000/000009999.foo.avro",
      "/a/000000000/notes.avro"))
    assert(c === Seq(
      ArchiveFile("/a/000000000/000000000/000000100.block.avro", "blocks", 100L, 100L, ""),
      ArchiveFile(s"/a/000000000/000000000/000000101.${h64('a')}.txes.avro",
        "txes", 101L, 101L, h64('a')),
      ArchiveFile("/a/000000000/range-000000200_000000299.traces.avro",
        "traces", 200L, 299L, "")))
    assert(c.map(_.file).head === "000000100.block.avro")
  }

  test("dedupRanges keeps the longest range; ties by start, then fork hash") {
    val groups = Catalog.groups(Catalog.parse(Seq(
      "/a/range-000000000_000000009.blocks.avro",
      "/a/range-000000005_000000014.blocks.avro", // same span, later start
      "/a/range-000000010_000000010.blocks.avro", // inside 5..14: same island
      "/a/range-000000015_000000016.blocks.avro", // adjacent: a new island
      s"/a/000000020.${h64('b')}.blocks.avro",
      s"/a/000000020.${h64('a')}.blocks.avro"))) // equal span and start
    val (kept, dropped) = Catalog.dedupRanges(groups)
    assert(kept.map(g => (g.start, g.end, g.fork)) ===
      Seq((0L, 9L, ""), (15L, 16L, ""), (20L, 20L, h64('a'))))
    assert(dropped.map(g => (g.start, g.end, g.fork)).sorted ===
      Seq((5L, 14L, ""), (10L, 10L, ""), (20L, 20L, h64('b'))))
  }

  test("verify_chunk filename pass: dedup, forks, incomplete groups") {
    // composes groupTables + fork filtering the way verify_chunk does
    // (verify.rs:145-207): duplicate kind in a range → error; fork singles
    // (two hashes at one height) detected; incomplete group flagged.
    val c = catalogOf(
      "/a/000000001.blocks.avro", "/a/000000001.txes.avro",        // complete
      "/a/000000002.blocks.avro",                                   // incomplete
      "/a/000000003.blocks.avro", s"/a/000000003.${h64('b')}.blocks.avro", // fork/dup
      "/a/000000003.txes.avro")
    val g = Catalog.groupTables(c).orderBy("start_h").collect()
    assert(g.map(_.getAs[Boolean]("complete")).toSeq === Seq(true, false, true))
    assert(g.map(_.getAs[Boolean]("duplicate")).toSeq === Seq(false, false, true))
    // the forked height exposes both candidate hashes for canonical pick
    val forks = c.filter(org.apache.spark.sql.functions.col("start_h") === 3L)
      .select("fork_hash").collect().map(_.getString(0))
    assert(forks.toSet === Set(null, h64('b')))
  }

  test("intersecting prunes non-overlapping ranges") {
    val c = catalogOf(
      "/a/range-000000000_000000099.blocks.avro",
      "/a/range-000000100_000000199.blocks.avro",
      "/a/range-000000200_000000299.blocks.avro")
    val hit = Catalog.intersecting(c, 150L, 210L)
      .select("start_h").as[Long].collect().sorted.toSeq
    assert(hit === Seq(100L, 200L))
  }
}
