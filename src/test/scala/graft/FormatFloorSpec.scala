package graft

import java.io.File
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.Sketches
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{FormatFloorException, NoSnapshotException}

/** The table format floor: a directory without a committed manifest
  * that holds data of an older, manifest-less layout is refused by
  * name at every entry point, before anything is written; an empty
  * directory (or one holding only an uncommitted first commit's
  * debris) still takes a first commit.
  */
class FormatFloorSpec extends SparkSpec {
  import spark.implicits._

  private def tableDir(name: String): String =
    Files.createTempDirectory(name).toString + "/t"

  private def batch(keys: Seq[Long], v: Long): DataFrame =
    keys.map(k => (k, s"p$k", v)).toDF("k", "payload", "version")

  /** Every file under `dir`, relative path -> bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = new File(dir).toPath
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: JPath) => root.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  /** Every writing and reading entry point refuses `dir` with the floor
    * error naming `layout`, and leaves it byte-identical: no generation
    * dir, manifest or in-flight token appears.
    */
  private def assertRefused(dir: String, layout: String): Unit = {
    val before = snapshot(dir)
    assert(before.nonEmpty)
    val calls: Seq[(String, () => Any)] = Seq(
      "mergeBatchIntoTable" -> (() => EventStreams.mergeBatchIntoTable(
        batch(Seq(1L, 9L), 5L), dir, Seq("k"), "version", 4, 0L)),
      "deleteFromTable" -> (() => EventStreams.deleteFromTable(
        spark, dir, Seq(1L).toDF("k"), Seq("k"), 4, 0L)),
      "mergeSketchBatch" -> (() => EventStreams.mergeSketchBatch(
        Seq("a").toDF("tok"), "tok", dir, 4, 32, 0L)),
      "readUpsertTable" -> (() => EventStreams.readUpsertTable(spark, dir)),
      "readSketchTable" -> (() => EventStreams.readSketchTable(spark, dir)))
    calls.foreach { case (name, call) =>
      val ex = intercept[FormatFloorException](call())
      assert(ex.layout === layout, name)
      assert(ex.getMessage.contains(layout) && ex.getMessage.contains("format floor"), name)
    }
    val names = new File(dir).list().toSet
    assert(!names.exists(_.startsWith("gen_")), s"a generation dir was written: $names")
    assert(!names.contains("_manifests") && !names.contains("_inflight"), names)
    assert(snapshot(dir) === before, "the refused calls changed the directory")
  }

  test("format floor: flat root-level part files are refused by every entry point") {
    val dir = tableDir("graft-floor-flat")
    batch(Seq(1L, 2L), 1L).coalesce(1).write.parquet(dir)
    assertRefused(dir, "flat root-level part files")
  }

  test("format floor: manifest-less __bucket=* dirs are refused by every entry point") {
    val dir = tableDir("graft-floor-buckets")
    batch(Seq(1L), 1L).write.parquet(s"$dir/__bucket=0")
    batch(Seq(2L), 1L).write.parquet(s"$dir/__bucket=3")
    assertRefused(dir, "manifest-less __bucket=* dirs")
  }

  test("format floor: a dir-swap _commits/<id> marker is refused by every entry point") {
    val dir = tableDir("graft-floor-commits")
    assert(new File(dir, "_commits").mkdirs())
    Files.writeString(new File(dir, "_commits/0").toPath, "")
    assertRefused(dir, "the dir-swap sink's _commits/ markers or _staging_* dirs")
  }

  test("format floor: the sketch sink's current/ dir is refused by every entry point") {
    val dir = tableDir("graft-floor-sketch")
    Sketches.countMinSketch(Seq("a", "b").toDF("tok"), "tok", 4, 32)
      .coalesce(1).write.parquet(s"$dir/current/sketch")
    assert(new File(dir, "current/_meta").mkdirs())
    Files.writeString(new File(dir, "current/_meta/max_batch").toPath, "0")
    assertRefused(dir, "the sketch sink's current/ dir")
  }

  test("format floor: an empty or debris-only directory takes a first commit") {
    val empty = Files.createTempDirectory("graft-floor-empty").toString
    EventStreams.mergeBatchIntoTable(batch(Seq(1L, 2L), 1L), empty, Seq("k"), "version", 4, 0L)
    assert(EventStreams.readUpsertTable(spark, empty).as[(Long, String, Long)]
      .collect().toSet === Set((1L, "p1", 1L), (2L, "p2", 1L)))
    // a first commit that died after staging: its generation and an
    // empty manifest dir are not a legacy layout, and the sweep takes them
    val debris = tableDir("graft-floor-debris")
    Files.createDirectories(new File(debris, "gen_0/__bucket=1").toPath)
    Files.writeString(new File(debris, "gen_0/__bucket=1/part-0.parquet").toPath, "junk")
    assert(new File(debris, "_manifests").mkdirs())
    EventStreams.mergeBatchIntoTable(batch(Seq(3L), 1L), debris, Seq("k"), "version", 4, 0L)
    assert(EventStreams.readUpsertTable(spark, debris).count() === 1L)
    assert(!new File(debris, "gen_0/__bucket=1/part-0.parquet").exists())
    val sketch = Files.createTempDirectory("graft-floor-empty-sketch").toString
    EventStreams.mergeSketchBatch(Seq("a").toDF("tok"), "tok", sketch, 4, 32, 0L)
    assert(EventStreams.readSketchTable(spark, sketch).count() === 4L) // one cell per row
  }

  test("a read of a table with no committed file fails by name") {
    // an empty first batch commits a manifest that names no file
    val dir = tableDir("graft-floor-empty-commit")
    EventStreams.mergeBatchIntoTable(batch(Nil, 0L), dir, Seq("k"), "version", 4, 0L)
    assert(EventStreams.appliedBatch(spark, dir) === Some(0L))
    assert(EventStreams.tableManifest(spark, dir).values.forall(_.isEmpty))
    val ex = intercept[NoSnapshotException](EventStreams.readUpsertTable(spark, dir))
    assert(ex.committedEmpty && ex.getMessage.contains("names no file"))
    // a directory nothing was committed to
    val none = intercept[NoSnapshotException](
      EventStreams.readUpsertTable(spark, tableDir("graft-floor-absent")))
    assert(!none.committedEmpty && none.getMessage.contains("no committed manifest"))
    // the next non-empty batch commits and reads normally
    EventStreams.mergeBatchIntoTable(batch(Seq(4L), 1L), dir, Seq("k"), "version", 4, 1L)
    assert(EventStreams.readUpsertTable(spark, dir).count() === 1L)
  }
}
