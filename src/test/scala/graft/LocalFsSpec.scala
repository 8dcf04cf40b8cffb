package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.io.LocalFs
import graft.sources.Tables
import graft.streaming.EventStreams
import graft.tools.Run.Forks

/** The session's `file:` filesystem sets modes in-process: same files and
  * modes as Hadoop's stock `LocalFileSystem`, and no child process.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  test("the session's file: filesystem is graft.io.LocalFs") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[LocalFs])
  }

  test("files, .crc siblings and nested dirs get the stock LocalFileSystem's modes") {
    def modes(fs: FileSystem, root: JPath): Map[String, String] = {
      val f = new Path(root.toUri.toString + "/a/b/part.bin")
      val out = fs.create(f)
      out.write(Array[Byte](1, 2, 3))
      out.close()
      // and one mode set explicitly, which no umask touches
      val c = new Path(root.toUri.toString + "/c")
      fs.mkdirs(c)
      fs.setPermission(c, new FsPermission("741"))
      Seq("a", "a/b", "a/b/part.bin", "a/b/.part.bin.crc", "c").map { rel =>
        val p = root.resolve(rel)
        assert(Files.exists(p), s"$rel missing under ${fs.getClass.getSimpleName}")
        rel -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    }
    Seq(None, Some("027")).foreach { umask =>
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      def init(fs: FileSystem): FileSystem = { fs.initialize(new URI("file:///"), conf); fs }
      val stock = modes(init(new LocalFileSystem), Files.createTempDirectory("graft-fs-stock"))
      val ours = modes(init(new LocalFs), Files.createTempDirectory("graft-fs-ours"))
      assert(ours === stock, s"umask $umask")
      assert(ours("c") === "rwxr----x")
    }
  }

  test("an eager merge, compact, vacuum and backup start no child process") {
    val base = Files.createTempDirectory("graft-forks").toString
    val t = s"$base/t"
    def merge(ks: Range, v: Long) =
      EventStreams.mergeBatchIntoTable(ks.map(k => (k.toLong, s"p$k-$v", v)).toDF("k", "p", "v"),
        t, Seq("k"), "v", nBuckets = 4, batchId = v, statsCols = Some(Seq("k")))
    merge(0 until 200, 0L) // once-per-JVM probes (Hadoop's Shell) run here, if at all
    val (_, forks) = Forks.during {
      merge(150 until 260, 1L)
      EventStreams.compactUpsertTable(spark, t, Seq("k"), nBuckets = 4, batchId = 2L)
      EventStreams.vacuumUpsertTable(spark, t)
      EventStreams.backupUpsertTable(spark, t, s"$base/bak")
    }
    assert(forks.isEmpty, s"child processes: ${forks.mkString("; ")}")
    assert(EventStreams.readUpsertTable(spark, t).count() === 260L)
  }

  test("reading a registry table, which lists its files for the schema cache, starts no child process") {
    val dir = Files.createTempDirectory("graft-fs-table").toString
    spark.range(100).repartition(3).write.parquet(s"$dir/t.parquet")
    val (df, forks) = Forks.during(Tables.table(spark, dir, "t"))
    assert(forks.isEmpty, s"child processes: ${forks.mkString("; ")}")
    assert(df.count() === 100L)
  }
}
