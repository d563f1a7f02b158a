package graft

import java.nio.file.{Files, Paths}

import graft.sources.{FileMirrorSink, LocalFs, UpsertSink}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: bound in every session, same modes
  * as stock Hadoop local writes, and the sinks still write through it.
  */
class LocalFsSpec extends GraftSpec {

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** st_mode permission bits, sticky included (NIO's POSIX view drops it). */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session's file: filesystem is LocalFs, cached and uncached") {
    val root = new java.net.URI("file:///")
    val cached = FileSystem.get(root, hadoopConf)
    assert(cached.isInstanceOf[LocalFs])
    assert(cached.asInstanceOf[ChecksumFileSystem].getRawFileSystem
      .isInstanceOf[LocalFs.Raw])
    // FileMirrorSink's path: a plain copy of the session conf, newInstance
    val conf = new Configuration(false)
    hadoopConf.forEach(e => conf.set(e.getKey, e.getValue))
    val fresh = FileSystem.newInstance(root, conf)
    try assert(fresh.isInstanceOf[LocalFs]) finally fresh.close()
  }

  test("files, nested dirs, .crc sidecars and mkdirs(0750) get stock LocalFileSystem modes") {
    val base = Files.createTempDirectory("graft_localfs")
    val stock = new LocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), new Configuration())
    val ours = FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    assert(ours.isInstanceOf[LocalFs])
    def layout(fs: FileSystem, root: String): Unit = {
      val os = fs.create(new Path(s"$root/a/b/part-0.parquet"), true)
      try os.write("rows".getBytes("UTF-8")) finally os.close()
      assert(fs.mkdirs(new Path(s"$root/committer/_temporary"), new FsPermission("750")))
      assert(fs.mkdirs(new Path(s"$root/plain")))
    }
    layout(stock, s"$base/stock")
    layout(ours, s"$base/ours")
    stock.close()
    def modes(root: java.nio.file.Path): Map[String, Int] = {
      val it = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter(_ != root)
          .map(p => root.relativize(p).toString -> mode(p)).toMap
      } finally it.close()
    }
    val want = modes(base.resolve("stock"))
    assert(want.keySet.contains("a/b/.part-0.parquet.crc"), want.keySet)
    assert(modes(base.resolve("ours")) == want)
  }

  test("setPermission round-trips 0600/0640/0750/0777 and a sticky 01777 directory") {
    val fs = FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    val dir = Files.createTempDirectory("graft_localfs_perm")
    val file = Files.createFile(dir.resolve("f"))
    for (m <- Seq("600", "640", "750", "777")) {
      fs.setPermission(new Path(file.toUri), new FsPermission(m))
      assert(mode(file) == Integer.parseInt(m, 8), m)
    }
    val sticky = Files.createDirectory(dir.resolve("shared"))
    fs.setPermission(new Path(sticky.toUri), new FsPermission("1777"))
    assert(mode(sticky) == Integer.parseInt("1777", 8))
  }

  test("FileMirrorSink keeps content and mtime; UpsertSink round-trips rows") {
    import spark.implicits._
    val dest = Files.createTempDirectory("graft_localfs_mirror").toString
    FileMirrorSink.write(Seq(
      ("BSI/line1", "a.log", "alpha", 1496851200000L),
      ("", "top.log", "beta", 1496851201000L))
      .toDF("folder", "name", "content", "modify_time"), dest)
    val a = Paths.get(dest, "BSI/line1/a.log")
    assert(new String(Files.readAllBytes(a), "UTF-8") == "alpha")
    assert(a.toFile.lastModified == 1496851200000L)
    val top = Paths.get(dest, "top.log")
    assert(new String(Files.readAllBytes(top), "UTF-8") == "beta")
    assert(top.toFile.lastModified == 1496851201000L)

    val table = Files.createTempDirectory("graft_localfs_upsert").toString + "/t"
    val rows = Seq(
      ("2017-06-01", 100L, "BSI/line1", "pack.zip", "a.txt", "v1", 10L),
      ("2017-06-02", 200L, "BSI/line1", "pack.zip", "b.txt", "v2", 10L))
    UpsertSink.upsert(rows.toDF("file_date", "file_time", "folder", "pack",
      "name", "content", "upload_time"), table)
    val back = spark.read.parquet(table)
      .select("file_date", "file_time", "folder", "pack", "name", "content", "upload_time")
      .as[(String, Long, String, String, String, String, Long)].collect().toSet
    assert(back == rows.toSet)
  }
}
