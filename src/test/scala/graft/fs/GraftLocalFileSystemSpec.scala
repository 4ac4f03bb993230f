package graft.fs

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

class GraftLocalFileSystemSpec extends SparkSpec {
  private val root = URI.create("file:///")

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def fresh(fs: LocalFileSystem, conf: Configuration): LocalFileSystem = {
    fs.initialize(root, conf); fs
  }

  test("a builder session resolves file:// to the graft class, still a LocalFileSystem") {
    val fs = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.isInstanceOf[LocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .getRawFileSystem.isInstanceOf[GraftRawLocalFileSystem])
  }

  test("create and mkdirs leave the permissions Hadoop's class leaves under the umask") {
    for (umask <- Seq(None, Some("027"), Some("077"))) {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val graft = fresh(new GraftLocalFileSystem, conf)
      val hadoop = fresh(new LocalFileSystem, conf)
      val modes = Seq(graft, hadoop).map { fs =>
        val dir = Files.createTempDirectory("graft_fs_mode")
        val file = new Path(dir.toString, "a/b/part.parquet")
        val out = fs.create(file)
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
        val made = new Path(dir.toString, "c/d")
        assert(fs.mkdirs(made))
        val explicit = new Path(dir.toString, "e/f")
        assert(fs.mkdirs(explicit, new FsPermission("751")))
        Seq("a", "a/b", "a/b/part.parquet", "a/b/.part.parquet.crc", "c/d", "e/f")
          .map(rel => rel -> mode(dir.resolve(rel)))
      }
      assert(modes(0) == modes(1), s"umask $umask")
    }
  }

  test("a sticky-bit permission takes Hadoop's chmod") {
    val fs = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft_fs_sticky")
    fs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1777", 8))
    // a plain permission is set in process, to the same bits
    fs.setPermission(new Path(dir.toString), new FsPermission("750"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir)) == "rwxr-x---")
    assert(mode(dir) == Integer.parseInt("750", 8))
  }

  test(".crc sidecars are still written and checked") {
    val fs = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft_fs_crc")
    val file = new Path(dir.toString, "x.bin")
    val out = fs.create(file)
    try out.write("hello".getBytes("UTF-8")) finally out.close()
    assert(Files.exists(dir.resolve(".x.bin.crc")))
    // corrupt the data behind the checksum: the checked read notices
    Files.write(dir.resolve("x.bin"), "jello".getBytes("UTF-8"))
    intercept[org.apache.hadoop.fs.ChecksumException] {
      val in = fs.open(file)
      try in.readAllBytes() finally in.close()
    }
  }
}
