package graft.fs

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException,
  FileContext, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** [[GraftLocalFs]] must behave as Hadoop's `LocalFs` does for what
  * Spark's streaming checkpoint log asks of it: create, mkdir, rename
  * with and without overwrite, `.crc` sidecars and link status. */
class GraftLocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")

  private def context(impl: Option[String]): FileContext = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
    FileContext.getFileContext(root, conf)
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  /** Every path under `dir` (relative) with its mode and, for files, its bytes. */
  private def tree(dir: JPath): Map[String, (Int, Seq[Byte])] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        (mode(p), if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte])
    }.toMap
    finally walk.close()
  }

  test("a builder session resolves FileContext's file: to the graft class") {
    val afs = AbstractFileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    assert(afs.isInstanceOf[GraftLocalFs])
    assert(context(None).getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    assert(afs.getUri == root && afs.getUriDefaultPort == -1)
  }

  test("create, mkdir and rename leave what Hadoop's LocalFs leaves") {
    val trees = Seq(None, Some("org.apache.hadoop.fs.local.LocalFs")).map { impl =>
      val fc = context(impl)
      val dir = Files.createTempDirectory("graft_localfs")
      def write(rel: String, text: String): Unit = {
        val out = fc.create(new Path(dir.toString, rel),
          EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
        try out.write(text.getBytes("UTF-8")) finally out.close()
      }
      fc.mkdir(new Path(dir.toString, "offsets/sub"), FsPermission.getDirDefault, true)
      write("offsets/.0.tmp", "v1")
      fc.rename(new Path(dir.toString, "offsets/.0.tmp"), new Path(dir.toString, "offsets/0"))
      // the log's overwrite: the target exists and is replaced, .crc too
      write("offsets/.1.tmp", "version two")
      fc.rename(new Path(dir.toString, "offsets/.1.tmp"), new Path(dir.toString, "offsets/0"),
        Options.Rename.OVERWRITE)
      write("offsets/.2.tmp", "v3")
      intercept[FileAlreadyExistsException] {
        fc.rename(new Path(dir.toString, "offsets/.2.tmp"), new Path(dir.toString, "offsets/0"))
      }
      assert(!fc.util.exists(new Path(dir.toString, "offsets/missing")))
      tree(dir)
    }
    assert(trees(0) == trees(1))
    assert(trees(0).contains("offsets/.0.crc"))
    assert(new String(trees(0)("offsets/0")._2.toArray, "UTF-8") == "version two")
  }

  test("link status: a plain path in process, a symbolic link as Hadoop reports it") {
    val fc = context(None)
    val dir = Files.createTempDirectory("graft_localfs_link")
    val file = Files.write(dir.resolve("data"), Array[Byte](1, 2))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val plain = fc.getFileLinkStatus(new Path(file.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 2)
    val linked = fc.getFileLinkStatus(new Path(link.toString))
    val hadoop = context(Some("org.apache.hadoop.fs.local.LocalFs"))
      .getFileLinkStatus(new Path(link.toString))
    assert(linked.isSymlink && linked.getSymlink == hadoop.getSymlink)
    intercept[java.io.FileNotFoundException] {
      fc.getFileLinkStatus(new Path(dir.toString, "absent"))
    }
  }
}
