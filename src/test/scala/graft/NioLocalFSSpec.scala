package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFS, NioLocalFileSystem}

/** The fork-free local FS must be semantically identical to the stock
  * shell-based path: same bits on disk, same errors, same wiring. */
class NioLocalFSSpec extends AnyFunSuite {
  import TestSpark._

  test("sessions resolve file:// to the fork-free classes (both APIs)") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), hconf)
    assert(fs.getClass.getName == "graft.sources.NioLocalFileSystem")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new java.net.URI("file:///"), hconf)
    assert(fc.getDefaultFileSystem.getClass.getName == "graft.sources.NioLocalFs")
  }

  test("permission bits round-trip through the nio conversion") {
    for (bits <- Seq(0, 0x1ff, 0x1a4 /*644*/, 0x1ed /*755*/, 0x180 /*600*/, 0x92 /*222*/)) {
      val nio = NioLocalFS.toNioPerms(bits)
      assert(NioLocalFS.fromNioPerms(nio).toShort.toInt == bits,
        f"bits 0$bits%o did not round-trip")
    }
  }

  test("setPermission applies exactly the requested bits without a fork") {
    val fs = new NioLocalFileSystem
    fs.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val dir = tmpDir("niofs_spec_")
    val f = dir.resolve("x.txt")
    Files.write(f, "x".getBytes)
    val p = new Path(f.toString)
    fs.setPermission(p, new FsPermission(Integer.parseInt("640", 8).toShort))
    val got = Files.getPosixFilePermissions(f)
    assert(got == java.util.EnumSet.of(
      PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.GROUP_READ))
    // missing path keeps Hadoop's FileNotFoundException contract
    intercept[java.io.FileNotFoundException] {
      fs.setPermission(new Path(dir.resolve("missing").toString),
        new FsPermission(Integer.parseInt("644", 8).toShort))
    }
    // create path (the hot caller: LocalFSFileOutputStream applies the
    // create mode through setPermission) produces a readable file with
    // sane bits
    val out = fs.create(new Path(dir.resolve("c.txt").toString), true)
    out.write(42); out.close()
    val cbits = NioLocalFS.fromNioPerms(
      Files.getPosixFilePermissions(dir.resolve("c.txt"))).toShort.toInt
    assert((cbits & Integer.parseInt("600", 8)) == Integer.parseInt("600", 8),
      f"owner must keep rw (got 0$cbits%o)")
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a GraftTable written through the fork-free FS reads back exactly") {
    import spark.implicits._
    val root = tmpDir("niofs_tbl_").toString + "/t"
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val t = graft.sources.GraftTable.create(spark, root, df)
    t.append(Seq((4, "d")).toDF("id", "v"))
    assert(t.read().as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
  }
}
