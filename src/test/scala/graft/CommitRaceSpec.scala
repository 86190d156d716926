package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaInterop, GraftTable, IcebergInterop, OptimisticCommit}

/** Every retrying writer against a peer that lands in its window
  * between building a commit and claiming the slot (the
  * [[OptimisticCommit.raceHook]] seam):
  *  (a) one peer: the op retries and the table equals the serial
  *      result of the peer's commit followed by the op;
  *  (b) a peer on every attempt: the op gives up with the uniform
  *      error and no file of a losing attempt stays under the root;
  *  (c) a GraftTable mutation fails fast on its first loss and leaves
  *      the table at the peer's version;
  *  (d) a put that lands but reports an I/O error keeps the files the
  *      committed version references;
  *  (e) on an object store, a conditional put that lands but whose
  *      close fails is recognised as this writer's commit, not a
  *      peer's, and commits exactly once. */
class CommitRaceSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def base: DataFrame =
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
  private def peerRow: DataFrame = Seq((9L, "p")).toDF("id", "v")

  /** One table format: how to make a tiny table, land a peer commit
    * through the public API (a) or as a bare version-slot claim (b),
    * read the table back, and tell a peer's own files from others. */
  private case class Format(name: String, make: String => Unit,
      apiPeer: String => Unit, rawPeer: String => Unit,
      read: String => DataFrame, peerFile: String => Boolean)

  private val Delta = Format("Delta",
    path => DeltaInterop.exportSnapshot(
      GraftTable.create(spark, tmp("graft_race_src_"), base), path),
    path => DeltaInterop.appendToDelta(peerRow, path),
    path => {
      // a commitInfo-only commit in the next slot
      val log = Paths.get(path, "_delta_log")
      val next = listed(log).flatMap(n =>
        "(\\d{20})\\.json".r.findFirstMatchIn(n).map(_.group(1).toLong)).max + 1
      Files.write(log.resolve(f"$next%020d.json"),
        "{\"commitInfo\":{\"timestamp\":1,\"operation\":\"PEER\"}}\n".getBytes("UTF-8"))
    },
    path => DeltaInterop.readDelta(spark, path),
    _.startsWith("_delta_log/"))

  private val Iceberg = Format("Iceberg",
    path => {
      IcebergInterop.exportSnapshot(
        GraftTable.create(spark, tmp("graft_race_src_"), base), path)
      // the row-level writers need format v2
      val md = Paths.get(LostAckTestFs.local(path), "metadata",
        "v1.metadata.json")
      Files.write(md, new String(Files.readAllBytes(md), "UTF-8")
        .replace("\"format-version\" : 1", "\"format-version\" : 2")
        .getBytes("UTF-8"))
      Files.deleteIfExists(Paths.get(LostAckTestFs.local(path), "metadata",
        ".v1.metadata.json.crc"))
    },
    path => IcebergInterop.appendToIceberg(peerRow, path),
    path => {
      // the newest metadata republished unchanged in the next slot
      val meta = Paths.get(path, "metadata")
      val top = listed(meta).flatMap(n =>
        "v(\\d+)\\.metadata\\.json".r.findFirstMatchIn(n).map(_.group(1).toInt)).max
      Files.copy(meta.resolve(s"v$top.metadata.json"),
        meta.resolve(s"v${top + 1}.metadata.json"))
    },
    path => IcebergInterop.readIceberg(spark, path),
    rel => rel.matches("metadata/v\\d+\\.metadata\\.json") ||
      rel.matches("metadata/\\.?version-hint\\.text(\\.crc)?"))

  private val Graft = Format("GraftTable",
    path => GraftTable.create(spark, path, base),
    path => GraftTable.load(spark, path).append(peerRow),
    path => GraftTable.load(spark, path).append(peerRow),
    path => GraftTable.load(spark, path).read(),
    // a peer's commit and its data directory (checked live below)
    rel => rel.startsWith("_graft_log/") || rel.matches("d\\d+-[^/]+/.*"))

  private def listed(dir: Path): Seq[String] =
    Option(dir.toFile.list()).map(_.toSeq).getOrElse(Nil)

  /** Every regular file under `root`, relative. */
  private def files(root: String): Set[String] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => r.relativize(p).toString).toSet
    finally s.close()
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Run `op` with `peer` landing in its race window `times` times. */
  private def racing[A](path: String, peer: String => Unit, times: Int)(
      op: => A): A = {
    var fired = 0
    OptimisticCommit.raceHook = Some(() =>
      if (fired < times) { fired += 1; peer(path) })
    try op finally OptimisticCommit.raceHook = None
  }

  /** One retrying op: its format, an optional extra set-up commit
    * (ops that are no-ops on a fresh table), the op itself, and any
    * table state beyond its rows that the serial result must match. */
  private case class Op(name: String, fmt: Format, run: String => Any,
      setup: String => Any = _ => (),
      extra: String => Any = _ => ())

  private val ops = Seq(
    Op("appendToDelta", Delta,
      p => DeltaInterop.appendToDelta(Seq((5L, "e")).toDF("id", "v"), p)),
    Op("deleteFromDelta", Delta,
      p => DeltaInterop.deleteFromDelta(spark, p, col("id") % 2 === 1)),
    Op("updateDelta", Delta,
      p => DeltaInterop.updateDelta(spark, p, col("id") > 2,
        Map("v" -> lit("u")))),
    Op("mergeDelta", Delta,
      p => DeltaInterop.mergeDelta(
        Seq((2L, "m"), (9L, "m"), (6L, "n")).toDF("id", "v"), p, Seq("id"))),
    Op("optimizeDelta", Delta, p => DeltaInterop.optimizeDelta(spark, p),
      setup = p => DeltaInterop.appendToDelta(Seq((5L, "e")).toDF("id", "v"), p),
      extra = p => DeltaInterop.readDelta(spark, p).inputFiles.length),
    Op("restoreDelta", Delta, p => DeltaInterop.restoreDelta(spark, p, 0L),
      setup = p => DeltaInterop.appendToDelta(Seq((5L, "e")).toDF("id", "v"), p)),
    Op("ADD COLUMNS", Delta,
      p => DeltaInterop.addColumnToDelta(spark, p, "extra", StringType)),
    Op("appendToIceberg", Iceberg,
      p => IcebergInterop.appendToIceberg(Seq((5L, "e")).toDF("id", "v"), p)),
    Op("deleteFromIceberg", Iceberg,
      p => IcebergInterop.deleteFromIceberg(spark, p, col("id") % 2 === 1)),
    Op("updateIceberg", Iceberg,
      p => IcebergInterop.updateIceberg(spark, p, col("id") > 2,
        Map("v" -> lit("u")))),
    Op("mergeIceberg", Iceberg,
      p => IcebergInterop.mergeIceberg(
        Seq((2L, "m"), (9L, "m"), (6L, "n")).toDF("id", "v"), p, Seq("id"))),
    Op("compactIceberg", Iceberg, p => IcebergInterop.compactIceberg(spark, p),
      setup = p => IcebergInterop.appendToIceberg(Seq((5L, "e")).toDF("id", "v"), p),
      extra = p => IcebergInterop.readIceberg(spark, p).inputFiles.length),
    Op("expireIcebergSnapshots", Iceberg,
      p => IcebergInterop.expireIcebergSnapshots(spark, p, 1),
      setup = p => IcebergInterop.appendToIceberg(Seq((5L, "e")).toDF("id", "v"), p),
      extra = p => IcebergInterop.icebergHistory(spark, p).count()),
    Op("add column extra", Iceberg,
      p => IcebergInterop.addColumnToIceberg(spark, p, "extra", StringType)),
    Op("append", Graft,
      p => GraftTable.load(spark, p).append(Seq((5L, "e")).toDF("id", "v"))))

  private def fixture(op: Op): String = {
    val path = tmp("graft_race_")
    op.fmt.make(path)
    op.setup(path)
    path
  }

  ops.foreach { op =>
    test(s"${op.fmt.name} ${op.name}: a peer in the race window costs one retry") {
      val raced = fixture(op)
      racing(raced, op.fmt.apiPeer, times = 1)(op.run(raced))
      val serial = fixture(op)
      op.fmt.apiPeer(serial)
      op.run(serial)
      assert(rows(op.fmt.read(raced)) == rows(op.fmt.read(serial)))
      assert(op.extra(raced) == op.extra(serial))
    }

    test(s"${op.fmt.name} ${op.name}: a peer on every attempt gives up cleanly") {
      val path = fixture(op)
      val before = files(path)
      val e = intercept[IllegalStateException] {
        racing(path, op.fmt.rawPeer, times = Int.MaxValue)(op.run(path))
      }
      assert(e.getMessage.contains(
        s"lost ${OptimisticCommit.MaxRetries} version races at $path — giving up"),
        e.getMessage)
      val left = (files(path) -- before).filterNot(op.fmt.peerFile)
      assert(left.isEmpty, s"files of losing attempts left behind: $left")
      if (op.fmt eq Graft) {
        val live = GraftTable.load(spark, path).liveDataDirs.toSet
        val dirs = listed(Paths.get(path)).filter(_.matches("d\\d+-.*")).toSet
        assert(dirs == live, s"orphan data directories: ${dirs -- live}")
      }
    }
  }

  // a put that lands but whose acknowledgement is lost (or a step after
  // it that fails) leaves the outcome open: the committed version may
  // reference the attempt's files, so they must stay
  private val lostAcks = Seq(
    ("GraftTable append", Graft, "00000001.json",
      (p: String) => GraftTable.load(spark, p).append(Seq((5L, "e")).toDF("id", "v"))),
    ("Delta update", Delta, "0" * 19 + "1.json",
      (p: String) => DeltaInterop.updateDelta(spark, p, col("id") > 2,
        Map("v" -> lit("u")))),
    ("Iceberg update, version hint", Iceberg, "version-hint.text",
      (p: String) => IcebergInterop.updateIceberg(spark, p, col("id") > 2,
        Map("v" -> lit("u")))))

  lostAcks.foreach { case (name, fmt, slot, run) =>
    test(s"$name: an I/O error after the claim keeps the committed files") {
      spark.sparkContext.hadoopConfiguration
        .set("fs.lostack.impl", classOf[LostAckTestFs].getName)
      val path = "lostack://" + tmp("graft_race_ack_")
      fmt.make(path)
      // armed in the race window, so only the commit's own renames count
      try intercept[OptimisticCommit.MayHaveLanded] {
        racing(path, _ => LostAckTestFs.loseAckOf(slot), times = 1)(run(path))
      } finally LostAckTestFs.loseAckOf(null)
      val serial = tmp("graft_race_")
      fmt.make(serial)
      run(serial)
      assert(rows(fmt.read(path)) == rows(fmt.read(serial)))
    }
  }

  test("GraftTable append on an object store: a landed put whose close fails commits once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lostackput.impl", classOf[LostAckPutTestFs].getName)
    val path = "lostackput://" + tmp("graft_race_ackput_")
    Graft.make(path)
    val slot = "00000001.json"
    val append = (p: String) =>
      GraftTable.load(spark, p).append(Seq((5L, "e")).toDF("id", "v"))
    try racing(path, _ => LostAckTestFs.loseAckOf(slot), times = 1)(append(path))
    finally LostAckTestFs.loseAckOf(null)
    val log = Paths.get(LostAckTestFs.local(path), "_graft_log")
    assert(Files.exists(log.resolve(slot)))
    assert(!Files.exists(log.resolve("00000002.json")),
      "the landed commit was taken for a lost race and committed again")
    assert(GraftTable.load(spark, path).latestVersion() == 1)
    val serial = tmp("graft_race_")
    Graft.make(serial)
    append(serial)
    assert(rows(Graft.read(path)) == rows(Graft.read(serial)))
  }

  test("GraftTable mutation: a lost race fails fast at the peer's version") {
    val path = tmp("graft_race_")
    val t = GraftTable.create(spark, path, base)
    val v0 = t.latestVersion()
    intercept[java.util.ConcurrentModificationException] {
      racing(path, Graft.apiPeer, times = 1)(t.delete(col("id") === 1L))
    }
    assert(t.latestVersion() == v0 + 1)
    assert(rows(t.read()) == rows(base.union(peerRow)))
    val dirs = listed(Paths.get(path)).filter(_.matches("d\\d+-.*")).toSet
    assert(dirs == t.liveDataDirs.toSet, "the losing mutation's data stays")
  }
}

/** The HDFS-shaped [[GraftTestFs]] under the `lostack` scheme, where
  * the next rename onto a file named [[LostAckTestFs.loseAckOf]] lands
  * and then fails with an IOException — a store that took a put but
  * whose response never arrived. */
class LostAckTestFs extends GraftTestFs {
  override def getScheme: String = "lostack"
  override def getUri: java.net.URI = java.net.URI.create("lostack:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    val ok = super.rename(src, dst)
    if (ok && LostAckTestFs.consume(dst.getName))
      throw new java.io.IOException(s"connection reset after renaming to $dst")
    ok
  }
}
object LostAckTestFs {
  @volatile private var name: String = null
  def loseAckOf(fileName: String): Unit = name = fileName
  private[graft] def consume(fileName: String): Boolean = synchronized {
    val hit = fileName == name
    if (hit) name = null
    hit
  }
  /** The local path behind a `lostack://` or `lostackput://` one
    * (others unchanged). */
  def local(path: String): String =
    path.stripPrefix("lostackput://").stripPrefix("lostack://")
}

/** The object-store-shaped [[CondPutTestFs]] under the `lostackput`
  * scheme (conditional create, nothing visible before the closing
  * PUT), where closing the next conditional create of a file named
  * [[LostAckTestFs.loseAckOf]] stores the object and then fails with
  * an IOException — a PUT the store took whose response never
  * arrived. */
class LostAckPutTestFs extends CondPutTestFs {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path => HPath}
  override def getScheme: String = "lostackput"
  override def getUri: java.net.URI = java.net.URI.create("lostackput:///")

  private def losingAck(f: HPath, out: FSDataOutputStream): FSDataOutputStream =
    if (!LostAckTestFs.consume(f.getName)) out
    else new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = out.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        out.write(b, off, len)
      override def close(): Unit = {
        out.close()
        throw new java.io.IOException(s"connection reset after the PUT of $f")
      }
    }, null)

  override def createNonRecursive(f: HPath,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream =
    losingAck(f, super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
}
