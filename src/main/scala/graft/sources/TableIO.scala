package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Hadoop-FileSystem-backed I/O for the GraftTable format.
  *
  * Every byte the table format reads or writes goes through a Hadoop
  * `FileSystem` resolved from the table root URI, so the format runs
  * unchanged on any Hadoop-supported store — `file://` (tests, single
  * node), `hdfs://`, `s3a://` (the reference lakehouse keeps its
  * tables on MinIO/S3: k8s/minio/,
  * docker/spark-notebook/getting_started.py `s3a://` paths) — instead
  * of being local-disk-only. Schemeless roots resolve through
  * `fs.defaultFS` exactly like any Spark path.
  *
  * The commit protocol needs one primitive with stronger-than-POSIX
  * semantics: an ATOMIC EXCLUSIVE put of the next commit file (a
  * conditional put — exactly one writer may land each version slot,
  * and readers must never observe partial content). Guarantees by
  * store:
  *
  *  - local (`file`): write to a temp name, then hard-LINK into place —
  *    content appears atomically, and link() fails with
  *    FileAlreadyExistsException if another writer won the slot. The
  *    strongest variant, and the one exercised by tests here.
  *  - HDFS-like rename-atomic stores (hdfs, abfs, gs, viewfs): write a
  *    temp file, then `rename` WITHOUT overwrite — rename is atomic
  *    and fails when the destination exists.
  *  - stores advertising the `fs.option.create.conditional.overwrite`
  *    path capability (Hadoop 3.4+ conditional writes; s3a with S3
  *    conditional-PUT support): `createFile(p).overwrite(false)` — the
  *    store enforces create-if-absent atomically (If-None-Match on the
  *    closing PUT), so the exists-then-rename window disappears and
  *    content appears whole-object-atomically at close.
  *  - S3/S3A WITHOUT that capability: `rename` is copy+delete behind a
  *    non-atomic existence check, so two racing writers have a small
  *    window. Such deployments must either upgrade to an s3a with
  *    conditional-PUT support (previous bullet) or front the commit
  *    log with a lock/catalog service — the DynamoDB-LogStore /
  *    Iceberg-catalog pattern. Single-writer S3 pipelines are safe
  *    as-is; the failure mode under an unprotected race is a lost
  *    commit, never a torn file (content still lands via whole-object
  *    PUT).
  */
private[graft] object TableIO {
  /** Hadoop 3.4+ conditional-write builder option, doubling as the
    * path capability a store advertises when `createFile(p)
    * .overwrite(false)` is enforced ATOMICALLY (create-if-absent /
    * If-None-Match) rather than by a client-side existence check. */
  val ConditionalCreate = "fs.option.create.conditional.overwrite"
}

private[graft] final class TableIO(rootStr: String, conf: Configuration) {
  val root = new HPath(rootStr)
  val fs: FileSystem = root.getFileSystem(conf)

  def path(children: String*): HPath =
    children.foldLeft(root)((p, c) => new HPath(p, c))

  def exists(p: HPath): Boolean = fs.exists(p)

  def isDir(p: HPath): Boolean =
    try fs.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  def mkdirs(p: HPath): Unit = { fs.mkdirs(p); () }

  def list(p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).toSeq

  def move(src: HPath, dst: HPath): Unit =
    require(fs.rename(src, dst), s"rename $src -> $dst failed")

  def delete(p: HPath): Unit = { fs.delete(p, true); () }

  def readBytes(p: HPath): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  def readString(p: HPath): String =
    new String(readBytes(p), StandardCharsets.UTF_8)

  def write(p: HPath, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Atomic exclusive put (see class doc). Throws
    * `java.nio.file.FileAlreadyExistsException` when the slot is
    * already taken — the commit protocol's uniform retry signal across
    * stores. */
  /** Does this store MATERIALIZE the path at `createFile().build()`
    * (HDFS-class: the namenode create is the exclusivity point) or
    * only at the closing PUT (object stores: If-None-Match on close)?
    * Detected ONCE per TableIO with a contention-free throwaway probe
    * file — probing the real commit path instead would race: a peer's
    * completed object appearing between our build() and the probe
    * would be mistaken for our own create. Decides torn-file handling
    * in [[writeExclusive]]'s conditional-create branch. */
  private lazy val createMaterializes: Boolean = {
    val probe = new HPath(root,
      s".graft-capability-probe-${java.util.UUID.randomUUID()}")
    val out = fs.createFile(probe).overwrite(false).build()
    try fs.exists(probe)
    finally {
      try out.close() catch { case _: Throwable => () }
      try fs.delete(probe, false) catch { case _: Throwable => () }
    }
  }

  def writeExclusive(p: HPath, bytes: Array[Byte]): Unit =
    if (S3CondPut.enabled(conf, fs.getScheme)) {
      // opt-in S3-class adapter (graft.s3.condput.enabled): one
      // SigV4-signed PUT with If-None-Match — the store arbitrates the
      // slot, closing the exists-then-rename race that S3A without the
      // Hadoop 3.4 conditional-create capability leaves open. Reads
      // and data-file writes keep riding the configured FileSystem.
      S3CondPut.putIfAbsent(conf, p, bytes)
    } else if (fs.getScheme == "file") {
      val target = java.nio.file.Paths.get(p.toUri.getPath)
      val tmp = target.resolveSibling(
        s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.write(tmp, bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW)
      try java.nio.file.Files.createLink(target, tmp)
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else if (fs.hasPathCapability(p, TableIO.ConditionalCreate)) {
      // true conditional create: the store enforces create-if-absent
      // atomically when the builder declares overwrite(false) (S3
      // If-None-Match on the closing PUT). The slot-taken signal can
      // surface at build() (HDFS-class: namenode create) or at close()
      // (object stores: the PUT itself) — both map to the protocol's
      // uniform FileAlreadyExistsException.
      try {
        val out = fs.createFile(p).overwrite(false).build()
        try { out.write(bytes); out.close() }
        catch {
          case e: java.io.IOException =>
            try out.close() catch { case _: Throwable => () }
            if (createMaterializes) {
              // HDFS-class semantics: our EXCLUSIVE create already
              // materialized the path, so the file there is OUR torn
              // partial — clean it up and surface the real I/O error.
              // Re-probing existence here would see our own partial,
              // misreport contention, and leave a truncated commit in
              // the slot for readers to replay.
              try fs.delete(p, false) catch { case _: Throwable => () }
              throw e
            }
            // object-store semantics (nothing materializes before the
            // closing PUT): a failed conditional PUT reports as an I/O
            // failure on close, and a visible object is complete — a
            // peer's, or OUR put whose acknowledgement was lost. Tell
            // them apart by content: ours means the commit landed, a
            // peer's is the retry signal, an empty slot leaves the I/O
            // error an error, and an unreadable slot leaves it open.
            val landed =
              try Some(readBytes(p))
              catch {
                case _: java.io.FileNotFoundException => None
                case re: java.io.IOException =>
                  e.addSuppressed(re)
                  throw new OptimisticCommit.MayHaveLanded(p, e)
              }
            landed match {
              case Some(b) if java.util.Arrays.equals(b, bytes) => ()
              case Some(_) =>
                throw new java.nio.file.FileAlreadyExistsException(p.toString)
              case None => throw e
            }
        }
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new java.nio.file.FileAlreadyExistsException(p.toString)
      }
    } else {
      if (fs.exists(p))
        throw new java.nio.file.FileAlreadyExistsException(p.toString)
      val tmp = new HPath(p.getParent,
        s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      write(tmp, bytes)
      val renamed =
        try fs.rename(tmp, p)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      if (!renamed) {
        fs.delete(tmp, false)
        // only report slot contention when the slot is actually taken;
        // a rename failing for an I/O reason must surface as an error,
        // not loop through the commit protocol's 20 retries
        if (fs.exists(p))
          throw new java.nio.file.FileAlreadyExistsException(p.toString)
        throw new java.io.IOException(s"rename $tmp -> $p failed")
      }
    }
}
