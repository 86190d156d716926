package graft.sources

import java.nio.file.FileAlreadyExistsException
import org.apache.hadoop.fs.{Path => HPath}

/** The optimistic-commit decision every retrying table writer shares —
  * GraftTable commits, Delta appends / row-level mutations / OPTIMIZE /
  * RESTORE / ALTER, and every Iceberg snapshot or metadata commit.
  *
  * The protocol (Delta PROTOCOL.md "optimistic concurrency", the
  * Iceberg spec's file-system tables): read the base version, build
  * the commit, claim version slot N+1 with [[TableIO.writeExclusive]].
  * A claim that finds the slot taken lost a race: the attempt removes
  * what it wrote and the operation tries again, redoing as much as its
  * read set demands — re-validate and re-claim (blind appends), restart
  * the whole operation (DELETE / UPDATE / MERGE / compaction), or
  * re-apply a metadata edit to the winner's state. That choice stays
  * with the attempt body; the bound, the loss accounting and the
  * give-up error live here. */
private[graft] object OptimisticCommit {
  /** Lost races an operation absorbs; the next loss gives up. */
  val MaxRetries = 20

  /** TEST SEAM: runs in every attempt's window between building its
    * commit and claiming the slot ([[claim]]) — where a spec lands a
    * peer's commit deterministically. The seam is disarmed while it
    * runs, so a peer committing through the public API inside it does
    * not recurse. */
  @volatile private[graft] var raceHook: Option[() => Unit] = None

  /** A failure once a claim was issued where the slot is not known to
    * be lost: the put may have landed before the error (a response
    * lost after the store took it), or did land and a step after it
    * failed. The attempt's files may be referenced by a committed
    * version, so [[cleaningUp]] leaves them. */
  final class MayHaveLanded(slot: HPath, cause: java.io.IOException)
    extends java.io.IOException(
      s"commit at $slot may have landed: ${cause.getMessage}", cause)

  /** Claim version slot `slot` with the commit `bytes`: the race seam,
    * then the atomic exclusive put. Throws
    * `java.nio.file.FileAlreadyExistsException` when a peer holds it,
    * [[MayHaveLanded]] on any other I/O failure of the put. */
  def claim(io: TableIO, slot: HPath, bytes: Array[Byte]): Unit = {
    raceHook.foreach { h =>
      raceHook = None
      try h() finally raceHook = Some(h)
    }
    try io.writeExclusive(slot, bytes)
    catch {
      case e: FileAlreadyExistsException => throw e
      case e: java.io.IOException => throw new MayHaveLanded(slot, e)
    }
  }

  /** Run `attempt` until it commits. `attempt(lost)` gets the number of
    * races lost so far, so a retry can redo what a loss invalidated; a
    * `FileAlreadyExistsException` escaping it is a lost slot. After
    * [[MaxRetries]] retries the next loss gives up with
    * `IllegalStateException`. */
  def retry[A](what: String, path: String)(attempt: Int => A): A = {
    var out: Option[A] = None
    var lost = 0
    while (out.isEmpty) {
      try out = Some(attempt(lost))
      catch {
        case _: FileAlreadyExistsException =>
          lost += 1
          if (lost > MaxRetries)
            throw new IllegalStateException(
              s"$what lost $MaxRetries version races at $path — giving up")
      }
    }
    out.get
  }

  /** `body` for an attempt whose files must not outlive it: when it
    * fails before its claim or loses the slot, `cleanup` removes what
    * it wrote (best-effort) and the failure propagates, to [[retry]]
    * or to the caller. A [[MayHaveLanded]] failure skips the cleanup. */
  def cleaningUp[A](cleanup: => Unit)(body: => A): A =
    try body
    catch {
      case e: MayHaveLanded => throw e
      case e: Throwable =>
        try cleanup catch { case _: Exception => () }
        throw e
    }
}
