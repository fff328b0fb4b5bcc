package graft

import graft.state.TxnLog

/** Crash-torture driver for [[TxnLog]]: commits as fast as possible
  * until killed. Deliberately Spark-free (the log is plain java.nio), so
  * a test can spawn several of these as REAL processes and `kill -9`
  * them mid-protocol — the only honest way to exercise every partial
  * state a dying writer can leave (half-written temp, temp without
  * link, killed between link and unlink). Each payload carries the
  * writer's pid and its local counter so the surviving log can be
  * audited for lost or duplicated commits.
  *
  * Usage: `TxnTortureMain <dir> [maxCommits] [publisher]` — loops up to
  * maxCommits (default unbounded) or until killed; `publisher` picks the
  * commit primitive by its `TxnLog.publisherNamed` token (`hardlink`
  * default | `conditionalput` | `http=<uri>` | `sigv4=<uri>;ak;sk`), so
  * the same process-level torture drives every
  * [[graft.state.CommitPublisher]] binding.
  */
object TxnTortureMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val max = if (args.length > 1) args(1).toLong else Long.MaxValue
    val pub = if (args.length > 2) TxnLog.publisherNamed(args(2))
      else TxnLog.HardLink
    val log = new TxnLog(dir, pub)
    val pid = ProcessHandle.current().pid()
    var i = 0L
    while (i < max) {
      log.commit(v => s"torture\n{\"pid\":$pid,\"i\":$i,\"v\":$v}")
      i += 1
    }
  }
}
