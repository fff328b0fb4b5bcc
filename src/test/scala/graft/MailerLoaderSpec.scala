package graft

import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.lifecycle._
import graft.state._

/** S7 loader-file manifest + S8 notifier/mail-audit semantics —
  * store-generic (the Mailer and loader lookups run against the
  * ControlStore seam), bound below to the control store with and
  * without checkpoints firing mid-test. */
trait MailerLoaderBehaviors extends AnyFunSuite {
  protected lazy val spark = TestSpark.spark

  /** The store under test. */
  def makeStore(dir: String): ControlStore

  private class FixedClock(t: Instant) extends Clock { def now(): Instant = t }

  private def newStore() =
    makeStore(Files.createTempDirectory("graft-mail").toString)

  private def lifecycle(store: ControlStore) =
    new Lifecycle(store, new FixedClock(Instant.parse("2026-08-12T12:00:00Z")), SystemSleeper)

  // ---- S7: func_get_loader_file_name -------------------------------------
  test("loader file names: templating, ordering, ci-match, empty contract") {
    val store = newStore()
    val lc = lifecycle(store)
    store.putLoaderFiles(Seq(
      TmpRunLoader("EISU100", "b_${DAY}.dat", 2),
      TmpRunLoader("EISU100", "a_${DAY}.dat", 1),
      TmpRunLoader("OTHER", "x.dat", 1)))
    assert(lc.getLoaderFileName("eisu100", "MON") === "a_MON.dat b_MON.dat",
      "branch 1: all files, seq order, ${DAY} expanded, case-insensitive batch")
    assert(lc.getLoaderFileName("MISSING", "MON") === "0",
      "no rows → NVL(names, 0) (body:1237)")
    assert(store.batchLog.count() === 1, "empty lookup logs 'No Data file name found'")
  }

  test("EISU242 flag dispatch: AVG file on weekdays, the rest on Saturday") {
    val store = newStore()
    val lc = lifecycle(store)
    store.putLoaderFiles(Seq(
      TmpRunLoader("EISU242", "AVG_${DAY}_VDN", 1),
      TmpRunLoader("EISU242", "F_${DAY}.dat", 2),
      TmpRunLoader("EISU242", "G_${DAY}.dat", 3)))
    assert(lc.getLoaderFileName("EISU242", "Monday") === "AVG_Monday_VDN",
      "flag 2 keeps only the AVG file (body:1182-1188)")
    assert(lc.getLoaderFileName("EISU242", "SATURDAY") === "F_SATURDAY.dat G_SATURDAY.dat",
      "flag 3 keeps everything but the AVG file (body:1190-1196)")
  }

  test("manifest-driven CSV load: resolved file names read as one DataFrame") {
    val store = newStore()
    val lc = lifecycle(store)
    val dataDir = Files.createTempDirectory("graft-loader-data")
    val f1 = dataDir.resolve("a_MON.csv"); val f2 = dataDir.resolve("b_MON.csv")
    Files.writeString(f1, "1,alpha\n2,beta\n")
    Files.writeString(f2, "3,gamma\n")
    store.putLoaderFiles(Seq(
      TmpRunLoader("LOADME", s"$dataDir/a_$${DAY}.csv", 1),
      TmpRunLoader("LOADME", s"$dataDir/b_$${DAY}.csv", 2)))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id LONG, name STRING")
    val df = lc.loadBatchFiles("LOADME", "MON", Some(schema)).get
    assert(df.count() === 3)
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq === Seq("alpha", "beta", "gamma"))
    assert(lc.loadBatchFiles("NOPE", "MON") === None, "empty manifest loads nothing")
  }

  // ---- S8: proc_send_mail_group ------------------------------------------
  test("mail: off switch, sender construction, recipient split, audit append") {
    val store = newStore()
    val rec = new RecordingNotifier
    val mailer = new Mailer(store, rec, new FixedClock(Instant.parse("2026-08-12T12:00:00Z")),
      user = "OPS$JD01", domain = "example.com")
    // SEND_MAIL unset/off → no-op (body:1041-1043)
    assert(!mailer.sendMailGroup("a@example.com", "s", "b"))
    assert(rec.sent.isEmpty)

    store.updEnv("SEND_MAIL", "Y")
    store.putMailAddresses(Seq(MailAddr("JD01", "jANE", "dOE")))
    assert(mailer.sendMailGroup("a@example.com  b@example.com", "subj", "body"))
    val m = rec.sent.head
    assert(m.sender === "Jane.Doe@example.com", "INITCAP(forename).INITCAP(name)@domain (body:1059-1078)")
    assert(m.recipients === Seq("a@example.com", "b@example.com"),
      "space-delimited recipient walk drops empties (body:1089-1106)")
    assert(store.mailAudit.count() === 0, "no audit unless SEND_MAIL_AUD='Y'")

    store.updEnv("SEND_MAIL_AUD", "Y")
    mailer.sendMailGroup("c@example.com", "subj2", "body2")
    val audit = store.mailAudit.collect()
    assert(audit.length === 1 && audit.head.getAs[String]("subject") === "subj2",
      "audit row appended (body:1134-1149)")

    store.updEnv("SEND_MAIL_TEST", "Y")
    mailer.sendMailGroup("real@example.com", "s3", "b3")
    assert(rec.sent.last.recipients === Seq("test.override@example.com"),
      "test override reroutes (body:1069-1074)")
  }

  test("mail over a REAL SMTP conversation: loopback delivery, headers, dot-stuffing, audit unchanged") {
    // S8 with the stub qualifier deleted (r17 verdict item 2): the same
    // Mailer policy path, but the transport leg is the RFC 5321 client
    // against the in-repo loopback server — helo/mail/rcpt/data/quit,
    // exactly the UTL_SMTP conversation (body:1080-1132)
    val store = newStore()
    store.updEnv("SEND_MAIL", "Y")
    store.updEnv("SEND_MAIL_AUD", "Y")
    store.putMailAddresses(Seq(MailAddr("JD01", "jANE", "dOE")))
    val server = new Smtp.Server()
    try {
      val clock = new FixedClock(Instant.parse("2026-08-12T12:00:00Z"))
      val notifier = new Smtp.SmtpNotifier(server.host, server.port, clock = clock)
      val mailer = new Mailer(store, notifier, clock, user = "OPS$JD01")
      // body includes a '.'-leading line: the dot-stuffing case that
      // would truncate the DATA transfer if the client skipped §4.5.2
      assert(mailer.sendMailGroup("a@example.com b@example.com", "DEPENDENCY FAILURE",
        "module EISU100 failed\n.hidden line\ntail"))
      val Seq(d) = server.delivered
      assert(d.sender === "Jane.Doe@example.com")
      assert(d.recipients === Seq("a@example.com", "b@example.com"))
      assert(d.data.contains("Subject: DEPENDENCY FAILURE"))
      assert(d.data.contains("Date: 12 Aug 26 12:00:00"), d.data)
      assert(d.data.contains("\r\n.hidden line\r\n"),
        "dot-stuffed line must arrive un-stuffed and un-truncated")
      assert(d.data.endsWith("tail\r\n"))
      val audit = store.mailAudit.collect()
      assert(audit.length === 1 && audit.head.getAs[String]("subject") === "DEPENDENCY FAILURE",
        "the audit insert is unchanged by the transport binding")
    } finally server.stop()
  }
}

/** The matrix with the default checkpoint interval: every read is
  * answered from the commit tail alone. */
class MailerLoaderSpec extends MailerLoaderBehaviors {
  def makeStore(dir: String): ControlStore = new MwStateStore(spark, dir)
}

/** Same matrix with a small K, so checkpoints fire mid-test. */
class MwMailerLoaderSpec extends MailerLoaderBehaviors {
  def makeStore(dir: String): ControlStore = new MwStateStore(spark, dir, checkpointEvery = 3)
}
