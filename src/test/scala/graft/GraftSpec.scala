package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one local session per suite. */
trait GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  val Sf = "/root/testdata/sf0.001"

  @volatile private var sessionStarted = false

  lazy val spark: SparkSession = {
    sessionStarted = true
    GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** Release this suite's memoized/persisted derivations so the shared
    * test JVM never accumulates cached plans across suites (another
    * suite sharing the session just re-derives on first use).
    *
    * SEQUENTIAL-SUITE ASSUMPTION: Memo.clear releases every entry of
    * the getOrCreate-shared session, destroying its broadcasts (an
    * entry still building is released when its build completes). That
    * is safe only because the forked test JVM runs suites sequentially
    * (sbt's testForkedParallel stays at its false default — keep it
    * that way in build.sbt): parallel suites would let one suite's
    * teardown destroy a broadcast another suite's in-flight query still
    * references.
    */
  override protected def afterAll(): Unit = {
    if (sessionStarted) Memo.clear(spark)
    super.afterAll()
  }

  /** Hex MD5 over UTF-8 bytes — the same bytes Spark's `md5(col)`
    * hashes (UTF8String), pinned explicitly so platform default
    * charsets can't skew a test expectation.
    */
  protected def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
