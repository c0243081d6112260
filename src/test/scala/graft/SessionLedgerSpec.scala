package graft

import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph
import graft.sources.Tables

/** SessionLedger: release is the one teardown for every kind of entry a
  * session accumulates. Each test runs in its own child session so other
  * suites' entries on the shared session never count. */
class SessionLedgerSpec extends AnyFunSuite {
  private val root = TestSpark.spark
  private val dirA = TestSpark.sf0001
  private val dirB = TestSpark.sf001

  private def kinds(s: org.apache.spark.sql.SparkSession, dir: String) =
    SessionLedger.entries(s).collect { case ((d, _), k) if d == dir => k }.toSet

  /** Persisted-RDD ids the context gained since `before`, polled briefly
    * because release unpersists asynchronously. */
  private def leakedSince(before: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 30.seconds.toNanos
    var leaked = root.sparkContext.getPersistentRDDs.keySet.toSet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(250)
      leaked = root.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    leaked
  }

  test("release drops memoized table plans") {
    val s = root.newSession()
    val region = Tables(s, dirA, "region")
    assert(Tables(s, dirA, "region") eq region, "table plan is memoized")
    SessionLedger.release(s)
    assert(!(Tables(s, dirA, "region") eq region),
      "a released session must rebuild its table plans")
    SessionLedger.release(s)
  }

  test("pagerankIterate leaves one tracked checkpoint, and release frees it") {
    val s = root.newSession()
    val before = root.sparkContext.getPersistentRDDs.keySet.toSet
    Graph.pagerankIterate(s, dirA, 3).collect()
    assert(SessionLedger.entries(s).values.count(_ == SessionLedger.Checkpoint) == 1,
      s"superseded iterates must be dropped: ${SessionLedger.entries(s)}")
    SessionLedger.release(s)
    assert(SessionLedger.entries(s).isEmpty)
    val leaked = leakedSince(before)
    assert(leaked.isEmpty, s"persisted blocks leaked past release: ids=$leaked")
  }

  test("release of one dir keeps every kind of entry of another dir") {
    val s = root.newSession()
    val kept = Seq(dirA, dirB).map { dir =>
      val persisted = SessionLedger.persisted(s, dir, "spec")(Tables(s, dir, "nation"))
      SessionLedger.checkpoint(Tables(s, dir, "region"), dir)
      assert(kinds(s, dir) ==
        Set(SessionLedger.Plan, SessionLedger.Persisted, SessionLedger.Checkpoint))
      persisted
    }.last
    SessionLedger.release(s, dirA)
    assert(kinds(s, dirA).isEmpty, "released dir must hold no entries")
    assert(kinds(s, dirB) ==
      Set(SessionLedger.Plan, SessionLedger.Persisted, SessionLedger.Checkpoint),
      "other dirs' entries must survive a per-dir release")
    assert(kept.storageLevel == SessionLedger.persistLevel,
      "the kept dir's intermediate stays persisted")
    SessionLedger.release(s)
    assert(SessionLedger.entries(s).isEmpty)
  }
}
