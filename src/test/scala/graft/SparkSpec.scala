package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide context).
  *
  * The session master is `local[4,2]` (two task attempts) so RetrySpec can
  * exercise the recompute-on-retry path — which also means a transient
  * NON-injected task failure would be retried silently and could mask
  * flakiness (round-7 review). [[graft.util.TaskFailureAudit]] closes that
  * hole: every failed task attempt is counted, injection sites declare
  * theirs, and the fixture hook below fails the first test after which an
  * undeclared failure is visible. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.local(4, "graft-test")
    graft.util.TaskFailureAudit.install(s)
    s
  }
  def sf(name: String) = graft.util.Staging.corpus(name)

  /** Absolute path of `name` under `target/scratch` of the working
    * directory (the checkout the suite runs from), so a spec never writes
    * into a hard-coded checkout; the same root as the program's own
    * scratch artifacts ([[graft.util.Staging.scratch]]). */
  def scratch(name: String): String = graft.util.Staging.scratch(name)

  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    // snapshot → delta (round-8 review): the audit counter is cumulative
    // across the shared JVM, so failing on the absolute value made every
    // test AFTER one undeclared failure fail with the same message,
    // burying the trigger. The delta pins the failure to the test whose
    // window observed it (listener delivery is async, so attribution is
    // to-the-nearest-test — but it never cascades).
    val before = graft.util.TaskFailureAudit.unexpected()
    val out = super.withFixture(test)
    val extra = graft.util.TaskFailureAudit.unexpected() - before
    if (out.isSucceeded && extra > 0)
      org.scalatest.Failed(new AssertionError(
        s"$extra non-injected task failure(s) were retried silently by local[n,2] " +
          "during this test's window — investigate the nondeterminism instead of relying on the retry"))
    else out
  }

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean = {
    val d = math.abs(a - b)
    d <= tol || d <= tol * math.max(math.abs(a), math.abs(b))
  }
}
