package graft

import java.lang.ref.WeakReference

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SharedRel
import graft.sources.Tables

/** A stopped session must not outlive its stop through graft's memos.
  *
  * Not a SparkSpec: the shared `spark` field would itself pin the
  * session under test. Each test stops the JVM's current session and
  * leaves a fresh one as the default, which every later suite's
  * `GraftSession.local` returns. Sessions under test are used inside
  * helper methods so no stack slot of the test keeps them alive.
  */
class SessionLifetimeSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  /** Collect until `ref` clears; true if it did. A stopped context's
    * netty threads linger for their quiet period and still reference
    * the session that started them, so allow a few seconds. */
  private def collected(ref: WeakReference[_]): Boolean = {
    var tries = 0
    while (ref.get != null && tries < 40) {
      System.gc(); Thread.sleep(250); tries += 1
    }
    ref.get == null
  }

  private def loadAndStop(): WeakReference[AnyRef] = {
    val a = GraftSession.local(cpus = 4)
    Tables.load(a, sf, "nation")
    a.stop()
    new WeakReference(a.sparkContext)
  }

  private def buildAndStop(): WeakReference[AnyRef] = {
    val a = GraftSession.local(cpus = 4)
    val artifact = SharedRel(a, "lifetimeSpec|artifact", "sig")(a.range(3).toDF("id"))
    a.stop()
    new WeakReference(artifact)
  }

  test("Tables.load releases a stopped session: its context becomes unreachable") {
    // The previous session loads first, so JVM-wide threads that start
    // on the first file-system use (they inherit the thread's active
    // session) are already running and cannot pin session A.
    val previous = GraftSession.local(cpus = 4)
    Tables.load(previous, sf, "nation")
    previous.stop()
    val contextA = loadAndStop()
    val b = GraftSession.local(cpus = 4)
    Tables.load(b, sf, "nation")
    assert(collected(contextA), "a memo still holds the stopped session's context")
  }

  test("SharedRel releases a stopped session's artifacts") {
    // Only the artifact is checked: Spark's executor keeps its own
    // per-session state for sessions that ran jobs.
    val artifactA = buildAndStop()
    val b = GraftSession.local(cpus = 4)
    SharedRel(b, "lifetimeSpec|artifact", "sig")(b.range(3).toDF("id"))
    assert(collected(artifactA), "SharedRel still holds the stopped session's artifact")
  }
}
