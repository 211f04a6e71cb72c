package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit.SECONDS
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.service.AsyncJobs

/** The job registry behind /etl/run, /index/maintain and /lake/compact,
  * driven directly: jobs block on latches, so every interleaving below
  * is forced, not hoped for. */
class AsyncJobsSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val running = """{"state":"running"}"""

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(5)
    assert(cond, what)
  }

  /** A job that signals `started`, then waits for `release`. */
  private def blocking(started: CountDownLatch, release: CountDownLatch,
      run: String)(done: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
    started.countDown()
    assert(release.await(30, SECONDS))
    done.put("run", run)
  }

  test("a queued run reads running until it finishes, never the earlier run's done") {
    val jobs = new AsyncJobs("test-job")
    val (aStarted, releaseA) = (new CountDownLatch(1), new CountDownLatch(1))
    val (bStarted, releaseB) = (new CountDownLatch(1), new CountDownLatch(1))
    // A runs synchronously on its own thread: its submit returns only
    // after A's done is published
    @volatile var resultA: (Int, String) = null
    val a = new Thread(() => {
      resultA = jobs.submit("k", async = false)(blocking(aStarted, releaseA, "A"))
    })
    a.start()
    assert(aStarted.await(30, SECONDS))
    // B queues on the family lock behind A
    assert(jobs.submit("k", async = true)(blocking(bStarted, releaseB, "B")) ==
      ((202, running)))
    assert(jobs.status() == running)
    releaseA.countDown()
    a.join(30000)
    assert(resultA == ((200, """{"state":"done","run":"A"}""")))
    // A's done landed after B's running: B has not finished, so the
    // status must still say running
    assert(jobs.status() == running)
    assert(bStarted.await(30, SECONDS))
    assert(jobs.status() == running)
    releaseB.countDown()
    eventually("B never finished")(jobs.status() != running)
    assert(jobs.status() == """{"state":"done","run":"B"}""")
  }

  test("keys never shadow each other; the parameterless poll reads the latest-started key") {
    val jobs = new AsyncJobs("test-job")
    val (xStarted, releaseX) = (new CountDownLatch(1), new CountDownLatch(1))
    assert(jobs.status() == """{"state":"idle"}""")
    assert(jobs.submit("x", async = true, "table" -> "x")(
      blocking(xStarted, releaseX, "X"))._1 == 202)
    assert(xStarted.await(30, SECONDS))
    // y is started after x, so it is the latest even while x still runs
    val (yStarted, releaseY) = (new CountDownLatch(1), new CountDownLatch(1))
    assert(jobs.submit("y", async = true, "table" -> "y")(
      blocking(yStarted, releaseY, "Y")) ==
      ((202, """{"state":"running","table":"y"}""")))
    assert(jobs.status() == """{"state":"running","table":"y"}""")
    releaseX.countDown()
    eventually("x never finished")(
      jobs.status(Some("x")) == """{"state":"done","table":"x","run":"X"}""")
    // x finishing does not move the latest key, nor touch y's status
    assert(jobs.status() == """{"state":"running","table":"y"}""")
    assert(jobs.status(Some("y")) == """{"state":"running","table":"y"}""")
    assert(jobs.status(Some("z")) == """{"state":"idle"}""")
    assert(yStarted.await(30, SECONDS))
    releaseY.countDown()
    eventually("y never finished")(
      jobs.status() == """{"state":"done","table":"y","run":"Y"}""")
    assert(jobs.status(Some("x")) == """{"state":"done","table":"x","run":"X"}""")
  }

  test("a sync failure is a 500 even when its message reads done") {
    val jobs = new AsyncJobs("test-job")
    val (code, body) = jobs.submit("k", async = false)(_ =>
      throw new RuntimeException("""{"state":"done"}"""))
    assert(code == 500, body)
    val tree = mapper.readTree(body)
    assert(tree.get("state").asText == "failed" &&
      tree.get("detail").asText == """{"state":"done"}""", body)
    assert(jobs.status() == body)
    // a job that returns normally is the success, whatever it put
    assert(jobs.submit("k", async = false)(_.put("detail", "failed"))._1 == 200)
  }
}
