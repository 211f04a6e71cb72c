package graft.service

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import com.fasterxml.jackson.databind.node.ObjectNode

/** One family of R7 jobs (`/etl/run`, `/index/maintain`,
  * `/lake/compact`): runs serialized on the family's lock, each under
  * a key, with a `{"state": idle|running|done|failed}` status per key
  * that a poller can read while the Spark work executes.
  *
  * Status writes are sequenced per REQUEST: a queued run's "running"
  * must not be overwritten by an EARLIER run's completion (the overlap
  * race: A long-running, B queued on the lock — A's done landing after
  * B's running would tell a poller the job is finished while B has not
  * executed). Keys keep concurrent jobs on different targets from
  * shadowing each other's status; the parameterless poll reads the
  * most recently started key. Bounded: one entry per distinct key this
  * process ran, each a few hundred bytes.
  *
  * @param thread name of the thread an async job runs on */
private[graft] final class AsyncJobs(thread: String) {
  private val lock = new Object
  private val seq = new AtomicLong(0L)
  private val jobs = new ConcurrentHashMap[String, (Long, String)]()
  private val latest = new AtomicReference[String](null)

  private def publish(key: String, n: Long, body: String): Unit =
    jobs.merge(key, (n, body), (old, neu) => if (neu._1 >= old._1) neu else old)

  /** The status body of `key`, or of the latest-started key. */
  def status(key: Option[String] = None): String =
    key.orElse(Option(latest.get())).flatMap(k => Option(jobs.get(k)))
      .map(_._2).getOrElse("""{"state":"idle"}""")

  /** Start a job under `key`. `job` fills in the done body (which
    * already carries `state` and `labels`); success is the job
    * returning, failure its exception, whose message becomes the
    * failed body's `detail`. Async → 202 with the running body at
    * once; sync → 200 with the done body or 500 with the failed one. */
  def submit(key: String, async: Boolean, labels: (String, String)*)(
      job: ObjectNode => Unit): (Int, String) = {
    def state(s: String): ObjectNode = {
      val o = RestApi.json.createObjectNode().put("state", s)
      labels.foreach { case (k, v) => o.put(k, v) }
      o
    }
    val n = seq.incrementAndGet()
    latest.set(key)
    val running = RestApi.json.writeValueAsString(state("running"))
    publish(key, n, running)
    def run(): (Boolean, String) = {
      val (ok, out) = lock.synchronized {
        val done = state("done")
        try { job(done); (true, done) }
        catch {
          case e: Exception => (false,
            state("failed").put("detail", String.valueOf(e.getMessage)))
        }
      }
      val body = RestApi.json.writeValueAsString(out)
      publish(key, n, body)
      (ok, body)
    }
    if (async) {
      new Thread(() => { run(); () }, thread).start()
      (202, running)
    } else {
      val (ok, body) = run()
      (if (ok) 200 else 500, body)
    }
  }
}
