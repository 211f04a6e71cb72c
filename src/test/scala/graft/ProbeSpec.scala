package graft

import graft.service.RestApi.json

/** Smoke test of the measurement harness: cheap cells run in-process
  * at sf0.001 and print what their readers parse. */
class ProbeSpec extends SparkSpec {

  private def run(cell: Probe.Cell, args: String*): (Boolean, Seq[String]) = {
    val lines = Seq.newBuilder[String]
    val ok = Probe.run(spark, cell, args, Some(sfDir), lines += _)
    (ok, lines.result())
  }
  private def run(cell: String, args: String*): Seq[String] = {
    val (ok, lines) = run(Probe.cells.find(_.name == cell).get, args: _*)
    assert(ok, lines)
    lines
  }

  test("queries prints one JSON line carrying the usage keys") {
    val Seq(line) = run("queries", "q1_agg")
    val rec = json.readTree(line).get("queries").get(0)
    assert(rec.get("query").asText == "q1_agg" && !rec.has("error"), line)
    for (k <- Seq("secs", "jobs", "stages", "tasks", "input_mb", "records_read",
        "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mem_mb",
        "spill_disk_mb", "peak_task_exec_mem_mb"))
      assert(rec.has(k), s"$k missing from $line")
    assert(rec.get("jobs").asInt >= 1 && rec.get("tasks").asInt >= 1)
  }

  test("scans prints the query's SHAPE line") {
    assert(run("scans", "q1_agg").exists(_.startsWith("SHAPE q1_agg scans=")))
  }

  test("plan prints a non-empty physical plan") {
    val out = run("plan", "q1_agg")
    assert(out.head == "===== EXECUTED PLAN q1_agg =====")
    assert(out(1).trim.nonEmpty)
  }

  test("the usage text names every cell") {
    val named = Probe.usage.linesIterator.drop(1).map(_.trim.split(" ").head).toSet
    for (c <- Probe.cells) assert(named.contains(c.name), c.name)
  }

  test("a cell error with quotes, backslashes and newlines prints one line that parses back") {
    val err = new IllegalStateException("say \"hi\" to C:\\tmp\nthen leave")
    val (ok, lines) = run(Probe.Cell("boom", "", Probe.Plain, _ => throw err))
    assert(!ok)
    val Seq(line) = lines
    assert(!line.contains("\n"))
    val parsed = json.readTree(line)
    assert(parsed.get("cell").asText == "boom")
    assert(parsed.get("error").asText == err.toString)
  }
}
