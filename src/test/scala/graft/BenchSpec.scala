package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's output contract: the driver keeps only a ~4 KB tail of the
  * run log, so every stdout line must fit it, the per-query line must
  * parse on its own, and the total line must come last, unchanged. */
class BenchSpec extends AnyFunSuite {
  // 300 entries with 40-character names: more and longer than the
  // battery's, with one failure
  private val results = (1 to 300).map { i =>
    val name = f"q_synthetic_entry_names_padded_to_40_$i%03d"
    name -> (if (i == 7) None
      else Some(Bench.Entry(i * 0.731, Measure.JobCounts(i % 9, i % 9, i))))
  }

  test("every stdout line fits the log tail, parses as JSON, and the " +
      "total line comes last in its fixed format") {
    assert(results.forall(_._1.length == 40))
    val lines = Bench.stdoutLines(results, "/data/sf0.1")
    assert(lines.size == 2)
    lines.foreach(l => assert(l.getBytes("UTF-8").length <= 4096))
    val perQuery = lines.head
    assert(perQuery.getBytes("UTF-8").length <= 3500)
    val mapper = new ObjectMapper()
    val pq = mapper.readTree(perQuery)
    val shown = pq.get("queries")
    assert(shown.size + pq.get("rest_n").asInt == 300)
    // the failure first as null, then the slowest entries
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(
      shown.fieldNames).asScala.toSeq
    assert(names.head.endsWith("_007") && shown.get(names.head).isNull)
    assert(names(1).endsWith("_300") && shown.get(names(1)).asDouble == 219.3)
    val rest = results.filterNot(r => names.contains(r._1))
    assert(math.abs(pq.get("rest_sec").asDouble -
      rest.flatMap(_._2).map(_.secs).sum) <= 0.005)
    val total = results.flatMap(_._2).map(_.secs).sum
    mapper.readTree(lines.last)
    assert(lines.last == "{\"metric\":\"total\",\"value\":" +
      "%.3f".formatLocal(java.util.Locale.ROOT, total) +
      ",\"unit\":\"sec\",\"failed\":1,\"sf\":\"/data/sf0.1\"}")
  }

  test("bench_out.json holds every entry's time, jobs and tasks") {
    val full = new ObjectMapper().readTree(
      Bench.fullRecord(results, Seq("postings" -> 1.5), "/data/sf0.1"))
    Seq("queries", "jobs", "tasks")
      .foreach(k => assert(full.get(k).size == 300))
    val q = "q_synthetic_entry_names_padded_to_40_010"
    assert(full.get("queries").get(q).asDouble == 7.31)
    assert(full.get("jobs").get(q).asInt == 1)
    assert(full.get("tasks").get(q).asInt == 10)
    assert(full.get("artifact_build").get("postings").asDouble == 1.5)
    assert(!full.has("fixture_ops"))
  }
}
