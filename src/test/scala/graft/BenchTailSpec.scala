package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout is parsed from a ~2,000-char tail, so the tail must end
  * with the compact totals line, whole, however many entries ran and
  * however many moved.
  */
class BenchTailSpec extends AnyFunSuite {
  private val results = (0 until 300).map { i =>
    f"q$i%03d_a_long_declared_query_name_for_width" -> ((1.0 + i * 0.37, 2.0 + i, 0.1))
  }
  // every entry moved by well over the 10% / 0.15 s mover thresholds
  private val prev = results.map { case (k, (w, _, _)) => k -> (w * 3 + 1) }.toMap

  test("the compact totals line is last and both tail lines fit a 2,000-char tail") {
    val lines = Bench.tailLines(results, prev, "sf0.1", 3)
    assert(lines.size == 2)
    val last = parse(lines.last)
    assert(last \ "metric" == JString("total"))
    last \ "queries" match {
      case JObject(fs) => assert(fs.size == 8)
      case other => fail(s"queries is not an object: $other")
    }
    assert(parse(lines.head) \ "metric" == JString("delta"))
    assert(lines.map(_.length + 1).sum <= 2000, lines.map(_.length))
  }

  test("without a previous run only the totals line prints") {
    val lines = Bench.tailLines(results, Map.empty, "sf0.1", 3)
    assert(lines.size == 1 && parse(lines.head) \ "metric" == JString("total"))
  }

  test("the previous run is read back with the serializer that wrote it") {
    val f = java.nio.file.Files.createTempFile("bench", ".json")
    java.nio.file.Files.writeString(f,
      """{"metric":"total","wall_sec":{"q01":1.5,"q02":-1.0,"q03":2},"task_sec":{"q01":9.0}}""")
    assert(Bench.previousWall(f) == Map("q01" -> 1.5, "q02" -> -1.0, "q03" -> 2.0))
    java.nio.file.Files.writeString(f, "not json")
    assert(Bench.previousWall(f).isEmpty)
  }
}
