package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact stdout record's query packing ([[Bench.packQueries]]): pure
  * string arithmetic over (name, seconds) pairs, so no Spark session.
  */
class BenchRecordSpec extends AnyFunSuite {

  private def entries(json: String): Seq[(String, Double)] =
    if (json.isEmpty) Nil
    else json.split(",").toSeq.map { e =>
      val Array(k, v) = e.split(":")
      k.stripPrefix("\"").stripSuffix("\"") -> v.toDouble
    }

  // 254 swept entries, far more than fit, and 9 cold singles that are all
  // FASTER than every swept entry: slowest-first packing of one merged
  // budget would hand the singles nothing
  private val swept = (1 to 254).map(i => s"p${i}_op" -> (10.0 + i))
  private val singles = (1 to 9).map(i => s"s${i}_script" -> i.toDouble)

  test("under budget pressure the slowest singles keep their reserved room") {
    val budget = 600
    val (sw, swKept, sg, sgKept) = Bench.packQueries(swept, singles, budget)
    assert(sgKept >= Bench.SinglesReserved)
    val gotSingles = entries(sg)
    assert(gotSingles.size == sgKept)
    assert(gotSingles.map(_._1).take(Bench.SinglesReserved) ==
      Seq("s9", "s8", "s7", "s6", "s5", "s4"))
    val gotSwept = entries(sw)
    assert(gotSwept.size == swKept && swKept > 0 && swKept < swept.size)
    assert(gotSwept.head == ("p254" -> 264.0), "swept entries stay slowest-first")
    assert(gotSwept.map(_._2) == gotSwept.map(_._2).sorted.reverse)
    assert(sw.length + sg.length + 20 <= budget, "the two objects stay inside the budget")
  }

  test("no singles: the swept entries get the whole budget; few entries: all kept") {
    val (sw, swKept, sg, sgKept) = Bench.packQueries(swept, Nil, 600)
    assert(sg.isEmpty && sgKept == 0)
    assert(sw.length <= 600 && sw.length > 600 - 20)
    assert(entries(sw).size == swKept)
    val few = Bench.packQueries(swept.take(3), singles.take(2), 600)
    assert(few._2 == 3 && few._4 == 2)
    assert(few._1 == "\"p3\":13.000,\"p2\":12.000,\"p1\":11.000")
    assert(few._3 == "\"s2\":2.000,\"s1\":1.000")
  }
}
