package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s run accounting and its compact stdout line. */
class BenchSpec extends AnyFunSuite {

  test("a gate that throws is an error, never a time") {
    val boom = new IllegalStateException("gate failed")
    assert(Bench.runsOf(() => throw boom, _ => 0) == Left(boom))
    // failing on a later run still reports no time for the gate
    var calls = 0
    val late = Bench.runsOf(() => { calls += 1; if (calls == 2) throw boom }, _ => 0)
    assert(late == Left(boom) && calls == 2)
    var extra = 0
    val outlier = Bench.runsOf(() => { extra += 1; if (extra == 4) throw boom }, _ => 2)
    assert(outlier == Left(boom))
  }

  test("a gate that runs is timed twice, plus the extra runs asked for") {
    var calls = 0
    val runs = Bench.runsOf(() => calls += 1, base => if (base.size >= 2) 2 else 0)
    assert(runs.isRight && (runs.toOption.get.size == 4 || runs.toOption.get.size == 5))
    assert(calls == runs.toOption.get.size)
  }

  test("the compact line formats seconds the same in every default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try assert(Bench.slowest(Seq("qa" -> 1.5, "qb" -> 12.25), 100) ==
      "\"qb\":12.250,\"qa\":1.500")
    finally java.util.Locale.setDefault(saved)
    // entries past the budget are left out, slowest first
    assert(Bench.slowest(Seq("qa" -> 1.5, "qb" -> 12.25), 13) == "\"qb\":12.250")
  }

  test("the outlier guard reads the queries of the committed round artifact") {
    val r17 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_r17.json")), "UTF-8")
    val canon = Bench.canonicalQueries(r17)
    // the artifact keeps the compact line as an escaped `tail` string
    assert(canon.size == 55, canon.size)
    assert(canon.get("qd2_sql_merge_per_row") == Some(9.046))
    assert(canon.get("qc4_sql_dml") == Some(6.973))
    // a full artifact carries the map itself; anything else reads empty
    assert(Bench.canonicalQueries(
      """{"metric":"total","value":3.5,"queries":{"qa":1.5,"qb":2},"sf":"x"}""") ==
      Map("qa" -> 1.5, "qb" -> 2.0))
    assert(Bench.canonicalQueries("""{"n":16,"tail":"no result line","parsed":null}""").isEmpty)
    assert(Bench.canonicalQueries("not json").isEmpty)
  }
}
