package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private val records = Seq("BENCH_r17.json", "BENCH_r17_c8.json",
    "BENCH_r17_insession.json", "BENCH_r17_insession2.json",
    "BENCH_r18_baseline.json", "BENCH_r18_baseline_detail.json",
    "BENCH_r18_closing.json", "BENCH_r18_closing_detail.json",
    "BENCH_DETAIL.json", "BENCH_r9.json")

  test("officialRecord: a round's closing record is official and beats " +
      "older rounds; baseline, detail, c8 and in-session records never are") {
    assert(Bench.officialRecord(records, Int.MaxValue) === Some("BENCH_r18_closing.json"))
    assert(Bench.officialRecord(records, 18) === Some("BENCH_r17.json"))
    assert(Bench.officialRecord(records :+ "BENCH_r19.json", Int.MaxValue) ===
      Some("BENCH_r19.json"))
    assert(Bench.officialRecord(records :+ "BENCH_r18.json", Int.MaxValue) ===
      Some("BENCH_r18_closing.json"))
    assert(Bench.officialRecord(Seq("BENCH_r18_baseline.json", "BENCH_r17_c8.json"),
      Int.MaxValue) === None)
    // rounds compare as numbers, not as text
    assert(Bench.officialRecord(Seq("BENCH_r9.json", "BENCH_r10.json"), Int.MaxValue) ===
      Some("BENCH_r10.json"))
  }
}
