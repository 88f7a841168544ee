package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-19 additions: committed per-query medians on REFUSED bench lines
  * (`"cqueries"` — the r18 verdict's named gap: a refused artifact's
  * per-query map carried live contaminated medians while the headline
  * carried the committed total, so cross-round per-query diffs compared
  * committed-to-live and manufactured phantom regressions), and the
  * schema-cache hardening (per-path replacement, unreadable-stamp bypass).
  */
class Round19OpsSpec extends AnyFunSuite with SparkSpec {

  // ---- Bench.cqueriesField ----

  test("cqueriesField: refused line carries committed medians for shown keys") {
    val committed = Some(Map("q_a" -> 1.234, "q_b" -> 0.5))
    val f = Bench.cqueriesField(Seq("q_a", "q_b"), committed)
    assert(f == ""","cqueries":{"q_a":1.23,"q_b":0.50}""")
  }

  test("cqueriesField: empty without a committed board (nothing to quote)") {
    assert(Bench.cqueriesField(Seq("q_a"), None) == "")
  }

  test("cqueriesField: shown keys absent from the committed board are skipped") {
    // a query ADDED since the committed capture has no committed median —
    // it must be omitted, never emitted as a sentinel the driver would sum
    val f = Bench.cqueriesField(Seq("q_new", "q_a"), Some(Map("q_a" -> 2.0)))
    assert(f == ""","cqueries":{"q_a":2.00}""")
    // ...and when NO shown key has a committed value, the field vanishes
    // entirely rather than shipping an empty object
    assert(Bench.cqueriesField(Seq("q_new"), Some(Map("q_a" -> 2.0))) == "")
  }

  test("cqueriesField round-trips through the artifact map parser") {
    // the field must parse with the same boardMap the drift gate and the
    // specs use — one quoting bug would corrupt the whole stdout line
    val f = Bench.cqueriesField(Seq("x_kcore", "q1_pricing"),
      Some(Map("x_kcore" -> 2.43, "q1_pricing" -> 0.61)))
    val line = s"""{"metric":"total","value":1.0$f}"""
    val m = Bench.boardMap(line, "cqueries")
    assert(m == Map("x_kcore" -> 2.43, "q1_pricing" -> 0.61))
  }

  test("stdoutLine: a refused full board with committed medians fits the driver's tail") {
    // every shown query costs three entries on a refused line (median,
    // min, committed median) plus the cqueries wrapper; the budget must
    // count all of them for every accepted key, not only the current one
    val board = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8")
    val meds = Bench.boardMap(board, "queries")
    assert(meds.size == 277)
    val live = meds.toSeq.map { case (k, v) => k -> ((v * 2, v)) }
    val extra = Bench.adjudicationFields(Some("canary out of bounds " * 10), Some(board)) +
      ""","live_total":355.12""" +
      Bench.calibFields(Some(0.09), Seq(0.24, 0.25, 0.26), 0.142, Some(0.31), Some(0.97))
    val line = Bench.stdoutLine(169.81, live, 0, (0.31, 0.29), "/root/testdata/sf0.1",
      extra, Some(meds))
    // sbt appends its "[success] Total time: ..." line (~80 chars)
    assert(line.length <= 2000 - 80, s"${line.length} chars")
    val shown = Bench.boardMap(line, "queries").keySet
    assert(shown.size > 10)
    assert(Bench.boardMap(line, "qmin").keySet == shown)
    assert(Bench.boardMap(line, "cqueries").keySet == shown)
  }

  // ---- Tables schema cache ----

  test("schema cache replaces a path's entry on rewrite and serves the new schema") {
    val p = tmpDir("r19cache")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$p/t.parquet")
    assert(Tables.load(spark, p, "t").schema.fieldNames.toSeq == Seq("id", "v"))
    // rewrite with a DIFFERENT schema under the same path; force a new
    // mtime (fs granularity can be 1 s — the stamp must change)
    Seq((2L, "b", 3.0)).toDF("id", "v", "w").write.mode("overwrite")
      .parquet(s"$p/t.parquet")
    val f = new java.io.File(s"$p/t.parquet")
    f.setLastModified(f.lastModified() + 5000)
    assert(Tables.load(spark, p, "t").schema.fieldNames.toSeq == Seq("id", "v", "w"),
      "a rewrite that changes the schema must not be served the stale cache")
  }
}
