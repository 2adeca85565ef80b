package graft

import org.apache.spark.sql.functions._

/** Planted-data ground truths for the seventh round-5 batch: URL
  * canonicalization dedup (four surface variants → two canonical
  * groups), cross-doc boilerplate line removal (nav/footer flagged at
  * the 25 % threshold, body + unique lines survive in order), code-vs-
  * prose scoring (hand-counted symbols/keywords), per-group mode with
  * tie-break, and the dow×hour heatmap with exact shares.
  */
class Round5gSpec extends SparkSpec {

  import sqlImplicits._

  test("dd_url: four variants collapse to two canonical groups per key") {
    val docs = (0L to 7L).map(i => (i, "t")).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/url", "documents" -> docs)
    val out = SparkEntry.queries("dd_url")(spark, dir).collect()
      .map(r => r.getAs[String]("canonical_url") ->
        (r.getAs[Long]("n_variants"), r.getAs[Long]("keeper_doc"))).toMap
    assert(out.size == 4)
    assert(out("http://example.com/Shop/0?a=1&b=2") == ((2L, 0L)))
    assert(out("https://example.com/Shop/0?a=1&b=2") == ((2L, 2L)))
    assert(out("http://example.com/Shop/1?a=1&b=2") == ((2L, 4L)))
    assert(out("https://example.com/Shop/1?a=1&b=2") == ((2L, 6L)))
  }

  test("ta_boilerplate: shared nav/footer flagged, body + unique survive") {
    val docs = (1L to 8L).map(i => (i, s"body text number $i"))
      .toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/boiler", "documents" -> docs)
    val out = SparkEntry.queries("ta_boilerplate")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 8)
    val r3 = out(3L)
    assert(r3.getAs[Long]("n_lines") == 5L)
    assert(r3.getAs[Long]("n_boiler") == 3L)
    assert(r3.getAs[String]("clean_text") == "body text number 3\ndoc 3 extras")
  }

  test("ta_code_detect: hand-counted symbols and keywords flag code docs") {
    val docs = Seq((1L, "hello world"), (5L, "plain words"))
      .toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/code", "documents" -> docs)
    val out = SparkEntry.queries("ta_code_detect")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val prose = out(1L)
    assert(prose.getAs[Long]("n_sym") == 0L && prose.getAs[Long]("n_kw") == 0L
      && !prose.getAs[Boolean]("is_code"))
    val code = out(5L)
    val snippet = " function add(a, b) { return a + b; } var x = []; import os;"
    assert(code.getAs[Long]("n_sym") == 10L)
    assert(code.getAs[Long]("n_kw") == 4L)
    val len = "plain words".length + snippet.length
    assert(code.getAs[Long]("score_micro") == (10L + 3 * 4) * 1000000L / len)
    assert(code.getAs[Boolean]("is_code"))
  }

  test("q_mode: highest count wins, ties break to the smaller value") {
    val li = Seq(
      ("A", 5.0), ("A", 5.0), ("A", 5.0), ("A", 7.0), ("A", 7.0), ("A", 7.0),
      ("B", 2.0), ("B", 9.0), ("B", 9.0)
    ).toDF("l_returnflag", "l_quantity")
    val dir = plant("/tmp/graft-test/mode", "lineitem" -> li)
    val out = SparkEntry.queries("q_mode")(spark, dir).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("mode_qty"), r.getAs[Long]("mode_n"))).toMap
    assert(out("A") == ((5L, 3L))) // 5 and 7 tie at 3 → smaller value
    assert(out("B") == ((9L, 2L)))
  }

  test("ev_heatmap: dow 0 = Sunday, exact integral shares") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-07 05:10:00")), // Sunday 05h ×3
      (2L, 1L, ts("2024-01-07 05:20:00")),
      (3L, 2L, ts("2024-01-07 05:40:00")),
      (4L, 2L, ts("2024-01-08 06:15:00"))  // Monday 06h ×1
    ).map { case (e, u, t) => (e, u, t, 1.0) }
      .toDF("event_id", "user_id", "ts", "value")
    val dir = plant("/tmp/graft-test/heatmap", "events" -> ev)
    val out = SparkEntry.queries("ev_heatmap")(spark, dir).collect()
      .map(r => (r.getAs[Long]("dow"), r.getAs[Long]("hr")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("share_micro"))).toMap
    assert(out.size == 2)
    assert(out((0L, 5L)) == ((3L, 750000L)))
    assert(out((1L, 6L)) == ((1L, 250000L)))
  }
}
