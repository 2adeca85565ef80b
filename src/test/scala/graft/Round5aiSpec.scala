package graft

/** Ground truths for the ROUGE / retention / canonical-dedup batch:
  * a hand-scored document pair, a drawn-in retention calendar, and a
  * cluster where the longest (not the first) doc must win.
  */
class Round5aiSpec extends SparkSpec {

  import sqlImplicits._

  test("ta_rouge: hand-scored consecutive pair") {
    val docs = Seq(
      (1L, "en", "the cat sat on the mat"),   // u1 = {the,cat,sat,on,mat} (5)
      (2L, "en", "the cat lay on a mat"),     // u1 = {the,cat,lay,on,a,mat} (6)
      (3L, "fr", "chat")                      // lang break: no (2,3) pair
    ).toDF("doc_id", "lang", "text")
    val dir = plant("/tmp/graft-test/rouge", "documents" -> docs)
    val rows = SparkEntry.queries("ta_rouge")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("a_id") == 1L && r.getAs[Long]("b_id") == 2L)
    // unigram overlap {the, cat, on, mat} = 4
    assert(r.getAs[Long]("r1_p_micro") == 4L * 1000000 / 5)
    assert(r.getAs[Long]("r1_r_micro") == 4L * 1000000 / 6)
    assert(r.getAs[Long]("r1_f_micro") == 8L * 1000000 / 11)
    // bigrams a: {the cat, cat sat, sat on, on the, the mat} (5)
    // bigrams b: {the cat, cat lay, lay on, on a, a mat} (5); overlap {the cat} = 1
    assert(r.getAs[Long]("r2_f_micro") == 2L * 1000000 / 10)
  }

  test("ev_retention: drawn-in calendar") {
    // cohort day 0: users 1, 2 — user 1 returns d+1 and d+7, user 2 never
    val ev = Seq(
      (1L, 1L, "2024-01-01"), (2L, 2L, "2024-01-01"),
      (3L, 1L, "2024-01-02"), (4L, 1L, "2024-01-08")
    ).map { case (e, u, d) => (e, u, ts(s"$d 10:00:00"), "click", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/retention", "events" -> ev)
    val r = SparkEntry.queries("ev_retention")(spark, dir).collect()
      .filter(_.getAs[Long]("n_cohort") == 2L).head
    assert(r.getAs[Long]("d1_micro") == 500000L)
    assert(r.getAs[Long]("d3_micro") == 0L)
    assert(r.getAs[Long]("d7_micro") == 500000L)
  }

  test("dd_canonical: the longest doc wins its cluster, not the first") {
    // docs 1-3 chain into one 'en' cluster; doc 2 is longest
    val docs = Seq(
      (1L, "en", 10L), (2L, "en", 99L), (3L, "en", 50L),
      (5L, "de", 7L) // isolated: canonical of its own cluster
    ).toDF("doc_id", "lang", "n_chars")
    val dir = plant("/tmp/graft-test/canonical", "documents" -> docs)
    val rows = SparkEntry.queries("dd_canonical")(spark, dir).collect()
      .map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("canonical_id")).toMap
    assert(rows(1L) == 2L) // NOT min-id 1
    assert(rows(5L) == 5L)
    assert(rows.size == 2)
  }
}
