package graft

import java.sql.Date

/** Ground truths for the dense-id / residual / Durbin-Watson batch:
  * ids on a shuffled alphabet, a planted driving cell, and a perfectly
  * alternating series whose DW is computed by hand.
  */
class Round5aoSpec extends SparkSpec {

  import sqlImplicits._

  test("q_dense_ids: name order, dense, 0-based, no collisions") {
    val names = Seq("delta", "alpha", "echo", "bravo", "charlie")
    val cust = names.zipWithIndex.map { case (n, i) => ((i + 1).toLong, n) }
      .toDF("c_custkey", "c_name")
    val dir = plant("/tmp/graft-test/denseids", "customer" -> cust)
    val rows = SparkEntry.queries("q_dense_ids")(spark, dir).collect()
      .map(r => r.getAs[String]("c_name") -> r.getAs[Long]("dense_id")).toMap
    assert(rows == Map("alpha" -> 0L, "bravo" -> 1L, "charlie" -> 2L,
      "delta" -> 3L, "echo" -> 4L))
  }

  test("q_residuals: the planted excess cell is flagged as driving") {
    // 2×2: (A,X)=30, (A,Y)=10, (B,X)=10, (B,Y)=30 → strong association
    val li = (Seq.fill(30)(("A", "X")) ++ Seq.fill(10)(("A", "Y")) ++
      Seq.fill(10)(("B", "X")) ++ Seq.fill(30)(("B", "Y")))
      .toDF("l_returnflag", "l_linestatus")
    val dir = plant("/tmp/graft-test/resid", "lineitem" -> li)
    val rows = SparkEntry.queries("q_residuals")(spark, dir).collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus")) -> r)
      .toMap
    // e = 40·40/80 = 20 for every cell; resid = (30−20)/sqrt(20·0.5·0.5)
    val expected = math.round(10.0 / math.sqrt(20.0 * 0.5 * 0.5) * 1000000)
    assert(rows(("A", "X")).getAs[Long]("resid_micro") == expected)
    assert(rows(("A", "Y")).getAs[Long]("resid_micro") == -expected)
    assert(rows(("A", "X")).getAs[Boolean]("driving"))
    assert(rows(("A", "X")).getAs[Long]("e_micro") == 20000000L)
  }

  test("q_dw: alternating residuals give DW near 4") {
    // daily cents: 100, 300, 100, 300 → mean 200, e = −100,100,−100,100
    // num = Σ(eₜ−eₜ₋₁)² = 3·200² = 120000; den = 4·100² = 40000 → DW = 3
    val li = Seq((1, 1.0), (2, 3.0), (3, 1.0), (4, 3.0)).map { case (d, v) =>
      (Date.valueOf(f"2024-01-$d%02d"), v)
    }.toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/dw", "lineitem" -> li)
    val r = SparkEntry.queries("q_dw")(spark, dir).collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Long]("dw_micro") == 3000000L)
  }
}
