package graft.api

import graft.SparkSuite

/** Golden parity against the reference's parch-and-posey fixture (replayed
  * from its .sql dump): the README's 3-table join demo with duplicate-column
  * renaming, and the compound-filter workflow example.
  * Sources: reference README.md:602-628, README.md:460-489,
  * tests/test_connection.py:144-162.
  */
class ParchPoseySpec extends SparkSuite {

  private val dir = getClass.getResource("/parchposey").getPath
  lazy val db: Database = Database.open(spark, dir)

  test("catalog and row counts match the reference fixture") {
    assert(db.tables == Seq("accounts", "orders", "region", "sales_reps", "web_events"))
    assert(db("orders").len == 6912)
    assert(db("web_events").len == 9073)
    assert(db("accounts").len == 351)
    assert(db("sales_reps").len == 50)
    assert(db("region").len == 4)
  }

  test("3-table join demo: 351 rows, dup columns renamed id,id_2,id_3 (README.md:602-628)") {
    val out = db.query(
      """SELECT * FROM accounts
        |JOIN sales_reps ON accounts.sales_rep_id = sales_reps.id
        |JOIN region ON sales_reps.region_id = region.id""".stripMargin)
    assert(out.count() == 351)
    val cols = out.columns.toSeq
    assert(cols.count(_.startsWith("id")) >= 3)
    assert(cols.contains("id") && cols.contains("id_2") && cols.contains("id_3"))
    assert(cols.contains("name") && cols.contains("name_2") && cols.contains("name_3"))
  }

  test("README workflow: compound filter on orders (README.md:460-489)") {
    val o = db("orders")
    val filtered = o.filter((o("total") >= 500) && (o("total_amt_usd") > 6700.0))
    assert(filtered.len > 0 && filtered.len < o.len)
    // equivalent to the raw-SQL count
    val sqlCount = db.query(
      "SELECT count(*) AS c FROM orders WHERE total >= 500 AND total_amt_usd > 6700")
      .head().getLong(0)
    assert(filtered.len == sqlCount)
  }

  test("README front-page workflows, golden values (README.md:440-489,602-628)") {
    val o = db("orders")
    // flow 1: df[df.total.between(300, 500)] -> "[1698 rows x 11 columns]"
    val between = o.filter(o("total").between(300, 500))
    assert(between.shape == ((1698L, 11)))
    // flow 2: df[(df.total >= 500) & (df.total_amt_usd > 6700)] -> 779 rows
    assert(o.filter((o("total") >= 500) && (o("total_amt_usd") > 6700.0)).len == 779)
    // flow 3: saved handle -> .shape == (1491, 11), then
    // .account_id.value_counts() head {3411: 33, 2591: 30, 4211: 30,
    // 1561: 29, 2181: 29} (count DESC, value ASC within ties)
    val filtered = o.filter((o("total") >= 500) && (o("total_amt_usd") > 4700.0))
    assert(filtered.shape == ((1491L, 11)))
    val vc = filtered.col("account_id").valueCounts
    assert(vc.take(5).map { case (v, n) => (v.toString.toLong, n) } ==
      Seq((3411L, 33L), (2591L, 30L), (4211L, 30L), (1561L, 29L), (2181L, 29L)))
    // flow 4 (the join demo's full shape): 351 rows x 12 columns
    val joined = db.query(
      """SELECT * FROM accounts
        |JOIN sales_reps ON accounts.sales_rep_id = sales_reps.id
        |JOIN region ON sales_reps.region_id = region.id""".stripMargin)
    assert(joined.count() == 351 && joined.columns.length == 12)
  }

  test("two-key equi-join column order (tests/test_connection.py:144-162 pattern)") {
    val out = db.query(
      """SELECT w.id, w.channel, a.name FROM web_events w
        |JOIN accounts a ON w.account_id = a.id""".stripMargin)
    assert(out.count() == 9073) // every event has an account
    assert(out.columns.toSeq == Seq("id", "channel", "name"))
  }

  test("timestamps stored as text behave lexicographically (reference type model)") {
    // the reference reads occurred_at as TEXT; lexicographic min/max works
    val c = db("web_events").col("occurred_at")
    val mn = c.min.toString
    val mx = c.max.toString
    assert(mn < mx)
    assert(mn.startsWith("20") && mx.startsWith("20"))
  }
}
