package graft

class ViewsSpec extends SparkSpec {

  test("spark.sql over registered views: joins, windows, custom functions") {
    Views.register(spark, "/root/testdata/sf0.001")
    val top = spark.sql(
      """SELECT n_name, COUNT(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_cust DESC, n_name LIMIT 3""".stripMargin)
    assert(top.count() == 3)
    // the built-in ANSI-safe Pearson form + custom expression from SQL
    val r = spark.sql(
      """SELECT try_divide(covar_samp(l_quantity, l_extendedprice),
        |         stddev_samp(l_quantity) * stddev_samp(l_extendedprice)) AS r,
        |       MAX(float_dot(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))) AS d
        |FROM lineitem""".stripMargin).head()
    assert(!r.isNullAt(0) && math.abs(r.getDouble(0)) <= 1.0)
    assert(r.getDouble(1) == 2.0)
    // simhash UDAFs reachable from SQL: one doc, one shingle-hash 0b101
    // → balance +1 on bits 0,2 and -1 elsewhere → signature 0b101
    val sh = spark.sql("SELECT simhash32_agg(h) AS s32, simhash64_agg(h, CAST(0 AS BIGINT)) AS s64 " +
      "FROM VALUES (CAST(5 AS BIGINT)) AS t(h)").head()
    assert(sh.getLong(0) == 5L, s"simhash32 ${sh.getLong(0)}")
    assert(sh.getLong(1) == 5L, s"simhash64 ${sh.getLong(1)}")
    val w = spark.sql(
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rn
        |FROM orders LIMIT 5""".stripMargin)
    assert(w.count() == 5)
  }
}
